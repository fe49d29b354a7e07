package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one measured stretch of a workload did. Only operations whose
  * output passed its check contribute latencies; a failed or wrong
  * operation is counted, never timed.
  */
final class Samples {
  val latMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val byKind: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map.empty
  var attempted = 0L
  var failed = 0L
  var rows = 0L
  var ops = 0L
  /** the time `rows` and `ops` are rated over: the wall time of a closed loop,
    * the summed run time of the micro-batches for the stream */
  var busyS = 0.0
  /** the operations of the first whole cycle, for counts that must repeat exactly */
  var firstCycle: Set[Int] = Set.empty
  var allOps: Set[Int] = Set.empty
  /** live heap after the first whole cycle (after the stretch, for the stream) */
  var heapLiveMb = 0.0
  /** workload-specific metrics printed in the report but not gated */
  val extra: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty

  def ok(kind: String, ms: Double, n: Long): Unit = {
    latMs += ms
    byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    rows += n
  }
}

object Samples {
  /** Heap still reachable after a full collection, in MB. */
  def heapLiveMb(): Double = {
    // the second collection also reclaims blocks that asynchronous unpersists released
    System.gc()
    Thread.sleep(200)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
}

/** Result of one operation: the input rows it covered and whether its
  * output matched the expected one.
  */
final case class OpOut(kind: String, rows: Long, ok: Boolean, why: String = "")

trait Workload {
  /** Generates the seeded inputs under `dir` and prepares the program's view of them. */
  def setup(spark: SparkSession, dir: String): Unit
  /** Runs the program once or twice before timing, so session, IO and compile caches are warm.
    * Returns the number of warm-up operations whose output was wrong.
    */
  def warmUp(tr: Tracer): Int
  def measure(seconds: Double, tr: Tracer): Samples
  /** Traced runs only: probes that add jobs, run once after the traced stretch. */
  def afterTrace(): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

/** A closed loop with one caller: the next operation starts when the
  * previous one returns. Operations follow a fixed cycle, and a stretch
  * always ends on a whole cycle so every run covers the same mix.
  */
abstract class ClosedLoop extends Workload {
  def cycleLen: Int
  /** the operation indices a warm-up runs */
  def warmUpOps: Seq[Int]
  def op(i: Int, tr: Tracer): OpOut
  private var next = 0

  def warmUp(tr: Tracer): Int = warmUpOps.count { i =>
    val out = op(i, tr)
    if (!out.ok) Console.err.println(s"[perfbench] warm-up op $i (${out.kind}) failed: ${out.why}")
    !out.ok
  }

  /** Runs at least one whole cycle, then stops at the cycle boundary
    * nearest to `seconds`, so the run length rounds rather than overshoots
    * by up to a cycle.
    */
  def measure(seconds: Double, tr: Tracer): Samples = {
    val s = new Samples
    val t0 = System.nanoTime
    val first = next
    var paused = 0L
    def more: Boolean = {
      val done = next - first
      val elapsed = (System.nanoTime - t0 - paused) / 1e9
      val unit = elapsed / math.max(1, done / cycleLen)
      done < cycleLen || next % cycleLen != 0 || elapsed + unit / 2 < seconds
    }
    while (more) {
      val i = next
      tr.op = i
      val st = System.nanoTime
      val out =
        try tr.span("op")(op(i, tr))
        catch { case NonFatal(e) => OpOut("error", 0, ok = false, e.toString) }
      val ms = (System.nanoTime - st) / 1e6
      s.attempted += 1
      Console.err.println(f"[perfbench] op $i ${out.kind} $ms%.1f ms")
      if (out.ok) s.ok(out.kind, ms, out.rows)
      else {
        s.failed += 1
        Console.err.println(s"[perfbench] op $i (${out.kind}) failed: ${out.why}")
      }
      next += 1
      if (next - first == cycleLen) {
        // the same operations on every run of a seed: a fixed point to read what stays live
        val g = System.nanoTime
        s.heapLiveMb = Samples.heapLiveMb()
        paused += System.nanoTime - g
      }
    }
    s.busyS = (System.nanoTime - t0 - paused) / 1e9
    s.ops = next - first
    s.allOps = (first until next).toSet
    s.firstCycle = (first until first + cycleLen).toSet
    s
  }
}
