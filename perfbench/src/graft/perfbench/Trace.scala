package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval around a call into a graft module (or around the
  * Spark action that ends an operation). `counts` holds the Spark work
  * that ran while this span was the innermost open one.
  */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int, val startNs: Long, val startMs: Long) {
  val layer: String = name.takeWhile(_ != '.')
  var endNs: Long = startNs
  var endMs: Long = startMs
  /** time spent waiting for the listener bus inside this span; not the module's work */
  var pausedNs: Long = 0L
  val counts: mutable.Map[String, Double] = mutable.Map.empty
  def ms: Double = (endNs - startNs - pausedNs) / 1e6
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = counts(k) = math.max(counts.getOrElse(k, 0.0), v)
  def count(k: String): Double = counts.getOrElse(k, 0.0)
  def json: String =
    s"""{"id":$id,"name":"$name","parent":$parent,"op":$op,"start_ns":$startNs,"end_ns":$endNs,""" +
      s""""paused_ns":$pausedNs,"counts":{${counts.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}"""
}

/** In-memory span recorder. Spans nest by call structure; Spark's job,
  * stage, task and query-execution events are attributed to the innermost
  * open span by draining the listener bus at every span boundary, so
  * attribution needs no instrumentation inside graft. Disabled, `span` is
  * a plain call.
  */
final class Tracer {
  @volatile var enabled = false
  var op: Int = -1
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  /** per micro-batch progress of the traced streaming query */
  val progress: ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent] = new ConcurrentLinkedQueue
  private var stack: List[Span] = Nil
  private val events = new ConcurrentLinkedQueue[AnyRef]
  private val jobStart = mutable.Map.empty[Int, Long]
  private var spark: SparkSession = _

  private final case class QeDone(qe: QueryExecution)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) events.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) events.add(e)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) events.add(e)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) events.add(e)
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) events.add(QeDone(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(sparkListener)
    s.listenerManager.register(qeListener)
    s.streams.addListener(streamListener)
    enabled = true
  }

  def detach(): Unit = if (spark != null) {
    drain(stack.headOption)
    enabled = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      // work queued so far belongs to the enclosing span, not to this one
      drain(stack.headOption)
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), op, System.nanoTime, System.currentTimeMillis)
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime
        s.endMs = System.currentTimeMillis
        stack = stack.tail
        drain(Some(s))
        if (s.layer == "spark") s.add("driver_gap_ms", driverGapMs(s))
      }
    }

  /** The action that ends an operation, with the rows it returned. */
  def collect(df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] = {
    val rows = span("spark.collect")(df.collect())
    if (enabled) last("spark.collect").foreach(_.add("result_rows", rows.length))
    rows
  }

  def count(df: org.apache.spark.sql.DataFrame): Long = {
    val n = span("spark.count")(df.count())
    if (enabled) last("spark.count").foreach(_.add("result_rows", 1))
    n
  }

  /** Waits for the listener bus and files every pending event under `into`.
    * The wait is charged to every open span as paused time.
    */
  private def drain(into: Option[Span]): Unit = if (spark != null) {
    val t = System.nanoTime
    ListenerBus.drain(spark.sparkContext)
    var e = events.poll()
    while (e != null) {
      into.foreach(absorb(_, e))
      e = events.poll()
    }
    val paused = System.nanoTime - t
    stack.foreach(_.pausedNs += paused)
  }

  private val jobIntervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]

  private def absorb(s: Span, e: AnyRef): Unit = e match {
    case j: SparkListenerJobStart =>
      jobStart(j.jobId) = j.time
      s.add("jobs", 1)
    case j: SparkListenerJobEnd =>
      jobStart.remove(j.jobId).foreach { st =>
        jobIntervals.getOrElseUpdate(s.id, mutable.ArrayBuffer.empty) += ((st, j.time))
      }
    case st: SparkListenerStageCompleted =>
      s.add("stages", 1)
    case t: SparkListenerTaskEnd =>
      s.add("tasks", 1)
      val m = t.taskMetrics
      if (m != null) {
        s.add("task_cpu_ms", m.executorCpuTime / 1e6)
        s.add("task_run_ms", m.executorRunTime.toDouble)
        s.add("gc_ms", m.jvmGCTime.toDouble)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.max("peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
      }
    case QeDone(qe) =>
      s.add("queries", 1)
      qe.tracker.phases.foreach { case (phase, summary) =>
        s.add(s"${phase}_ms", summary.durationMs.toDouble)
      }
      s.add("scan_rows", scanRows(qe.executedPlan).toDouble)
    case _ =>
  }

  /** Rows produced by the file scans of an executed plan, final AQE plan included. */
  private def scanRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
    case q: QueryStageExec => scanRows(q.plan)
    case f: FileSourceScanExec => f.metrics.get("numOutputRows").fold(0L)(_.value)
    case b: BatchScanExec => b.metrics.get("numOutputRows").fold(0L)(_.value)
    case other => other.children.map(scanRows).sum + other.subqueries.map(scanRows).sum
  }

  /** The part of an action's wall time during which none of its jobs ran. */
  private def driverGapMs(s: Span): Double = {
    val iv = jobIntervals.getOrElse(s.id, mutable.ArrayBuffer.empty)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.ms - covered)
  }

  // ---- aggregation ------------------------------------------------------

  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  def spansOf(ops: Set[Int]): Seq[Span] = spans.filter(s => ops.contains(s.op)).toSeq

  /** Span duration minus the part its direct children cover. */
  def selfMs(s: Span): Double = s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum

  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, spans.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
