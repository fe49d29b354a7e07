package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.config.DetectorConfig
import graft.model.TsSample
import graft.streaming.MonitorStream
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Open-loop ingest into the streaming monitor: a feeder thread creates
  * events on a fixed schedule at fixed offered rates, whether or not the
  * query keeps up, and `monitorStreamCfg` scores them with per-series
  * state. Each event is timed from when it was due to be created to the
  * end of the micro-batch that emits it.
  *
  * Event `seq` has event time `T0 + seq·StepMs` and a key drawn from a
  * window of live keys that slides forward, so old series go quiet and
  * their state expires through the TTL. After `LateAfter` events, each
  * tick also sends one event half an hour older than the stream; the run
  * counts how many of those the query drops and how many it still emits.
  *
  * Throughput is rated over the query's own busy time, the summed run
  * time of its micro-batches, not over the wall time, which the feeder's
  * schedule and the trigger interval fix.
  */
final class StreamIngest(seed: Long) extends Workload {
  import StreamIngest._

  private var spark: SparkSession = _
  private var dir: String = _
  private var mem: MemoryStream[TsSample] = _
  private var query: StreamingQuery = _
  private var feeder: Feeder = _
  /** (emission time, emitted event times) per micro-batch */
  private val emitted = new ConcurrentLinkedQueue[(Long, Array[Long])]
  /** the id of each micro-batch in `emitted`, in the same order */
  private val batchIds = new ConcurrentLinkedQueue[java.lang.Long]
  private val emittedOnTime = new java.util.concurrent.atomic.AtomicLong
  private var stretches = 0

  def setup(s: SparkSession, d: String): Unit = {
    spark = s
    dir = d
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val sp = spark
    import sp.implicits._
    mem = MemoryStream[TsSample]
    emitted.clear()
    batchIds.clear()
    val cfg = DetectorConfig(algorithmName = "derivative_detector", scoreThreshold = Some(Threshold))
    val sink: (DataFrame, Long) => Unit = (batch, id) => {
      val ts = batch.select("tsMs").as[Long].collect()
      batchIds.add(id)
      emitted.add((System.nanoTime, ts))
      emittedOnTime.addAndGet(ts.count(onTime).toLong)
    }
    query = MonitorStream.monitorStreamCfg(mem.toDS(), cfg, TtlMs)
      .writeStream
      .foreachBatch(sink)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", s"$dir/checkpoint")
      .start()
    feeder = new Feeder(seed, mem)
  }

  def warmUp(tr: Tracer): Int = run(Seq(Phase(Rates.head, WarmUpS)), tr).failed.toInt

  def measure(seconds: Double, tr: Tracer): Samples = {
    val phases = Rates.map(r => Phase(r, seconds * PhaseShare(Rates.indexOf(r))))
    run(phases, tr)
  }

  /** Feeds the phases, waits for the query to emit every on-time event,
    * then checks and times every event fed.
    */
  private def run(phases: Seq[Phase], tr: Tracer): Samples = {
    val s = new Samples
    // one traced operation per stretch: its span carries the stretch's Spark work
    stretches += 1
    tr.op = stretches
    s.allOps = Set(stretches)
    s.firstCycle = s.allOps
    val firstSeq = feeder.seq
    val firstBatch = emitted.size
    val emittedBefore = emittedOnTime.get
    val ticks = tr.span("streaming.ingest") {
      val ticks = feeder.feed(phases)
      val offered = feeder.seq - firstSeq
      val deadline = System.nanoTime + (DrainS * 1e9).toLong
      while (emittedOnTime.get - emittedBefore < offered && System.nanoTime < deadline && query.isActive)
        Thread.sleep(5)
      ticks
    }
    val batches = emitted.asScala.drop(firstBatch).toSeq
    s.busyS = busySeconds(batchIds.asScala.drop(firstBatch).map(_.longValue).toSeq)
    val lateSent = ticks.map(_.late).sum
    // every on-time event of this stretch must be emitted exactly once
    val onTimeSent = feeder.seq - firstSeq
    val count = new Array[Int]((feeder.seq - firstSeq).toInt)
    val emitNs = new Array[Long](count.length)
    var lateEmitted = 0L
    val lateSeen = mutable.Set.empty[Long]
    batches.foreach { case (at, ts) =>
      ts.foreach { t =>
        if (!onTime(t)) { lateEmitted += 1; lateSeen += t }
        else {
          val i = (seqOf(t) - firstSeq).toInt
          if (i >= 0 && i < count.length) { count(i) += 1; emitNs(i) = at }
        }
      }
    }
    val dueOf = new Array[Long](count.length)
    val phaseOf = new Array[Int](count.length)
    ticks.foreach { t =>
      (t.first until t.first + t.onTime).foreach { q =>
        dueOf((q - firstSeq).toInt) = t.dueNs
        phaseOf((q - firstSeq).toInt) = t.phase
      }
    }
    val missing = count.count(_ == 0)
    val dup = count.count(_ > 1)
    // a late event the watermark lets through is scored when its series holds no newer
    // sample; it must never be emitted twice
    val lateDup = lateEmitted - lateSeen.size
    s.attempted = onTimeSent + lateSent
    s.failed = missing + dup + lateDup
    if (s.failed > 0)
      Console.err.println(s"[perfbench] stream: $missing events not emitted, $dup emitted twice, $lateDup late events emitted twice")
    s.extra("late_events_sent") = (lateSent.toDouble, "count")
    s.extra("late_events_emitted") = (lateEmitted.toDouble, "count")
    // latency per event, creation (due time) to emission, by phase
    val perPhase = Array.fill(phases.size)(mutable.ArrayBuffer.empty[Double])
    (0 until count.length).foreach { i =>
      if (count(i) == 1) perPhase(phaseOf(i)) += (emitNs(i) - dueOf(i)) / 1e6
    }
    perPhase(0).foreach(ms => s.ok("event", ms, 0))
    s.rows = count.count(_ >= 1).toLong
    s.ops = batches.size.toLong
    // backlog at each batch end: events due so far minus events emitted so far
    val backlog = backlogAt(ticks, batches)
    phases.indices.foreach { p =>
      val lat = perPhase(p).sorted
      val name = s"rate${phases(p).rate.toInt}"
      if (lat.nonEmpty) {
        s.extra(s"$name.latency_p50_ms") = (Stats.pct(lat.toSeq, 0.5), "ms")
        s.extra(s"$name.latency_p99_ms") = (Stats.pct(lat.toSeq, 0.99), "ms")
      }
      s.extra(s"$name.backlog_growth_rows_per_s") = (backlogSlope(backlog, ticks, p), "1/s")
      val inPhase = ticks.filter(_.phase == p)
      val ends = batches.map(_._1).filter(t => inPhase.nonEmpty && t >= inPhase.head.dueNs && t <= inPhase.last.dueNs)
      s.extra(s"$name.batch_interval_p50_ms") = (Stats.median(ends.zip(ends.drop(1)).map { case (a, b) => (b - a) / 1e6 }), "ms")
      s.extra(s"$name.batch_rows_p50") = (Stats.median(batches.filter(b => ends.contains(b._1)).map(_._2.length.toDouble)), "count")
    }
    // the highest offered rate at which, like every rate below it, the backlog did not grow
    // by more than a tenth of the offered rate per second
    val sustained = phases.indices.takeWhile(p => backlogSlope(backlog, ticks, p) <= 0.1 * phases(p).rate && perPhase(p).nonEmpty)
    s.extra("sustained_rows_per_s") = (sustained.lastOption.fold(0.0)(phases(_).rate), "1/s")
    s.extra("generator_lag_ms") = (Stats.mean(ticks.map(_.lagNs / 1e6)), "ms")
    s.extra("backlog_rows") = (Stats.mean(backlog.map(_._2.toDouble)), "count")
    s.heapLiveMb = Samples.heapLiveMb()
    s
  }

  /** Summed run time of the given micro-batches, from the query's progress
    * reports. A batch's report follows its sink call, so wait for the last.
    */
  private def busySeconds(ids: Seq[Long]): Double = {
    val want = ids.toSet
    // an idle trigger reports too, under the next batch's id but without `addBatch`
    def reported = query.recentProgress.filter(p => want(p.batchId) && p.durationMs.containsKey("addBatch"))
      .groupBy(_.batchId).values.map(_.head).toSeq
    val deadline = System.nanoTime + (DrainS * 1e9).toLong
    while (reported.size < want.size && System.nanoTime < deadline && query.isActive) Thread.sleep(5)
    val ps = reported
    if (ps.size < want.size) Console.err.println(s"[perfbench] stream: ${want.size - ps.size} batches without a progress report")
    ps.map(_.durationMs.get("triggerExecution").doubleValue).sum / 1e3
  }

  private def backlogAt(ticks: Seq[Tick], batches: Seq[(Long, Array[Long])]): Seq[(Long, Long)] = {
    var emittedSoFar = 0L
    batches.map { case (at, ts) =>
      emittedSoFar += ts.count(onTime)
      val due = ticks.iterator.filter(_.dueNs <= at).map(_.onTime.toLong).sum
      (at, due - emittedSoFar)
    }
  }

  /** Least-squares slope of the backlog over one phase, in rows per second. */
  private def backlogSlope(backlog: Seq[(Long, Long)], ticks: Seq[Tick], p: Int): Double = {
    val inPhase = ticks.filter(_.phase == p)
    if (inPhase.isEmpty) return Double.PositiveInfinity
    val (a, b) = (inPhase.head.dueNs, inPhase.last.dueNs)
    val xs = backlog.filter { case (t, _) => t >= a && t <= b }
    // too few batch ends inside the phase to tell: the query did not keep pace
    if (xs.size < 3) return Double.PositiveInfinity
    val x = xs.map(_._1 / 1e9)
    val y = xs.map(_._2.toDouble)
    val mx = Stats.mean(x)
    val my = Stats.mean(y)
    val num = x.zip(y).map { case (xi, yi) => (xi - mx) * (yi - my) }.sum
    val den = x.map(xi => (xi - mx) * (xi - mx)).sum
    if (den == 0) 0.0 else num / den
  }

  /** Streaming-layer numbers from the traced query's progress reports. */
  def streamingLayer(tr: Tracer, s: Samples): Map[String, Double] = {
    val ps = tr.progress.asScala.map(_.progress).filter(_.numInputRows > 0).toSeq
    def d(k: String) = Stats.mean(ps.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.toDouble)))
    def op(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      Stats.mean(ps.map(p => p.stateOperators.map(f).sum))
    Map(
      "streaming.batch_ms" -> d("triggerExecution"),
      "streaming.add_batch_ms" -> d("addBatch"),
      "streaming.query_planning_ms" -> d("queryPlanning"),
      "streaming.wal_commit_ms" -> d("walCommit"),
      "streaming.state_commit_ms" -> op(_.commitTimeMs.toDouble),
      "streaming.state_rows" -> op(_.numRowsTotal.toDouble),
      "streaming.state_mem_bytes" -> op(_.memoryUsedBytes.toDouble),
      "streaming.late_rows_dropped" -> ps.map(p => p.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble,
      "streaming.backlog_rows" -> s.extra("backlog_rows")._1,
      "streaming.generator_lag_ms" -> s.extra("generator_lag_ms")._1,
      "streaming.batches" -> ps.size.toDouble,
      "streaming.self_ms" -> (d("triggerExecution") - d("addBatch")),
      "spark.self_ms" -> d("addBatch"))
  }

  override def close(): Unit = if (query != null) {
    query.stop()
    query.awaitTermination()
  }
}

final case class Phase(rate: Double, seconds: Double)

/** One feeder tick: `onTime` events from `first` on, plus `late` late ones. */
final case class Tick(phase: Int, dueNs: Long, lagNs: Long, first: Long, onTime: Int, late: Int)

/** Creates events on a fixed schedule and hands them to the memory source,
  * on its own thread so a slow query cannot slow the schedule.
  */
final class Feeder(seed: Long, mem: MemoryStream[TsSample]) {
  import StreamIngest._

  @volatile var seq = 0L
  private val rng = Gen.rng(seed, 31337)

  def feed(phases: Seq[Phase]): Seq[Tick] = {
    val ticks = mutable.ArrayBuffer.empty[Tick]
    val th = new Thread(() => {
      val start = System.nanoTime
      var at = start
      var carry = 0.0
      phases.zipWithIndex.foreach { case (ph, p) =>
        val n = math.max(1, math.round(ph.seconds * 1e9 / TickNs).toInt)
        (0 until n).foreach { _ =>
          val now0 = System.nanoTime
          if (at > now0) Thread.sleep((at - now0) / 1000000, ((at - now0) % 1000000).toInt)
          val lag = math.max(0L, System.nanoTime - at)
          carry += ph.rate * TickNs / 1e9
          val k = carry.toInt
          carry -= k
          val first = seq
          val batch = mutable.ArrayBuffer.empty[TsSample]
          (0 until k).foreach { j =>
            val q = first + j
            batch += TsSample(key(q), T0 + q * StepMs, 100.0 + 10.0 * rng.nextGaussian())
          }
          seq = first + k
          val late = if (seq > LateAfter) 1 else 0
          if (late == 1) batch += TsSample(key(seq), T0 + seq * StepMs - LateByMs - 1, 100.0)
          mem.addData(batch.toSeq: _*)
          ticks += Tick(p, at, lag, first, k, late)
          at += TickNs
        }
      }
    }, "perfbench-feeder")
    th.start()
    th.join()
    ticks.toSeq
  }

  private def key(q: Long): String = s"sensor-${q / DriftEvery + rng.nextInt(LiveKeys)}"
}

object StreamIngest {
  /** offered rates, events per second, and each one's share of a measured stretch */
  val Rates: Seq[Double] = Seq(2000.0, 8000.0, 32000.0)
  val PhaseShare: Seq[Double] = Seq(0.6, 0.2, 0.2)
  val WarmUpS = 2.0
  /** longest wait for the query to catch up after the last tick */
  val DrainS = 20.0
  val TickNs: Long = 100L * 1000000
  val T0 = 1700000000000L
  /** event-time step between consecutive events */
  val StepMs = 1000L
  val LiveKeys = 1000
  /** the live-key window moves one key forward every `DriftEvery` events */
  val DriftEvery = 50L
  val TtlMs: Long = 3600L * 1000
  val Threshold = 50.0
  /** A fixed trigger, as a deployed monitor runs: an event waits for the next
    * trigger, then for its batch. Back-to-back batches made the latency a
    * multiple of the batch time alone, which host CPU contention swung by 2x.
    */
  val TriggerMs = 1000L
  val LateAfter = 5000L
  val LateByMs: Long = 30L * 60 * 1000

  /** Late events carry an event time off the `StepMs` grid. */
  def onTime(tsMs: Long): Boolean = (tsMs - T0) % StepMs == 0
  def seqOf(tsMs: Long): Long = (tsMs - T0) / StepMs
}
