package graft.streaming

import graft.config.DetectorConfig
import graft.model.TsSample
import org.apache.spark.sql.{DataFrame, Dataset, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Bounded batch-replay of the streaming monitor — the verification
  * harness that lets the driver's DuckDB oracle cover the Structured
  * Streaming path (`MonitorStream.monitorStreamCfg`), not just the batch
  * kernels: the input is fed through a MemoryStream in ascending
  * event-time chunks (one micro-batch per chunk, so per-key EmaState
  * genuinely carries across batch boundaries through the state store),
  * and the append-mode output is returned as a plain DataFrame.
  *
  * This is a REPLAY harness for parity checks at verification scale: the
  * chunking collects the bounded input to the driver (the same contract
  * as MemoryStream itself, whose data lives driver-side). Production
  * streams come from readStream sources and never pass through here —
  * the operator under test is unchanged either way.
  */
object Replay {

  /** The shared replay driver: start `out` against an append-mode memory
    * sink, run `feed` (add micro-batches, advance watermarks), stop the
    * query even on failure, return the sink table. Every replay harness
    * (monitor, dedup, sessions, inner/outer join) is this loop plus a
    * feed body.
    */
  def runSink(spark: org.apache.spark.sql.SparkSession, out: DataFrame)(
      feed: org.apache.spark.sql.streaming.StreamingQuery => Unit): DataFrame = {
    val table = s"replay_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // SCOPE the replay's shuffle/state partitioning down to 1 (r15
    // verdict #8): a streaming query pins its state-store partition
    // count from spark.sql.shuffle.partitions at start, and every
    // micro-batch then pays one state-store commit PER PARTITION per
    // stateful operator — ~30 replay batches × cpus partitions of
    // fixed cost for driver-fed verification-scale inputs (stream_cms
    // measured minutes of Verify wall at sf0.001). Partition count
    // never changes WHAT a stateful query computes (hash-partitioned
    // aggregations/joins/dedup are partition-count-independent). The
    // query clones the session when it is constructed, inside `start()`,
    // and plans every batch with that clone, so the shared session's
    // value is restored as soon as `start()` returns: batch plans run
    // while the replay feeds are untouched. Production streams never
    // pass through here (readStream sources size their own state).
    val q = {
      val prev = spark.conf.getOption("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      try out.writeStream.outputMode("append").format("memory").queryName(table).start()
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.shuffle.partitions", v)
        case None => spark.conf.unset("spark.sql.shuffle.partitions")
      }
    }
    try feed(q) finally q.stop()
    spark.table(table)
  }

  /** Split an already-sorted input into at most `chunks` contiguous
    * micro-batches.
    */
  def chunked[T](sorted: Seq[T], chunks: Int): Seq[Seq[T]] = {
    require(chunks >= 1, "need at least one chunk")
    val per = math.max(1, math.ceil(sorted.size.toDouble / chunks).toInt)
    sorted.grouped(per).toSeq
  }

  /** Feed each chunk as its own micro-batch — state genuinely crosses
    * batch boundaries through the state store between calls.
    */
  def feedChunks[T](
      q: org.apache.spark.sql.streaming.StreamingQuery,
      mem: MemoryStream[T],
      cs: Seq[Seq[T]]): Unit =
    cs.foreach { c => mem.addData(c: _*); q.processAllAvailable() }

  /** Two far-future sentinel rounds: a watermark update becomes effective
    * one micro-batch AFTER the batch carrying the max event time, so one
    * sentinel advances the watermark and the second gives stateful
    * operators the batch in which to emit/evict final state. `mk(ts)`
    * builds the sentinel event (callers reserve key −1 and filter it out
    * of the sink).
    */
  def flushSentinels[T](
      q: org.apache.spark.sql.streaming.StreamingQuery,
      mems: Seq[MemoryStream[T]],
      maxTs: Long,
      mk: Long => T): Unit =
    Seq(1L, 2L).foreach { m =>
      mems.foreach(_.addData(mk(maxTs + (m << 40))))
      q.processAllAvailable()
    }

  /** The chunked-replay driver every TsSample monitor replay shares:
    * feed `points` through `monitor` in ascending order of `chunkKey`
    * (e.g. the event's day), one micro-batch per chunk, and return the
    * sink table.
    */
  private def replayChunks(points: Dataset[TsSample], chunkKey: TsSample => Long)(
      monitor: Dataset[TsSample] => DataFrame): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext
    // bounded by construction: replay inputs are verification-scale
    val chunks = points.collect().groupBy(chunkKey).toSeq.sortBy(_._1).map(_._2.toSeq)
    val mem = MemoryStream[TsSample]
    runSink(spark, monitor(mem.toDS()))(q => feedChunks(q, mem, chunks))
  }

  /** Replay `points` through `monitorStreamCfg(cfg)`, one micro-batch
    * per `chunkKey`. The state TTL defaults to effectively-infinite so
    * the replay is a pure batch-parity check (a finite TTL re-seeds the
    * EMA after quiet gaps — correct streaming hygiene, but a
    * batch/stream divergence; the TTL path is covered by StreamingSpec).
    */
  def monitorCfgReplay(
      points: Dataset[TsSample],
      cfg: DetectorConfig,
      chunkKey: TsSample => Long,
      stateTtlMs: Long = Long.MaxValue / 4): DataFrame =
    replayChunks(points, chunkKey)(MonitorStream.monitorStreamCfg(_, cfg, stateTtlMs))

  /** Replay LIVE `points` through the streaming seasonal-residual
    * monitor against a stored STL `profile`, one micro-batch per
    * `chunkKey` — the batch-parity harness for
    * [[MonitorStream.seasonalResidualStream]]. Infinite-TTL default,
    * as in [[monitorCfgReplay]].
    */
  def seasonalReplay(
      points: Dataset[TsSample],
      profile: DataFrame,
      period: Int,
      threshold: Double,
      chunkKey: TsSample => Long,
      stateTtlMs: Long = Long.MaxValue / 4,
      emitUnscored: Boolean = false): DataFrame =
    replayChunks(points, chunkKey)(MonitorStream.seasonalResidualStream(
      _, profile, period, threshold, stateTtlMs = stateTtlMs, emitUnscored = emitUnscored))

  /** Replay `points` through the streaming Holt-Winters in `chunkKey`
    * order, then apply the batch normalization (|dev|/stddev_pop over ALL
    * input values, signed fallback when flat — `normalizeEmaDevs`'s exact
    * arithmetic) so the result is comparable to `Detectors.hwScores`:
    * on dup-free series the full-history replay must reproduce it
    * bit-exactly. Infinite-TTL default, as in [[monitorCfgReplay]].
    */
  def hwReplay(
      points: Dataset[TsSample],
      chunkKey: TsSample => Long,
      stateTtlMs: Long = Long.MaxValue / 4): DataFrame = {
    import org.apache.spark.sql.functions.{abs, col, stddev_pop, when}
    val stats = points.groupBy("seriesKey").agg(stddev_pop(col("value")).as("_sd"))
    replayChunks(points, chunkKey)(MonitorStream.hwStream(_, stateTtlMs = stateTtlMs).toDF())
      .join(stats, Seq("seriesKey"))
      .withColumn("score", when(col("_sd") > 0, abs(col("dev") / col("_sd"))).otherwise(col("dev")))
      .select("seriesKey", "tsMs", "value", "score")
  }

  /** Replay `points` through the streaming control rules in `chunkKey`
    * order, calibrated by the batch integer stats (n, S, D = nQ−S²)
    * over the SAME points — the batch-parity configuration: with
    * full-history calibration the stream must reproduce
    * `Detectors.controlRuleFlags` exactly on dup-free series.
    */
  def controlRulesReplay(
      points: Dataset[TsSample],
      chunkKey: TsSample => Long,
      stateTtlMs: Long = Long.MaxValue / 4): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, round, sum}
    val vm = round(col("value") * 100, 0).cast("long")
    val stats = points.toDF()
      .select(col("seriesKey"), vm.as("_vm"))
      .groupBy("seriesKey")
      .agg(count(lit(1)).as("n"), sum(col("_vm")).as("s"), sum(col("_vm") * col("_vm")).as("_q"))
      .withColumn("d", col("n") * col("_q") - col("s") * col("s"))
      .select("seriesKey", "n", "s", "d")
    replayChunks(points, chunkKey)(MonitorStream.controlRulesStream(_, stats, stateTtlMs = stateTtlMs).toDF())
  }

  /** Replay `points` through the streaming CUSUM in `chunkKey` order,
    * calibrated by the batch mean/stddev over the SAME points (the
    * batch-parity configuration: with full-history calibration the
    * stream must reproduce `Detectors.cusumScores` exactly on dup-free
    * series). Infinite-TTL default, as in [[monitorCfgReplay]].
    */
  def cusumReplay(
      points: Dataset[TsSample],
      chunkKey: TsSample => Long,
      slack: Double = graft.config.Constants.CusumSlack,
      stateTtlMs: Long = Long.MaxValue / 4): DataFrame = {
    import org.apache.spark.sql.functions.{avg, col, stddev_pop}
    val stats = points
      .groupBy("seriesKey")
      .agg(avg(col("value")).as("mu"), stddev_pop(col("value")).as("sd"))
    replayChunks(points, chunkKey)(MonitorStream.cusumStream(_, stats, slack, stateTtlMs = stateTtlMs).toDF())
  }
}
