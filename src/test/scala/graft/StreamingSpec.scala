package graft

import graft.detect.{ExpAvgKernel, KeyedFold, RawScored}
import graft.model.TsSample
import graft.streaming.MonitorStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Structured-Streaming monitor: per-key EMA state must carry across
  * micro-batches and agree with the batch kernel on the same data.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = Sessions.get("streaming-spec")
  import spark.implicits._

  test("streaming EMA equals the batch kernel across micro-batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TsSample]
    val q = MonitorStream
      .emaScores(mem.toDS())
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("ema_out")
      .start()
    try {
      val batch1 = Seq(TsSample("1", 1000, 10.0), TsSample("1", 2000, 20.0), TsSample("2", 1000, 5.0))
      val batch2 = Seq(TsSample("1", 3000, 30.0), TsSample("1", 4000, 100.0), TsSample("2", 2000, 6.0))
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()

      val got = spark.table("ema_out").as[graft.streaming.StreamScore].collect()
        .map(s => (s.seriesKey, s.tsMs) -> s.ema).toMap

      val expected = KeyedFold
        .run[TsSample, RawScored, String](
          (batch1 ++ batch2).sortBy(p => (p.seriesKey, p.tsMs)).iterator,
          _.seriesKey,
          () => new ExpAvgKernel(0.2))
        .toSeq
      expected.foreach { e =>
        val ema = e.value - e.dev // kernel dev = v − ema
        assert(math.abs(got((e.seriesKey, e.tsMs)) - ema) < 1e-12, s"key=${e.seriesKey} ts=${e.tsMs}")
      }
      assert(got.size == expected.size)
    } finally q.stop()
  }

  test("windowed streaming aggregation over event-time with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val df = mem.toDF().toDF("ts", "seriesKey", "value")
    val q = MonitorStream
      .windowedAgg(df, bucket = "1 minute", slide = "1 minute", watermark = "5 minutes")
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("win_out")
      .start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      mem.addData(
        (t("2024-01-01 00:00:10"), 1L, 10.0),
        (t("2024-01-01 00:00:50"), 1L, 30.0),
        (t("2024-01-01 00:01:10"), 1L, 100.0))
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
      assert(rows.length == 2)
      val avgs = rows.map(r => r.getAs[Double]("avg_value")).sorted.toSeq
      assert(avgs == Seq(20.0, 100.0))
    } finally q.stop()
  }

  test("config-driven streaming monitor: absolute threshold flags; pct threshold rejected") {
    implicit val sqlCtx = spark.sqlContext
    // D11 divergence contract: pct-of-max is batch-only
    val exPct = intercept[IllegalArgumentException] {
      MonitorStream.monitorStreamCfg(
        MemoryStream[TsSample].toDS(),
        graft.config.DetectorConfig(scorePercentThreshold = Some(0.2)))
    }
    assert(exPct.getMessage.contains("batch-only"))
    // the batch DEFAULT is pct-of-max → also rejected (no silent divergence)
    val exDefault = intercept[IllegalArgumentException] {
      MonitorStream.monitorStreamCfg(MemoryStream[TsSample].toDS(), graft.config.DetectorConfig())
    }
    assert(exDefault.getMessage.contains("score_threshold"))
    // algorithms without a streaming twin are rejected, not mis-scored
    val exAlg = intercept[IllegalArgumentException] {
      MonitorStream.monitorStreamCfg(
        MemoryStream[TsSample].toDS(),
        graft.config.DetectorConfig(algorithmName = "bitmap_detector", scoreThreshold = Some(1.0)))
    }
    assert(exAlg.getMessage.contains("bitmap_detector"))
    // absolute threshold runs end-to-end and flags exactly the points
    // whose raw EMA dev exceeds it; batch precedence (absolute wins) means
    // a config ALSO carrying a pct threshold is accepted
    val mem = MemoryStream[TsSample]
    val q = MonitorStream
      .monitorStreamCfg(
        mem.toDS(),
        graft.config.DetectorConfig(
          algorithmName = "exp_avg_detector",
          scoreThreshold = Some(5.0),
          scorePercentThreshold = Some(0.2)))
      .writeStream.outputMode("append").format("memory").queryName("cfg_mon_out").start()
    try {
      mem.addData(
        TsSample("1", 1000, 10.0), TsSample("1", 2000, 11.0), // dev 0, 0.8
        TsSample("1", 3000, 40.0), TsSample("1", 4000, 12.0)) // dev 23.84, 3.33
      q.processAllAvailable()
      val flags = spark.table("cfg_mon_out").collect()
        .map(r => r.getAs[Long]("tsMs") -> r.getAs[Boolean]("isAnomaly")).toMap
      assert(flags == Map(1000L -> false, 2000L -> false, 3000L -> true, 4000L -> false))
    } finally q.stop()
  }

  test("streaming derivative dev matches the batch kernel from the second point on") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TsSample]
    val q = MonitorStream
      .derivativeScores(mem.toDS())
      .writeStream.outputMode("append").format("memory").queryName("deriv_out").start()
    try {
      val batch1 = Seq(TsSample("1", 1000, 10.0), TsSample("1", 2000, 20.0))
      val batch2 = Seq(TsSample("1", 3000, 30.0), TsSample("1", 4000, 100.0))
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val got = spark.table("deriv_out").as[graft.streaming.StreamScore].collect()
        .map(s => s.tsMs -> s.dev).toMap
      val batchDevs = KeyedFold
        .run[TsSample, RawScored, String]((batch1 ++ batch2).iterator, _.seriesKey,
          () => new graft.detect.DerivativeKernel(0.2))
        .map(s => s.tsMs -> s.dev).toMap
      // streaming cannot apply the d0 := d1 retro-assignment to the first
      // point (no lookahead); all later points agree exactly
      (2 to 4).foreach(i => assert(math.abs(got(i * 1000L) - batchDevs(i * 1000L)) < 1e-12))
      assert(got(1000L) == 0.0)
    } finally q.stop()
  }

  test("streaming CUSUM equals the batch detector across micro-batch boundaries; TTL eviction restarts at zero") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{avg, col, stddev_pop}
    // dup-free fixture: 6 baseline points then a sustained shift, split
    // across 3 micro-batches — the accumulators must carry through the
    // state store
    val all = (1L to 6L).map(i => TsSample("1", i * 1000, 10.0)) ++
      (7L to 12L).map(i => TsSample("1", i * 1000, 10.7))
    val stats = all.toDS().groupBy("seriesKey")
      .agg(avg(col("value")).as("mu"), stddev_pop(col("value")).as("sd"))
    val mem = MemoryStream[TsSample]
    val q = MonitorStream.cusumStream(mem.toDS(), stats)
      .writeStream.outputMode("append").format("memory").queryName("cusum_out").start()
    try {
      all.grouped(4).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      val got = spark.table("cusum_out").collect()
        .map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
      val batch = graft.detect.Detectors.cusumScores(all.toDS()).collect()
        .map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
      assert(got.keySet == batch.keySet)
      got.foreach { case (ts, s) =>
        assert(s == batch(ts), s"stream/batch divergence at $ts: $s vs ${batch(ts)}")
      }
      assert(got(12000L) > 1.0, "the shift must have accumulated by series end")
    } finally q.stop()
    // TTL eviction: a returning key restarts its accumulators at (0, 0)
    val mem2 = MemoryStream[TsSample]
    val flatStats = Seq(("1", 0.0, 1.0), ("2", 0.0, 1.0)).toDF("seriesKey", "mu", "sd")
    val q2 = MonitorStream
      .cusumStream(mem2.toDS(), flatStats, watermarkDelay = "0 seconds", stateTtlMs = 5000L)
      .writeStream.outputMode("append").format("memory").queryName("cusum_ttl").start()
    try {
      // z = v (mu 0, sd 1): two points at 2 → sp = 1.5 then 3.0
      mem2.addData(TsSample("1", 1000, 2.0), TsSample("1", 2000, 2.0)); q2.processAllAvailable()
      mem2.addData(TsSample("2", 100000, 0.0)); q2.processAllAvailable()
      mem2.addData(TsSample("2", 110000, 0.0)); q2.processAllAvailable()
      mem2.addData(TsSample("1", 120000, 2.0)); q2.processAllAvailable()
      val s = spark.table("cusum_ttl").collect()
        .map(r => (r.getAs[String]("seriesKey"), r.getAs[Long]("tsMs")) -> r.getAs[Double]("score")).toMap
      assert(s(("1", 2000L)) == 3.0, "pre-expiry state was live and accumulating")
      assert(s(("1", 120000L)) == 1.5, s"state not expired: ${s(("1", 120000L))} (continuation would be 4.5)")
    } finally q2.stop()
  }

  test("streaming seasonal-residual monitor scores against the stored profile; TTL restarts the phase ordinal") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // history: a clean period-4 cycle 10/20/30/40 repeated 4x — the STL
    // profile captures the cycle exactly; the stream continues at
    // phase (n0 + i) % 4 = (16 + i) % 4
    val hist = (0L until 16L).map(i => TsSample("1", (i + 1) * 1000, 10.0 * (1 + (i % 4))))
    val stl = graft.ts.TsAlgebra
      .stlDecompose(hist.toDS().toDF(), "seriesKey", "tsMs", "value", period = 4)
    val profile = MonitorStream.seasonalProfileFrom(stl, "seriesKey", "tsMs")
    val prof = profile.collect()
      .map(r => r.getAs[Int]("phase").toLong ->
        (r.getAs[Long]("seasonal_fp"), r.getAs[Long]("level_fp"), r.getAs[Long]("n0")))
      .toMap
    assert(prof.keySet == Set(0L, 1L, 2L, 3L) && prof(0L)._3 == 16L)
    def expResid(phase: Long, v: Double): Long =
      math.round(v * 100) * 100 - prof(phase)._2 - prof(phase)._1
    // flags derive from the profile (the trend's edge truncation makes
    // hand-computed levels fragile), with the gross deviation pinned
    def expFlag(phase: Long, v: Double): Boolean =
      math.abs(expResid(phase, v)) / 10000.0 > 5.0
    assert(expFlag(0L, 99.0), "fixture sanity: the 99.0 point must deviate grossly")
    val mem = MemoryStream[TsSample]
    val q = MonitorStream
      .seasonalResidualStream(
        mem.toDS(), profile, period = 4, threshold = 5.0,
        watermarkDelay = "0 seconds", stateTtlMs = 5000L)
      .writeStream.outputMode("append").format("memory").queryName("seas_out").start()
    try {
      // live: a gross phase-0 deviation and an on-cycle phase-1 point
      mem.addData(TsSample("1", 17000, 99.0), TsSample("1", 18000, 20.0))
      q.processAllAvailable()
      // no-profile key: not scored, but advances the watermark past TTL
      mem.addData(TsSample("9", 100000, 0.0)); q.processAllAvailable()
      mem.addData(TsSample("9", 110000, 0.0)); q.processAllAvailable()
      // key 1 returns after expiry: ordinal restarts, phase back to (16+0)%4
      mem.addData(TsSample("1", 120000, 99.0)); q.processAllAvailable()
      val got = spark.table("seas_out").collect()
        .map(r => r.getAs[Long]("tsMs") ->
          (r.getAs[Long]("phase"), r.getAs[Long]("resid_fp"), r.getAs[Boolean]("isAnomaly")))
        .toMap
      assert(!got.keySet.exists(_ == 100000L), "profile-less keys must not be scored")
      assert(got(17000L) == ((0L, expResid(0L, 99.0), true)),
        s"phase-0 deviation must flag: ${got(17000L)}")
      assert(got(18000L) == ((1L, expResid(1L, 20.0), expFlag(1L, 20.0))),
        s"on-cycle point must score its profile residual: ${got(18000L)}")
      assert(got(120000L)._1 == 0L && got(120000L)._2 == expResid(0L, 99.0),
        s"TTL must restart the ordinal at phase (n0+0)%4: ${got(120000L)}")
    } finally q.stop()
  }

  test("seasonal monitor emitUnscored mode: absent keys surface as 'unscored', unseen phases fall back to level-only, hits stay identical") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val hist = (0L until 16L).map(i => TsSample("1", (i + 1) * 1000, 10.0 * (1 + (i % 4))))
    val stl = graft.ts.TsAlgebra
      .stlDecompose(hist.toDS().toDF(), "seriesKey", "tsMs", "value", period = 4)
    val full = MonitorStream.seasonalProfileFrom(stl, "seriesKey", "tsMs")
    // stale artifact: phase 2 never stored (the short-history case)
    val profile = full.where(col("phase") =!= 2)
    val prof = full.collect()
      .map(r => r.getAs[Int]("phase").toLong ->
        (r.getAs[Long]("seasonal_fp"), r.getAs[Long]("level_fp")))
      .toMap
    def vfp(v: Double): Long = math.round(v * 100) * 100
    val mem = MemoryStream[TsSample]
    val q = MonitorStream
      .seasonalResidualStream(
        mem.toDS(), profile, period = 4, threshold = 5.0,
        watermarkDelay = "0 seconds", emitUnscored = true)
      .writeStream.outputMode("append").format("memory").queryName("seas_cold").start()
    try {
      // key 1 phases (16+i)%4 = 0,1,2,3; key 7 has no profile at all
      mem.addData(
        TsSample("1", 17000, 10.0), TsSample("1", 18000, 20.0),
        TsSample("1", 19000, 30.0), TsSample("1", 20000, 40.0),
        TsSample("7", 21000, 42.0))
      q.processAllAvailable()
      val got = spark.table("seas_cold").collect()
        .map { r =>
          (r.getAs[String]("seriesKey"), r.getAs[Long]("tsMs")) ->
            ((r.getAs[String]("score_mode"),
              Option(r.getAs[java.lang.Long]("phase")).map(_.toLong),
              Option(r.getAs[java.lang.Long]("resid_fp")).map(_.toLong),
              Option(r.getAs[java.lang.Boolean]("isAnomaly")).map(_.booleanValue)))
        }
        .toMap
      assert(got.size == 5, s"every live point must surface: $got")
      // full-profile phases: identical arithmetic to the default mode
      def expResid(phase: Long, v: Double): Long = vfp(v) - prof(phase)._2 - prof(phase)._1
      assert(got(("1", 17000L)) ==
        (("seasonal", Some(0L), Some(expResid(0L, 10.0)),
          Some(math.abs(expResid(0L, 10.0)) / 10000.0 > 5.0))), s"${got(("1", 17000L))}")
      // phase 2 missing from the stored profile → level-only fallback
      assert(got(("1", 19000L))._1 == "level_only" && got(("1", 19000L))._2 == Some(2L) &&
        got(("1", 19000L))._3 == Some(vfp(30.0) - prof(0L)._2),
        s"level-only must score value - level: ${got(("1", 19000L))}")
      // key 7 absent from the profile → explicit unscored side output
      assert(got(("7", 21000L)) == (("unscored", None, None, None)), s"${got(("7", 21000L))}")
    } finally q.stop()
  }

  test("streaming Holt-Winters equals the batch detector across micro-batch boundaries; TTL restarts the profile") {
    implicit val sqlCtx = spark.sqlContext
    // period-4 pattern + ramp, split across micro-batches: the seasonal
    // slots and the point counter must carry through the state store
    val all = (0 until 24).map(i =>
      TsSample("1", (i + 1) * 1000L, 10.0 + 0.5 * i + Array(0.0, 6.0, 0.0, -6.0)(i % 4)))
    val mem = MemoryStream[TsSample]
    val q = MonitorStream.hwStream(mem.toDS())
      .writeStream.outputMode("append").format("memory").queryName("hw_out").start()
    try {
      all.grouped(5).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      val got = spark.table("hw_out").as[graft.streaming.StreamScore].collect()
        .map(s => s.tsMs -> s.dev).toMap
      val batch = KeyedFold
        .run[TsSample, RawScored, String](all.iterator, _.seriesKey,
          () => new graft.detect.HoltWintersKernel(0.2, 0.1, 0.3, 4))
        .map(s => s.tsMs -> s.dev).toMap
      assert(got.keySet == batch.keySet)
      got.foreach { case (ts, d) =>
        assert(d == batch(ts), s"stream/batch divergence at $ts: $d vs ${batch(ts)}")
      }
    } finally q.stop()
    // TTL eviction: a returning key re-learns from scratch (dev 0,
    // forecast = the raw value — fresh seed, not a continued profile)
    val mem2 = MemoryStream[TsSample]
    val q2 = MonitorStream
      .hwStream(mem2.toDS(), watermarkDelay = "0 seconds", stateTtlMs = 5000L)
      .writeStream.outputMode("append").format("memory").queryName("hw_ttl").start()
    try {
      mem2.addData(TsSample("1", 1000, 10.0), TsSample("1", 2000, 30.0)); q2.processAllAvailable()
      mem2.addData(TsSample("2", 100000, 1.0)); q2.processAllAvailable()
      mem2.addData(TsSample("2", 110000, 1.0)); q2.processAllAvailable()
      mem2.addData(TsSample("1", 120000, 50.0)); q2.processAllAvailable()
      val s = spark.table("hw_ttl").as[graft.streaming.StreamScore].collect()
        .map(r => (r.seriesKey, r.tsMs) -> ((r.ema, r.dev))).toMap
      assert(s(("1", 2000L))._2 == 20.0, "pre-expiry state was live (dev = 30 - l=10)")
      assert(s(("1", 120000L)) == ((50.0, 0.0)), s"state not expired: ${s(("1", 120000L))}")
    } finally q2.stop()
  }

  test("streaming control rules equal the batch flags across micro-batch boundaries; TTL clears the run history") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, count, lit, round, sum}
    // alternating base + a planted 8-run and one spike, split across
    // micro-batches: the zone-code ring must carry through the state store
    val vals = Seq.tabulate(40) { i =>
      if (i == 10) 50.0 else if (i >= 20 && i < 28) 2.0 else if (i % 2 == 0) 1.0 else -1.0
    }
    val all = vals.zipWithIndex.map { case (v, i) => TsSample("1", (i + 1) * 1000L, v) }
    val vm = round(col("value") * 100, 0).cast("long")
    val stats = all.toDF().select(col("seriesKey"), vm.as("_vm"))
      .groupBy("seriesKey")
      .agg(count(lit(1)).as("n"), sum(col("_vm")).as("s"), sum(col("_vm") * col("_vm")).as("_q"))
      .withColumn("d", col("n") * col("_q") - col("s") * col("s"))
      .select("seriesKey", "n", "s", "d")
    val mem = MemoryStream[TsSample]
    val q = MonitorStream.controlRulesStream(mem.toDS(), stats)
      .writeStream.outputMode("append").format("memory").queryName("ctrl_out").start()
    try {
      all.grouped(6).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      val got = spark.table("ctrl_out").as[graft.streaming.CtrlFlags].collect()
        .map(f => f.tsMs -> ((f.r1_beyond3, f.r2_2of3_2sigma, f.r3_4of5_1sigma, f.r4_run8))).toMap
      val batch = graft.detect.Detectors.controlRuleFlags(all.toDS()).collect()
        .map(r => r.getAs[Long]("tsMs") -> ((r.getAs[Boolean]("r1_beyond3"), r.getAs[Boolean]("r2_2of3_2sigma"),
          r.getAs[Boolean]("r3_4of5_1sigma"), r.getAs[Boolean]("r4_run8")))).toMap
      assert(got.keySet == batch.keySet)
      got.foreach { case (ts, f) => assert(f == batch(ts), s"stream/batch divergence at $ts") }
      assert(got(11000L)._1, "the planted spike must flag rule 1")
      assert(got(28000L)._4, "the planted run must flag rule 4 at its 8th point")
    } finally q.stop()
    // TTL eviction: the run history clears — 7 pre-expiry same-side points
    // plus 1 post-expiry point must NOT fire the run-of-8 rule
    val mem2 = MemoryStream[TsSample]
    val flatStats = Seq(("1", 100L, 0L, 1000000L), ("2", 100L, 0L, 1000000L))
      .toDF("seriesKey", "n", "s", "d")
    val q2 = MonitorStream
      .controlRulesStream(mem2.toDS(), flatStats, watermarkDelay = "0 seconds", stateTtlMs = 5000L)
      .writeStream.outputMode("append").format("memory").queryName("ctrl_ttl").start()
    try {
      // 7 same-side key-1 points (one short of the run rule), then key-2
      // events advance the watermark past key 1's TTL
      mem2.addData((1 to 7).map(i => TsSample("1", i * 1000L, 5.0)): _*); q2.processAllAvailable()
      mem2.addData(TsSample("2", 100000L, 5.0)); q2.processAllAvailable()
      mem2.addData(TsSample("2", 110000L, 5.0)); q2.processAllAvailable()
      mem2.addData(TsSample("1", 120000L, 5.0)); q2.processAllAvailable() // state gone: history restarts
      val s = spark.table("ctrl_ttl").as[graft.streaming.CtrlFlags].collect()
        .map(f => (f.seriesKey, f.tsMs) -> f.r4_run8).toMap
      assert(!s(("1", 120000L)), "run history must clear on TTL eviction (8th point after a continued history would fire)")
    } finally q2.stop()
  }

  test("dead series expire from the state store after the event-time TTL") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TsSample]
    val q = MonitorStream
      .emaScores(mem.toDS(), alpha = 0.2, watermarkDelay = "0 seconds", stateTtlMs = 5000L)
      .writeStream.outputMode("append").format("memory").queryName("ttl_out").start()
    try {
      // key 1 seeds its EMA, then goes quiet
      mem.addData(TsSample("1", 1000, 10.0), TsSample("1", 2000, 20.0))
      q.processAllAvailable()
      // key 2's much-later events advance the watermark past key 1's TTL;
      // the timeout fires on the following batch
      mem.addData(TsSample("2", 100000, 1.0)); q.processAllAvailable()
      mem.addData(TsSample("2", 110000, 1.0)); q.processAllAvailable()
      // key 1 returns: its state must be gone, so the EMA re-seeds at the
      // raw value instead of continuing from 0.2*20 + 0.8*12 = 13.6
      mem.addData(TsSample("1", 120000, 50.0)); q.processAllAvailable()
      val got = spark.table("ttl_out").as[graft.streaming.StreamScore].collect()
        .map(s => (s.seriesKey, s.tsMs) -> s.ema).toMap
      assert(got(("1", 2000L)) == 12.0) // pre-expiry state was live
      assert(got(("1", 120000L)) == 50.0, s"state not expired: ${got(("1", 120000L))}")
    } finally q.stop()
  }

  test("state stays bounded in key count: quiet series leave the state store once the watermark passes their TTL") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TsSample]
    val q = MonitorStream
      .emaScores(mem.toDS(), watermarkDelay = "0 seconds", stateTtlMs = 5000L)
      .writeStream.outputMode("append").format("memory").queryName("bounded_state").start()
    def stateRows() = q.lastProgress.stateOperators(0).numRowsTotal
    try {
      // 50 series report once and go quiet; one series stays live
      mem.addData((1 to 50).map(i => TsSample(s"quiet$i", 1000, i.toDouble)) :+ TsSample("live", 1000, 0.0): _*)
      q.processAllAvailable()
      assert(stateRows() == 51, "every series holds state while inside its TTL")
      // the live series alone moves the watermark past the quiet series' TTL
      (1 to 3).foreach { i => mem.addData(TsSample("live", 1000 + i * 10000L, 1.0)); q.processAllAvailable() }
      assert(stateRows() == 1, s"state must fall back to the live key count: ${stateRows()} rows")
    } finally q.stop()
  }

  test("anomalyWindows flushes a dead series' open window when the event-time TTL fires") {
    import graft.streaming.StreamScore
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamScore]
    val q = MonitorStream
      .anomalyWindows(mem.toDS(), scoreThreshold = 5.0, watermarkDelay = "0 seconds", stateTtlMs = 5000L)
      .writeStream.outputMode("append").format("memory").queryName("win_ttl").start()
    try {
      // key 1 opens a hot window and goes quiet: nothing closes it
      mem.addData(StreamScore("1", 1000, 0, 0, 9.0), StreamScore("1", 2000, 0, 0, 7.0))
      q.processAllAvailable()
      assert(spark.table("win_ttl").count() == 0, "an open window stays pending while its key is live")
      // key 2's cold events advance the watermark past key 1's TTL
      mem.addData(StreamScore("2", 100000, 0, 0, 1.0)); q.processAllAvailable()
      mem.addData(StreamScore("2", 110000, 0, 0, 1.0)); q.processAllAvailable()
      val got = spark.table("win_ttl").as[graft.model.Anomaly].collect().toSeq
      assert(got == Seq(graft.model.Anomaly("1", 1000, 2000, 9.0, 1000)), s"the open window must flush, got $got")
    } finally q.stop()
  }

  test("late/duplicate guard: a point at or before the key's last accepted ts emits nothing and leaves later scores unchanged, on every event-time monitor") {
    import graft.streaming.StreamScore
    import org.apache.spark.sql.{DataFrame, Dataset}
    implicit val sqlCtx = spark.sqlContext
    val hist = (0L until 16L).map(i => TsSample("1", (i + 1) * 1000, 10.0 * (1 + (i % 4))))
    val profile = MonitorStream.seasonalProfileFrom(
      graft.ts.TsAlgebra.stlDecompose(hist.toDS().toDF(), "seriesKey", "tsMs", "value", period = 4),
      "seriesKey", "tsMs")
    val cusumStats = Seq(("1", 0.0, 1.0)).toDF("seriesKey", "mu", "sd")
    val ctrlStats = Seq(("1", 100L, 0L, 1000000L)).toDF("seriesKey", "n", "s", "d")
    val monitors: Seq[(String, Dataset[TsSample] => DataFrame)] = Seq(
      "ema" -> (MonitorStream.emaScores(_).toDF()),
      "derivative" -> (MonitorStream.derivativeScores(_).toDF()),
      "cusum" -> (MonitorStream.cusumStream(_, cusumStats).toDF()),
      "holt-winters" -> (MonitorStream.hwStream(_).toDF()),
      "control rules" -> (MonitorStream.controlRulesStream(_, ctrlStats).toDF()),
      "seasonal ordinals" -> (MonitorStream.seasonalResidualStream(_, profile, period = 4, threshold = 5.0)),
      // dev = value: 9 and 8 open a window that only a cold point closes
      "anomaly windows" -> (ds => MonitorStream.anomalyWindows(
        ds.map(p => StreamScore(p.seriesKey, p.tsMs, p.value, 0.0, p.value)), scoreThreshold = 5.0).toDF()))
    val first = Seq(TsSample("1", 1000, 9.0), TsSample("1", 2000, 8.0))
    // an earlier ts and a duplicated ts, both inside the 10-minute watermark
    val late = Seq(TsSample("1", 1500, 1.0), TsSample("1", 2000, 1.0))
    val next = Seq(TsSample("1", 3000, 1.0))
    // rows in the sink after each batch, and the final sink
    def run(monitor: Dataset[TsSample] => DataFrame, batches: Seq[Seq[TsSample]], name: String) = {
      val mem = MemoryStream[TsSample]
      val q = monitor(mem.toDS()).writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        val counts = batches.map { b => mem.addData(b: _*); q.processAllAvailable(); spark.table(name).count() }
        (counts, spark.table(name).collect().map(_.toString).sorted.toSeq)
      } finally q.stop()
    }
    monitors.zipWithIndex.foreach { case ((label, monitor), i) =>
      val (counts, withLate) = run(monitor, Seq(first, late, next), s"guard_late_$i")
      val (_, clean) = run(monitor, Seq(first, next), s"guard_clean_$i")
      assert(counts(1) == counts(0), s"$label: the late batch emitted ${counts(1) - counts(0)} rows")
      assert(clean.nonEmpty && withLate == clean, s"$label: $withLate vs a run without the late batch $clean")
    }
  }

  test("streaming window assembly matches batch sessionization; open windows stay pending") {
    import graft.streaming.StreamScore
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamScore]
    val q = MonitorStream.anomalyWindows(mem.toDS(), scoreThreshold = 5.0)
      .writeStream.outputMode("append").format("memory").queryName("win_assembly").start()
    try {
      // hot run 2000-3000 spans a micro-batch boundary; 4000 closes it;
      // 6000 opens a new run that has no closer yet
      mem.addData(
        StreamScore("1", 1000, 0, 0, 1.0), StreamScore("1", 2000, 0, 0, 9.0))
      q.processAllAvailable()
      mem.addData(
        StreamScore("1", 3000, 0, 0, 7.0), StreamScore("1", 4000, 0, 0, 1.0),
        StreamScore("1", 6000, 0, 0, 8.0))
      q.processAllAvailable()
      val got = spark.table("win_assembly").as[graft.model.Anomaly].collect()
      assert(got.toSeq == Seq(graft.model.Anomaly("1", 2000, 3000, 9.0, 2000)),
        s"got ${got.toSeq}")

      // batch equivalent over the closed portion agrees
      val scores = Seq(("1", 1000L, 0.0, 1.0), ("1", 2000L, 0.0, 9.0),
        ("1", 3000L, 0.0, 7.0), ("1", 4000L, 0.0, 1.0))
        .toDF("seriesKey", "tsMs", "value", "score")
      val batch = graft.detect.Detectors
        .anomalies(graft.detect.Detectors.withThreshold(
          scores, graft.config.DetectorConfig(scoreThreshold = Some(5.0))))
        .collect()
      assert(batch.length == 1)
      val b = batch.head
      assert(b.getAs[Long]("startTsMs") == 2000L && b.getAs[Long]("endTsMs") == 3000L &&
        b.getAs[Double]("anomalyScore") == 9.0 && b.getAs[Long]("exactTsMs") == 2000L)
    } finally q.stop()
  }

  test("streaming session_window stats match batch Sessionize.stats for closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, Long)]
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val q = MonitorStream
      .sessionStats(
        mem.toDS().toDF("seriesKey", "ts", "event_id"),
        gapMs = 10000L, watermark = "5 seconds")
      .writeStream.outputMode("append").format("memory").queryName("sess_out").start()
    try {
      // key 1: [1000..11000] one session (diff == gap stays merged),
      // then 30000 opens another; key 2: single-event session
      val events = Seq(
        ("1", 1000L, 1L), ("1", 5000L, 2L), ("1", 11000L, 3L),
        ("1", 30000L, 4L), ("2", 2000L, 5L))
      events.foreach { case (k, t, id) => mem.addData((k, ts(t), id)) }
      // watermark mover: far-future event closes everything before it
      mem.addData(("9", ts(500000L), 99L))
      q.processAllAvailable()
      mem.addData(("9", ts(600000L), 100L)) // second advance: emit what the first closed
      q.processAllAvailable()

      val got = spark.table("sess_out")
        .select("seriesKey", "session_start", "session_end", "duration_ms", "n_events")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .filter(_._1 != "9").toSet

      val batch = ext.Sessionize
        .stats(
          events.map { case (k, t, id) => (k, t, id) }.toDF("seriesKey", "ts_ms", "event_id"),
          "seriesKey", "ts_ms", "event_id", gapMs = 10000L)
        .collect()
        .map(r => (r.getString(0), r.getAs[Long]("session_start"), r.getAs[Long]("session_end"),
          r.getAs[Long]("duration_ms"), r.getAs[Long]("n_events"))).toSet
      assert(got == batch, s"streaming $got vs batch $batch")
    } finally q.stop()
  }

  test("streaming dedup drops in-watermark duplicates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val q = MonitorStream
      .dedupStream(mem.toDS().toDF("fp", "ts"), Seq("fp"), "ts", watermark = "10 seconds")
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    try {
      mem.addData(("a", ts(1000)), ("b", ts(2000)), ("a", ts(3000)))
      q.processAllAvailable()
      // same fp in a later micro-batch, still inside the watermark: dropped
      mem.addData(("a", ts(4000)), ("c", ts(5000)))
      q.processAllAvailable()
      val got = spark.table("dedup_out").collect().map(_.getString(0)).sorted.toSeq
      assert(got == Seq("a", "b", "c"), s"got $got")
    } finally q.stop()
  }

  test("EMA state survives a query restart from checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ckpt_out").toString
    val mem = MemoryStream[TsSample]
    // memory sink is not fault-tolerant; recovery needs a file sink
    def start() = MonitorStream
      .emaScores(mem.toDS())
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()

    val q1 = start()
    mem.addData(TsSample("1", 1000, 10.0), TsSample("1", 2000, 20.0))
    q1.processAllAvailable()
    q1.stop()

    val q2 = start() // same checkpoint -> state restored
    mem.addData(TsSample("1", 3000, 30.0))
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(outDir).as[graft.streaming.StreamScore].collect()
      .map(s => s.tsMs -> s.ema).toMap
    // ema(3000) must continue from the pre-restart state:
    // ema = 0.2*30 + 0.8*(0.2*20 + 0.8*10) = 0.2*30 + 0.8*12 = 15.6
    assert(math.abs(got(3000L) - 15.6) < 1e-12,
      s"state lost across restart: got ${got.get(3000L)}")
  }

  test("kmvStream bottom-k state survives a query restart from checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SketchStream
    import graft.streaming.SketchStream.TokArrival
    val ckpt = java.nio.file.Files.createTempDirectory("graft_kmv_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_kmv_out").toString
    val mem = MemoryStream[TokArrival]
    def start() = SketchStream.kmvStream(mem.toDS(), k = 4)
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()

    // chunk 1 holds three of the four final bottom-k hashes: a restart
    // that lost state would emit a final snapshot missing them
    val q1 = start()
    mem.addData(TokArrival("g", 0, 10L), TokArrival("g", 0, 20L), TokArrival("g", 0, 30L))
    q1.processAllAvailable()
    q1.stop()

    val q2 = start() // same checkpoint -> bottom-k array restored
    mem.addData(TokArrival("g", 1, 15L), TokArrival("g", 1, 99L), TokArrival("g", 1, 5L))
    q2.processAllAvailable()
    q2.stop()

    val fin = spark.read.parquet(outDir).as[SketchStream.KmvSnapshot].collect()
      .filter(_.grp == "g").maxBy(_.seq)
    assert(fin.seq == 2L, s"seq must continue from checkpointed state, got ${fin.seq}")
    // == uninterrupted bottom-4 of {10,20,30,15,99,5}
    assert(fin.hashes.toSeq == Seq(5L, 10L, 15L, 20L),
      s"final sketch must merge pre- and post-restart hashes: ${fin.hashes.toSeq}")
  }

  test("streaming HLL registers equal the batch sketch for closed windows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Sketches
    val mem = MemoryStream[(java.sql.Timestamp, String, String)]
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val q = Sketches
      .hllRegistersStream(
        mem.toDF().toDF("t", "grp", "v"),
        "t", "grp", "v", p = 8, windowDuration = "10 seconds", watermarkDelay = "0 seconds")
      .writeStream.outputMode("update").format("memory").queryName("hll_out").start()
    try {
      val vals1 = (1 to 300).map(i => (ts(1000), "g", s"u$i"))
      val vals2 = (200 to 500).map(i => (ts(2000), "g", s"u$i")) // overlap 200..300
      mem.addData(vals1: _*)
      q.processAllAvailable()
      mem.addData(vals2: _*)
      q.processAllAvailable()

      // update-mode memory sink can hold superseded rows for the same key
      // across triggers — keep the max (the final register value)
      val got = spark.table("hll_out")
        .groupBy("bucket").agg(org.apache.spark.sql.functions.max("register").as("register"))
        .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("register")).toMap
      val batch = Sketches
        .hllRegisters((vals1 ++ vals2).map(x => (x._2, x._3)).toDF("grp", "v"), "grp", "v", p = 8)
        .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("register")).toMap
      assert(got == batch, "streaming registers must fold to the batch sketch")
    } finally q.stop()
  }

  test("streaming histogram cells fold to the batch sketch and feed the same quantiles") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Sketches
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val q = Sketches
      .histogramCellsStream(
        mem.toDF().toDF("t", "grp", "v"),
        "t", "grp", "v", unitScale = 100, binUnits = 100L, bins = 100,
        windowDuration = "10 seconds", watermarkDelay = "0 seconds")
      .writeStream.outputMode("update").format("memory").queryName("hist_out").start()
    try {
      val b1 = (1 to 5000).map(i => (ts(1000), "g", i / 100.0))
      val b2 = (3000 to 8000).map(i => (ts(2000), "g", i / 100.0))
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      // update-mode sink keeps superseded counts — the max per key is final
      val streamCells = spark.table("hist_out")
        .groupBy("grp", "bin").agg(org.apache.spark.sql.functions.max("cnt").as("cnt"))
      val got = streamCells.collect().map(r => r.getAs[Long]("bin") -> r.getAs[Long]("cnt")).toMap
      val batch = Sketches
        .histogramCells((b1 ++ b2).map(x => (x._2, x._3)).toDF("grp", "v"), "grp", "v", 100, 100L, 100)
        .collect().map(r => r.getAs[Long]("bin") -> r.getAs[Long]("cnt")).toMap
      assert(got == batch, "streaming cells must fold to the batch sketch")
      val p50 = Sketches.histogramQuantiles(streamCells, "grp", Seq(500), 100, 100L)
        .collect().head.getDouble(3)
      assert(math.abs(p50 - 40.0) <= 1.1, s"p50 over merged windows $p50") // median of the union
    } finally q.stop()
  }

  test("streaming CMS cells equal the batch sketch for closed windows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Sketches
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val q = Sketches
      .cmsCellsStream(
        mem.toDF().toDF("t", "wd"),
        "t", "wd", depth = 2, width = 64, windowDuration = "10 seconds", watermarkDelay = "0 seconds")
      .writeStream.outputMode("update").format("memory").queryName("cms_out").start()
    try {
      val b1 = (1 to 200).map(i => (ts(1000), s"w${i % 40}"))
      val b2 = (1 to 150).map(i => (ts(2000), s"w${i % 25}"))
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("cms_out")
        .groupBy("row_idx", "col_idx")
        .agg(org.apache.spark.sql.functions.max("cnt").as("cnt")) // update-mode: keep final row per key
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = Sketches
        .cmsCells((b1 ++ b2).map(_._2).toDF("wd"), "wd", depth = 2, width = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == batch, "streaming cells must fold to the batch sketch")
    } finally q.stop()
  }

  test("streaming funnel advances match batch steps_reached on an in-order stream") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{FunnelAdvance, FunnelEvent, FunnelStream}
    val mem = MemoryStream[FunnelEvent]
    val q = FunnelStream
      .advances(mem.toDS(), Seq("view", "click", "buy"))
      .writeStream.outputMode("append").format("memory").queryName("funnel_out").start()
    try {
      // u1 completes across TWO micro-batches (state carries); u2's click
      // precedes its view (must not count); u3 stalls at view.
      mem.addData(
        FunnelEvent("u1", "view", 1000), FunnelEvent("u1", "click", 2000),
        FunnelEvent("u2", "click", 500), FunnelEvent("u2", "view", 1000),
        FunnelEvent("u3", "view", 100))
      q.processAllAvailable()
      mem.addData(
        FunnelEvent("u1", "buy", 3000),
        FunnelEvent("u2", "click", 1000)) // same ts as its view: not strictly after
      q.processAllAvailable()

      val adv = spark.table("funnel_out").as[FunnelAdvance].collect()
      val maxStep = adv.groupBy(_.user).view.mapValues(_.map(_.step).max).toMap
      assert(maxStep == Map("u1" -> 3, "u2" -> 1, "u3" -> 1))
      // transition times match the batch earliest-completion chain
      val u1 = adv.filter(_.user == "u1").sortBy(_.step).map(_.tsMs).toSeq
      assert(u1 == Seq(1000L, 2000L, 3000L))

      // batch parity on the same replayed events
      val batch = Seq(
        ("u1", "view", 1000L), ("u1", "click", 2000L), ("u1", "buy", 3000L),
        ("u2", "click", 500L), ("u2", "view", 1000L), ("u2", "click", 1000L),
        ("u3", "view", 100L)
      ).toDF("user_id", "event_type", "ts_ms")
      val reached = graft.ext.Behavior
        .funnel(batch, "user_id", "event_type", "ts_ms", Seq("view", "click", "buy"))
        .collect().map(r => r.getAs[String]("user_id") -> r.getAs[Long]("steps_reached")).toMap
      assert(reached == maxStep.map { case (k, v) => k -> v.toLong })
    } finally q.stop()
  }

  test("stream-stream interval join: pairs form across micro-batches and match the batch join") {
    import graft.streaming.JoinStream
    import graft.streaming.JoinStream.JoinEvent
    val views = Seq(
      JoinEvent(1, 1000), JoinEvent(1, 50000), JoinEvent(2, 2000))
    val actions = Seq(
      JoinEvent(1, 3000), // within 10s of view@1000
      JoinEvent(1, 55000), // within 10s of view@50000 only
      JoinEvent(2, 30000), // outside every horizon
      JoinEvent(3, 1000)) // key with no views
    val got = JoinStream.joinReplay(views, actions, spark, chunks = 3, horizonMs = 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1000L, 3000L), (1L, 50000L, 55000L)))
  }

  test("stream-stream interval join LEFT OUTER: unmatched views emit null actions at watermark expiry") {
    import graft.streaming.JoinStream
    import graft.streaming.JoinStream.JoinEvent
    val views = Seq(
      JoinEvent(1, 1000), JoinEvent(1, 50000), JoinEvent(2, 2000))
    val actions = Seq(
      JoinEvent(1, 3000), // pairs with view@1000
      JoinEvent(1, 55000), // pairs with view@50000
      JoinEvent(2, 30000), // outside view@2000's horizon → that view is unmatched
      JoinEvent(3, 1000)) // key with no views
    val got = JoinStream.joinReplay(views, actions, spark, chunks = 3, horizonMs = 10000L,
        joinType = "left_outer")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSet
    assert(got == Set(
      (1L, 1000L, 3000L), (1L, 50000L, 55000L),
      (2L, 2000L, -1L))) // the attribution loss: a view that never converted
  }

  test("stream-stream interval join FULL OUTER: both sides' unmatched state emits nulls") {
    import graft.streaming.JoinStream
    import graft.streaming.JoinStream.JoinEvent
    val views = Seq(
      JoinEvent(1, 1000), JoinEvent(1, 50000), JoinEvent(2, 2000))
    val actions = Seq(
      JoinEvent(1, 3000), // pairs with view@1000
      JoinEvent(1, 55000), // pairs with view@50000
      JoinEvent(2, 30000), // outside view@2000's horizon → BOTH sides unmatched
      JoinEvent(3, 1000)) // key with no views → orphaned action
    val got = JoinStream.joinReplay(views, actions, spark, chunks = 3, horizonMs = 10000L,
        joinType = "full_outer")
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSet
    assert(got == Set(
      (1L, 1000L, 3000L), (1L, 50000L, 55000L), // converted pairs
      (2L, 2000L, -1L), // unconverted view (the left_outer row)
      (2L, -1L, 30000L), (3L, -1L, 1000L))) // orphaned actions — the new shape
  }

  test("stream-stream interval join state survives a kill-and-resume from checkpoint") {
    import org.apache.spark.sql.functions._
    import graft.streaming.JoinStream
    import graft.streaming.JoinStream.JoinEvent
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_join_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_join_out").toString
    val memV = MemoryStream[JoinEvent]
    val memA = MemoryStream[JoinEvent]
    // memory sink is not fault-tolerant; recovery needs a file sink
    def start() = JoinStream.intervalJoin(
        memV.toDS().select(col("key").as("vKey"), timestamp_millis(col("tsMs")).as("vTime")),
        memA.toDS().select(col("key").as("aKey"), timestamp_millis(col("tsMs")).as("aTime")),
        horizonMs = 5000L, watermark = "10 seconds")
      .select(col("vKey"), unix_millis(col("vTime")).as("v_ts"), unix_millis(col("aTime")).as("a_ts"))
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()

    val q1 = start()
    memV.addData(JoinEvent(1, 1000), JoinEvent(2, 1500))
    memA.addData(JoinEvent(1, 2000)) // pair (1,1000,2000) emits pre-restart
    q1.processAllAvailable()
    q1.stop() // kill mid-replay: view 2 and view 1 still buffered in state

    val q2 = start() // same checkpoint → join state restored
    // these actions can only pair if the BUFFERED views survived the restart
    memA.addData(JoinEvent(2, 4000), JoinEvent(1, 5000))
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("vKey"), r.getAs[Long]("v_ts"), r.getAs[Long]("a_ts"))).toSet
    val expected = Set((1L, 1000L, 2000L), (2L, 1500L, 4000L), (1L, 1000L, 5000L))
    assert(got == expected, s"join state lost across restart: got $got")
    // the post-restart output equals the batch interval join on ALL fed rows
    val vs = Seq((1L, 1000L), (2L, 1500L)).toDF("vKey", "v_ts")
    val as = Seq((1L, 2000L), (2L, 4000L), (1L, 5000L)).toDF("aKey", "a_ts")
    val batch = vs.join(as, expr("vKey = aKey AND a_ts >= v_ts AND a_ts <= v_ts + 5000"))
      .select(col("vKey"), col("v_ts"), col("a_ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batch)
  }

  test("stream-static enrichment: broadcast left join, nulls pass through, batch parity, no state store") {
    import spark.implicits._
    import graft.streaming.EnrichStream
    import graft.streaming.EnrichStream.FactEvent
    val facts = Seq(
      FactEvent(1, 1000, 1.5), FactEvent(2, 2000, 2.5),
      FactEvent(1, 3000, 3.5), FactEvent(9, 4000, 9.5))
    val dim = Seq((1L, "gold"), (9L, "trial")).toDF("key", "segment")
    val got = EnrichStream.enrichReplay(facts, dim, spark, chunks = 2)
      .collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Long]("tsMs"), r.getAs[String]("segment")))
      .toSet
    assert(got == Set(
      (1L, 1000L, "gold"), (1L, 3000L, "gold"),
      (2L, 2000L, null), // no dim row → nulls, never dropped
      (9L, 4000L, "trial")))
    // the batch twin of the same operator must broadcast the dimension
    // (stream side unshuffled — the property that makes this shape cheap)
    val batchPlan = EnrichStream
      .enrich(facts.toDF(), dim, "key")
      .queryExecution.executedPlan.toString
    assert(batchPlan.contains("BroadcastHashJoin"), batchPlan)
  }

  test("streaming WARC ingest: archives landing later arrive exactly once; damage stays an in-stream marker") {
    import graft.sources.Warc
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("warc_stream").toString
    def docs(ids: Seq[Long]) =
      ids.map(i => (i, s"doc $i body", "en", "s", i)).toDF("doc_id", "text", "lang", "source", "n_chars")
    Warc.writeArchives(docs(Seq(1L, 2L, 3L, 4L)), dir, nArchives = 2)
    val table = s"warc_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = Warc.readArchivesStream(spark, dir, maxFilesPerTrigger = 1)
      .writeStream.outputMode("append").format("memory").queryName(table).start()
    try {
      q.processAllAvailable()
      def ids() = spark.table(table).where(col("_ok")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids() == Set(1L, 2L, 3L, 4L), "wave 1 arrives")
      // wave 2 LANDS: new archive files appear in the watched dir (the
      // write side stages elsewhere and renames in — completed files
      // only, which is why arrival is atomic per archive)
      val staging = java.nio.file.Files.createTempDirectory("warc_stage").toString
      Warc.writeArchives(docs(Seq(10L, 11L, 12L)), staging, nArchives = 2)
      for (f <- new java.io.File(staging).listFiles() if f.getName.endsWith(".warc"))
        java.nio.file.Files.move(
          f.toPath, java.nio.file.Paths.get(dir, "wave2-" + f.getName))
      q.processAllAvailable()
      assert(ids() == Set(1L, 2L, 3L, 4L, 10L, 11L, 12L),
        "wave 2 arrives; wave 1 not re-read (exactly-once per archive)")
      // wave 3 is damaged garbage: the marker row flows IN-STREAM
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "wave3-bad.warc"),
        "not a warc record at all".getBytes("UTF-8"))
      q.processAllAvailable()
      assert(ids() == Set(1L, 2L, 3L, 4L, 10L, 11L, 12L), "garbage adds no clean docs")
      val markers = spark.table(table).where(!col("_ok")).collect()
      assert(markers.length == 1 && markers.head.getAs[Long]("_offset") == 0L,
        s"one marker row for the damaged archive, got ${markers.length}")
    } finally q.stop()
    // the member-gzipped twin (the shipping convention) streams too —
    // the plain-glob source would silently match nothing on a .warc.gz dir
    val gdir = java.nio.file.Files.createTempDirectory("warcgz_stream").toString
    Warc.writeArchivesGz(docs(Seq(20L, 21L, 22L)), gdir, nArchives = 2)
    val gtable = s"warcgz_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val gq = Warc.readArchivesGzStream(spark, gdir, maxFilesPerTrigger = 1)
      .writeStream.outputMode("append").format("memory").queryName(gtable).start()
    try {
      gq.processAllAvailable()
      val gids = spark.table(gtable).where(col("_ok")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(gids == Set(20L, 21L, 22L), s"gz archives stream, got $gids")
    } finally gq.stop()
  }

  test("record-granular streaming WARC ingest: one landing archive fans out to many spans, exactly once") {
    import graft.sources.Warc
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("warcidx_stream").toString
    def docs(ids: Seq[Long]) =
      ids.map(i => (i, s"doc $i body", "en", "s", i)).toDF("doc_id", "text", "lang", "source", "n_chars")
    // ONE fat archive — the whole-file stream's straggler shape
    Warc.writeArchivesGz(docs(0L until 32L), dir, nArchives = 1)
    // the per-sidecar span fold must out-parallelize the archive AND
    // agree exactly with the batch split table (shared grouping rule)
    val idxLines = scala.io.Source.fromFile(new java.io.File(dir, "archive-0.warc.gz.idx"))
      .getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split(" "); (f(0).toLong, f(1).toLong, f(2).toLong) }.toVector
    val bounds = Warc.gzSpanBounds(idxLines.iterator, membersPerSplit = 4, maxSplitBytes = 256L << 20)
    assert(bounds.length == 8, s"1 archive must become 8 member spans in the micro-batch, got ${bounds.length}")
    val batch = Warc.gzMemberSplits(spark, dir, membersPerSplit = 4).collect()
      .map(r => (r.getAs[Long]("start"), r.getAs[Long]("span"))).toSet
    assert(bounds.toSet == batch, "stream-side and batch-side span grouping must be identical")
    val table = s"warcidx_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = Warc.readArchivesGzIndexedStream(spark, dir, membersPerSplit = 4, maxFilesPerTrigger = 1)
      .writeStream.outputMode("append").format("memory").queryName(table).start()
    try {
      q.processAllAvailable()
      def ids() = spark.table(table).where(col("_ok")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids() == (0L until 32L).toSet, "every member of the fat archive arrives")
      // wave 2 LANDS honoring the writer's commit order: data file
      // visible before its sidecar (the sidecar is the arrival event)
      val staging = java.nio.file.Files.createTempDirectory("warcidx_stage").toString
      Warc.writeArchivesGz(docs(Seq(100L, 101L)), staging, nArchives = 1)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(staging, "archive-0.warc.gz"),
        java.nio.file.Paths.get(dir, "wave2.warc.gz"))
      java.nio.file.Files.move(
        java.nio.file.Paths.get(staging, "archive-0.warc.gz.idx"),
        java.nio.file.Paths.get(dir, "wave2.warc.gz.idx"))
      q.processAllAvailable()
      assert(ids() == (0L until 32L).toSet ++ Set(100L, 101L),
        "wave 2 arrives; wave 1 not re-read (exactly-once per sidecar)")
    } finally q.stop()
  }

  test("calibrated streaming threshold: quantile-of-history cut; empty calibration fails with remediation") {
    import org.apache.spark.sql.functions.col
    // history devs 1..100 (centi-exact): p90 of the binned sketch sits
    // near 90; a live dev of 95 flags, 50 does not
    val hist = (1 to 100).map(i => ("k", i.toLong, i.toDouble)).toDF("seriesKey", "tsMs", "dev")
    val thr = MonitorStream.calibratedThreshold(hist, "dev", qMille = 900)
    assert(thr > 85.0 && thr <= 91.0, s"p90 of 1..100 on 0.64-wide bins, got $thr")
    // cold start: empty calibration window must say WHAT to do, not NPE
    val err = intercept[IllegalArgumentException] {
      MonitorStream.calibratedThreshold(hist.where(col("dev") < 0), "dev", qMille = 900)
    }
    assert(err.getMessage.contains("score_threshold"), err.getMessage)
  }

  test("streaming dedup: first arrival wins across micro-batch boundaries") {
    import graft.streaming.DedupStream
    import graft.streaming.DedupStream.DocArrival
    val arrivals = Seq(
      DocArrival(1, 1000, "A"), DocArrival(2, 2000, "B"),
      DocArrival(3, 3000, "A"), // dup of A in a later chunk
      DocArrival(4, 4000, "C"), DocArrival(5, 5000, "B"), // dup of B
      DocArrival(6, 6000, "A")) // dup of A again
    val out = DedupStream.dedupReplay(arrivals, spark, chunks = 3)
      .collect().map(r => r.getAs[String]("hash") -> r.getAs[Long]("doc_id")).toMap
    assert(out == Map("A" -> 1L, "B" -> 2L, "C" -> 4L))
  }

  test("streaming dedup: a duplicate past the watermark horizon re-emits (documented divergence)") {
    import graft.streaming.DedupStream
    import graft.streaming.DedupStream.DocArrival
    val arrivals = Seq(
      // t=0 is avoided: a row AT the initial zero watermark is dropped as late
      DocArrival(1, 5000L, "X"), // batch 1: X enters state (expiry 6s)
      DocArrival(2, 200000L, "Y"), // batch 2: watermark advances to 199s at commit
      DocArrival(3, 200000L, "Z"), // batch 3: runs under watermark 199s → X evicted at cleanup
      DocArrival(4, 200001L, "X")) // batch 4: dup of X after eviction → re-emitted
    val rows = DedupStream.dedupReplay(arrivals, spark, chunks = 4, watermarkDelay = "1 second")
      .collect().map(r => r.getAs[String]("hash"))
    assert(rows.count(_ == "X") == 2, s"evicted key must re-emit, got ${rows.toSeq}")
    assert(rows.count(_ == "Y") == 1)
  }

  test("streaming fuzzy decontam: ledger equals the batch kernel under an inert df cap, at any chunking") {
    import graft.streaming.FuzzyDecontamStream
    import graft.streaming.FuzzyDecontamStream.TrainArrival
    import spark.implicits._
    // the CorpusOpsSpec fuzzy fixture: train 100 paraphrases probe 1
    // (every third token edited — no trigram survives, bigrams do),
    // train 101 is clean
    val probe = Seq((1L, "the quick brown fox jumps over the lazy dog again and again")).toDF("doc_id", "text")
    val train = Seq(
      (100L, "the quick brown vulpine jumps over the weary dog again and never"),
      (101L, "entirely unrelated text with none of the probe content present")).toDF("doc_id", "text")
    val arrivals = Seq(
      TrainArrival(100L, 1000L, "the quick brown vulpine jumps over the weary dog again and never"),
      TrainArrival(101L, 2000L, "entirely unrelated text with none of the probe content present"))
    def ledger(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("train_id") ->
        ((r.getAs[Boolean]("contaminated"), r.getAs[Long]("n_probe_matches"),
          Option(r.getAs[java.lang.Long]("best_probe_id")).map(_.toLong),
          Option(r.getAs[java.lang.Double]("max_containment")).map(_.toDouble),
          r.getAs[String]("action"))))
      .toMap
    val batch = ledger(graft.ext.Dedup.fuzzyDecontamination(
      train, probe, "doc_id", "text", n = 2, tau = 0.3, minShingles = 4, maxDf = 100))
    // cap inert (1 probe, 2 train docs — no shingle near df 100), so the
    // probe-side df map equals the batch union map and the ledgers match
    val stream = ledger(FuzzyDecontamStream.fuzzyDecontamReplay(
      arrivals, probe, "doc_id", "text", n = 2, tau = 0.3, minShingles = 4, maxDf = 100,
      spark, chunks = 2))
    assert(stream == batch, s"stream $stream != batch $batch")
    assert(stream(100L)._1 && stream(100L)._5 == "drop", s"paraphrase must drop: ${stream(100L)}")
    assert(!stream(101L)._1 && stream(101L)._5 == "keep")
    // chunking invariance: one micro-batch, same ledger
    val oneChunk = ledger(FuzzyDecontamStream.fuzzyDecontamReplay(
      arrivals, probe, "doc_id", "text", n = 2, tau = 0.3, minShingles = 4, maxDf = 100,
      spark, chunks = 1))
    assert(oneChunk == batch)
  }

  test("replay: the stream's state runs on 1 partition while a batch plan beside it keeps the session's count") {
    import graft.streaming.Replay
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try {
      val mem = MemoryStream[(String, Long)]
      var batchPartitions = Seq.empty[Int]
      var statePartitions = Seq.empty[Long]
      Replay.runSink(spark, mem.toDF().dropDuplicates("_1")) { q =>
        mem.addData(("a", 1L), ("b", 2L), ("a", 3L))
        q.processAllAvailable()
        val agg = spark.range(0, 100).groupBy((col("id") % 7).as("g")).count()
        assert(agg.count() == 7)
        batchPartitions = Aqe.collect(agg.queryExecution.executedPlan) {
          case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions
        }
        statePartitions = q.recentProgress.toSeq.flatMap(_.stateOperators.map(_.numShufflePartitions))
      }
      assert(batchPartitions.nonEmpty && batchPartitions.forall(_ == 5),
        s"a batch plan run while the replay was active planned $batchPartitions partitions")
      assert(statePartitions.nonEmpty && statePartitions.forall(_ == 1L), s"state partitions: $statePartitions")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "5")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("streaming fuzzy decontam: re-delivered doc appends once per horizon; eviction re-emits (documented divergence)") {
    import graft.streaming.{FuzzyDecontamStream, Replay}
    import graft.streaming.FuzzyDecontamStream.TrainArrival
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val probe = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val idx = FuzzyDecontamStream.buildProbeIndex(
      probe, "doc_id", "text", n = 2, tau = 0.3, minShingles = 4, maxDf = 100)
    val contaminatedTxt = "alpha beta gamma delta epsilon zeta plus trailing tokens"
    val cleanTxt = "nothing shared with the probe suite at all today"
    val mem = MemoryStream[TrainArrival]
    val out = FuzzyDecontamStream.fuzzyDecontamStream(
      mem.toDS().select(
        col("docId"), timestamp_millis(col("tsMs")).as("eventTime"), col("text")),
      "docId", "eventTime", "text", idx, watermarkDelay = "1 second")
    val sink = Replay.runSink(spark, out) { q =>
      Seq(
        Seq(TrainArrival(100L, 5000L, contaminatedTxt)), // enters state (expiry 6s)
        Seq(TrainArrival(100L, 5500L, contaminatedTxt)), // re-delivery in horizon → suppressed
        Seq(TrainArrival(101L, 200000L, cleanTxt)), // watermark advances to 199s at commit
        Seq(TrainArrival(102L, 200000L, cleanTxt)), // runs under watermark → 100 evicted
        Seq(TrainArrival(100L, 200001L, contaminatedTxt)) // post-eviction → re-emits
      ).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    }
    val rows = sink.collect().map(r =>
      (r.getAs[Long]("train_id"), r.getAs[String]("action")))
    assert(rows.count(_._1 == 100L) == 2,
      s"one ledger row per horizon, re-emit after eviction: ${rows.toSeq}")
    assert(rows.filter(_._1 == 100L).forall(_._2 == "drop"))
    assert(rows.count(_._1 == 101L) == 1 && rows.count(_._1 == 102L) == 1)
  }

  test("streaming near-dup: in-stream SimHash matches the batch kernel; signature dups collapse across batches") {
    import graft.streaming.NearDupStream
    import graft.streaming.NearDupStream.DocEvent
    // docs 1/3/6 are exact text dups (identical signature); 2/5 are
    // word-permutations of each other — SimHash is multiset-based, so
    // reordering tokens yields the SAME signature (the near-dup class
    // signature-equality catches that md5 exact dedup cannot)
    val arrivals = Seq(
      DocEvent(1, 1000, "alpha beta gamma delta"),
      DocEvent(2, 2000, "one two three four five"),
      DocEvent(3, 3000, "alpha beta gamma delta"),
      DocEvent(4, 4000, "something entirely different here"),
      DocEvent(5, 5000, "five four three two one"),
      DocEvent(6, 6000, "alpha beta gamma delta"))
    val out = NearDupStream.nearDupReplay(arrivals, spark, chunks = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(out.keySet == Set(1L, 2L, 4L), s"first arrival per signature must win: ${out.keySet}")
    // the in-stream signatures equal the batch kernel's
    import spark.implicits._
    val batch = graft.ext.Dedup.simhash(
      arrivals.map(a => (a.docId, a.text)).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    out.foreach { case (id, sig) => assert(batch(id) == sig, s"doc $id stream/batch signature mismatch") }
    // chunking invariance: different micro-batch boundaries, same survivors
    val out2 = NearDupStream.nearDupReplay(arrivals, spark, chunks = 6)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(out2 == out.keySet)
  }

  test("streaming scene cuts: batch parity at any chunking; stale frames dropped, not retro-inserted") {
    import graft.ext.Multimodal
    import graft.streaming.SceneCutStream
    import graft.streaming.SceneCutStream.FrameArrival
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // real decoded fixture: 4 videos × 3 frames through the actual
    // demux+decode kernel, so the stream sees production vectors
    val vids = (0L until 4L).map { id =>
      val frames = (0 until 3).map(k => Multimodal.synthImage("bmp", 3 + (id.toInt * 2 + k) % 9, 4 + k * 3))
      (id, Multimodal.synthAviWith(frames))
    }
    val ff = Multimodal.frameFeatures(vids.toDF("doc_id", "payload"), "doc_id", "payload", everyN = 1)
    val arrivals = ff
      .withColumn("vm", expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)"))
      .groupBy(col("id"), col("frame_idx"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("vm")))),
        x => x.getField("vm")).as("v"))
      .collect()
      .map(r => FrameArrival(
        r.getAs[Long]("id"), r.getAs[Long]("frame_idx"),
        r.getAs[scala.collection.Seq[Long]]("v").toArray))
    def cutsAt(chunks: Int) = SceneCutStream.cutsReplay(arrivals.toSeq, spark, chunks, tauFp = 0L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx")) -> r.getAs[Long]("l1_fp")).toMap
    val batch = Multimodal.sceneCuts(ff, tauFp = 0L).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("frame_idx")) -> r.getAs[Long]("l1_fp")).toMap
    val streamed = cutsAt(5)
    assert(streamed == batch, "stream transitions must equal the batch operator exactly")
    assert(cutsAt(12) == batch, "micro-batch boundaries must not change the result")
    // a frame arriving behind the state's lastIdx is dropped, never
    // retro-inserted: replaying video 0's frame 1 AFTER frame 2 changes nothing
    val withStale = arrivals.toSeq :+ arrivals.find(a => a.videoId == 0L && a.frameIdx == 1L).get
    // cutsReplay sorts by (videoId, frameIdx), so force the stale row through
    // a second pass of the raw stream instead
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[FrameArrival]
    // harness mode (idleEvictMs=0): processAllAvailable cannot settle
    // under ProcessingTimeTimeout's continuous timer batches
    val out = SceneCutStream.cutsStream(mem.toDS(), tauFp = 0L, idleEvictMs = 0L)
    val rows = graft.streaming.Replay.runSink(spark, out.toDF()) { q =>
      mem.addData(arrivals.toSeq.sortBy(a => (a.videoId, a.frameIdx)))
      q.processAllAvailable()
      mem.addData(Seq(arrivals.find(a => a.videoId == 0L && a.frameIdx == 1L).get))
      q.processAllAvailable()
    }.collect()
    val perKey = rows.groupBy(r => (r.getAs[Long]("videoId"), r.getAs[Long]("frameIdx")))
    assert(perKey.forall(_._2.length == 1), "stale replayed frame must not re-emit a transition")
  }

  test("streaming KMV: final snapshot equals the batch sketch at any chunking; state stays <= k") {
    import graft.ext.Sketches
    import graft.streaming.SketchStream
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(150)
    val toks = docs
      .select(col("source"), col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("source"), col("doc_id"), Sketches.hash60(col("tok")).as("hval"))
      .collect()
      .map(r => SketchStream.TokArrival(r.getString(0), r.getLong(1), r.getLong(2)))
      .toIndexedSeq
    val k = 32
    def sketchOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String](0), r.getAs[Long]("hval"), r.getAs[Long]("pos"))).toSet
    val batch = sketchOf(Sketches.kmvSketch(
      docs.select(col("source").as("grp"), explode(split(col("text"), " ")).as("tok")),
      "grp", "tok", k))
    val few = sketchOf(SketchStream.kmvReplay(spark, toks, chunks = 3, k = k))
    val many = sketchOf(SketchStream.kmvReplay(spark, toks, chunks = 40, k = k))
    assert(few == many, "bottom-k is arrival-order independent: chunking cannot move the snapshot")
    assert(few == batch, "streaming final snapshot == batch kmvSketch")
    // per-group state/snapshot boundedness
    val perGroup = few.groupBy(_._1).view.mapValues(_.size)
    assert(perGroup.values.forall(_ <= k))
  }

  test("scene-cut previous-frame state survives a kill-and-resume from checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SceneCutStream
    import graft.streaming.SceneCutStream.FrameArrival
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cut_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_cut_out").toString
    val mem = MemoryStream[FrameArrival]
    // eviction off: this spec pins state RECOVERY; the eviction horizon
    // has its own Trigger.Once spec below (processAllAvailable cannot
    // settle under ProcessingTimeTimeout's continuous timer batches)
    def start() = SceneCutStream.cutsStream(mem.toDS(), tauFp = 100L, idleEvictMs = 0L)
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()

    val q1 = start()
    mem.addData(
      FrameArrival(7L, 0L, Array(0L, 0L)),
      FrameArrival(7L, 1L, Array(50L, 10L))) // transition 0→1: L1 = 60, no cut
    q1.processAllAvailable()
    q1.stop()

    // a restart that lost the (lastIdx=1, [50,10]) state would treat
    // frame 2 as the video's first frame and emit NOTHING for it
    val q2 = start()
    mem.addData(FrameArrival(7L, 2L, Array(250L, 110L))) // 1→2: L1 = 300, cut
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(outDir).as[SceneCutStream.CutEvent].collect()
      .sortBy(_.frameIdx)
    assert(got.map(e => (e.frameIdx, e.l1Fp, e.isCut)).toSeq ==
      Seq((1L, 60L, false), (2L, 300L, true)),
      s"frame 2's transition must be computed against the CHECKPOINTED frame-1 vector: ${got.toSeq}")
  }

  test("scene-cut state is EVICTED after the idle horizon: a post-eviction frame restarts the video") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SceneCutStream
    import graft.streaming.SceneCutStream.FrameArrival
    import org.apache.spark.sql.streaming.Trigger
    val ckpt = java.nio.file.Files.createTempDirectory("graft_evict_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_evict_out").toString
    val mem = MemoryStream[FrameArrival]
    // Trigger.Once per run: each start processes exactly the pending data
    // (plus due timers) and terminates — the deterministic harness for
    // ProcessingTimeTimeout, which keeps scheduling timer batches under a
    // continuous trigger
    def runOnce(): Unit = {
      val q = SceneCutStream.cutsStream(mem.toDS(), tauFp = 100L, idleEvictMs = 1L)
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.Once()).start()
      q.awaitTermination()
    }
    mem.addData(FrameArrival(7L, 0L, Array(0L, 0L)))
    runOnce() // video 7 state saved, 1 ms idle horizon armed
    Thread.sleep(50)
    // a batch with OTHER data: video 7 has no arrival, its timer is due →
    // hasTimedOut fires and the state is removed
    mem.addData(FrameArrival(8L, 0L, Array(5L, 5L)))
    runOnce()
    // post-eviction frame: video 7 restarts — NO transition 0→2 emitted
    mem.addData(FrameArrival(7L, 2L, Array(900L, 900L)))
    runOnce()
    mem.addData(FrameArrival(7L, 3L, Array(910L, 905L)))
    runOnce()
    val got = spark.read.parquet(outDir).as[SceneCutStream.CutEvent].collect()
      .filter(_.videoId == 7L).map(e => (e.frameIdx, e.l1Fp)).sorted.toSeq
    assert(got == Seq((3L, 15L)),
      s"frame 2 must restart the evicted video (no 0→2 event), frame 3 measures 2→3: $got")
  }

  test("near-dup signature state survives a kill-and-resume from checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.NearDupStream
    import graft.streaming.NearDupStream.DocEvent
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    val ckpt = java.nio.file.Files.createTempDirectory("graft_nd_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_nd_out").toString
    val mem = MemoryStream[DocEvent]
    def start() = NearDupStream.nearDupStream(
        mem.toDS().select(
          col("docId"), timestamp_millis(col("tsMs")).as("eventTime"), col("text")),
        "docId", "eventTime", "text", watermarkDelay = "3650 days")
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()

    val q1 = start()
    mem.addData(DocEvent(1L, 1000L, "the quick brown fox jumps over the lazy dog"))
    q1.processAllAvailable()
    q1.stop()

    // doc 2 is an exact re-crawl (same signature): a restart that lost
    // the signature store would let it through as a fresh survivor
    val q2 = start()
    mem.addData(
      DocEvent(2L, 2000L, "the quick brown fox jumps over the lazy dog"),
      DocEvent(3L, 3000L, "completely different content entirely here now"))
    q2.processAllAvailable()
    q2.stop()

    val survivors = spark.read.parquet(outDir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors == Seq(1L, 3L),
      s"the re-crawl must be dropped against the CHECKPOINTED signature state: $survivors")
  }
}
