package graft

import graft.client.Graft
import graft.config.DetectorConfig
import graft.detect.Detectors
import graft.model.TsSample
import graft.ts.TsCols
import org.apache.spark.graft.SparkInternals
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

/** Detection pipeline semantics (SURVEY.md §2.4), including the
  * reference-suite ports: n<4 guard, ramp+spike anomaly, metadata math,
  * empty input, score_only.
  */
class DetectorsSpec extends AnyFunSuite {
  lazy val spark = Sessions.get("detectors-spec")
  import spark.implicits._

  private def pts(rows: (Long, Long, Double)*): Dataset[TsSample] =
    rows.map { case (k, t, v) => TsSample(k.toString, t, v) }.toDS()

  // FIXTURES.md ramp + spike (reference tests/test_client.py:146-151)
  private val rampSpike = pts((1, 1000, 10.0), (1, 2000, 20.0), (1, 3000, 30.0), (1, 4000, 100.0))

  test("min-cardinality guard drops series with < 4 points (D0)") {
    val mixed = pts((1, 1000, 1.0), (1, 2000, 1.0), (1, 3000, 1.0),
      (2, 1000, 1.0), (2, 2000, 1.0), (2, 3000, 1.0), (2, 4000, 1.0))
    val kept = Detectors.minPointsGuard(mixed).select("seriesKey").distinct().as[String].collect()
    assert(kept.toSeq == Seq("2"))
    // the fold form keeps the same series, and counts a point with a null value
    val withNull = Seq[(String, Long, java.lang.Double)](
      ("3", 1000L, 1.0), ("3", 2000L, null), ("3", 3000L, 1.0), ("3", 4000L, 1.0)).toDF("seriesKey", "tsMs", "value")
    val folded = Detectors.minPointsFold(mixed.toDF().union(withNull)).groupBy("seriesKey").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(folded == Map("2" -> 4L, "3" -> 4L))
  }

  test("derivative detector flags the spike; windows + metadata match the reference fixture") {
    val scores = Detectors.derivativeScores(rampSpike)
    val wins = Detectors.anomalies(Detectors.withThreshold(scores, DetectorConfig()))
    val w = wins.collect()
    assert(w.length == 1)
    val row = w.head
    assert(row.getAs[Long]("startTsMs") == 4000L)
    assert(row.getAs[Long]("endTsMs") == 4000L)
    assert(row.getAs[Long]("exactTsMs") == 4000L)

    val meta = Detectors.metadata(rampSpike, wins, "derivative_detector").collect().head
    assert(meta.getAs[Long]("dataPointsAnalyzed") == 4L)
    assert(meta.getAs[Long]("anomaliesFound") == 1L)
    assert(meta.getAs[Long]("startMs") == 1000L)
    assert(meta.getAs[Long]("endMs") == 4000L)
    assert(meta.getAs[Long]("durationMs") == 3000L)
  }

  test("flat series produces no anomalies (reference flat-scores path)") {
    val flat = pts((1, 1000, 5.0), (1, 2000, 5.0), (1, 3000, 5.0), (1, 4000, 5.0))
    val scores = Detectors.derivativeScores(flat)
    val wins = Detectors.anomalies(Detectors.withThreshold(scores, DetectorConfig()))
    assert(wins.count() == 0) // all scores 0 → nothing above 0.2·max(=0)
  }

  test("empty input yields empty results, not an error (D16)") {
    val res = Graft.monitor(
      spark.emptyDataset[TsSample].toDF().withColumnRenamed("seriesKey", "user_id")
        .withColumnRenamed("tsMs", "ts_ms"),
      TsCols(key = "user_id", ts = "ts_ms", value = "value"))
    assert(res.scores.count() == 0 && res.anomalies.count() == 0 && res.metadata.count() == 0)
  }

  test("score_only skips window assembly (D14)") {
    val res = Graft.monitor(
      rampSpike.toDF().withColumnRenamed("seriesKey", "user_id").withColumnRenamed("tsMs", "ts_ms"),
      TsCols(key = "user_id", ts = "ts_ms", value = "value"),
      detCfg = DetectorConfig(scoreOnly = true))
    assert(res.scores.count() == 4 && res.anomalies.count() == 0)
  }

  test("CUSUM: a small sustained shift accumulates past any instantaneous-deviation score") {
    // 40 baseline points at 10.0 then 10 shifted at 10.7: global μ=10.14,
    // σ=0.28, so pre-shift z = −0.5 lands exactly ON the slack (s⁻ stays
    // 0) while post-shift z = 2 accumulates 1.5/point — the shift is
    // mild point-by-point but undeniable in sum
    val rows = (1L to 40L).map(i => (1L, i * 1000L, 10.0)) ++
      (41L to 50L).map(i => (1L, i * 1000L, 10.7))
    val out = Detectors.cusumScores(pts(rows: _*)).collect()
      .map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
    assert(out(50000L) > 12.0, s"10 post-shift points at z=2, slack .5 → ~15, got ${out(50000L)}")
    val preMax = (1L to 40L).map(i => out(i * 1000L)).max
    assert(preMax < 0.01 && out(50000L) > 100 * (preMax + 0.01),
      s"pre-shift accumulation ($preMax) must stay at zero")
    // the EMA family's score on the same data never clears ~2 — the
    // complementary-detector claim, measured not asserted
    val ema = Detectors.expAvgScores(pts(rows: _*)).collect().map(_.getAs[Double]("score")).max
    assert(ema < out(50000L) / 3, s"exp_avg max $ema vs cusum ${out(50000L)}")
    // constant series: sd = 0 → z = 0 → slack eats everything → all zero
    val flat = pts((2, 1000, 5.0), (2, 2000, 5.0), (2, 3000, 5.0), (2, 4000, 5.0))
    assert(Detectors.cusumScores(flat).collect().forall(_.getAs[Double]("score") == 0.0))
    // registry dispatch
    val viaRegistry = Detectors.score(pts(rows: _*), DetectorConfig(algorithmName = "cusum_detector"))
      .collect().map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
    assert(viaRegistry == out)
  }

  test("Holt level+trend: a steady ramp is normal (trend-aware) where exp_avg flags it; spikes still score") {
    val ramp = pts((1L to 60L).map(i => (1L, i * 1000L, i.toDouble)): _*)
    def lateMean(df: org.apache.spark.sql.DataFrame) = {
      val m = df.collect().map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
      (51L to 60L).map(i => m(i * 1000L)).sum / 10.0
    }
    val holtLate = lateMean(Detectors.holtScores(ramp))
    val emaLate = lateMean(Detectors.expAvgScores(ramp))
    assert(holtLate < emaLate / 3,
      s"the trend term must absorb the ramp: holt $holtLate vs exp_avg $emaLate")
    // a spike off the ramp still scores: append 100 after 1..10
    val spike = pts(((1L to 10L).map(i => (1L, i * 1000L, i.toDouble)) :+ ((1L, 11000L, 100.0))): _*)
    val s = Detectors.holtScores(spike).collect()
      .map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
    assert(s(11000L) > 5 * (1L to 10L).map(i => s(i * 1000L)).max,
      s"the spike must dominate the ramp scores: $s")
    // constant series: dev 0 everywhere, sd 0 → signed-dev fallback = 0
    val flat = pts((2, 1000, 5.0), (2, 2000, 5.0), (2, 3000, 5.0), (2, 4000, 5.0))
    assert(Detectors.holtScores(flat).collect().forall(_.getAs[Double]("score") == 0.0))
    // registry dispatch
    val viaRegistry = Detectors.score(ramp, DetectorConfig(algorithmName = "holt_winters_detector"))
      .collect().map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
    val direct = Detectors.holtScores(ramp).collect()
      .map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
    assert(viaRegistry == direct)
  }

  test("Holt-Winters seasonal scores absorb a pure cycle; breaking the profile still flags; registry dispatches") {
    // period-4 square-ish wave: Holt's trend term chases each swing and
    // flags forever; the seasonal slots learn the profile and go quiet
    val wave = pts((0 until 60).map(i =>
      (1L, (i + 1) * 1000L, 20.0 + Array(0.0, 8.0, 0.0, -8.0)(i % 4))): _*)
    def lateMean(df: org.apache.spark.sql.DataFrame) = {
      val m = df.collect().map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
      (49 to 60).map(i => m(i * 1000L)).sum / 12.0
    }
    val hwLate = lateMean(Detectors.hwScores(wave))
    val holtLate = lateMean(Detectors.holtScores(wave))
    assert(hwLate < holtLate / 5,
      s"the seasonal slots must absorb the cycle: hw $hwLate vs holt $holtLate")
    // a point that BREAKS the learned profile (phase-1 slot delivering the
    // phase-3 trough) dominates the settled scores around it
    val broken = (0 until 60).map { i =>
      val v = if (i == 49) 12.0 else 20.0 + Array(0.0, 8.0, 0.0, -8.0)(i % 4)
      (1L, (i + 1) * 1000L, v)
    }
    val bs = Detectors.hwScores(pts(broken: _*)).collect()
      .map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
    val settled = (41 to 48).map(i => bs(i * 1000L)).max
    assert(bs(50000L) > 4 * settled, s"profile break ${bs(50000L)} vs settled max $settled")
    // registry dispatch
    val viaRegistry = Detectors
      .score(wave, DetectorConfig(algorithmName = "holt_winters_seasonal_detector"))
      .collect().map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
    val direct = Detectors.hwScores(wave).collect()
      .map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
    assert(viaRegistry == direct)
  }

  test("control-chart rules: each Western Electric zone test fires exactly where planted") {
    // base series: alternating ±1 around 0 keeps μ≈0 and a modest σ, so a
    // planted run/excursion is attributable to one rule
    def flags(vals: Seq[Double]) =
      Detectors.controlRuleFlags(pts(vals.zipWithIndex.map { case (v, i) => (1L, (i + 1) * 1000L, v) }: _*))
        .collect()
        .map(r => r.getAs[Long]("tsMs") -> ((r.getAs[Boolean]("r1_beyond3"), r.getAs[Boolean]("r2_2of3_2sigma"),
          r.getAs[Boolean]("r3_4of5_1sigma"), r.getAs[Boolean]("r4_run8"))))
        .toMap
    // one extreme spike among alternating noise → r1 at the spike only
    val spiked = Seq.tabulate(40)(i => if (i == 20) 50.0 else if (i % 2 == 0) 1.0 else -1.0)
    val f1 = flags(spiked)
    assert(f1(21000L)._1, "the spike must break 3 sigma")
    assert(f1.count(_._2._1) == 1, "only the spike breaks 3 sigma")
    // 8 consecutive points above the mean → r4 fires at the 8th
    val run = Seq.tabulate(40)(i => if (i >= 20 && i < 28) 2.0 else if (i % 2 == 0) 1.0 else -1.0)
    val f4 = flags(run)
    assert(f4(28000L)._4, "8th consecutive same-side point must fire the run rule")
    assert(!f4(27000L)._4, "7 in a row must not")
    // constant series: D = 0, dm = 0 → nothing fires, no crash
    val f0 = flags(Seq.fill(10)(5.0))
    assert(f0.values.forall(t => !t._1 && !t._2 && !t._3 && !t._4))
  }

  test("MAD robust z-score: outlier scored high, masking resistance vs stddev normalization") {
    // values 10,10,10,10,1000: median 10, absdevs 0,0,0,0,990 → MAD 0...
    // use 9,10,10,11,1000: median 10, absdevs 1,0,0,1,990 → MAD 1
    val d = pts((1, 1000, 9.0), (1, 2000, 10.0), (1, 3000, 10.0), (1, 4000, 11.0), (1, 5000, 1000.0))
    val out = Detectors.madScores(d).collect()
      .map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
    assert(math.abs(out(5000L) - 990.0 / 1.4826) < 1e-6, s"outlier score ${out(5000L)}")
    assert(out(2000L) == 0.0 && out(3000L) == 0.0)
    assert(math.abs(out(1000L) - 1.0 / 1.4826) < 1e-6)
    // constant series: MAD 0 → raw |v − median| fallback (all zero here)
    val flat = pts((2, 1000, 5.0), (2, 2000, 5.0), (2, 3000, 5.0), (2, 4000, 5.0))
    assert(Detectors.madScores(flat).collect().forall(_.getAs[Double]("score") == 0.0))
    // registry dispatch
    val viaRegistry = Detectors.score(d, DetectorConfig(algorithmName = "mad_detector"))
      .collect().map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
    assert(viaRegistry == out)
  }

  test("ESD: iterative unmasking flags what one-shot z-scores miss; Rosner maxI rule; flat/short series silent") {
    // driver-side replica of the exact integer recurrence
    def refEsd(rows: Seq[(Long, Double)], k: Int, cut: Int): Seq[(Long, Int)] = {
      var active = rows.map { case (t, v) => (t, BigInt(math.round(v * 100))) }
      val cands = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Boolean)]
      for (i <- 1 to k if active.size >= 4) {
        val n = BigInt(active.size)
        val s1 = active.map(_._2).sum
        val q = active.map(x => x._2 * x._2).sum
        val cand = active.minBy { case (t, vc) => (-(n * vc - s1).abs, t) }
        val num = (n * cand._2 - s1).pow(2)
        val den = n * q - s1 * s1
        cands += ((cand._1, i, den > 0 && num > cut * cut * den))
        active = active.filterNot(_ == cand)
      }
      val maxI = (0 +: cands.filter(_._3).map(_._2).toSeq).max
      cands.filter(_._2 <= maxI).map(c => (c._1, c._2)).toSeq
    }
    // masking: two extreme points; the huge one hides the second from a
    // one-shot test, removal un-masks it. NOTE the base must be wide
    // enough: a single outlier's population z-score is capped at
    // (n−1)/√n, so cut = 3 cannot fire below n = 11 — 20 stable points
    // puts the planted spikes far past the cap
    val masked = (1 to 20).map(i => (i * 1000L, 10.0 + (i % 5) * 0.1)) ++
      Seq((21000L, 500.0), (22000L, 80.0))
    val got = Detectors.esdOutliers(pts(masked.map { case (t, v) => (7L, t, v) }: _*))
      .collect().map(r => (r.getAs[Long]("tsMs"), r.getAs[Int]("iter"))).toSeq.sorted
    val want = refEsd(masked, k = 3, cut = 3).sorted
    assert(got == want, s"got $got want $want")
    assert(got.map(_._1).toSet == Set(21000L, 22000L), s"both planted outliers must flag: $got")
    // seeded random series + one planted spike: engine == driver replica
    val rnd = new scala.util.Random(7)
    val noisy = (1 to 40).map(i => (i * 1000L, 50.0 + rnd.nextInt(200) / 100.0)) :+ (41000L, 300.0)
    val got2 = Detectors.esdOutliers(pts(noisy.map { case (t, v) => (8L, t, v) }: _*))
      .collect().map(r => (r.getAs[Long]("tsMs"), r.getAs[Int]("iter"))).toSeq.sorted
    assert(got2 == refEsd(noisy, 3, 3).sorted)
    assert(got2.map(_._1).contains(41000L))
    // constant series: zero variance, no outliers
    val flat = pts((1 to 8).map(i => (9L, i * 1000L, 5.0)): _*)
    assert(Detectors.esdOutliers(flat).count() == 0)
    // short series never reach a test
    val short = pts((10L, 1000L, 1.0), (10L, 2000L, 99.0), (10L, 3000L, 1.0))
    assert(Detectors.esdOutliers(short).count() == 0)
  }

  test("ESD fold: duplicated extremes, alternating sides and the n-floor stop match the reference replica") {
    // focused on the r16 bounded-state kernel internals: candidates must
    // come off the two k-bounded extreme lists in the right order even
    // when (a) the extreme VALUE is duplicated (ts tie-break within a
    // side), (b) rounds alternate between the max and min side, and
    // (c) the per-round n >= 4 re-guard stops testing mid-cascade
    def refEsd(rows: Seq[(Long, Double)], k: Int, cut: Int): Seq[(Long, Int)] = {
      var active = rows.map { case (t, v) => (t, BigInt(math.round(v * 100))) }
      val cands = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Boolean)]
      for (i <- 1 to k if active.size >= 4) {
        val n = BigInt(active.size)
        val s1 = active.map(_._2).sum
        val q = active.map(x => x._2 * x._2).sum
        val cand = active.minBy { case (t, vc) => (-(n * vc - s1).abs, t) }
        val num = (n * cand._2 - s1).pow(2)
        val den = n * q - s1 * s1
        cands += ((cand._1, i, den > 0 && num > cut * cut * den))
        active = active.filterNot(_ == cand)
      }
      val maxI = (0 +: cands.filter(_._3).map(_._2).toSeq).max
      cands.filter(_._2 <= maxI).map(c => (c._1, c._2)).toSeq
    }
    def run(key: Long, rows: Seq[(Long, Double)], cut: Int) = Detectors
      .esdOutliers(pts(rows.map { case (t, v) => (key, t, v) }: _*), k = 3, cut = cut)
      .collect().map(r => (r.getAs[Long]("tsMs"), r.getAs[Int]("iter"))).toSeq.sorted
    // (a) the max value planted THREE times: rounds remove the copies in
    // ascending-ts order (the within-side (vc, ts) tie-break)
    val dupMax = (1 to 20).map(i => (i * 1000L, 10.0 + (i % 5) * 0.1)) ++
      Seq((23000L, 400.0), (21000L, 400.0), (22000L, 400.0))
    assert(run(31L, dupMax, 3) == refEsd(dupMax, 3, 3).sorted)
    // (b) extremes on BOTH sides: the cross-side dev comparison decides
    val altSides = (1 to 20).map(i => (i * 1000L, 50.0 + (i % 5) * 0.1)) ++
      Seq((21000L, 500.0), (22000L, -400.0), (23000L, 350.0))
    assert(run(32L, altSides, 3) == refEsd(altSides, 3, 3).sorted)
    assert(run(32L, altSides, 3).nonEmpty)
    // (c) n0 = 5 with k = 3: round 3 would drop the active set below the
    // MinPoints floor and must not run (cut = 1 so the small-n z-cap
    // still lets the tests fire)
    val shortStop = Seq((1000L, 1.0), (2000L, 1.2), (3000L, 0.9), (4000L, 1.1), (5000L, 99.0))
    assert(run(33L, shortStop, 1) == refEsd(shortStop, 3, 1).sorted)
  }

  test("esdOutliers: exact duplicate (ts, value) rows fail LOUDLY; duplicate ts with different values still run") {
    // duplicate (ts, vc): would co-deactivate on one candidate round
    // while the running sums subtract one copy — the entry guard raises
    // instead of silently skewing later rounds
    val dup = pts(((1 to 20).map(i => (1L, i * 1000L, 10.0 + (i % 5) * 0.1))
      :+ ((1L, 21000L, 500.0)) :+ ((1L, 21000L, 500.0))): _*)
    val e = intercept[Exception] {
      Detectors.esdOutliers(dup).count()
    }
    assert(e.getMessage != null && e.getMessage.contains("unique-ts contract"),
      s"guard must name the contract: ${e.getMessage}")
    // duplicate ts with DIFFERENT values stays inside the (ts, vc) match
    // fix — runs, and deactivates one row per round
    val dupTs = pts(((1 to 20).map(i => (2L, i * 1000L, 10.0 + (i % 5) * 0.1))
      :+ ((2L, 21000L, 500.0)) :+ ((2L, 21000L, 499.0))): _*)
    assert(Detectors.esdOutliers(dupTs).count() >= 1)
    // a duplicate inside a sub-MinPoints series is IGNORED (the series
    // was never scored before the guard existed and still isn't) — the
    // guard must not fail jobs on data the detector never consumes
    val shortDup = pts(((1 to 20).map(i => (3L, i * 1000L, 10.0 + (i % 5) * 0.1))
      :+ ((4L, 1000L, 7.0)) :+ ((4L, 1000L, 7.0))): _*)
    assert(Detectors.esdOutliers(shortDup).count() >= 0) // no raise
  }

  test("Tukey fences: hand-computed quartiles and fence distances; inliers score 0") {
    // 1..20 plus one far point; quartiles run over ALL 21 points (the
    // outlier participates): n=21 -> q1 = sorted[5] = 6, q3 = sorted[15]
    // = 16, iqr = 10, fences [-9, 31] -> only 100.0 flags, score 69
    val rows = (1 to 20).map(i => (5L, i * 1000L, i.toDouble)) :+ ((5L, 21000L, 100.0))
    val out = Detectors.tukeyScores(pts(rows: _*)).collect()
      .map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
    assert(out(21000L) == 69.0, s"outlier score: ${out(21000L)}")
    assert(rows.init.forall { case (_, t, _) => out(t) == 0.0 }, "inliers must score 0")
    // low-side outlier scores its distance below the lower fence
    val low = (1 to 20).map(i => (6L, i * 1000L, 50.0 + (i % 5).toDouble)) :+ ((6L, 21000L, 1.0))
    val lo = Detectors.tukeyScores(pts(low: _*)).collect()
      .map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
    assert(lo(21000L) > 0, s"low outlier must flag: ${lo(21000L)}")
  }

  test("S-ESD: a pure cycle is explained away; a spike breaking the profile flags on the residual") {
    import graft.ts.TsAlgebra
    // 96 points of a clean period-24 profile: raw ESD would see the
    // profile's own extremes as outliers; the STL residual is ~flat
    val profile = (0 until 24).map(p => 10.0 + 5.0 * math.sin(2 * math.Pi * p / 24))
    def mk(k: Long, spikeAt: Int): Seq[(Long, Long, Double)] =
      (0 until 96).map { i =>
        val v = profile(i % 24) + (if (i == spikeAt) 40.0 else 0.0)
        (k, (i + 1) * 1000L, math.rint(v * 100) / 100)
      }
    // edge guard: the 2xMA trend truncates inside the first/last half
    // period — those rows carry systematic residuals (false positives by
    // construction) and are trimmed, the anomaly_sesd composition's rule
    def trim(stl: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
      stl.withColumn("_rn", org.apache.spark.sql.functions.row_number()
          .over(w.partitionBy("user_id").orderBy("ts_ms")))
        .withColumn("_nn", org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).over(w.partitionBy("user_id")))
        .where(org.apache.spark.sql.functions.col("_rn") > 12 &&
          org.apache.spark.sql.functions.col("_rn") <= org.apache.spark.sql.functions.col("_nn") - 12)
    }
    val clean = mk(1L, spikeAt = -1).toDF("user_id", "ts_ms", "value")
    val stlClean = trim(TsAlgebra.stlDecompose(clean, "user_id", "ts_ms", "value", period = 24))
    assert(Detectors.esdOutliersFp(stlClean, "user_id", "ts_ms", "resid_fp").count() == 0,
      "a pure seasonal cycle must not flag")
    // plain ESD on the raw values of the SPIKED series dilutes the spike
    // with the cycle's own variance; the residual isolates it
    val spiked = mk(2L, spikeAt = 50).toDF("user_id", "ts_ms", "value")
    val stlSpiked = trim(TsAlgebra.stlDecompose(spiked, "user_id", "ts_ms", "value", period = 24))
    val flagged = Detectors.esdOutliersFp(stlSpiked, "user_id", "ts_ms", "resid_fp")
      .collect().map(_.getAs[Long]("tsMs"))
    assert(flagged.contains(51000L), s"spike at ts 51000 must flag, got ${flagged.toSeq}")
  }

  test("absolute_threshold scores distance outside the band (D6)") {
    val s = Detectors
      .absoluteThresholdScores(rampSpike, upper = Some(35.0), lower = Some(15.0))
      .collect()
      .map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score"))
      .toMap
    assert(s(1000L) == 5.0) // 15 - 10
    assert(s(2000L) == 0.0)
    assert(s(3000L) == 0.0)
    assert(s(4000L) == 65.0) // 100 - 35
  }

  test("default_detector dampens insignificant EMA scores and maxes significant ones (D5)") {
    val d = Detectors.defaultScores(rampSpike).collect()
      .map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
    val e = Detectors.expAvgScores(rampSpike).collect()
      .map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
    val dv = Detectors.derivativeScores(rampSpike).collect()
      .map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
    d.foreach { case (ts, score) =>
      val expect = if (e(ts) > 0.94) math.max(e(ts), dv(ts)) else e(ts) * 0.65
      assert(math.abs(score - expect) < 1e-12, s"ts=$ts")
    }
  }

  test("absolute score_threshold overrides percent-of-max (D11)") {
    val scores = Detectors.derivativeScores(rampSpike)
    val wins = Detectors.anomalies(
      Detectors.withThreshold(scores, DetectorConfig(scoreThreshold = Some(1000.0))))
    assert(wins.count() == 0)
  }

  test("baseline detectors: diff_percent and sign_test score vs baseline (D7/D8)") {
    val cur = pts((1, 1000, 100.0), (1, 2000, 100.0), (1, 3000, 200.0), (1, 4000, 100.0))
    val baseline = Seq(("1", 1000L, 100.0), ("1", 2000L, 100.0), ("1", 3000L, 100.0), ("1", 4000L, 100.0))
      .toDF("seriesKey", "tsMs", "baseline")
    val dp = Detectors
      .diffPercentScores(cur, baseline, Some(20.0), Some(20.0))
      .collect().map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
    assert(dp(1000L) == 0.0 && dp(3000L) == 100.0)

    val st = Detectors
      .signTestScores(cur, baseline, windowPoints = 2, confidence = 0.5, offset = 0.1)
      .collect().map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("score")).toMap
    // at ts=3000 one of the trailing 2 points is >10% above baseline → f=0.5 → score 0
    assert(st(2000L) == 0.0)
    assert(st(3000L) == 0.0)
  }

  test("refine re-pins exact_timestamp with a second algorithm (D13)") {
    // window spans two points; absolute-threshold refine prefers the larger value
    val series = pts((1, 1000, 10.0), (1, 2000, 10.0), (1, 3000, 80.0), (1, 4000, 100.0), (1, 5000, 10.0))
    val scores = Detectors.derivativeScores(series)
    val wins = Detectors.anomalies(Detectors.withThreshold(scores, DetectorConfig()))
    val refined = Detectors.refineExact(
      series, wins,
      DetectorConfig(algorithmName = "absolute_threshold", absoluteThresholdUpper = Some(0.0)))
    val r = refined.collect()
    assert(r.length == wins.count())
    r.foreach { row =>
      val exact = row.getAs[Long]("exactTsMs")
      assert(exact >= row.getAs[Long]("startTsMs") && exact <= row.getAs[Long]("endTsMs"))
    }
  }

  test("refine is deterministic: two evaluations produce identical rows (D13)") {
    // the window frame is consumed twice inside refineExact (slice join +
    // final join); a nondeterministic wid would silently mispair them
    val series = pts(
      (1, 1000, 10.0), (1, 2000, 10.0), (1, 3000, 80.0), (1, 4000, 100.0), (1, 5000, 10.0),
      (2, 1000, 1.0), (2, 2000, 1.0), (2, 3000, 50.0), (2, 4000, 1.0), (2, 5000, 1.0))
    val scores = Detectors.derivativeScores(series)
    val wins = Detectors.anomalies(Detectors.withThreshold(scores, DetectorConfig()))
    val cfg = DetectorConfig(algorithmName = "absolute_threshold", absoluteThresholdUpper = Some(0.0))
    val a = Detectors.refineExact(series, wins, cfg).collect().map(_.toString).sorted.toSeq
    val b = Detectors.refineExact(series, wins, cfg).collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("refine with a FOLD-based second algorithm (exp_avg) — synthetic window keys flow through KeyedFold") {
    val series = pts(
      (1, 1000, 10.0), (1, 2000, 10.0), (1, 3000, 80.0), (1, 4000, 100.0), (1, 5000, 10.0))
    val scores = Detectors.derivativeScores(series)
    val wins = Detectors.anomalies(Detectors.withThreshold(scores, DetectorConfig()))
    val refined = Detectors.refineExact(
      series, wins, DetectorConfig(algorithmName = "exp_avg_detector"))
    val r = refined.collect()
    assert(r.length == wins.count() && r.nonEmpty)
    r.foreach { row =>
      val exact = row.getAs[Long]("exactTsMs")
      assert(exact >= row.getAs[Long]("startTsMs") && exact <= row.getAs[Long]("endTsMs"))
    }
  }

  test("string series keys (host:metric style) run the full monitor pipeline") {
    val df = Seq(
      ("web1:cpu", 1000L, 10.0), ("web1:cpu", 2000L, 20.0),
      ("web1:cpu", 3000L, 30.0), ("web1:cpu", 4000L, 100.0),
      ("db#2:mem", 1000L, 5.0), ("db#2:mem", 2000L, 5.0),
      ("db#2:mem", 3000L, 5.0), ("db#2:mem", 4000L, 5.0))
      .toDF("series", "ts_ms", "value")
    val res = Graft.monitor(df, TsCols(key = "series", ts = "ts_ms", value = "value"))
    assert(res.scores.count() == 8)
    assert(res.anomalies.collect().map(_.getAs[String]("seriesKey")).toSet == Set("web1:cpu"))
    val meta = res.metadata.collect()
      .map(r => r.getAs[String]("seriesKey") -> r.getAs[Long]("dataPointsAnalyzed")).toMap
    assert(meta == Map("web1:cpu" -> 4L, "db#2:mem" -> 4L))
  }

  test("custom algorithm registry scores through the same pipeline (D9)") {
    Detectors.register("always_42", (points, _, _) =>
      points.toDF.withColumn("score", org.apache.spark.sql.functions.lit(42.0)))
    val s = Detectors.score(rampSpike, DetectorConfig(algorithmName = "always_42"))
    assert(s.select("score").distinct().collect().map(_.getDouble(0)).toSeq == Seq(42.0))
  }

  // ---- one execution per monitor request --------------------------------

  private val monitorCols = TsCols(key = "series", ts = "ts_ms", value = "value")

  /** Two series with a spike each, and one too short for the guard. */
  private def monitorInput() =
    ((1 to 12).map(i => ("web1:cpu", i * 1000L, if (i == 7) 90.0 else 10.0 + i)) ++
      (1 to 9).map(i => ("db#2:mem", i * 1000L, if (i == 4) 40.0 else 5.0)) ++
      (1 to 3).map(i => ("short", i * 1000L, 1.0)))
      .toDF("series", "ts_ms", "value")

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def planOf(df: org.apache.spark.sql.Dataset[_]): String =
    df.queryExecution.executedPlan.toString.toLowerCase

  test("monitor: every facet plan skips the global sort and shuffles nothing; a COUNT limit keeps its ordered limit") {
    val res = Graft.monitor(monitorInput(), monitorCols)
    Seq("scores" -> res.scores, "anomalies" -> res.anomalies, "metadata" -> res.metadata).foreach { case (n, f) =>
      f.collect()
      assert(!planOf(f).contains("rangepartitioning"), s"$n facet plan sorts globally:\n${planOf(f)}")
      // the shared points are hash-partitioned by series, and the facets'
      // per-series operators (KeyedFoldExec included) must see that
      val plan = f.queryExecution.executedPlan.toString
      assert("(?<!Broadcast)Exchange ".r.findAllIn(plan).isEmpty, s"$n facet plan shuffles:\n$plan")
    }
    val guarded = Graft.guardedPoints(monitorInput(), monitorCols, graft.config.TsQueryConfig())
    assert(!planOf(guarded).contains("rangepartitioning"), planOf(guarded))

    // COUNT takes the first N rows in (key, ts) order: db#2:mem's 9
    // points, then short's 3, which the guard drops; web1:cpu sorts last
    val counted = graft.config.TsQueryConfig(count = Some(12))
    assert(planOf(Graft.guardedPoints(monitorInput(), monitorCols, counted)).contains("takeorderedandproject"))
    val meta = Graft.monitor(monitorInput(), monitorCols, counted).metadata.collect()
      .map(r => r.getAs[String]("seriesKey") -> r.getAs[Long]("dataPointsAnalyzed")).toMap
    assert(meta == Map("db#2:mem" -> 9L))
  }

  test("monitor: a facet recomputes lost blocks of the shared points from lineage") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val res = Graft.monitor(monitorInput(), monitorCols)
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size == 1, s"monitor should persist exactly the scored copy, persisted $added")
    val scores = sortedRows(res.scores)
    SparkInternals.dropRddBlocks(sc, added.head)
    assert(SparkInternals.rddBlocks(sc, added.head).isEmpty)
    val fresh = Graft.monitor(monitorInput(), monitorCols)
    assert(sortedRows(res.anomalies) == sortedRows(fresh.anomalies) && sortedRows(fresh.anomalies).nonEmpty)
    assert(sortedRows(res.metadata) == sortedRows(fresh.metadata))
    assert(sortedRows(res.scores) == scores && scores.size == 21)
  }

  /** Spark jobs started, and the physical plans of the SQL executions that
    * ended, while `body` ran. */
  private def executionsIn(body: => Unit): (Int, Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        plans.add(qe.executedPlan)
    }
    SparkInternals.drainListeners(sc)
    sc.addSparkListener(jl)
    spark.listenerManager.register(ql)
    try {
      body
      SparkInternals.drainListeners(sc)
      (jobs.get, plans.toArray(Array.empty[org.apache.spark.sql.execution.SparkPlan]).toSeq)
    } finally {
      spark.listenerManager.unregister(ql)
      sc.removeSparkListener(jl)
    }
  }

  private object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  test("monitor: one request scores once and runs at most 5 jobs across its build and three facets") {
    val (jobs, plans) = executionsIn {
      val res = Graft.monitor(monitorInput(), monitorCols)
      Seq(res.scores, res.anomalies, res.metadata).foreach(_.collect())
    }
    // the default detector (derivative) folds each series with KeyedFold
    val scoring = plans.filter(p => Aqe.find(p)(_.nodeName == "KeyedFold").isDefined)
    assert(scoring.size == 1, s"the scoring plan ran in ${scoring.size} executions:\n${plans.mkString("\n")}")
    val shuffles = Aqe.collect(scoring.head) { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(shuffles.size == 1, s"the scored copy's plan must hold only the series exchange:\n${scoring.head}")
    // the series exchange, the scored copy, then one job per facet
    assert(jobs <= 5, s"a monitor request ran $jobs jobs")
  }

  test("monitor: metadata and windows match the facet-by-facet composition for every kind of scorer") {
    val input = monitorInput()
    val guarded = Detectors.minPointsGuard(
      input.select($"series".as("seriesKey"), $"ts_ms".as("tsMs"), $"value").as[TsSample]).as[TsSample]
    // a baseline for part of web1:cpu only: db#2:mem has no scored row
    val partial = (1 to 8).map(i => ("web1:cpu", i * 1000L, 11.0 + i)).toDF("seriesKey", "tsMs", "baseline")
    val full = input.where($"series" =!= "short")
      .select($"series".as("seriesKey"), $"ts_ms".as("tsMs"), ($"value" * 0.9).as("baseline"))
    Detectors.register("every_other_point", (points, _, _) =>
      points.toDF().where($"tsMs" % 2000 === 0).withColumn("score", $"value"))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = sortedRows(
      df.select(df.schema.fields.toSeq.map { f =>
        if (f.dataType == org.apache.spark.sql.types.DoubleType)
          org.apache.spark.sql.functions.round(df(f.name), 9).as(f.name)
        else df(f.name)
      }: _*))
    val cases = Seq(
      "diff_percent_threshold, partial baseline" -> (DetectorConfig(
        algorithmName = "diff_percent_threshold", percentThresholdUpper = Some(5.0),
        percentThresholdLower = Some(5.0)), Some(partial)),
      "sign_test" -> (DetectorConfig(
        algorithmName = "sign_test", signTestWindowPoints = 3, signTestConfidence = 0.5), Some(full)),
      "custom scorer dropping rows" -> (DetectorConfig(algorithmName = "every_other_point"), None),
      "refine" -> (DetectorConfig(
        refineAlgorithmName = Some("absolute_threshold"), absoluteThresholdUpper = Some(12.0)), None),
      "scoreOnly" -> (DetectorConfig(scoreOnly = true), None))
    cases.foreach { case (name, (cfg, baseline)) =>
      val res = Graft.monitor(input, monitorCols, detCfg = cfg, baseline = baseline)
      val scores = Detectors.score(guarded, cfg, baseline)
      val wins =
        if (cfg.scoreOnly) spark.emptyDataset[graft.model.Anomaly].toDF()
        else {
          val w = Detectors.anomalies(Detectors.withThreshold(scores, cfg))
          cfg.refineAlgorithmName.fold(w)(r =>
            Detectors.refineExact(guarded, w, cfg.copy(algorithmName = r, refineAlgorithmName = None)))
        }
      assert(canon(res.scores) == canon(scores), name)
      assert(canon(res.anomalies) == canon(wins), name)
      assert(canon(res.metadata) == canon(Detectors.metadata(guarded, wins, cfg.algorithmName)), name)
      if (!cfg.scoreOnly) assert(canon(wins).nonEmpty, s"$name: the case must find an anomaly")
    }
    val meta = Graft.monitor(input, monitorCols, detCfg = cases.head._2._1, baseline = Some(partial)).metadata
      .collect().map(r => r.getAs[String]("seriesKey") -> r.getAs[Long]("dataPointsAnalyzed")).toMap
    assert(meta == Map("web1:cpu" -> 12L, "db#2:mem" -> 9L))
  }

  test("refine and chunked EMA leave no cached relation or persisted RDD behind") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    def run(): Unit = {
      val cfg = DetectorConfig(
        refineAlgorithmName = Some("absolute_threshold"), absoluteThresholdUpper = Some(0.0))
      (1 to 3).foreach { _ =>
        val res = Graft.monitor(monitorInput(), monitorCols, detCfg = cfg)
        assert(res.anomalies.collect().nonEmpty && res.scores.count() == 21)
      }
      val series = pts((1 to 20).map(i => (1L, i * 1000L, if (i == 9) 50.0 else 1.0 * i)): _*)
      val wins = Detectors.anomalies(Detectors.withThreshold(Detectors.derivativeScores(series), DetectorConfig()))
      assert(Detectors.refineExact(series, wins, DetectorConfig(algorithmName = "exp_avg_detector")).count() > 0)
      assert(Detectors.expAvgScoresChunked(series, chunkMs = 5000L).count() == 20)
    }
    run()
    // ContextCleaner releases an unreachable RDD after a GC clears it
    def released = SparkInternals.cacheManagerIsEmpty(spark) && sc.getPersistentRDDs.isEmpty
    val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
    while (!released && System.nanoTime < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(SparkInternals.cacheManagerIsEmpty(spark), "a Dataset.persist was never released")
    assert(sc.getPersistentRDDs.isEmpty, s"persisted RDDs outlived their results: ${sc.getPersistentRDDs.keySet}")
  }

  test("client defaults apply; per-call config overrides them (EP2 contract)") {
    import graft.client.GraftClient
    import graft.config.TsQueryConfig
    val client = new GraftClient(defaultTsCfg = TsQueryConfig(toTimeMs = Some(2000L)))
    val df = rampSpike.toDF().withColumnRenamed("seriesKey", "user_id").withColumnRenamed("tsMs", "ts_ms")
    val tsCols = TsCols(key = "user_id", ts = "ts_ms", value = "value")
    // default clips to ts <= 2000 -> only 2 points per series -> guard drops all
    assert(client.monitor(df, tsCols).scores.count() == 0)
    // per-call override widens the range -> full series scored
    assert(client.monitor(df, tsCols, tsCfg = Some(TsQueryConfig())).scores.count() == 4)
  }
}
