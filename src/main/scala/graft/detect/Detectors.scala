package graft.detect

import graft.config.{Constants, DetectorConfig}
import graft.bridge.SqlBridge
import graft.model.TsSample
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The anomaly-detection operator suite (SURVEY.md §2.4).
  *
  * Design: the only sequential pieces (EMA recurrences) run in KeyedFold
  * kernels; everything else — normalization, thresholding, run-length
  * sessionization, metadata — is relational (window functions + aggregates,
  * all codegen'd built-ins), so Catalyst plans, pushes down, and scales it.
  *
  * Score DataFrame schema: (seriesKey, tsMs, value, score).
  * Anomaly DataFrame schema: (seriesKey, startTsMs, endTsMs, anomalyScore,
  * exactTsMs) — reference fields at /root/reference/README.md:78-80.
  */
object Detectors {

  private val byKey = Window.partitionBy("seriesKey")

  /** D0 — reject series with < 4 points
    * (/root/reference/potoos/client.py:84-85). Relational form of the
    * guard: drop short series rather than raising, so one degenerate key
    * cannot fail a 100 TB job.
    */
  def minPointsGuard(points: Dataset[TsSample], minPoints: Int = Constants.MinPoints): DataFrame = {
    // left-semi against the per-key counts: the counts partial-aggregate
    // map-side and broadcast, so the big side is never shuffled (a window
    // count would shuffle + sort every row just to drop short series).
    val keep = points
      .groupBy("seriesKey")
      .agg(count(lit(1)).as("_n"))
      .where(col("_n") >= minPoints)
      .select("seriesKey")
    points.toDF().join(keep, Seq("seriesKey"), "left_semi")
  }

  /** D0 as a fold over each series' (ts-sorted) points: a series' rows pass
    * once it has reached `Constants.MinPoints` of them (the kernel holds
    * fewer than that), so over rows already hash-partitioned by
    * `seriesKey` the guard adds no job, no exchange and no broadcast of its
    * own. The fold consumes every input column, which keeps Catalyst from
    * pruning a consumer's unused columns below it: every branch over the
    * guarded rows reads one identical, reusable exchange (a window count
    * would let a branch that never reads `value` shuffle its own narrower
    * copy). Null-tolerant like `minPointsGuard`.
    */
  private[graft] def minPointsFold(rows: DataFrame): DataFrame = {
    import rows.sparkSession.implicits._
    KeyedFold
      .foldOnExec[GuardPoint, GuardPoint, String](rows.as[GuardPoint], "seriesKey", "tsMs", _.seriesKey)(() =>
        new MinPointsKernel(Constants.MinPoints))
      // aliased: a join of two branches over the guarded rows (the monitor's
      // extent ⟕ scores) re-instances one side's attributes at a Project
      .select(col("seriesKey").as("seriesKey"), col("tsMs").as("tsMs"), col("value").as("value"))
  }

  /** D2 exp_avg: |v − ema| / stddev_pop(values) (signed, un-divided when
    * the series is constant — faithful to the reference's delegate).
    * The per-key stddev is an aggregate of the INPUT, joined onto the
    * folded stream (AQE broadcasts it when the key count is small) — no
    * window sort over the scored data.
    */
  def expAvgScores(points: Dataset[TsSample], alpha: Double = Constants.DefaultSmoothingFactor): DataFrame =
    normalizeEmaDevs(KeyedFold.foldExec(points)(() => new ExpAvgKernel(alpha)).toDF(), points)

  /** D2 exp_avg via the chunked parallel-scan fold (ChunkedEma): same
    * scores as expAvgScores to fp-ulp, but one gigantic series no longer
    * serializes onto a single task — chunks of the same key fold in
    * parallel. Use when key skew is extreme.
    */
  def expAvgScoresChunked(
      points: Dataset[TsSample],
      alpha: Double = Constants.DefaultSmoothingFactor,
      chunkMs: Long): DataFrame =
    normalizeEmaDevs(ChunkedEma.scores(points, alpha, chunkMs).toDF(), points)

  /** Shared D2 normalization: |dev| / stddev_pop(values), signed dev when
    * the series is constant.
    */
  private def normalizeEmaDevs(folded: DataFrame, points: Dataset[TsSample]): DataFrame = {
    val stats = points.groupBy("seriesKey").agg(stddev_pop(col("value")).as("_sd"))
    folded
      .join(stats, Seq("seriesKey"))
      .withColumn("score", when(col("_sd") > 0, abs(col("dev") / col("_sd"))).otherwise(col("dev")))
      .select("seriesKey", "tsMs", "value", "score")
  }

  /** D2 exp_avg, lag-window form (the reference delegate's
    * use_lag_window path): per point, EMA over the trailing
    * lag-window slice; score = |v − ema| / stddev_pop(values).
    * Window size = pct·n clamped to maxLag so kernel state stays bounded
    * regardless of series length (documented divergence for series with
    * 0.2·n > maxLag).
    */
  def expAvgLagScores(
      points: Dataset[TsSample],
      alpha: Double = Constants.DefaultSmoothingFactor,
      lagPct: Double = Constants.DefaultEmaLagWindowPct,
      maxLag: Int = Constants.DefaultEmaLagWindowMax): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val stats = points
      .groupBy("seriesKey")
      .agg(count(lit(1)).as("n"), stddev_pop(col("value")).as("sd"))
    val enriched = points.toDF()
      .join(stats, Seq("seriesKey"))
      .select(col("seriesKey"), col("tsMs"), col("value"), col("n"), col("sd"))
      .as[CountedPoint]
    KeyedFold
      .foldOnExec[CountedPoint, RawScored, String](enriched, "seriesKey", "tsMs", _.seriesKey)(() =>
        new ExpAvgLagKernel(alpha, lagPct, maxLag))
      .toDF()
      .withColumnRenamed("dev", "score")
      .select("seriesKey", "tsMs", "value", "score")
  }

  /** Two-sided CUSUM changepoint scores (beyond the reference suite):
    * the per-series mean/stddev join onto the stream (broadcast when the
    * key count is small), then the O(1)-state fold accumulates
    * standardized deviations with slack — score = max(s⁺, s⁻), already
    * in σ units (no further normalization). The EMA family's complement:
    * it catches the SMALL sustained shift (0.7σ for 50 points) that
    * never clears an instantaneous-deviation threshold.
    */
  def cusumScores(points: Dataset[TsSample], slack: Double = Constants.CusumSlack): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val stats = points
      .groupBy("seriesKey")
      .agg(avg(col("value")).as("mu"), stddev_pop(col("value")).as("sd"))
    val enriched = points.toDF()
      .join(stats, Seq("seriesKey"))
      .select(col("seriesKey"), col("tsMs"), col("value"), col("mu"), col("sd"))
      .as[StatPoint]
    KeyedFold
      .foldOnExec[StatPoint, RawScored, String](enriched, "seriesKey", "tsMs", _.seriesKey)(() =>
        new CusumKernel(slack))
      .toDF()
      .withColumnRenamed("dev", "score")
      .select("seriesKey", "tsMs", "value", "score")
  }

  /** Holt double-exponential (level + trend) forecaster deviation scores
    * (beyond the reference suite): |v − (l+b) forecast| / stddev_pop(v),
    * the exp_avg normalization applied to a trend-aware baseline — a
    * steady ramp is NORMAL here and scores ~0 where exp_avg flags every
    * point of it.
    */
  def holtScores(
      points: Dataset[TsSample],
      alpha: Double = Constants.DefaultSmoothingFactor,
      beta: Double = Constants.HoltTrendFactor): DataFrame =
    normalizeEmaDevs(
      KeyedFold.foldExec(points)(() => new HoltKernel(alpha, beta)).toDF(),
      points)

  /** Holt-Winters (level + trend + additive seasonality, period m)
    * forecaster deviation scores (beyond the reference suite): the
    * exp_avg normalization applied to a seasonality-aware baseline — a
    * clean daily/weekly cycle is NORMAL here and scores ~0 where both
    * exp_avg and Holt flag every swing of it; what stands out is the
    * point that breaks the learned profile.
    */
  def hwScores(
      points: Dataset[TsSample],
      alpha: Double = Constants.DefaultSmoothingFactor,
      beta: Double = Constants.HoltTrendFactor,
      gamma: Double = Constants.HwSeasonFactor,
      period: Int = Constants.HwPeriod): DataFrame =
    normalizeEmaDevs(
      KeyedFold.foldExec(points)(() => new HoltWintersKernel(alpha, beta, gamma, period)).toDF(),
      points)

  /** Control-chart rule flags (the Western Electric zone tests) —
    * beyond the reference suite: per point, the four classic rules
    * against the per-series mean/σ zones:
    *
    *  - r1_beyond3: the point sits beyond μ ± 3σ;
    *  - r2_2of3_2sigma: ≥2 of the trailing 3 points beyond 2σ on the
    *    SAME side;
    *  - r3_4of5_1sigma: ≥4 of the trailing 5 points beyond 1σ on the
    *    same side;
    *  - r4_run8: 8 consecutive points strictly on one side of μ.
    *
    * Every zone test is an INTEGER comparison: with vm = round(100v),
    * S = Σvm, Q = Σvm², dm = vm·n − S and D = nQ − S², the test
    * (v−μ)² > k²σ² is exactly dm² > k²·D — no float mean/σ ever
    * computed, so the flags are bit-deterministic on any engine and at
    * any partitioning (a constant series has D = 0, dm = 0 → every
    * flag false). Exact while n·|vm| and n·Q fit 2⁶³ (loud ANSI
    * overflow beyond — the acf bound class). Plan: per-series stats
    * partial-agg + broadcast join, then ONE key exchange for the three
    * trailing-window counts (shared frames).
    */
  def controlRuleFlags(points: Dataset[TsSample]): DataFrame = {
    val vm = round(col("value") * 100, 0).cast("long")
    val stats = points.toDF()
      .select(col("seriesKey"), vm.as("_vm"))
      .groupBy("seriesKey")
      .agg(count(lit(1)).as("_n"), sum(col("_vm")).as("_s"), sum(col("_vm") * col("_vm")).as("_q"))
      .withColumn("_d", col("_n") * col("_q") - col("_s") * col("_s"))
      .select("seriesKey", "_n", "_s", "_d")
    val w = Window.partitionBy("seriesKey").orderBy("tsMs")
    def lastN(n: Int) = w.rowsBetween(-(n - 1), 0)
    def sideCount(cond: Column, side: Int, n: Int) =
      sum(when(cond && col("_sgn") === side, 1L).otherwise(0L)).over(lastN(n))
    points.toDF()
      .withColumn("_vm", vm)
      .join(stats, Seq("seriesKey"))
      .withColumn("_dm", col("_vm") * col("_n") - col("_s"))
      .withColumn("_dm2", col("_dm") * col("_dm"))
      .withColumn("_sgn", when(col("_dm") > 0, 1).when(col("_dm") < 0, -1).otherwise(0))
      .withColumn("_b2", col("_dm2") > lit(4L) * col("_d"))
      .withColumn("_b1", col("_dm2") > col("_d"))
      .withColumn("r1_beyond3", col("_dm2") > lit(9L) * col("_d"))
      .withColumn(
        "r2_2of3_2sigma",
        sideCount(col("_b2"), 1, 3) >= 2 || sideCount(col("_b2"), -1, 3) >= 2)
      .withColumn(
        "r3_4of5_1sigma",
        sideCount(col("_b1"), 1, 5) >= 4 || sideCount(col("_b1"), -1, 5) >= 4)
      .withColumn(
        "r4_run8",
        sideCount(lit(true), 1, 8) === 8 || sideCount(lit(true), -1, 8) === 8)
      .select(
        col("seriesKey"), col("tsMs"), col("value"),
        col("r1_beyond3"), col("r2_2of3_2sigma"), col("r3_4of5_1sigma"), col("r4_run8"))
  }

  /** D3 derivative: |d − ema(d)| / stddev_pop(devs). */
  def derivativeScores(points: Dataset[TsSample], alpha: Double = Constants.DefaultSmoothingFactor): DataFrame = {
    val folded = KeyedFold.foldExec(points)(() => new DerivativeKernel(alpha)).toDF()
    folded
      .withColumn("_sd", stddev_pop(col("dev")).over(byKey))
      .withColumn("score", when(col("_sd") > 0, col("dev") / col("_sd")).otherwise(col("dev")))
      .select("seriesKey", "tsMs", "value", "score")
  }

  /** D5 default_detector: combine exp_avg and derivative — when the EMA
    * score is significant take the larger of the two, else damp the EMA
    * score (SURVEY.md §2.4 D5; constants in Constants).
    */
  def defaultScores(points: Dataset[TsSample], alpha: Double = Constants.DefaultSmoothingFactor): DataFrame = {
    val e = expAvgScores(points, alpha).withColumnRenamed("score", "emaScore")
    val d = derivativeScores(points, alpha).select(col("seriesKey"), col("tsMs"), col("score").as("derScore"))
    e.join(d, Seq("seriesKey", "tsMs"))
      .withColumn(
        "score",
        when(
          col("emaScore") > Constants.DefaultDetectorEmaSignificant,
          greatest(col("emaScore"), col("derScore")))
          .otherwise(col("emaScore") * Constants.DefaultDetectorEmaWeight))
      .select("seriesKey", "tsMs", "value", "score")
  }

  /** Robust z-score (beyond the reference suite): |v − median| /
    * (1.4826·MAD), the median/MAD twin of the mean/σ z-score — one
    * extreme outlier inflates σ and masks its neighbors, but barely
    * moves the median and MAD, so this stays sensitive exactly where
    * exp_avg-style scores saturate. Median and MAD come from the exact
    * rank-interpolation percentile operator (bounded memory per series,
    * values on the round(4) grid both engines replay); a constant
    * series (MAD 0) falls back to the raw |v − median|, mirroring the
    * stddev guard of the EMA detectors.
    */
  def madScores(points: Dataset[TsSample], k: Double = Constants.MadConsistency): DataFrame = {
    // ONE linear plan: both medians are computed INLINE as whole-partition
    // window aggregates (identical rank-interpolation arithmetic to
    // TsAlgebra.percentiles — same idx/floor/round expressions, bit-exact),
    // instead of two percentile groupBys joined back. The old tree shape
    // (df → med ⋈ df → dev → mad ⋈ dev) had no exchange root Spark could
    // reuse, so the scan + n≥4 guard re-ran once per subtree — 16 parquet
    // scans at bench scale; this shape scans once per guard branch (2) and
    // pays one hash exchange on seriesKey reused by every window. `value`
    // is a non-nullable Double (TsSample), so percentiles' NULL-drop
    // clause has nothing to drop and is omitted.
    val medDf = madMedian(points.toDF(), "value", "med")
      .withColumn("absdev", abs(col("value") - col("med")))
    madMedian(medDf, "absdev", "mad")
      .withColumn(
        "score",
        when(col("mad") > 0, col("absdev") / (lit(k) * col("mad"))).otherwise(col("absdev")))
      .select("seriesKey", "tsMs", "value", "score")
  }

  /** Per-series exact interpolated median of `v`, appended as column
    * `out` on every row — the window-aggregate twin of
    * `TsAlgebra.percentiles(_, _, _, Seq(out -> 0.5))`, same fp-op order.
    */
  private def madMedian(df: DataFrame, v: String, out: String): DataFrame =
    pctWindow(df, v, 0.5, out)

  /** Per-series exact interpolated percentile `p` of `v` as a window
    * aggregate (rank interpolation, round(4) — identical fp-op order to
    * the percentile groupBy form and its SQL oracle).
    */
  private def pctWindow(df: DataFrame, v: String, p: Double, out: String): DataFrame =
    df.withColumn("_rn", row_number().over(byKey.orderBy(v)))
      .withColumn("_n", count(lit(1)).over(byKey))
      .withColumn("_k", floor(lit(p) * (col("_n") - 1)))
      .withColumn("_f", lit(p) * (col("_n") - 1) - col("_k"))
      .withColumn("_lo", max(when(col("_rn") - 1 === col("_k"), col(v))).over(byKey))
      .withColumn("_hi", coalesce(max(when(col("_rn") - 1 === col("_k") + 1, col(v))).over(byKey), col("_lo")))
      .withColumn(
        out,
        round(when(col("_f") === 0.0, col("_lo"))
          .otherwise(col("_lo") + col("_f") * (col("_hi") - col("_lo"))), 4))
      .drop("_rn", "_n", "_k", "_f", "_lo", "_hi")

  /** Tukey-fence (boxplot) outlier scores: distance outside
    * [Q1 − k·IQR, Q3 + k·IQR], 0 inside — the quartile-based robust
    * detector (50% breakdown on the fences vs the mean/σ detectors'
    * 0%), the standard first look when a distribution is skewed enough
    * that symmetric z-scores mislabel the long tail. Quartiles are the
    * exact rank-interpolation form (round 4, the percentile/MAD
    * convention); the FENCE arithmetic then runs in integer
    * half-ten-thousandths — a 4-decimal quartile ×20000 is an even
    * integer, so 1.5·IQR is exact and the score is an integer ratio
    * both engines derive identically (the double form hit the .5
    * representation boundary at sf0.01: round(15.31375, 4) disagreed
    * cross-engine). Same linear one-exchange plan shape as madScores:
    * two ordered quartile windows inline, no joins. k=1.5 is fixed by
    * the integer form (3/2); the classic "far out" variant (k=3) would
    * be 3·iqru exactly.
    */
  def tukeyScores(points: Dataset[TsSample]): DataFrame =
    pctWindow(pctWindow(points.toDF(), "value", 0.25, "q1"), "value", 0.75, "q3")
      .withColumn("q1u", expr("CAST(round(q1 * 20000) AS BIGINT)"))
      .withColumn("q3u", expr("CAST(round(q3 * 20000) AS BIGINT)"))
      .withColumn("vu", expr("CAST(round(value * 20000) AS BIGINT)"))
      .withColumn("feu", expr("(3 * (q3u - q1u)) DIV 2"))
      .withColumn(
        "score",
        greatest(col("q1u") - col("feu") - col("vu"), col("vu") - col("q3u") - col("feu"), lit(0L))
          / 20000.0)
      .select("seriesKey", "tsMs", "value", "score")

  /** Generalized-ESD outlier detection (Rosner 1983, the iterative
    * unmasking detector behind Twitter's AnomalyDetection): up to `k`
    * rounds per series, each recomputing mean/variance over the REMAINING
    * points, removing the max-deviation point, and testing its
    * studentized deviation — removal-then-retest is what lets a second
    * outlier emerge after a first masks the variance (a plain z-score
    * never flags it). The flagged set follows Rosner exactly: maxI =
    * the LAST round whose test fires, and ALL first maxI removed points
    * are outliers (a round-2 point that failed its own test is still
    * flagged when round 3 fires).
    *
    * Two deliberate deviations from the textbook, both documented for
    * the oracle's sake: the per-round critical value is the constant
    * `cut` (λ_i's t-quantile has no SQL form; cut = 3 ≈ λ at n ~ 60,
    * α = 0.05) and the test runs in EXACT integers — centi-int values
    * (the acf convention: LONG sums, loud on overflow, estimator algebra
    * widened to DECIMAL(38,0)), test (n·v − S)² > cut²·(n·Q − S²), which
    * is |v−μ|/σ_pop > cut cleared of division — so both engines flag the
    * identical points with zero fp drift. Reported r2_micro is the
    * squared studentized deviation in micro-units (truncating division,
    * both engines).
    *
    * Scale shape: ONE hash exchange and ONE linear plan — no unions, no
    * joins, no per-round re-aggregation. Removing a point changes the
    * running stats in CLOSED FORM (n → n−1, S → S−v, Q → Q−v²), so all
    * k rounds ride a single window chain over the same partitioning:
    * round i is ONE window pass of three same-spec aggregates (the
    * max_by argmax over (dev, −ts), its value, and max(dev)) — k+2
    * unordered windows total, zero per-round sorts, zero shuffles after
    * the first, zero recompute fan-out (the naive union-of-rounds shape
    * re-executed the scan+guard per round consumer: measured 12 parquet
    * scans and 3× the wall). The test verdict is a partition-constant
    * closed form (the candidate's dev IS max(dev)) and the Rosner flag
    * rule a greatest() over the k verdict columns — no joins anywhere.
    * Series that shrink below 4 active points stop testing (the D0
    * guard, re-applied per round via n₀ − (i−1) ≥ 4). Duplicate-ts
    * rows within one series are resolved by the ts tie-break alone (the
    * TsSample contract everywhere else in this file).
    */
  def esdOutliers(points: Dataset[TsSample], k: Int = 3, cut: Int = 3): DataFrame =
    esdCore(
      points.toDF().select(
        col("seriesKey"), col("tsMs"), col("value"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("vc")),
      k, cut)

  /** ESD over an ALREADY-INTEGER value column — the composition entry
    * for S-ESD (STL residual → ESD), where re-rounding a double residual
    * would reintroduce exactly the cross-engine .5 drift the fixed-point
    * decomposition eliminated. `value` in the output is the fp column
    * itself.
    */
  def esdOutliersFp(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      fpCol: String,
      k: Int = 3,
      cut: Int = 3): DataFrame =
    esdCore(
      df.select(
        col(keyCol).as("seriesKey"), col(tsCol).as("tsMs"),
        col(fpCol).as("value"), col(fpCol).as("vc")),
      k, cut)

  private def esdCore(points: DataFrame, k: Int, cut: Int): DataFrame = {
    require(k >= 1 && k <= 8, s"k must be in [1,8], got $k")
    require(cut >= 1, s"cut must be >= 1, got $cut")
    // ONE typed per-key pass (r16; the r15 form was a k-round WINDOW
    // CHAIN — one exchange but k+2 full WindowExec buffer passes over
    // every row, 10 Window ops in the plan at k = 3). The key insight
    // that makes the fold's state BOUNDED (the StreamKernel contract):
    // each round's candidate — argmax |n·vc − S| over the active set —
    // is always a VALUE EXTREME of the active set (|vc − mean| is
    // maximized at the min or max value), and rounds remove one point
    // each, so every candidate across k rounds lies within the k
    // largest or k smallest points by (vc, ts). The kernel keeps those
    // two k-bounded lists plus (n, Σvc, Σvc²) and replays the k rounds
    // at series end in closed form — same election, same tie-breaks
    // ((dev, −ts) max ≡ rarest side then min ts), same integer algebra.
    //
    // Arithmetic parity with the window form: the hot accumulators stay
    // LONG and fail LOUDLY on overflow (Math.*Exact — the kernel twin
    // of ANSI); the per-round estimator algebra (dev², n·Q − S²) runs
    // in BigInteger, the kernel twin of the DECIMAL(38,0) widening (k
    // BigInteger ops per SERIES, not per row). The unique-(ts, vc)
    // contract raises at series end with the same message; a duplicate
    // inside a sub-MinPoints series is still ignored (the series is
    // never scored).
    val keyT = points.schema("seriesKey").dataType
    val tsT = points.schema("tsMs").dataType
    val valT = points.schema("value").dataType
    // the kernel runs on (string key, long ts, long vc) with the value
    // carried opaquely (double or long shape); key/ts/value are cast to
    // the kernel type and CAST BACK on output — exact round-trips for
    // the string/long/int keys and double/long/int values the detector
    // family actually carries
    import org.apache.spark.sql.types._
    val norm = points.select(
      col("seriesKey").cast("string").as("seriesKey"),
      col("tsMs").cast("long").as("tsMs"),
      (valT match {
        case DoubleType | FloatType => col("value").cast("double")
        case LongType | IntegerType | ShortType | ByteType => col("value").cast("long")
        case other => sys.error(s"esdCore: unsupported value type $other")
      }).as("value"),
      col("vc").cast("long").as("vc"))
    val spark = points.sparkSession
    import spark.implicits._
    val folded: DataFrame = valT match {
      case DoubleType | FloatType =>
        KeyedFold.foldOnExec[EsdPtD, EsdResD, String](
          norm.as[EsdPtD], "seriesKey", "tsMs", _.seriesKey)(() =>
          new EsdKernel[EsdPtD, EsdResD](
            k, cut, _.seriesKey, _.tsMs, _.vc,
            (p, it, r2) => EsdResD(p.seriesKey, p.tsMs, p.value, it, r2))).toDF()
      case _ =>
        KeyedFold.foldOnExec[EsdPtL, EsdResL, String](
          norm.as[EsdPtL], "seriesKey", "tsMs", _.seriesKey)(() =>
          new EsdKernel[EsdPtL, EsdResL](
            k, cut, _.seriesKey, _.tsMs, _.vc,
            (p, it, r2) => EsdResL(p.seriesKey, p.tsMs, p.value, it, r2))).toDF()
    }
    folded.select(
      col("seriesKey").cast(keyT).as("seriesKey"),
      col("tsMs").cast(tsT).as("tsMs"),
      col("value").cast(valT).as("value"),
      col("iter"), col("r2_micro"))
  }

  /** D6 absolute_threshold: score = how far the value sits outside the
    * [lower, upper] band — a pure codegen'd expression, no state.
    */
  def absoluteThresholdScores(points: Dataset[TsSample], upper: Option[Double], lower: Option[Double]): DataFrame = {
    val over = upper.map(u => col("value") - lit(u)).getOrElse(lit(Double.NegativeInfinity))
    val under = lower.map(l => lit(l) - col("value")).getOrElse(lit(Double.NegativeInfinity))
    points.toDF().withColumn("score", greatest(over, under, lit(0.0)))
  }

  /** D7 diff_percent_threshold: percent deviation vs an aligned baseline
    * series, scored when beyond the thresholds. Baseline arrives as a
    * second DataFrame (seriesKey, tsMs, baseline) equi-joined on
    * (key, ts) — the reference's `baseline_time_series`
    * (/root/reference/potoos/models/config.py:82) as a distributed join.
    */
  def diffPercentScores(
      points: Dataset[TsSample],
      baseline: DataFrame, // (seriesKey, tsMs, baseline)
      thresholdUpper: Option[Double],
      thresholdLower: Option[Double]): DataFrame =
    diffPercentFromJoined(points.toDF().join(baseline, Seq("seriesKey", "tsMs")), thresholdUpper, thresholdLower)

  /** D7 scoring over an already-joined (value, baseline) frame — shared by
    * the aligned equi-join path above and the as-of-join path
    * (graft.ts.AsOfJoin) for irregular baselines.
    */
  def diffPercentFromJoined(
      joined: DataFrame, // (seriesKey, tsMs, value, baseline, ...)
      thresholdUpper: Option[Double],
      thresholdLower: Option[Double]): DataFrame = {
    val diffPct = when(col("baseline") =!= 0.0, lit(100.0) * (col("value") - col("baseline")) / col("baseline"))
      .otherwise(when(col("value") =!= 0.0, lit(100.0)).otherwise(lit(0.0)))
    val hotUp = thresholdUpper.map(u => col("diffPct") > lit(u)).getOrElse(lit(false))
    val hotDown = thresholdLower.map(l => col("diffPct") < lit(-l)).getOrElse(lit(false))
    joined
      .withColumn("diffPct", diffPct)
      .withColumn("score", when(hotUp || hotDown, abs(col("diffPct"))).otherwise(lit(0.0)))
      .select("seriesKey", "tsMs", "value", "score")
  }

  /** D8 sign_test (windowed comparator vs baseline): over the trailing
    * `windowPoints` samples, the fraction that sit above baseline·(1+offset)
    * (resp. below baseline·(1−offset)); score = excess fraction over the
    * confidence level, scaled to [0,10]. Window frame = rows-based trailing
    * window per series — a single codegen'd WindowExec, no custom state.
    */
  def signTestScores(
      points: Dataset[TsSample],
      baseline: DataFrame,
      windowPoints: Int,
      confidence: Double,
      offset: Double): DataFrame = {
    val w = Window.partitionBy("seriesKey").orderBy("tsMs").rowsBetween(-(windowPoints - 1), 0)
    val above = when(col("value") > col("baseline") * (1 + offset), 1.0).otherwise(0.0)
    val below = when(col("value") < col("baseline") * (1 - offset), 1.0).otherwise(0.0)
    points.toDF()
      .join(baseline, Seq("seriesKey", "tsMs"))
      .withColumn("_fa", avg(above).over(w))
      .withColumn("_fb", avg(below).over(w))
      .withColumn("_f", greatest(col("_fa"), col("_fb")))
      .withColumn(
        "score",
        when(col("_f") >= confidence, (col("_f") - lit(confidence)) / lit(1 - confidence) * 10.0)
          .otherwise(lit(0.0)))
      .select("seriesKey", "tsMs", "value", "score")
  }

  /** D11 threshold resolution: absolute `score_threshold` wins, else
    * `score_percent_threshold · max(score)`, else the 0.2 default
    * (/root/reference/potoos/models/config.py:84-85). The per-series max
    * is a window aggregate — no driver-side pass.
    */
  def withThreshold(scores: DataFrame, cfg: DetectorConfig): DataFrame = {
    val thr = cfg.scoreThreshold match {
      case Some(t) => lit(t)
      case None =>
        lit(cfg.scorePercentThreshold.getOrElse(Constants.DefaultScorePercentThreshold)) *
          max(col("score")).over(byKey)
    }
    scores.withColumn("threshold", thr)
  }

  /** D12 run ids: each point above its threshold gets, in column `_run`,
    * the id of its run of CONSECUTIVE above-threshold points (unique within
    * its series); every other point gets null. Run-length sessionization
    * via the lag/cumulative-count window idiom (SURVEY.md §2.4 D12): the id
    * is the number of points at or below the threshold so far.
    */
  private[graft] def runIds(scoresWithThreshold: DataFrame): DataFrame = {
    val hot = col("score") > col("threshold")
    val below = sum(when(hot, 0L).otherwise(1L)).over(Window.partitionBy("seriesKey").orderBy("tsMs"))
    scoresWithThreshold.withColumn("_run", when(hot, below))
  }

  /** D12 windows: one (start, end, max score, argmax ts) row per run of
    * `runIds`' rows.
    */
  private[graft] def runWindows(runs: DataFrame): DataFrame =
    runs
      .where(col("_run").isNotNull)
      .groupBy(col("seriesKey"), col("_run"))
      .agg(
        min("tsMs").as("startTsMs"),
        max("tsMs").as("endTsMs"),
        max("score").as("anomalyScore"),
        max_by(col("tsMs"), col("score")).as("exactTsMs"))
      .select("seriesKey", "startTsMs", "endTsMs", "anomalyScore", "exactTsMs")

  /** D12 anomaly-window assembly: consecutive above-threshold points as
    * (start, end, max score, argmax ts) windows.
    */
  def anomalies(scoresWithThreshold: DataFrame): DataFrame = runWindows(runIds(scoresWithThreshold))

  /** D13 refinement: re-score each anomaly window's slice with a second
    * algorithm and re-pin exact_timestamp at that algorithm's argmax.
    * Each window becomes its own synthetic series key, so the refine pass
    * reuses the ordinary scoring kernels and stays fully distributed
    * (windows are bounded slices — no driver loop, no per-window jobs).
    */
  def refineExact(points: Dataset[TsSample], windows: DataFrame, refineCfg: DetectorConfig): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    // Deterministic synthetic key: windows within a series are disjoint, so
    // (seriesKey, startTsMs) identifies one uniquely; base64 the key so the
    // '#' separator cannot be forged by a key containing '#'. Unlike
    // monotonically_increasing_id, re-evaluation under AQE re-planning or
    // task retry always reproduces the same id — `w` is consumed twice below.
    // One row per anomaly window — tiny. Materializing stops the two
    // consumers below from recomputing the whole upstream scoring
    // pipeline twice.
    val w = SqlBridge.persistRows(
      windows.withColumn(
        "wid",
        concat_ws("#", base64(col("seriesKey").cast("binary")), col("startTsMs"))))
    val sliced = points.toDF()
      .join(
        w.select(col("wid"), col("seriesKey").as("k"), col("startTsMs"), col("endTsMs")),
        col("seriesKey") === col("k") && col("tsMs").between(col("startTsMs"), col("endTsMs")))
    val slicePts = sliced.select(col("wid").as("seriesKey"), col("tsMs"), col("value")).as[TsSample]
    val rescored = score(slicePts, refineCfg, None)
    val refined = rescored
      .groupBy(col("seriesKey").as("wid"))
      // argmax of refine score; ties resolved to the latest timestamp
      .agg(max_by(col("tsMs"), struct(col("score"), col("tsMs"))).as("refinedExactTsMs"))
    w.join(refined, Seq("wid"), "left")
      .select(
        col("seriesKey"), col("startTsMs"), col("endTsMs"), col("anomalyScore"),
        coalesce(col("refinedExactTsMs"), col("exactTsMs")).as("exactTsMs"))
  }

  /** D9 escape hatch: user-registered scoring strategies, the Spark
    * analogue of the reference's `algorithm_class`
    * (/root/reference/potoos/models/config.py:90,99-100). A strategy maps
    * guarded points (+ optional baseline) to a (seriesKey, tsMs, value,
    * score) DataFrame.
    */
  type Scorer = (Dataset[TsSample], DetectorConfig, Option[DataFrame]) => DataFrame
  private val customScorers = scala.collection.concurrent.TrieMap.empty[String, Scorer]
  def register(name: String, scorer: Scorer): Unit = customScorers.put(name, scorer)

  /** D9 registry: algorithm_name → scoring strategy
    * (/root/reference/potoos/models/config.py:86,90).
    */
  def score(points: Dataset[TsSample], cfg: DetectorConfig, baseline: Option[DataFrame] = None): DataFrame =
    cfg.algorithmName match {
      case "exp_avg_detector" =>
        if (cfg.emaUseLagWindow) expAvgLagScores(points, cfg.smoothingFactor)
        else expAvgScores(points, cfg.smoothingFactor)
      case "derivative_detector" => derivativeScores(points, cfg.smoothingFactor)
      case "default_detector" => defaultScores(points, cfg.smoothingFactor)
      case "bitmap_detector" => BitmapDetector.scores(points)
      case "mad_detector" => madScores(points)
      case "cusum_detector" => cusumScores(points)
      case "holt_winters_detector" => holtScores(points, cfg.smoothingFactor)
      case "holt_winters_seasonal_detector" => hwScores(points, cfg.smoothingFactor)
      case "absolute_threshold" =>
        absoluteThresholdScores(points, cfg.absoluteThresholdUpper, cfg.absoluteThresholdLower)
          .select("seriesKey", "tsMs", "value", "score")
      case "diff_percent_threshold" =>
        diffPercentScores(points, baselineOrFail(baseline), cfg.percentThresholdUpper, cfg.percentThresholdLower)
      case "sign_test" =>
        signTestScores(
          points, baselineOrFail(baseline),
          cfg.signTestWindowPoints, cfg.signTestConfidence, cfg.signTestOffset)
      case other =>
        customScorers.get(other) match {
          case Some(s) => s(points, cfg, baseline)
          case None => throw new IllegalArgumentException(s"unknown algorithm: $other")
        }
    }

  private def baselineOrFail(b: Option[DataFrame]): DataFrame =
    b.getOrElse(throw new IllegalArgumentException("this algorithm requires a baseline series"))

  /** D15 extent of the analyzed points: per series (dataPointsAnalyzed,
    * startMs, endMs).
    */
  private[graft] def extent(points: DataFrame): DataFrame =
    points
      .groupBy("seriesKey")
      .agg(count(lit(1)).as("dataPointsAnalyzed"), min("tsMs").as("startMs"), max("tsMs").as("endMs"))

  /** D15 rows over a per-series `extent` plus its `anomaliesFound` count
    * (null reads as 0).
    */
  private def describe(counted: DataFrame, algorithm: String): DataFrame =
    counted
      .withColumn("anomaliesFound", coalesce(col("anomaliesFound"), lit(0L)))
      .withColumn("algorithm", lit(algorithm))
      .withColumn("durationMs", col("endMs") - col("startMs"))
      .select("seriesKey", "algorithm", "dataPointsAnalyzed", "anomaliesFound", "startMs", "endMs", "durationMs")

  /** D15 metadata over a copy whose rows carry their series' `extent` and
    * `runIds`' column: one aggregate per series, counting its runs.
    */
  private[graft] def runMetadata(runs: DataFrame, algorithm: String): DataFrame =
    describe(
      runs
        .groupBy("seriesKey")
        .agg(
          first("dataPointsAnalyzed").as("dataPointsAnalyzed"),
          first("startMs").as("startMs"),
          first("endMs").as("endMs"),
          count_distinct(col("_run")).as("anomaliesFound")),
      algorithm)

  /** D15 metadata: one aggregate row per series
    * (/root/reference/potoos/client.py:97-109): points analyzed, anomalies
    * found, time range, duration.
    */
  def metadata(points: Dataset[TsSample], anomalies: DataFrame, algorithm: String): DataFrame = {
    val found = anomalies.groupBy("seriesKey").agg(count(lit(1)).as("anomaliesFound"))
    describe(extent(points.toDF()).join(found, Seq("seriesKey"), "left"), algorithm)
  }
}
