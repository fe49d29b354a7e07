package graft.functions

import graft.config.Constants
import graft.detect.{DerivativeKernel, ExpAvgKernel, RawScored, StreamKernel}
import graft.model.TsSample
import graft.plans.{KeyedFoldNode, KeyedFoldPlan}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.types.{Decimal, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL surface for the sequential fold detectors (SURVEY §7.4): the EMA
  * recurrences are the one capability SQL cannot express natively, so they
  * are exposed as TABLE-VALUED functions that plan straight into the
  * custom `KeyedFoldNode` operator —
  *
  *   SELECT * FROM exp_avg_fold('series_view')          -- α defaults
  *   SELECT * FROM derivative_fold('series_view', 0.3)  -- explicit α
  *
  * The argument names a table/view exposing `(seriesKey, tsMs, value)`
  * (any castable types); the result is the kernel's raw-deviation stream
  * `(seriesKey, tsMs, value, dev)`, and the detector NORMALIZATION
  * (stddev joins, thresholds, window assembly) stays in plain SQL — SQL
  * users compose the full D2/D3/D5 pipelines without touching Scala.
  *
  * Because the builder emits the same `KeyedFoldNode` as the Scala API,
  * the SQL path inherits the whole planning story: EnsureRequirements
  * inserts (or elides, on bucketed layouts) the exchange/sort, and the
  * fold runs the identical bounded-state kernel — no collect_list, no
  * per-series buffering, 100 TB plan shape unchanged from Scala.
  *
  * Each TVF is declared once in `functions`; `GraftExtensions` (the
  * `spark.sql.extensions` path) and `GraftExtensions.install` (a live
  * session) both register that table.
  */
object FoldTableFunctions {

  val ExpAvgName = "exp_avg_fold"
  val DerivativeName = "derivative_fold"
  val HoltName = "holt_fold"
  val CusumName = "cusum_fold"
  val HwName = "hw_fold"
  val EsdName = "esd_outliers"
  val ChangepointName = "changepoint"
  val StlName = "stl_decompose"
  val SeasonalStrengthName = "seasonal_strength"
  val AsOfJoinName = "asof_join"
  val TopCorrName = "top_corr_pairs"

  private[functions] def stringArg(fn: String, args: Seq[Expression], i: Int): String = args(i) match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other =>
      throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a string literal (table/view name), got $other")
  }

  private[functions] def doubleArg(fn: String, args: Seq[Expression], i: Int, default: Double): Double =
    if (args.length <= i) default
    else args(i) match {
      case e if e.foldable =>
        e.eval() match {
          case d: java.lang.Double => d.doubleValue
          case d: Decimal => d.toDouble
          case n: java.lang.Number => n.doubleValue
          case other =>
            throw new IllegalArgumentException(s"$fn: argument ${i + 1} must be numeric, got $other")
        }
      case other =>
        throw new IllegalArgumentException(s"$fn: argument ${i + 1} must be a literal, got $other")
    }

  /** Fold plan over a named relation: project/cast the three kernel
    * columns, then the KeyedFoldNode. The relation stays UNRESOLVED here —
    * the analyzer resolves it (temp view, catalog table, CTE-materialized
    * view) like any other `FROM` reference.
    */
  private def foldPlan(table: String, mk: () => StreamKernel[Any, Any]): LogicalPlan = {
    val outEnc = ExpressionEncoder[RawScored]()
    val proj = Project(
      Seq(
        Alias(Cast(UnresolvedAttribute("seriesKey"), StringType), "seriesKey")(),
        Alias(Cast(UnresolvedAttribute("tsMs"), LongType), "tsMs")(),
        Alias(Cast(UnresolvedAttribute("value"), DoubleType), "value")()),
      UnresolvedRelation(table.split('.').toSeq))
    KeyedFoldNode(
      mk,
      (p: Any) => p.asInstanceOf[TsSample].seriesKey,
      ExpressionEncoder[TsSample](),
      outEnc,
      "seriesKey",
      "tsMs",
      KeyedFoldPlan.outputFor(outEnc),
      proj)
  }

  /** `exp_avg_fold(table[, alpha])` — D2 decay-EMA raw deviations. */
  def expAvgBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.length <= 2, s"usage: $ExpAvgName(table[, alpha])")
    val alpha = doubleArg(ExpAvgName, args, 1, Constants.DefaultSmoothingFactor)
    foldPlan(
      stringArg(ExpAvgName, args, 0),
      () => new ExpAvgKernel(alpha).asInstanceOf[StreamKernel[Any, Any]])
  }

  /** `derivative_fold(table[, alpha])` — D3 derivative-EMA raw deviations. */
  def derivativeBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.length <= 2, s"usage: $DerivativeName(table[, alpha])")
    val alpha = doubleArg(DerivativeName, args, 1, Constants.DefaultSmoothingFactor)
    foldPlan(
      stringArg(DerivativeName, args, 0),
      () => new DerivativeKernel(alpha).asInstanceOf[StreamKernel[Any, Any]])
  }

  /** `holt_fold(table[, alpha[, beta]])` — Holt level+trend forecaster
    * raw deviations (normalization stays in SQL, like the EMA folds).
    */
  def holtBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.length <= 3, s"usage: $HoltName(table[, alpha[, beta]])")
    val alpha = doubleArg(HoltName, args, 1, Constants.DefaultSmoothingFactor)
    val beta = doubleArg(HoltName, args, 2, Constants.HoltTrendFactor)
    foldPlan(
      stringArg(HoltName, args, 0),
      () => new graft.detect.HoltKernel(alpha, beta).asInstanceOf[StreamKernel[Any, Any]])
  }

  /** `hw_fold(table[, alpha[, beta[, gamma[, period]]]])` — Holt-Winters
    * level+trend+additive-seasonal forecaster raw deviations
    * (normalization stays in SQL, like the EMA folds).
    */
  def hwBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.length <= 5,
      s"usage: $HwName(table[, alpha[, beta[, gamma[, period]]]])")
    val alpha = doubleArg(HwName, args, 1, Constants.DefaultSmoothingFactor)
    val beta = doubleArg(HwName, args, 2, Constants.HoltTrendFactor)
    val gamma = doubleArg(HwName, args, 3, Constants.HwSeasonFactor)
    val period = doubleArg(HwName, args, 4, Constants.HwPeriod.toDouble).toInt
    foldPlan(
      stringArg(HwName, args, 0),
      () => new graft.detect.HoltWintersKernel(alpha, beta, gamma, period)
        .asInstanceOf[StreamKernel[Any, Any]])
  }

  /** `cusum_fold(table[, slack])` — two-sided CUSUM over a PRE-STANDARDIZED
    * relation `(seriesKey, tsMs, value, mu, sd)`: the per-series moments
    * are plain SQL (GROUP BY + join), the clamped accumulation is the
    * fold — the same split as every other TVF (recurrence in the node,
    * relational algebra in SQL). `dev` carries max(s⁺, s⁻), already in σ
    * units.
    */
  def cusumBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.length <= 2, s"usage: $CusumName(table[, slack])")
    val slack = doubleArg(CusumName, args, 1, Constants.CusumSlack)
    val outEnc = ExpressionEncoder[RawScored]()
    val proj = Project(
      Seq(
        Alias(Cast(UnresolvedAttribute("seriesKey"), StringType), "seriesKey")(),
        Alias(Cast(UnresolvedAttribute("tsMs"), LongType), "tsMs")(),
        Alias(Cast(UnresolvedAttribute("value"), DoubleType), "value")(),
        Alias(Cast(UnresolvedAttribute("mu"), DoubleType), "mu")(),
        Alias(Cast(UnresolvedAttribute("sd"), DoubleType), "sd")()),
      UnresolvedRelation(stringArg(CusumName, args, 0).split('.').toSeq))
    KeyedFoldNode(
      () => new graft.detect.CusumKernel(slack).asInstanceOf[StreamKernel[Any, Any]],
      (p: Any) => p.asInstanceOf[graft.detect.StatPoint].seriesKey,
      ExpressionEncoder[graft.detect.StatPoint](),
      outEnc,
      "seriesKey",
      "tsMs",
      KeyedFoldPlan.outputFor(outEnc),
      proj)
  }

  /** `esd_outliers(table[, k[, cut]])` — generalized-ESD flagged points
    * `(seriesKey, tsMs, value, iter, r2_micro)` over a
    * `(seriesKey, tsMs, value)` relation. Not a fold (the iterative
    * argmax is windowed, not sequential-state), so it plans as the plain
    * analyzed window chain — same physical plan as the Scala path.
    */
  def esdBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.length <= 3, s"usage: $EsdName(table[, k[, cut]])")
    val k = doubleArg(EsdName, args, 1, 3.0).toInt
    val cut = doubleArg(EsdName, args, 2, 3.0).toInt
    val spark = SparkSession.active
    val pts = spark.table(stringArg(EsdName, args, 0)).selectExpr(
      "CAST(seriesKey AS STRING) AS seriesKey",
      "CAST(tsMs AS BIGINT) AS tsMs",
      "CAST(value AS DOUBLE) AS value")
    import spark.implicits._
    graft.bridge.SqlBridge.analyzedPlan(
      graft.detect.Detectors.esdOutliers(pts.as[TsSample], k, cut))
  }

  /** `changepoint(table[, minSeg])` — per-series best level-shift split
    * `(seriesKey, split_ts_ms, n_left, n_right, left_mean, right_mean,
    * gain_micro)` over a `(seriesKey, tsMs, value)` relation.
    */
  def changepointBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.length <= 2, s"usage: $ChangepointName(table[, minSeg])")
    val minSeg = doubleArg(ChangepointName, args, 1, 2.0).toInt
    val spark = SparkSession.active
    graft.bridge.SqlBridge.analyzedPlan(
      graft.ts.TsAlgebra.changepoint(
        spark.table(stringArg(ChangepointName, args, 0)),
        "seriesKey", "tsMs", "value", minSeg))
  }

  /** `stl_decompose(table, period)` — exact fixed-point STL-lite
    * decomposition `(seriesKey, tsMs, value, phase, trend_fp,
    * seasonal_fp, resid_fp)` over a `(seriesKey, tsMs, value)`
    * relation; plans as the same linear window chain as the Scala path.
    */
  def stlBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2, s"usage: $StlName(table, period)")
    val period = doubleArg(StlName, args, 1, Double.NaN).toInt
    val spark = SparkSession.active
    graft.bridge.SqlBridge.analyzedPlan(
      graft.ts.TsAlgebra.stlDecompose(
        spark.table(stringArg(StlName, args, 0)),
        "seriesKey", "tsMs", "value", period))
  }

  /** `seasonal_strength(table, period)` — per-series Hyndman seasonal /
    * trend strength `(seriesKey, n_points, season_strength_milli,
    * trend_strength_milli, season_strength, trend_strength)` from the
    * STL fixed point, over a `(seriesKey, tsMs, value)` relation.
    */
  def seasonalStrengthBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2, s"usage: $SeasonalStrengthName(table, period)")
    val period = doubleArg(SeasonalStrengthName, args, 1, Double.NaN).toInt
    val spark = SparkSession.active
    graft.bridge.SqlBridge.analyzedPlan(
      graft.ts.TsAlgebra.seasonalStrength(
        spark.table(stringArg(SeasonalStrengthName, args, 0)),
        "seriesKey", "tsMs", "value", period))
  }

  /** `asof_join(points, baseline[, direction[, toleranceMs]])` — the
    * full merge_asof surface from SQL, and the first TWO-TABLE TVF:
    * both arguments name registered relations. `points` carries
    * (seriesKey, tsMs, value), `baseline` (seriesKey, tsMs, baseline);
    * direction ∈ backward|forward|nearest (default backward), tolerance
    * bounds the match gap. Returns (seriesKey, tsMs, value, baseline) —
    * the identical one-exchange union-window plan as the Scala path.
    */
  def asofJoinBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2 && args.length <= 4,
      s"usage: $AsOfJoinName(points, baseline[, direction[, toleranceMs]])")
    val pt = stringArg(AsOfJoinName, args, 0)
    val bt = stringArg(AsOfJoinName, args, 1)
    val dir = if (args.length > 2) stringArg(AsOfJoinName, args, 2) else graft.ts.AsOfJoin.Backward
    val tol = doubleArg(AsOfJoinName, args, 3, Long.MaxValue.toDouble).toLong
    val spark = SparkSession.active
    graft.bridge.SqlBridge.analyzedPlan(
      graft.ts.AsOfJoin.join(spark.table(pt), spark.table(bt), dir, tol))
  }

  /** `top_corr_pairs(table, bucketMs[, minBuckets[, nBands[,
    * minBandMatches[, minAbsR]]]])` — the scale path for cross-series
    * correlation over a `(seriesKey, tsMs, value)` relation: integer
    * sign-sketch band candidates, occupancy-capped, then EXACT Pearson
    * on the candidates only (`key_a, key_b, band_matches, n_buckets,
    * pearson_r`). Sub-quadratic in the series count where the exact
    * all-pairs `pairwiseCorr` is K² (and guarded).
    */
  def topCorrBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2 && args.length <= 6,
      s"usage: $TopCorrName(table, bucketMs[, minBuckets[, nBands[, minBandMatches[, minAbsR]]]])")
    val spark = SparkSession.active
    graft.bridge.SqlBridge.analyzedPlan(
      graft.ts.TsAlgebra.topCorrelatedPairs(
        spark.table(stringArg(TopCorrName, args, 0)),
        "seriesKey", "tsMs", "value",
        bucketMs = doubleArg(TopCorrName, args, 1, Double.NaN).toLong,
        minBuckets = doubleArg(TopCorrName, args, 2, 2.0).toLong,
        nBands = doubleArg(TopCorrName, args, 3, 4.0).toInt,
        minBandMatches = doubleArg(TopCorrName, args, 4, 2.0).toInt,
        minAbsR = doubleArg(TopCorrName, args, 5, 0.5)))
  }

  /** The fold and time-series TVFs, declared once: name, usage and
    * builder, as `GraftExtensions` injects and installs them.
    */
  val functions: Seq[GraftExtensions.SqlFunction[LogicalPlan]] = Seq(
    tvf(ExpAvgName,
      "exp_avg_fold(table[, alpha]) - D2 decay-EMA raw deviations over a " +
        "(seriesKey, tsMs, value) relation, planned through KeyedFoldExec",
      expAvgBuilder),
    tvf(DerivativeName,
      "derivative_fold(table[, alpha]) - D3 derivative-EMA raw deviations over a " +
        "(seriesKey, tsMs, value) relation, planned through KeyedFoldExec",
      derivativeBuilder),
    tvf(HoltName,
      "holt_fold(table[, alpha[, beta]]) - Holt level+trend forecaster raw deviations " +
        "over a (seriesKey, tsMs, value) relation, planned through KeyedFoldExec",
      holtBuilder),
    tvf(CusumName,
      "cusum_fold(table[, slack]) - two-sided CUSUM accumulation over a pre-standardized " +
        "(seriesKey, tsMs, value, mu, sd) relation; dev carries max(s+, s-)",
      cusumBuilder),
    tvf(HwName,
      "hw_fold(table[, alpha[, beta[, gamma[, period]]]]) - Holt-Winters " +
        "level+trend+additive-seasonal forecaster raw deviations over a " +
        "(seriesKey, tsMs, value) relation, planned through KeyedFoldExec",
      hwBuilder),
    tvf(EsdName,
      "esd_outliers(table[, k[, cut]]) - generalized-ESD flagged points " +
        "(seriesKey, tsMs, value, iter, r2_micro) over a (seriesKey, tsMs, value) relation",
      esdBuilder),
    tvf(ChangepointName,
      "changepoint(table[, minSeg]) - per-series best level-shift split " +
        "(split_ts_ms, n_left, n_right, left_mean, right_mean, gain_micro) " +
        "over a (seriesKey, tsMs, value) relation",
      changepointBuilder),
    tvf(StlName,
      "stl_decompose(table, period) - exact fixed-point STL-lite decomposition " +
        "(seriesKey, tsMs, value, phase, trend_fp, seasonal_fp, resid_fp) " +
        "over a (seriesKey, tsMs, value) relation",
      stlBuilder),
    tvf(SeasonalStrengthName,
      "seasonal_strength(table, period) - per-series Hyndman seasonal/trend " +
        "strength from the STL fixed point over a (seriesKey, tsMs, value) relation",
      seasonalStrengthBuilder),
    tvf(AsOfJoinName,
      "asof_join(points, baseline[, direction[, toleranceMs]]) - merge_asof from " +
        "SQL: (seriesKey, tsMs, value) matched to the latest/earliest/nearest " +
        "(seriesKey, tsMs, baseline) within tolerance",
      asofJoinBuilder),
    tvf(TopCorrName,
      "top_corr_pairs(table, bucketMs[, minBuckets[, nBands[, minBandMatches[, " +
        "minAbsR]]]]) - sub-quadratic cross-series correlation over a " +
        "(seriesKey, tsMs, value) relation: sign-sketch band candidates, then " +
        "exact Pearson r on candidates only",
      topCorrBuilder))

  private def tvf(name: String, usage: String, builder: Seq[Expression] => LogicalPlan) =
    GraftExtensions.declare(getClass, name, usage)(builder)
}
