package graft.ts

import graft.config.{Align, BucketTs, TsQueryConfig}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column roles for a time-series DataFrame: a series key, an epoch-millis
  * timestamp, a value, and optionally a monotone sequence column used to
  * resolve duplicate timestamps ("latest" semantics, F5).
  */
final case class TsCols(
    key: String = "user_id",
    ts: String = "ts_ms",
    value: String = "value",
    seq: Option[String] = None)

/** The range-query algebra of the reference `TimeSeriesConfig`
  * (/root/reference/potoos/models/config.py:33-55; dispatch
  * /root/reference/potoos/client.py:56-59) — SURVEY.md §2.2–2.3, operators
  * F1–F7 and A1–A12.
  *
  * Everything here is composed from Spark built-ins, so the whole pipeline
  * stays inside Catalyst: the F1–F3 predicates push down to the parquet
  * scan (row-group pruning), the bucketed aggregation runs as a partial +
  * final HashAggregate (map-side combine before the shuffle), and
  * `count` becomes TakeOrderedAndProject (distributed top-k, no full sort
  * on one node). The reference executes these inside the Redis server;
  * here Catalyst's pushdown preserves the same "reduce before moving data"
  * property at cluster scale.
  *
  * Order of operations (Redis TS.RANGE semantics, public docs): time-range
  * and value/ts filters first, then latest-dedup, then bucketed
  * aggregation, then ordering, then COUNT-limit.
  */
object TsAlgebra {

  /** The full range query: `order(select(df, cfg, cols), cfg, cols)`. */
  def query(df: DataFrame, cfg: TsQueryConfig, cols: TsCols = TsCols()): DataFrame =
    order(select(df, cfg, cols), cfg, cols)

  /** The row-selection part of a range query — filters (F1–F3), latest
    * (F5), bucketed aggregation (A1–A12) and the per-series COUNT (F4) —
    * with no global order. For consumers that re-partition by series
    * anyway (the detectors), this skips the range-partitioning sort.
    */
  def select(df: DataFrame, cfg: TsQueryConfig, cols: TsCols = TsCols()): DataFrame = {
    val key = col(cols.key)
    val ts = col(cols.ts)
    val value = col(cols.value)

    // F1 time range (inclusive; None = '-'/'+' unbounded sentinels)
    var out = df
    cfg.fromTimeMs.foreach(f => out = out.where(ts >= lit(f)))
    cfg.toTimeMs.foreach(t => out = out.where(ts <= lit(t)))
    // F2 timestamp-set filter
    cfg.filterByTs.foreach(l => out = out.where(ts.isin(l: _*)))
    // F3 value range (applied BEFORE aggregation, matching Redis)
    cfg.filterByMinValue.foreach(v => out = out.where(value >= lit(v)))
    cfg.filterByMaxValue.foreach(v => out = out.where(value <= lit(v)))

    // F5 latest: one sample per exact timestamp; the seq column (ingest
    // order) picks the latest write, mirroring compaction `LATEST`.
    if (cfg.latest) {
      val pick = cols.seq match {
        case Some(s) => max_by(value, col(s))
        case None => max(value)
      }
      out = out.groupBy(key, ts).agg(pick.as(cols.value))
    }

    // A1–A12 bucketed aggregation
    out = cfg.aggregationType match {
      case Some(aggName) =>
        val b = cfg.bucketSizeMs.get
        val alignMs: Long = cfg.align match {
          case Align.Epoch => 0L
          case Align.Start => cfg.fromTimeMs.getOrElse(0L)
          case Align.End => cfg.toTimeMs.getOrElse(0L)
          case Align.At(ms) => ms
        }
        // bucket start: ts - ((ts - align) mod B), half-open [start, start+B)
        val bucketStart = ts - pmod(ts - lit(alignMs), lit(b))
        val label = cfg.bucketTimestamp match {
          case BucketTs.Start => bucketStart
          case BucketTs.End => bucketStart + lit(b)
          case BucketTs.Mid => bucketStart + lit(b / 2)
        }
        (aggName, cfg.valueDecimals) match {
          case ("avg", Some(d)) =>
            // exact fixed-decimal mean: integer unit sums, rounded to 4
            // decimals half-AWAY-FROM-ZERO in the integer domain
            // (r = sign(sc)·⌊(|sc|·10⁴ + scale·n/2)/(scale·n)⌋; integer
            // DIV truncates toward zero in Spark AND DuckDB, so the
            // magnitude form is the one that stays exact for negative
            // means too), one final fp divide — TsQueryConfig.valueDecimals
            val scale = math.pow(10, d).toLong
            out
              .groupBy(key.as(cols.key), label.as(cols.ts))
              .agg(
                sum(round(value * scale, 0).cast("long")).as("_sc"),
                count(value).as("_n"))
              .select(
                col(cols.key), col(cols.ts),
                (expr(s"""CAST(sign(_sc) AS DECIMAL(2,0))
                         | * ((abs(CAST(_sc AS DECIMAL(38,0))) * 20000 + $scale * _n)
                         |      DIV (${2 * scale} * _n))""".stripMargin)
                  / 10000.0).as(cols.value))
          case _ =>
            out
              .groupBy(key.as(cols.key), label.as(cols.ts))
              .agg(aggExpr(aggName, value, ts).as(cols.value))
        }
      case None =>
        out.select(key.as(cols.key), ts.as(cols.ts), value.as(cols.value))
    }

    // F4 per-series COUNT: bounded row_number window (one partition-by-key
    // pass; never a global sort)
    cfg.countPerKey.foreach { n =>
      val ord = if (cfg.reversed) col(cols.ts).desc else col(cols.ts).asc
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col(cols.key)).orderBy(ord)
      out = out
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") <= n)
        .drop("_rn")
    }
    out
  }

  /** The ordering part of a range query over `select`'s rows: F6 ordering
    * (RANGE asc / REVRANGE desc by timestamp, per key) and the COUNT limit.
    */
  def order(rows: DataFrame, cfg: TsQueryConfig, cols: TsCols = TsCols()): DataFrame = {
    val ordered = rows.orderBy(col(cols.key).asc, if (cfg.reversed) col(cols.ts).desc else col(cols.ts).asc)
    // F4 COUNT limit: first N in scan order (single-series semantics —
    // becomes TakeOrderedAndProject, the distributed top-k)
    cfg.count.map(ordered.limit).getOrElse(ordered)
  }

  /** Gap-filled bucket grid with last-observation-carried-forward: emit
    * EVERY bucket in each key's [min, max] span — present buckets with
    * their stats, absent ones flagged `is_gap` and value-filled from the
    * last seen bucket (null before the first). The downstream-alignment
    * operator every TS consumer wants when series sample irregularly.
    *
    * Determinism: the per-bucket stat is max() (order-independent) and
    * the fill COPIES stored values — no fp arithmetic anywhere, so the
    * DuckDB oracle matches bit-for-bit. Scale: one partial-agg shuffle to
    * buckets, a per-key grid explode proportional to span/bucket (rows,
    * not data), one window pass sharing the bucket exchange.
    */
  def gapFill(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valCol: String,
      bucketMs: Long): DataFrame = {
    require(bucketMs > 0, "bucketMs must be positive")
    val b = df
      .groupBy(col(keyCol), (col(tsCol) - col(tsCol) % bucketMs).as("bt"))
      .agg(count(lit(1)).as("n_points"), max(col(valCol)).as("vmax"))
    val grid = b.groupBy(col(keyCol))
      .agg(min("bt").as("mn"), max("bt").as("mx"))
      .select(col(keyCol), explode(sequence(col("mn"), col("mx"), lit(bucketMs))).as("bt"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCol).orderBy("bt")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    grid
      .join(b, Seq(keyCol, "bt"), "left")
      .select(
        col(keyCol),
        col("bt").as("ts_ms"),
        coalesce(col("n_points"), lit(0L)).as("n_points"),
        last(col("vmax"), ignoreNulls = true).over(w).as("value_ff"),
        col("n_points").isNull.as("is_gap"))
  }

  /** Linear-interpolation gap fill: like `gapFill`, but absent buckets
    * interpolate between the PREVIOUS and NEXT observed buckets instead
    * of carrying the last value forward — the alignment mode for smooth
    * signals (LOCF steps; interpolation ramps). Two ignore-nulls window
    * passes (backward last + forward first, SAME partitioning — one
    * exchange) recover the bracketing observations and their bucket
    * times; the interpolation itself runs ENTIRELY in integer
    * milli-units — pv + (nv−pv)·Δt DIV span — because the fp form
    * `a + b·c` is exactly where compiled engines may emit a fused
    * multiply-add and diverge in the last ulp (observed against DuckDB).
    * Only the final /1000 display division is fp. Grid edges (before the
    * first / after the last observation) fall back to the one available
    * side.
    */
  def gapFillLinear(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valCol: String,
      bucketMs: Long): DataFrame = {
    require(bucketMs > 0, "bucketMs must be positive")
    val b = df
      .groupBy(col(keyCol), (col(tsCol) - col(tsCol) % bucketMs).as("bt"))
      .agg(count(lit(1)).as("n_points"), max(col(valCol)).as("vmax"))
      .withColumn("vpts", expr("CAST(floor(vmax * 1000 + 0.5) AS BIGINT)"))
    val grid = b.groupBy(col(keyCol))
      .agg(min("bt").as("mn"), max("bt").as("mx"))
      .select(col(keyCol), explode(sequence(col("mn"), col("mx"), lit(bucketMs))).as("bt"))
    val W = org.apache.spark.sql.expressions.Window
    val back = W.partitionBy(keyCol).orderBy("bt").rowsBetween(W.unboundedPreceding, W.currentRow)
    // the NEXT-observation carry runs as a REVERSED running frame: the
    // natural [currentRow, unboundedFollowing] first() is O(n²) per
    // series in Spark (re-aggregates to the partition end per row — the
    // AsOfJoin forward bug class), while desc-ordered running last() is
    // the same value at O(n).
    val fwdRev = W.partitionBy(keyCol).orderBy(col("bt").desc).rowsBetween(W.unboundedPreceding, W.currentRow)
    // value and bucket-time ride ONE struct through each carry (the
    // AsOfJoin struct contract): a PRESENT bucket whose values are all
    // NULL has n_points set but vpts null, so separate value/time
    // carries would pair a value with a nearer bucket's time and shrink
    // the interpolation span. The when() nulls the whole struct on such
    // buckets — they neither bracket nor donate a timestamp.
    val obs = when(col("vpts").isNotNull, struct(col("bt"), col("vpts")))
    grid
      .join(b, Seq(keyCol, "bt"), "left")
      .withColumn("_ps", last(obs, ignoreNulls = true).over(back))
      .withColumn("_pv", col("_ps").getField("vpts"))
      .withColumn("_pt", col("_ps").getField("bt"))
      .withColumn("_ns", last(obs, ignoreNulls = true).over(fwdRev))
      .withColumn("_nv", col("_ns").getField("vpts"))
      .withColumn("_nt", col("_ns").getField("bt"))
      .withColumn(
        "_ipts",
        when(col("n_points").isNotNull, col("vpts"))
          .when(col("_pv").isNull, col("_nv"))
          .when(col("_nv").isNull, col("_pv"))
          .otherwise(col("_pv") +
            expr("(_nv - _pv) * (bt - _pt) DIV (_nt - _pt)")))
      .select(
        col(keyCol),
        col("bt").as("ts_ms"),
        coalesce(col("n_points"), lit(0L)).as("n_points"),
        round(col("_ipts") / lit(1000.0), 4).as("value_interp"),
        col("n_points").isNull.as("is_gap"))
  }

  /** Exact higher moments per series — skewness and excess kurtosis from
    * raw power sums computed in EXACT integer domain: values quantize to
    * milli-units, Σv, Σv², Σv³, Σv⁴ accumulate as DECIMAL(38,0) (order-
    * independent at any partitioning), then the raw→central conversion
    * ALSO stays integer: the n-powers cancel, giving
    *   A = n·s2 − s1²                       (= n²·m2)
    *   B = n²·s3 − 3n·s1·s2 + 2s1³          (= n³·m3)
    *   C = n³·s4 − 4n²·s1·s3 + 6n·s1²·s2 − 3s1⁴  (= n⁴·m4)
    *   skewness = B / A^{3/2},  kurtosis_excess = C / A² − 3.
    * The ONLY fp ops are two decimal→double casts, one sqrt, one
    * multiply, one divide, one subtract — each IEEE correctly-rounded
    * with a fixed shape, so no engine-side FMA fusion or association
    * difference can flip an ulp at a round(4) boundary (the r5 failure
    * mode: the multi-term fp polynomial diverged on one row). The
    * built-in skewness/kurtosis aggregates stream fp partials whose
    * rounding depends on partition order; this formulation is the
    * deterministic upgrade (same single partial-agg exchange).
    * Magnitude: C ≤ ~n⁴·p⁴ — fits DECIMAL(38) up to ~10⁹ point·milli
    * units per key (verified ≤2.3e28 on the fixtures); beyond that,
    * anchor-center the quantized values first (shift-invariant sums).
    */
  /** DECIMAL(38,0) → BIGINT with a loud overflow guard (no silent wrap). */
  private def bigintChecked(c: String): Column =
    expr(s"""CASE WHEN abs($c) > CAST(9223372036854775807 AS DECIMAL(38,0))
            |  THEN CAST(raise_error('moments: $c exceeds BIGINT; anchor-center values first') AS BIGINT)
            |  ELSE CAST($c AS BIGINT) END""".stripMargin)

  def moments(df: DataFrame, keyCol: String, valCol: String): DataFrame =
    df.select(
        col(keyCol),
        expr(s"CAST(floor($valCol * 1000 + 0.5) AS DECIMAL(38,0))").as("_p"))
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col("_p")).as("s1"),
        sum(col("_p") * col("_p")).as("s2"),
        sum(col("_p") * col("_p") * col("_p")).as("s3"),
        sum(col("_p") * col("_p") * col("_p") * col("_p")).as("s4"))
      .withColumn("a2", expr("n*s2 - s1*s1"))
      .withColumn("b3", expr("n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1"))
      .withColumn("c4", expr("n*n*n*s4 - 4*n*n*s1*s3 + 6*n*s1*s1*s2 - 3*s1*s1*s1*s1"))
      .select(
        col(keyCol), col("n"),
        // Exposed power sums go out as BIGINT: the DECIMAL(38,0) physical
        // encoding is not hash-stable across writers (Spark parquet
        // FIXED_LEN_BYTE_ARRAY vs DuckDB's cast path), while the values
        // themselves are ~7 orders of magnitude below 2^63. Accumulation
        // above stays DECIMAL(38); the guard fails loudly on overflow
        // instead of wrapping.
        bigintChecked("s1").as("s1_pts"),
        bigintChecked("s2").as("s2_pts"),
        // + 0.0 canonicalizes IEEE −0.0 (textual compare downstream)
        expr("""CASE WHEN a2 > 0 THEN
               |  round(CAST(b3 AS DOUBLE)
               |        / (CAST(a2 AS DOUBLE) * sqrt(CAST(a2 AS DOUBLE))), 4) + 0.0
               |END""".stripMargin).as("skewness"),
        expr("""CASE WHEN a2 > 0 THEN
               |  round(CAST(c4 AS DOUBLE)
               |        / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)) - 3, 4) + 0.0
               |END""".stripMargin).as("kurtosis_excess"))

  /** A1–A12 — every reference aggregator is a Spark built-in (SURVEY §2.3):
    * codegen'd, partial-aggregatable, no UDAF.
    */
  /** Exact per-key percentiles by the rank-interpolation formulation
    * (index p·(n−1), linear between the two bracketing order statistics —
    * the quantile_cont definition). Deliberately NOT the built-in
    * `percentile` aggregate: that buffers every distinct value per group
    * in the aggregation buffer (unbounded state on a high-cardinality
    * series); this formulation is one rank window + one conditional
    * aggregate — the same single hash exchange + per-partition external
    * sort as any windowed query, bounded memory at any series length.
    * The arithmetic (lo + f·(hi−lo), f = idx − floor(idx)) is mirrored
    * literally in the DuckDB oracle, so results hash-match on the
    * round(4) grid. At 100 TB the approximate path (t-digest /
    * approx_percentile) trades this exactness for a smaller shuffle;
    * this operator is the exact reference implementation.
    */
  def percentiles(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      ps: Seq[(String, Double)]): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (_, p) => p >= 0 && p <= 1 }, "percentiles must be in [0,1]")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCol).orderBy("_v")
    val ranked = df
      .select(col(keyCol), col(valueCol).cast("double").as("_v"))
      // quantile_cont semantics: NULL values do not participate (a NULL
      // would otherwise rank first and shift every index)
      .where(col("_v").isNotNull)
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(keyCol)))
    val aggs = ps.flatMap { case (name, p) =>
      val idx = lit(p) * (col("_n") - 1)
      val k = floor(idx)
      Seq(
        max(when(col("_rn") - 1 === k, col("_v"))).as(s"_lo_$name"),
        max(when(col("_rn") - 1 === k + 1, col("_v"))).as(s"_hi_$name"),
        max(idx - k).as(s"_f_$name"))
    }
    val out = ps.map { case (name, _) =>
      val lo = col(s"_lo_$name")
      val hi = coalesce(col(s"_hi_$name"), col(s"_lo_$name"))
      val f = col(s"_f_$name")
      round(when(f === 0.0, lo).otherwise(lo + f * (hi - lo)), 4).as(name)
    }
    ranked
      .groupBy(col(keyCol))
      .agg(max(col("_n")).as("n"), aggs: _*)
      .select(col(keyCol) +: col("n") +: out: _*)
  }

  /** Trailing rows-window aggregates per series (moving average / min /
    * max over the last `window` samples) — the smoothing pass dashboards
    * and alert pipelines run before thresholding. Pure WindowExec with a
    * bounded frame: one hash exchange + per-partition sort, O(window)
    * state per row, identical ROWS-frame semantics on any engine.
    * Requires unique (key, ts) — duplicate timestamps make the ROWS
    * frame order-dependent; resolve them first (F5 latest semantics).
    */
  def movingAgg(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      window: Int,
      valueDecimals: Option[Int] = None): DataFrame = {
    require(window > 0, "window must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(tsCol)
      .rowsBetween(-(window - 1), 0)
    val base = df.select(col(keyCol), col(tsCol), col(valueCol))
    val withAvg = valueDecimals match {
      case Some(d) =>
        // exact fixed-decimal moving mean (TsQueryConfig.valueDecimals
        // semantics): short frames (n < window at series starts) make
        // half-way means common, where fp round is engine-dependent.
        // Same sign-magnitude half-away-from-zero form as `query`'s avg
        // (truncating DIV would mis-round negative means); _n counts
        // non-null values, matching the sum's null-skipping.
        val scale = math.pow(10, d).toLong
        base
          .withColumn("_sc", sum(round(col(valueCol) * scale, 0).cast("long")).over(w))
          .withColumn("_n", count(col(valueCol)).over(w))
          .withColumn(
            "mov_avg",
            expr(s"""CAST(sign(_sc) AS DECIMAL(2,0))
                    | * ((abs(CAST(_sc AS DECIMAL(38,0))) * 20000 + $scale * _n)
                    |      DIV (${2 * scale} * _n))""".stripMargin)
              / 10000.0)
          .drop("_sc", "_n")
      case None =>
        base.withColumn("mov_avg", round(avg(col(valueCol)).over(w), 4))
    }
    withAvg
      .withColumn("mov_min", min(col(valueCol)).over(w))
      .withColumn("mov_max", max(col(valueCol)).over(w))
      .withColumn("mov_n", count(lit(1)).over(w))
  }

  /** Seasonal-trend decomposition (additive, STL-lite) in EXACT 4-dp
    * fixed point: per series ordered by time,
    *
    *  - `trend_fp` — the classical detrending MA, PHASE-UNBIASED in
    *    both parities: odd periods take the plain centered MA over
    *    exactly `period` rows (each phase once); even periods take the
    *    2×MA (rows ±period/2 with half-weighted ends — the two end rows
    *    share a phase, so their half-weights sum to every middle row's
    *    full weight);
    *  - `seasonal_fp` — the per-(series, phase) mean of the detrended
    *    values, phase = (rank − 1) mod period — the repeating profile;
    *  - `resid_fp` = detrended − seasonal — what anomaly scoring should
    *    look at once trend and seasonality are explained away (a
    *    pure-seasonal spike scores ~0 here and fools exp_avg every
    *    period).
    *
    * All three are BIGINT multiples of 1e-4: values enter as exact
    * centi-integers (2-decimal inputs), every mean is the
    * sign-magnitude half-away-from-zero integer division `movingAgg`
    * uses, so the output is bit-identical on any engine — no float mean
    * ever lands on a rounding half-way point. Plan shape: ONE hash
    * exchange on the series key; both windows (centered frame, phase
    * partition) and the final projection reuse it.
    *
    * Requires unique (key, ts) — duplicate timestamps make the rank
    * (hence the phase) order-dependent; resolve them first (F5 latest
    * semantics). Bounds: |value| ≤ 1e12 and per-(series, phase) row
    * counts ≤ 1e5 keep every intermediate inside a BIGINT via the
    * DECIMAL(38) accumulation, same as `movingAgg`.
    */
  def stlDecompose(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      period: Int): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val W = org.apache.spark.sql.expressions.Window
    val ordered = W.partitionBy(keyCol).orderBy(tsCol)
    val half = period / 2
    val base = df.select(col(keyCol), col(tsCol), col(valueCol))
      .withColumn("_vm", round(col(valueCol) * 100, 0).cast("long"))
      .withColumn("phase", (row_number().over(ordered) - 1) % period)
    val weighted =
      if (period % 2 == 1) {
        // odd: plain centered MA over exactly `period` rows
        val frame = ordered.rowsBetween(-half, half)
        base
          .withColumn("_tsum", sum(col("_vm")).over(frame))
          .withColumn("_tn", count(lit(1)).over(frame))
      } else {
        // even: 2×MA — outer frame once + inner frame once ⇒ ends
        // weighted 1, middles 2; the two ends share a phase, so every
        // phase's total weight is 2
        val outer = ordered.rowsBetween(-half, half)
        val inner = ordered.rowsBetween(-(half - 1), half - 1)
        base
          .withColumn("_tsum", sum(col("_vm")).over(outer) + sum(col("_vm")).over(inner))
          .withColumn("_tn", count(lit(1)).over(outer) + count(lit(1)).over(inner))
      }
    weighted
      // round-half-away(100·_tsum/_tn) — trend in 1e-4 units
      .withColumn(
        "trend_fp",
        expr("""CAST(CAST(sign(_tsum) AS DECIMAL(2,0))
                | * ((abs(CAST(_tsum AS DECIMAL(38,0))) * 200 + _tn) DIV (2 * _tn)) AS BIGINT)""".stripMargin))
      .withColumn("_dt", col("_vm") * 100 - col("trend_fp"))
      .withColumn("_ssum", sum(col("_dt")).over(W.partitionBy(col(keyCol), col("phase"))))
      .withColumn("_sn", count(lit(1)).over(W.partitionBy(col(keyCol), col("phase"))))
      // round-half-away(_ssum/_sn) — seasonal in the same 1e-4 units
      .withColumn(
        "seasonal_fp",
        expr("""CAST(CAST(sign(_ssum) AS DECIMAL(2,0))
                | * ((abs(CAST(_ssum AS DECIMAL(38,0))) * 2 + _sn) DIV (2 * _sn)) AS BIGINT)""".stripMargin))
      .withColumn("resid_fp", col("_dt") - col("seasonal_fp"))
      .select(
        col(keyCol), col(tsCol), col(valueCol), col("phase"),
        col("trend_fp"), col("seasonal_fp"), col("resid_fp"))
  }

  /** Pairwise Pearson correlation between series, over their aligned
    * time buckets — the cross-series dependence report (which hosts
    * move together, which metric leads which). Plan shape: bucket-avg
    * each series (partial-agg shuffle), self-join on the bucket
    * timestamp (equi-join), one corr aggregate per (a, b) pair with
    * a < b. Pair count is series², so this is for key cardinalities
    * that fit a report (dashboards, cohort panels) — at millions of
    * series, LSH-bucket the series embeddings first and correlate
    * within buckets (the `Similarity` machinery).
    *
    * NOT a pure plan builder: calling this runs one EAGER Spark job (a
    * LIMIT-bounded distinct-key cardinality probe) and THROWS past
    * `maxSeries` (default [[MaxCorrSeries]] = 1000) — including in
    * explain/plan-only contexts. The eager guard is deliberate: the
    * self-join materializes K²/2 rows per shared bucket, and failing at
    * call time beats melting the shuffle at execution. Callers above
    * the cap route to [[topCorrelatedPairs]] (the pruned scale path) or
    * raise `maxSeries` explicitly, accepting the quadratic join.
    */
  /** Hard cap on the series count `pairwiseCorr` will self-join: the join
    * materializes K²/2 rows PER SHARED BUCKET, so K past report size
    * melts the shuffle quietly (10⁹ joined rows per bucket at K=50k).
    * Failing loudly beats that — the scale path is [[topCorrelatedPairs]],
    * which prunes candidates with a sign-sketch band join first.
    */
  val MaxCorrSeries: Long = 1000L

  def pairwiseCorr(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      bucketMs: Long,
      minBuckets: Long = 2,
      maxSeries: Long = MaxCorrSeries): DataFrame = {
    // early-stopping cardinality probe: LIMIT maxSeries+1 over the
    // distinct keys — the guard job stops as soon as the cap is proven
    // busted instead of counting every series
    val over = df.select(col(keyCol)).distinct()
      .limit(math.min(maxSeries + 1, Int.MaxValue.toLong).toInt).count() > maxSeries
    require(
      !over,
      s"pairwiseCorr self-joins every series pair per bucket (> $maxSeries series = " +
        s"> ${maxSeries * (maxSeries - 1) / 2} pairs x buckets shuffled): exact all-pairs " +
        "correlation is a report-size kernel. For large series counts use " +
        "TsAlgebra.topCorrelatedPairs (sign-sketch band candidates, then exact " +
        "correlation on the candidates only).")
    val b = df
      .groupBy(col(keyCol), (col(tsCol) - (col(tsCol) % bucketMs)).as("bt"))
      .agg(avg(col(valueCol)).as("bv"))
    // a zero-variance side makes Pearson undefined: the builtin corr()
    // throws DIVIDE_BY_ZERO under ANSI (Spark 4 default) and yields NaN
    // otherwise, while DuckDB yields NULL. Compute r from guarded
    // components — covar_pop/(σx·σy), evaluated only when both σ > 0 —
    // so a flatlined series gives NULL on every engine, never a crash
    val sx = stddev_pop(col("x.bv"))
    val sy = stddev_pop(col("y.bv"))
    val cv = covar_pop(col("x.bv"), col("y.bv"))
    b.as("x").join(b.as("y"), col("x.bt") === col("y.bt") && col(s"x.$keyCol") < col(s"y.$keyCol"))
      .groupBy(col(s"x.$keyCol").as("key_a"), col(s"y.$keyCol").as("key_b"))
      .agg(
        count(lit(1)).as("n_buckets"),
        // + 0.0 canonicalizes IEEE -0.0 (a tiny negative covariance rounds
        // to the negative zero on some engines) — same guard as emb_centroids
        (round(when(sx > 0 && sy > 0, cv / (sx * sy)), 4) + lit(0.0)).as("pearson_r"))
      .where(col("n_buckets") >= minBuckets)
  }

  /** Scale path for cross-series correlation: prune with a sign-sketch
    * band join, then compute EXACT Pearson r only on the candidate pairs —
    * the same candidates→verify funnel the dedup family uses (LSH bands →
    * exact verify), so pair volume is output-bound instead of K².
    *
    * Sketch: per series, each time bucket contributes one sign bit —
    * "bucket mean above the series' own mean" — computed entirely in
    * integer arithmetic (centi-unit fixed point, cross-multiplied
    * comparison) so the bit is deterministic on any engine and any
    * aggregation order. Bucket ordinals are striped into `nBands` bands
    * (ordinal mod nBands); a band's signature is an integer sum of
    * signed per-ordinal weights, so two series share a band signature
    * exactly when they have the same bucket set and the same sign
    * pattern inside that band (hash collisions only ADD candidates —
    * the exact-corr verify step keeps the output exact on its candidate
    * set). Candidates = pairs sharing ≥ `minBandMatches` (band,
    * signature, bucket-count) triples. Correlated series agree on most
    * sign bits, so they match whole bands far more often than chance;
    * recall is heuristic (a sketch, like MinHash), precision of the
    * REPORTED r is exact.
    *
    * Skew guard: any (band, signature) group larger than `maxBucket`
    * series is dropped before pairing — the LSH bucket-cap convention
    * (flatlined/constant series all share one signature and would
    * otherwise re-create the K² join this function exists to avoid).
    *
    * Plan shape: two bucket-grain aggregations (partial+final), one
    * band-grain aggregation, a self-join on (band, sig, cnt) whose
    * fan-out is occupancy-capped, then one join back to bucket rows per
    * pair side and a final per-pair aggregate. Every stage is
    * key-partitioned; nothing is quadratic in the series count.
    */
  def topCorrelatedPairs(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      bucketMs: Long,
      minBuckets: Long = 2,
      nBands: Int = 4,
      minBandMatches: Int = 2,
      minAbsR: Double = 0.5,
      maxBucket: Int = 200): DataFrame = {
    require(nBands >= 1 && minBandMatches >= 1 && minBandMatches <= nBands,
      s"need 1 <= minBandMatches ($minBandMatches) <= nBands ($nBands)")
    // bucket grain: double mean for the exact-corr step, centi-integer
    // sum+count for the deterministic sign bit
    val b = df
      .groupBy(col(keyCol), (col(tsCol) - (col(tsCol) % bucketMs)).as("bt"))
      .agg(
        avg(col(valueCol)).as("bv"),
        sum(expr(s"CAST(round($valueCol * 100) AS BIGINT)")).as("svm"),
        count(lit(1)).as("nvm"))
      // round-half-away-from-zero bucket mean in centi-units (the repo's
      // signed integer rounding idiom) — BIGINT, engine-independent
      .withColumn(
        "bvfp",
        expr("CAST(sign(svm) AS BIGINT) * ((abs(svm) * 2 + nvm) DIV (2 * nvm))"))
      // NOT persisted (measured, r15 optimization round): b has four
      // consumers under different partitionings (116-node plan, 16
      // scans), but the repeated subtree is one cheap partial-agg over
      // the source scan — persisting it measured 0.65 s -> 1.55 s
      // (lazy) and 1.54 s (eager count) on the bench row: InMemoryRelation
      // write + columnar-cache read cost more than the recompute.
      // Contrast Graph.triangles, where the repeated input is a
      // multi-join subquery and the same persist measured 2.5 -> 1.15 s.
    // series grain: bucket count + bvfp total; the sign bit compares
    // bvfp against the series mean by cross-multiplication (no division)
    val m = b.groupBy(col(keyCol))
      .agg(count(lit(1)).as("nb"), sum(col("bvfp")).as("tot"))
      .where(col("nb") >= minBuckets)
    val omin = df.agg(min(col(tsCol) - (col(tsCol) % bucketMs)).as("omin"))
    val bits = b
      .join(m, Seq(keyCol))
      .crossJoin(broadcast(omin))
      .withColumn("orel", expr(s"(bt - omin) DIV $bucketMs"))
      .withColumn("band", col("orel") % nBands)
      .withColumn("w", expr(s"orel DIV $nBands") + lit(1L))
      .withColumn(
        "term",
        when(col("bvfp") * col("nb") > col("tot"), col("w") * col("w") * 31L + col("w") * 7L + 1L)
          .otherwise(-(col("w") * col("w") * 31L + col("w") * 7L + 1L)))
    val bands = bits
      .groupBy(col(keyCol), col("band"))
      .agg(sum(col("term")).as("sig"), count(lit(1)).as("cnt"))
    // occupancy cap per signature group, then pair within surviving groups
    val capped = bands
      .withColumn("occ", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("sig"), col("cnt"))))
      .where(col("occ") <= maxBucket)
    val cand = capped.as("x")
      .join(
        capped.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.cnt") === col("y.cnt") && col(s"x.$keyCol") < col(s"y.$keyCol"))
      .groupBy(col(s"x.$keyCol").as("key_a"), col(s"y.$keyCol").as("key_b"))
      .agg(count(lit(1)).as("band_matches"))
      .where(col("band_matches") >= minBandMatches)
    // exact Pearson on the candidates only — same guarded estimator and
    // round(4) grid as pairwiseCorr, so a candidate pair's r is identical
    // to what the exact all-pairs report would show for it
    val sx = stddev_pop(col("x.bv"))
    val sy = stddev_pop(col("y.bv"))
    val cv = covar_pop(col("x.bv"), col("y.bv"))
    cand
      .join(b.as("x"), col("key_a") === col(s"x.$keyCol"))
      .join(b.as("y"), col("key_b") === col(s"y.$keyCol") && col("x.bt") === col("y.bt"))
      .groupBy(col("key_a"), col("key_b"), col("band_matches"))
      .agg(
        count(lit(1)).as("n_buckets"),
        (round(when(sx > 0 && sy > 0, cv / (sx * sy)), 4) + lit(0.0)).as("pearson_r"))
      .where(col("n_buckets") >= minBuckets && abs(col("pearson_r")) >= minAbsR)
      .select(col("key_a"), col("key_b"), col("band_matches"), col("n_buckets"), col("pearson_r"))
  }

  /** Exact per-series autocorrelation at lags 1..maxLag — the
    * seasonality/memory probe (which lag explains the series; feeds the
    * period choice for [[stlDecompose]]/[[periodogram]]). Values enter as
    * exact centi-integers, all cross/partial sums accumulate in
    * DECIMAL(38,0), and the estimator is assembled by integer algebra
    * with ONE final double division — deterministic at any partitioning,
    * matching any engine on the round(4) grid.
    *
    * Estimator (Pearson-style ACF with full-series mean μ and
    * full-series denominator): ρ_ℓ = Σ_{t>ℓ}(v_t−μ)(v_{t−ℓ}−μ) /
    * Σ_t(v_t−μ)². Multiplied out over vm = round(100v), S = Σvm:
    * num_ℓ = n²·Cℓ − n·S·(Aℓ+Bℓ) + (n−ℓ)·S², den = n²·Q − n·S², with
    * Cℓ = Σ vm_t·vm_{t−ℓ}, Aℓ/Bℓ the two lagged partial sums, Q = Σvm².
    *
    * Plan shape: ONE hash exchange on the series key — the lag window
    * and the final per-key aggregate share it; per-row state is maxLag
    * lagged values (bounded), never a collected series. Requires unique
    * (key, ts) (duplicate timestamps make the lag order-dependent —
    * resolve with F5 latest first). Bounds: the per-row products and
    * power sums accumulate in LONG — exact while the per-series Σvm²
    * fits 2^63 (2-decimal values ≤ 1e4 up to ~9e9 points per series,
    * ≤ 1e6 up to ~9e5 points), with a loud ANSI overflow beyond (never
    * a silent wrap). A DECIMAL(38) hot path would be exact at any
    * magnitude but runs interpreted BigDecimal per row — measured 8×
    * the whole aggregation's cost at 1M rows — so the wide arithmetic
    * is reserved for the estimator algebra (n²·Cℓ − …, which DOES
    * exceed long at modest series lengths): that runs on the
    * one-row-per-series aggregate table, off the hot path.
    */
  def acf(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val W = org.apache.spark.sql.expressions.Window
    val ordered = W.partitionBy(keyCol).orderBy(tsCol)
    val lagged = (1 to maxLag).foldLeft(
      df.select(
        col(keyCol), col(tsCol),
        expr(s"CAST(round($valueCol * 100, 0) AS BIGINT)").as("_p"))) {
      case (d, l) => d.withColumn(s"_p_$l", lag(col("_p"), l).over(ordered))
    }
    val aggs =
      Seq(
        count(lit(1)).as("n"),
        sum(col("_p")).as("s1L"),
        sum(col("_p") * col("_p")).as("qL")) ++
        (1 to maxLag).flatMap { l =>
          Seq(
            sum(col("_p") * col(s"_p_$l")).as(s"c_${l}L"),
            sum(when(col(s"_p_$l").isNotNull, col("_p"))).as(s"a_${l}L"),
            sum(col(s"_p_$l")).as(s"b_${l}L"))
        }
    val dec = "decimal(38,0)"
    val widened =
      (Seq("s1", "q") ++ (1 to maxLag).flatMap(l => Seq(s"c_$l", s"a_$l", s"b_$l")))
        .foldLeft(lagged.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)) {
          case (d, c) => d.withColumn(c, col(s"${c}L").cast(dec))
        }
    val lagRows = (1 to maxLag).map { l =>
      struct(
        lit(l).as("lag_k"),
        expr(s"n*n*c_$l - n*s1*(a_$l + b_$l) + (n - $l)*s1*s1").as("num"))
    }
    widened
      .withColumn("den", expr("n*n*q - n*s1*s1"))
      .select(col(keyCol), col("n"), col("den"), explode(array(lagRows: _*)).as("_lr"))
      .where(col("_lr.lag_k") < col("n"))
      .select(
        col(keyCol),
        col("_lr.lag_k").as("lag_k"),
        (col("n") - col("_lr.lag_k")).as("n_pairs"),
        expr("CASE WHEN den > 0 THEN round(CAST(_lr.num AS DOUBLE) / CAST(den AS DOUBLE), 4) + 0.0 END")
          .as("acf"))
  }

  /** Per-series periodogram at candidate periods — the dominant-cycle
    * report feeding [[stlDecompose]]'s period choice. Power at period P
    * is the squared DFT magnitude of the mean-centered series at
    * frequency 1/P (sample units), normalized by n:
    * power = ((Σ x_t·cos θ_t)² + (Σ x_t·sin θ_t)²) / n with
    * θ_t = 2π·(t mod P)/P, t the 0-based rank.
    *
    * Cross-engine determinism: x_t enters as the exact integer
    * dm = vm·n − S (= 100·n·x_t, exactly representable far below 2^53),
    * θ uses (t mod P) so both engines evaluate cos/sin at the same small
    * argument, and the only noise left is libm 1-ulp differences plus
    * summation order — a random-walk error ~1e-5 of the sums, ~1e-7 of
    * the power, 5 orders below the round(2) grid.
    *
    * Plan shape: ONE hash exchange on the series key — the rank/total
    * windows and the final aggregate share it; the period dimension is
    * 2·|periods| aggregate COLUMNS, never a row explosion (an
    * explode-by-period would multiply the 100 TB shuffle by |periods|).
    */
  def periodogram(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      periods: Seq[Int]): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2), s"periods must all be >= 2: $periods")
    val W = org.apache.spark.sql.expressions.Window
    val ordered = W.partitionBy(keyCol).orderBy(tsCol)
    val whole = W.partitionBy(keyCol)
    val base = df
      .select(col(keyCol), col(tsCol), round(col(valueCol) * 100, 0).cast("long").as("_vm"))
      .withColumn("_t", row_number().over(ordered) - 1)
      .withColumn("_n", count(lit(1)).over(whole))
      .withColumn("_s", sum(col("_vm")).over(whole))
      .withColumn("_dm", (col("_vm") * col("_n") - col("_s")).cast("double"))
    val aggs = max(col("_n")).as("n") +: periods.flatMap { p =>
      val theta = lit(2.0) * lit(math.Pi) * (col("_t") % p).cast("double") / lit(p.toDouble)
      Seq(
        sum(col("_dm") * cos(theta)).as(s"c_$p"),
        sum(col("_dm") * sin(theta)).as(s"s_$p"))
    }
    val perRows = periods.map { p =>
      struct(
        lit(p).as("period"),
        expr(s"round((c_$p*c_$p + s_$p*s_$p) / (10000.0 * n * n * n), 2) + 0.0").as("spec_power"))
    }
    base
      .groupBy(col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(keyCol), col("n"), explode(array(perRows: _*)).as("_pr"))
      .select(
        col(keyCol), col("n"),
        col("_pr.period").as("period"),
        col("_pr.spec_power").as("spec_power"))
  }

  /** Multi-resolution rollup CASCADE — the TS.CREATERULE continuous-
    * downsampling shape (the reference backend's compaction rules) as
    * one batch operator: hour from raw, day from the HOUR ROLLUP, week
    * from the DAY rollup. Each resolution carries the mergeable
    * decomposition (exact centi-int sum, count, min, max) plus the exact
    * fixed-decimal mean derived from it, so coarser levels re-aggregate
    * the previous level — at 100 TB the corpus is scanned and shuffled
    * ONCE (the finest bucket); every coarser resolution aggregates a
    * frame that is bucketMs-ratio× smaller (24×, 7×, …), where the naive
    * per-resolution form re-scans and re-shuffles the corpus per rule.
    * Associativity is exact: integer sums/counts and min/max compose
    * bit-identically with direct aggregation from raw (spec-pinned).
    *
    * `bucketsMs` must be ascending with each resolution dividing the
    * next (floor-alignment composes only then); mirrors the bound
    * documented on `moments` for the centi-int sums.
    */
  def rollupCascade(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      bucketsMs: Seq[Long]): DataFrame = {
    require(bucketsMs.nonEmpty && bucketsMs.head > 0, "need at least one positive resolution")
    require(
      bucketsMs.sliding(2).forall {
        case Seq(a, b) => b > a && b % a == 0
        case _ => true
      },
      s"resolutions must ascend and each must divide the next: $bucketsMs")
    def withAvg(d: DataFrame): DataFrame =
      d.withColumn(
        "avg_v",
        expr("""CAST(CAST(sign(sum_pts) AS DECIMAL(2,0))
               | * ((abs(CAST(sum_pts AS DECIMAL(38,0))) * 20000 + 100 * n) DIV (200 * n))
               | AS BIGINT) / CAST(10000.0 AS DOUBLE)""".stripMargin))
    val base = df
      .select(
        col(keyCol),
        (col(tsCol) - col(tsCol) % bucketsMs.head).as("bucket_ms"),
        round(col(valueCol) * 100, 0).cast("long").as("_vc"),
        col(valueCol).as("_v"))
      .groupBy(col(keyCol), col("bucket_ms"))
      .agg(
        sum(col("_vc")).as("sum_pts"), count(lit(1)).as("n"),
        min(col("_v")).as("min_v"), max(col("_v")).as("max_v"))
      .withColumn("resolution_ms", lit(bucketsMs.head))
    val (_, out) = bucketsMs.tail.foldLeft((base, withAvg(base))) {
      case ((prev, acc), b) =>
        val next = prev
          .groupBy(col(keyCol), (col("bucket_ms") - col("bucket_ms") % b).as("bucket_ms"))
          .agg(
            sum(col("sum_pts")).as("sum_pts"), sum(col("n")).as("n"),
            min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
          .withColumn("resolution_ms", lit(b))
        (next, acc.unionByName(withAvg(next)))
    }
    out.select(
      col(keyCol), col("resolution_ms"), col("bucket_ms"),
      col("sum_pts"), col("n"), col("min_v"), col("max_v"), col("avg_v"))
  }

  /** Per-series dominant cycle: the candidate period with the highest
    * periodogram power, tie-broken toward the SMALLER period — the
    * comparison runs over the round(2) power (already cross-engine
    * deterministic) plus a total tie-break, so the argmax itself is
    * deterministic (a flat series, all powers 0.00, resolves to the
    * smallest candidate on every engine). Plan: the rank window reuses
    * the periodogram aggregate's key partitioning — still ONE exchange
    * end to end.
    */
  def dominantPeriod(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      periods: Seq[Int]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol)
      .orderBy(col("spec_power").desc, col("period").asc)
    periodogram(df, keyCol, tsCol, valueCol, periods)
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1)
      .select(col(keyCol), col("n"), col("period").as("dominant_period"), col("spec_power"))
  }

  /** Corpus-level period vote: the modal per-series dominant period
    * (ties toward the smaller period). The collect is ≤|periods| rows —
    * a bounded driver read, the same class as a broadcast threshold.
    */
  def autoPeriod(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      periods: Seq[Int]): Int =
    dominantPeriod(df, keyCol, tsCol, valueCol, periods)
      .groupBy(col("dominant_period"))
      .agg(count(lit(1)).as("_votes"))
      .orderBy(col("_votes").desc, col("dominant_period").asc)
      .limit(1)
      .collect()
      .headOption
      .map(_.getAs[Int]("dominant_period"))
      .getOrElse(throw new IllegalArgumentException("autoPeriod: empty input"))

  /** [[stlDecompose]] with the period discovered by the periodogram vote
    * — the composed "find the cycle, then explain it away" pipeline
    * (two jobs: the tiny period vote, then the decomposition).
    */
  def stlDecomposeAuto(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      candidates: Seq[Int]): DataFrame =
    stlDecompose(df, keyCol, tsCol, valueCol, autoPeriod(df, keyCol, tsCol, valueCol, candidates))

  def aggExpr(name: String, value: Column, ts: Column): Column = name match {
    case "avg" => avg(value)
    case "sum" => sum(value)
    case "min" => min(value)
    case "max" => max(value)
    case "range" => max(value) - min(value)
    case "count" => count(value)
    case "first" => min_by(value, ts) // value at lowest ts in bucket
    case "last" => max_by(value, ts) // value at highest ts in bucket
    case "std.p" => stddev_pop(value)
    case "std.s" => stddev_samp(value)
    case "var.p" => var_pop(value)
    case "var.s" => var_samp(value)
    case other => throw new IllegalArgumentException(s"unknown aggregator: $other")
  }

  /** Per-series seasonal and trend STRENGTH (Hyndman's STL variance
    * ratios): F_seasonal = 1 − Var(resid)/Var(seasonal+resid) and
    * F_trend = 1 − Var(resid)/Var(trend+resid) — the triage report that
    * says which series deserve a seasonal model (feeds the
    * dominant-period / auto-STL choices) and which are trend- or
    * noise-dominated. Computed from [[stlDecompose]]'s exact fixed-point
    * components, so the variances are integer algebra
    * (n·ΣX² − (ΣX)², LONG sums widened to DECIMAL(38,0)) and the
    * strengths surface as truncating-division milli integers — engine
    * exact, clamped at 0 like the reference definition. A zero-variance
    * denominator (flat series) reports strength 0.
    *
    * Scale shape: the STL window chain plus ONE partial-aggregated
    * groupBy on the series key; output one row per series.
    */
  def seasonalStrength(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      period: Int): DataFrame = {
    val dec = "decimal(38,0)"
    stlDecompose(df, keyCol, tsCol, valueCol, period)
      .select(
        col(keyCol),
        col("resid_fp").as("r"),
        (col("seasonal_fp") + col("resid_fp")).as("sr"), // = detrended
        (col("trend_fp") + col("resid_fp")).as("tr")) // = deseasonalized
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col("r")).as("sRL"), sum(col("r") * col("r")).as("qRL"),
        sum(col("sr")).as("sSL"), sum(col("sr") * col("sr")).as("qSL"),
        sum(col("tr")).as("sTL"), sum(col("tr") * col("tr")).as("qTL"))
      .withColumn("dR", expr(s"CAST(n AS $dec) * CAST(qRL AS $dec) - CAST(sRL AS $dec) * CAST(sRL AS $dec)"))
      .withColumn("dS", expr(s"CAST(n AS $dec) * CAST(qSL AS $dec) - CAST(sSL AS $dec) * CAST(sSL AS $dec)"))
      .withColumn("dT", expr(s"CAST(n AS $dec) * CAST(qTL AS $dec) - CAST(sTL AS $dec) * CAST(sTL AS $dec)"))
      .withColumn(
        "season_strength_milli",
        when(col("dS") > 0, greatest(lit(0L), lit(1000L) - expr("(dR * 1000) DIV dS")))
          .otherwise(lit(0L)))
      .withColumn(
        "trend_strength_milli",
        when(col("dT") > 0, greatest(lit(0L), lit(1000L) - expr("(dR * 1000) DIV dT")))
          .otherwise(lit(0L)))
      .select(
        col(keyCol),
        col("n").as("n_points"),
        col("season_strength_milli"),
        col("trend_strength_milli"),
        (col("season_strength_milli") / 1000.0).as("season_strength"),
        (col("trend_strength_milli") / 1000.0).as("trend_strength"))
  }

  /** Per-series best changepoint by binary segmentation (depth 1): the
    * split t maximizing the between-segment variance — the retrospective
    * "where did the level shift happen" answer that complements CUSUM's
    * sequential drift alarm (CUSUM tells you WHEN to raise the flag on a
    * live stream; this tells you WHERE the break sits in stored data,
    * the first step of the classic recursive segmentation).
    *
    * Selection is engine-exact by construction: the gain surfaces as
    * gain_micro = (X²·10⁶) DIV (n₁·n₂) with X = n₂·S₁ − n₁·S₂ over
    * centi-int prefix sums (X² widened to DECIMAL(38,0); X itself LONG —
    * loud ANSI overflow, the acf contract), and the winner is the
    * max_by over (gain_micro, −ts) — truncating division and the ts
    * tie-break make the argmax identical in Spark and the SQL oracle
    * even when two splits tie after truncation (a flat series picks its
    * earliest valid split on both engines). Both segments must hold ≥ 2
    * points (series below 4 points exit, the D0 floor).
    *
    * Scale shape: one ordered prefix-sum window, one whole-partition
    * totals window, one argmax window — ONE exchange, no joins, one
    * output row per series.
    */
  def changepoint(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      minSeg: Int = 2): DataFrame = {
    require(minSeg >= 1, s"minSeg must be >= 1, got $minSeg")
    val W = org.apache.spark.sql.expressions.Window
    val byK = W.partitionBy(keyCol)
    val ordered = byK.orderBy("_t")
    val dec = "decimal(38,0)"
    val cand = df
      .select(
        col(keyCol), col(tsCol).as("_t"),
        expr(s"CAST(round($valueCol * 100, 0) AS BIGINT)").as("_vc"))
      .withColumn("rn", row_number().over(ordered))
      .withColumn("s1", sum(col("_vc")).over(ordered.rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("n", count(lit(1)).over(byK))
      .withColumn("s", sum(col("_vc")).over(byK))
      .where(col("rn") >= minSeg && col("n") - col("rn") >= minSeg)
      .withColumn("n1", col("rn").cast("long"))
      .withColumn("n2", col("n") - col("rn"))
      .withColumn("s2", col("s") - col("s1"))
      .withColumn("x", col("n2") * col("s1") - col("n1") * col("s2"))
      .withColumn("xd", col("x").cast(dec))
      .withColumn("x2", expr("xd * xd"))
      // two equal-valued paths picked by a cheap LONG compare: the
      // single-multiply form while x²·10⁶ provably fits DECIMAL(38,0)
      // (|x| ≤ 3.1e15 — virtually all real data; one decimal op fewer
      // per row, measured 1.7× on the bench row), and divide-before-
      // scale past it, which moves the overflow ceiling to the far
      // roomier n₁n₂ remainder term. Equal exactly: for num = q·d + r,
      // (num·10⁶) DIV d = q·10⁶ + (r·10⁶) DIV d on non-negative operands.
      .withColumn(
        "gm",
        when(
          abs(col("x")) <= lit(3100000000000000L),
          expr("(x2 * 1000000) DIV (n1 * n2)"))
          .otherwise(
            expr("(x2 DIV (n1 * n2)) * 1000000 + ((x2 % (n1 * n2)) * 1000000) DIV (n1 * n2)")))
    cand
      .withColumn(
        "bt",
        max_by(col("_t"), struct(col("gm"), (-col("_t")).as("nt"))).over(byK))
      .where(col("_t") === col("bt"))
      .select(
        col(keyCol),
        col("_t").as("split_ts_ms"),
        col("n1").as("n_left"),
        col("n2").as("n_right"),
        // sign-magnitude fixed-decimal half-up mean (the rollup avg
        // convention): double round() differs cross-engine exactly on
        // the representation-boundary .5 cases integer DIV never hits
        expr("""CAST(CAST(sign(s1) AS DECIMAL(2,0))
               | * ((abs(CAST(s1 AS DECIMAL(38,0))) * 20000 + 100 * n1) DIV (200 * n1))
               | AS BIGINT) / CAST(10000.0 AS DOUBLE)""".stripMargin).as("left_mean"),
        expr("""CAST(CAST(sign(s2) AS DECIMAL(2,0))
               | * ((abs(CAST(s2 AS DECIMAL(38,0))) * 20000 + 100 * n2) DIV (200 * n2))
               | AS BIGINT) / CAST(10000.0 AS DOUBLE)""".stripMargin).as("right_mean"),
        col("gm").as("gain_micro"))
  }

  /** Per-series compressed-size estimate under Gorilla-style coding —
    * the storage-planning report for a TS store whose chunks are
    * delta-of-delta compressed (the reference's Redis TS backend stores
    * exactly such chunks; this answers "what will this series cost on
    * disk / how should I size chunks" before writing). Timestamps pay
    * the Gorilla DoD buckets (0 → 1 bit; ±64 → 9; ±256 → 12; ±2048 →
    * 16; else 36; first point 64, second 36 for its raw delta). Values
    * use the INTEGER variant, documented deviation from the paper's
    * double-XOR scheme: centi-int first differences in buckets 0 → 1,
    * ±64 → 9, ±512 → 13, ±4096 → 17, else 36 — the XOR
    * leading/trailing-zero form needs raw double bits, which neither
    * engine exposes to SQL, and the integer variant is what a
    * fixed-decimal store would code anyway. Everything is exact integer
    * arithmetic → the DuckDB oracle replays it bit-for-bit.
    *
    * Scale shape: two lag windows and a partial-aggregated groupBy on
    * the series key — ONE exchange, no joins, output one row per
    * series.
    */
  def compressEstimate(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCol).orderBy("_t")
    def bucket(c: Column, cuts: Seq[(Long, Int)], wide: Int): Column =
      cuts.foldLeft(when(c === 0L, lit(1))) {
        case (acc, (bound, bits)) => acc.when(c >= -bound + 1 && c <= bound, lit(bits))
      }.otherwise(lit(wide))
    val lagged = df
      .select(
        col(keyCol), col(tsCol).as("_t"),
        expr(s"CAST(round($valueCol * 100, 0) AS BIGINT)").as("_vc"))
      .withColumn("_dt", col("_t") - lag(col("_t"), 1).over(w))
      .withColumn("_dod", col("_dt") - lag(col("_dt"), 1).over(w))
      .withColumn("_dv", col("_vc") - lag(col("_vc"), 1).over(w))
    val tsBits = when(col("_dt").isNull, lit(64))
      .when(col("_dod").isNull, lit(36))
      .otherwise(bucket(col("_dod"), Seq(64L -> 9, 256L -> 12, 2048L -> 16), 36))
    val valBits = when(col("_dv").isNull, lit(64))
      .otherwise(bucket(col("_dv"), Seq(64L -> 9, 512L -> 13, 4096L -> 17), 36))
    lagged
      .select(col(keyCol), tsBits.cast("long").as("_tb"), valBits.cast("long").as("_vb"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_points"), sum(col("_tb")).as("ts_bits"), sum(col("_vb")).as("val_bits"))
      .withColumn("bytes_est", expr("(ts_bits + val_bits + 7) DIV 8"))
      .withColumn("bytes_raw", col("n_points") * 16L)
      .withColumn("ratio_milli", expr("(bytes_est * 1000) DIV bytes_raw"))
  }
}
