package graft.queries

import graft.Tables
import graft.config.{Align, BucketTs, TsQueryConfig}
import graft.ts.{TsAlgebra, TsCols}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.2–2.3 — the `TimeSeriesConfig` range-query algebra
  * (F1–F7, A1–A12) exercised on the `events` table with DuckDB oracles.
  */
object TsQueries {

  /** Shared by ts_top_corr_pairs and its TVF twin ts_sql_topcorr. */
  private val topCorrOracleSql: String =
    s"""WITH e AS (SELECT user_id, epoch_ms(ts) tm, value FROM events WHERE user_id < 120),
              |b AS (SELECT user_id, tm - tm % ${T.Day} AS bt, avg(value) bv,
              |        sum(CAST(round(value * 100) AS BIGINT)) svm, count(*) nvm
              |      FROM e GROUP BY 1, 2),
              |b2 AS (SELECT *, CAST(sign(svm) AS BIGINT) * ((abs(svm) * 2 + nvm) // (2 * nvm)) AS bvfp
              |       FROM b),
              |m AS (SELECT user_id, count(*) nb, sum(bvfp) tot FROM b2 GROUP BY 1
              |      HAVING count(*) >= 5),
              |om AS (SELECT min(bt) omin FROM b2),
              |t AS (SELECT b2.user_id,
              |        ((b2.bt - om.omin) // ${T.Day}) % 10 AS band,
              |        CASE WHEN b2.bvfp * m.nb > m.tot
              |             THEN  (((b2.bt - om.omin) // ${T.Day} // 10 + 1) * ((b2.bt - om.omin) // ${T.Day} // 10 + 1) * 31
              |                    + ((b2.bt - om.omin) // ${T.Day} // 10 + 1) * 7 + 1)
              |             ELSE -(((b2.bt - om.omin) // ${T.Day} // 10 + 1) * ((b2.bt - om.omin) // ${T.Day} // 10 + 1) * 31
              |                    + ((b2.bt - om.omin) // ${T.Day} // 10 + 1) * 7 + 1) END AS term
              |      FROM b2 JOIN m USING (user_id) CROSS JOIN om),
              |bands AS (SELECT user_id, band, sum(term) sig, count(*) cnt FROM t GROUP BY 1, 2),
              |capped AS (SELECT * FROM (
              |    SELECT *, count(*) OVER (PARTITION BY band, sig, cnt) occ FROM bands)
              |  WHERE occ <= 200),
              |cand AS (SELECT x.user_id key_a, y.user_id key_b, count(*) band_matches
              |         FROM capped x JOIN capped y
              |           ON x.band = y.band AND x.sig = y.sig AND x.cnt = y.cnt
              |          AND x.user_id < y.user_id
              |         GROUP BY 1, 2 HAVING count(*) >= 2),
              |r AS (SELECT c.key_a, c.key_b, c.band_matches, count(*) n_buckets,
              |        round(CASE WHEN stddev_pop(x.bv) > 0 AND stddev_pop(y.bv) > 0
              |                   THEN covar_pop(x.bv, y.bv) / (stddev_pop(x.bv) * stddev_pop(y.bv))
              |              END, 4) + 0.0 AS pearson_r
              |      FROM cand c
              |      JOIN b2 x ON c.key_a = x.user_id
              |      JOIN b2 y ON c.key_b = y.user_id AND x.bt = y.bt
              |      GROUP BY 1, 2, 3 HAVING count(*) >= 5)
              |SELECT key_a, key_b, band_matches, n_buckets, pearson_r
              |FROM r WHERE abs(pearson_r) >= 0.3""".stripMargin


  private val cols = TsCols(key = "user_id", ts = "ts_ms", value = "value", seq = Some("event_id"))

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** Aggregators whose output is a computed double → rounded on both
    * sides, with scale matched to magnitude so fp algorithm differences
    * between engines stay far from the rounding boundary (variance ≈ 10³
    * with ~1e-9 cross-engine error → 2 decimals; the rest → 4).
    */
  private val roundedAggs =
    Map("sum" -> 4, "range" -> 4, "std.p" -> 4, "std.s" -> 4, "var.p" -> 2, "var.s" -> 2)

  /** Day-bucket average in EXACT arithmetic (valueDecimals = 2): the true
    * mean of cent values regularly lands exactly on the 4-decimal
    * half-way point (sf0.1: user 522's day mean is exactly 56.35625),
    * where engines disagree about a double's rounding direction: Spark
    * rounds the exact binary expansion (…449999… → down) while DuckDB
    * rounds the shortest decimal representation (…45 → up). The library's
    * fixed-decimal mode keeps everything integer until one final divide;
    * the sign-magnitude form (sign·⌊(|sc|·10⁴ + d/2)/d⌋) stays exact for
    * negative means too, where truncating DIV would mis-round.
    */
  private def avgQuery(s: SparkSession, dir: String): DataFrame =
    TsAlgebra.query(
      ev(s, dir),
      TsQueryConfig(
        aggregationType = Some("avg"), bucketSizeMs = Some(T.Day), valueDecimals = Some(2)),
      cols)

  private val avgOracleSql: String =
    s"""WITH g AS (SELECT user_id, epoch_ms(ts) - epoch_ms(ts) % ${T.Day} AS ts_ms,
       |             sum(CAST(round(value*100) AS BIGINT)) sc, count(value) n
       |           FROM events GROUP BY 1, 2)
       |SELECT user_id, ts_ms,
       |  CAST(sign(sc) AS BIGINT) * ((abs(sc) * 20000 + 100 * n) // (200 * n)) / 10000.0 AS value
       |FROM g""".stripMargin

  private def aggQuery(agg: String)(s: SparkSession, dir: String): DataFrame = {
    val cfg = TsQueryConfig(aggregationType = Some(agg), bucketSizeMs = Some(T.Day))
    val out = TsAlgebra.query(ev(s, dir), cfg, cols)
    roundedAggs.get(agg).map(d => out.withColumn("value", round(col("value"), d))).getOrElse(out)
  }

  private def aggOracle(aggSql: String): String =
    s"""SELECT user_id, epoch_ms(ts) - epoch_ms(ts) % ${T.Day} AS ts_ms, $aggSql AS value
       |FROM events GROUP BY 1, 2""".stripMargin

  private def varQuery(sample: Boolean)(s: SparkSession, dir: String): DataFrame = {
    val vi = round(col("value") * 100, 0)
    val denom = if (sample) (col("n") * (col("n") - 1)).cast("double") * 10000.0
    else (col("n") * col("n")).cast("double") * 10000.0
    val guard = if (sample) col("n") > 1 else lit(true)
    ev(s, dir)
      .groupBy(col("user_id"), (col("ts_ms") - col("ts_ms") % T.Day).as("ts_ms"))
      .agg(sum(vi).as("s1"), sum(vi * vi).as("s2"), count(lit(1)).as("n"))
      .select(
        col("user_id"), col("ts_ms"),
        when(guard, (col("n") * col("s2") - col("s1") * col("s1")) / denom).as("value"))
  }

  private def varOracle(sample: Boolean): String = {
    val denom = if (sample) "(n*(n-1))" else "(n*n)"
    val guard = if (sample) "CASE WHEN n > 1 THEN" else "CASE WHEN TRUE THEN"
    s"""WITH g AS (
       |  SELECT user_id, epoch_ms(ts) - epoch_ms(ts) % ${T.Day} AS ts_ms,
       |         sum(round(value*100)) s1, sum(round(value*100)*round(value*100)) s2, count(*) n
       |  FROM events GROUP BY 1, 2)
       |SELECT user_id, ts_ms, $guard (n*s2 - s1*s1) / (CAST($denom AS DOUBLE) * 10000.0) END AS value
       |FROM g""".stripMargin
  }

  /** ts_acf oracle — generated for lags 1..acfK; mirrors TsAlgebra.acf's
    * integer algebra term by term (HUGEINT sums, one final double divide).
    */
  private val acfK = 8
  private val acfOracleSql: String = {
    val lagCols = (1 to acfK).map(l => s"lag(p, $l) OVER w p_$l").mkString(", ")
    val aggCols = (1 to acfK)
      .map(l => s"sum(p*p_$l) c_$l, sum(CASE WHEN p_$l IS NOT NULL THEN p END) a_$l, sum(p_$l) b_$l")
      .mkString(",\n|        ")
    val rows = (1 to acfK)
      .map(l => s"{'lag_k': $l, 'num': n*n*c_$l - n*s1*(a_$l + b_$l) + (n - $l)*s1*s1}")
      .mkString(",\n|          ")
    s"""WITH e AS (SELECT user_id, epoch_ms(ts) tm, CAST(round(value*100, 0) AS HUGEINT) p FROM events),
       |l AS (SELECT user_id, p, $lagCols
       |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tm)),
       |g AS (SELECT user_id, CAST(count(*) AS HUGEINT) n, sum(p) s1, sum(p*p) q,
       |        $aggCols
       |      FROM l GROUP BY 1),
       |x AS (SELECT user_id, n, n*n*q - n*s1*s1 den,
       |        unnest([$rows]) r
       |      FROM g)
       |SELECT user_id, CAST(r.lag_k AS INT) AS lag_k, CAST(n - r.lag_k AS BIGINT) AS n_pairs,
       |       CASE WHEN den > 0 THEN round(CAST(r.num AS DOUBLE) / CAST(den AS DOUBLE), 4) + 0.0 END AS acf
       |FROM x WHERE r.lag_k < n""".stripMargin
  }

  /** ts_periodogram oracle — generated for the candidate period grid;
    * the θ and power expressions are written with the identical fp-op
    * order as TsAlgebra.periodogram (see its determinism note).
    */
  private val pgPeriods: Seq[Int] = 2 to 24
  private val pgOracleSql: String = {
    val aggCols = pgPeriods
      .map(p =>
        s"sum(dm * cos(2.0 * pi() * CAST(t % $p AS DOUBLE) / $p.0)) c_$p, " +
          s"sum(dm * sin(2.0 * pi() * CAST(t % $p AS DOUBLE) / $p.0)) s_$p")
      .mkString(",\n|        ")
    val rows = pgPeriods
      .map(p => s"{'period': $p, 'spec_power': round((c_$p*c_$p + s_$p*s_$p) / (10000.0 * n * n * n), 2) + 0.0}")
      .mkString(",\n|          ")
    s"""WITH e AS (SELECT user_id, epoch_ms(ts) tm, CAST(round(value*100, 0) AS BIGINT) vm FROM events),
       |r AS (SELECT user_id, vm,
       |        row_number() OVER (PARTITION BY user_id ORDER BY tm) - 1 t,
       |        count(*) OVER (PARTITION BY user_id) n,
       |        sum(vm) OVER (PARTITION BY user_id) s
       |      FROM e),
       |d AS (SELECT user_id, n, t, CAST(vm*n - s AS DOUBLE) dm FROM r),
       |g AS (SELECT user_id, max(n) n,
       |        $aggCols
       |      FROM d GROUP BY 1),
       |x AS (SELECT user_id, n,
       |        unnest([$rows]) r
       |      FROM g)
       |SELECT user_id, CAST(n AS BIGINT) AS n, CAST(r.period AS INT) AS period,
       |       r.spec_power AS spec_power
       |FROM x""".stripMargin
  }

  /** The period-24 STL fixed-point decomposition CTE chain (ends at
    * `f`, whose residual is `dt - seasonal_fp`) over an arbitrary
    * events-shaped source relation — shared by the ts_stl_decompose
    * oracle, DetectQueries' S-ESD composition, and the seasonal-stream
    * profile replay (which decomposes only the history split).
    */
  private[queries] def stlCteFor(src: String): String =
    s"""r AS (
      |  SELECT user_id, epoch_ms(ts) ts_ms, value,
      |         CAST(round(value*100, 0) AS BIGINT) vm,
      |         CAST((row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)) - 1) % 24 AS BIGINT) phase
      |  FROM $src),""".stripMargin + "\n" + stlCteTail

  private[queries] lazy val stlCte: String = stlCteFor("events")

  private val stlCteTail: String =
    """t AS (SELECT *,
      |        CAST(sum(vm) OVER wo AS BIGINT) + CAST(sum(vm) OVER wi AS BIGINT) tsum,
      |        count(*) OVER wo + count(*) OVER wi tn
      |      FROM r
      |      WINDOW wo AS (PARTITION BY user_id ORDER BY ts_ms
      |                    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING),
      |             wi AS (PARTITION BY user_id ORDER BY ts_ms
      |                    ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING)),
      |tr AS (SELECT *, CAST(sign(tsum) AS BIGINT) * ((abs(tsum)*200 + tn) // (2*tn)) AS trend_fp FROM t),
      |d AS (SELECT *, vm*100 - trend_fp AS dt FROM tr),
      |sg AS (SELECT *, CAST(sum(dt) OVER wp AS BIGINT) ssum, count(*) OVER wp sn FROM d
      |       WINDOW wp AS (PARTITION BY user_id, phase)),
      |f AS (SELECT *, CAST(sign(ssum) AS BIGINT) * ((abs(ssum)*2 + sn) // (2*sn)) AS seasonal_fp FROM sg)""".stripMargin

  /** ts_stl_decompose / ts_sql_stl shared oracle: the exact fixed-point
    * decomposition replayed over the shared STL CTE chain.
    */
  private lazy val stlOracleSql: String =
    s"""WITH $stlCte
       |SELECT user_id, ts_ms, value, CAST(phase AS INT) AS phase,
       |       CAST(trend_fp AS BIGINT) AS trend_fp,
       |       CAST(seasonal_fp AS BIGINT) AS seasonal_fp,
       |       CAST(dt - seasonal_fp AS BIGINT) AS resid_fp
       |FROM f""".stripMargin

  /** ts_seasonal_strength / ts_sql_seasonal shared oracle: Hyndman
    * variance ratios in HUGEINT algebra over the shared STL chain.
    */
  private lazy val seasonalStrengthOracleSql: String =
    s"""WITH $stlCte,
       |c AS (SELECT user_id, CAST(dt - seasonal_fp AS HUGEINT) r,
       |        CAST(dt AS HUGEINT) sr,
       |        CAST(vm*100 - seasonal_fp AS HUGEINT) tr
       |      FROM f),
       |g AS (SELECT user_id, CAST(count(*) AS HUGEINT) n,
       |        sum(r) sR, sum(r*r) qR, sum(sr) sS, sum(sr*sr) qS,
       |        sum(tr) sT, sum(tr*tr) qT
       |      FROM c GROUP BY 1),
       |dv AS (SELECT user_id, n, n*qR - sR*sR dR, n*qS - sS*sS dS, n*qT - sT*sT dT FROM g)
       |SELECT user_id, CAST(n AS BIGINT) AS n_points,
       |       CAST(CASE WHEN dS > 0 THEN greatest(0, 1000 - (dR*1000)//dS) ELSE 0 END AS BIGINT)
       |         AS season_strength_milli,
       |       CAST(CASE WHEN dT > 0 THEN greatest(0, 1000 - (dR*1000)//dT) ELSE 0 END AS BIGINT)
       |         AS trend_strength_milli,
       |       CAST(CASE WHEN dS > 0 THEN greatest(0, 1000 - (dR*1000)//dS) ELSE 0 END AS BIGINT) / 1000.0
       |         AS season_strength,
       |       CAST(CASE WHEN dT > 0 THEN greatest(0, 1000 - (dR*1000)//dT) ELSE 0 END AS BIGINT) / 1000.0
       |         AS trend_strength
       |FROM dv""".stripMargin

  /** ts_changepoint / ts_sql_changepoint shared oracle: centi-int prefix
    * sums, truncated integer gain, row_number argmax with ts tie-break,
    * sign-magnitude fixed-decimal segment means.
    */
  private val changepointOracleSql: String =
    """WITH e AS (SELECT user_id k, epoch_ms(ts) t,
      |             CAST(round(value*100, 0) AS HUGEINT) vc FROM events),
      |r AS (SELECT k, t, vc, row_number() OVER w rn,
      |        sum(vc) OVER (PARTITION BY k ORDER BY t ROWS UNBOUNDED PRECEDING) s1,
      |        count(*) OVER (PARTITION BY k) n,
      |        sum(vc) OVER (PARTITION BY k) s
      |      FROM e WINDOW w AS (PARTITION BY k ORDER BY t)),
      |c AS (SELECT k, t, rn n1, n - rn n2, s1, s - s1 s2,
      |        (n - rn)*s1 - rn*(s - s1) x
      |      FROM r WHERE rn >= 2 AND n - rn >= 2),
      |g AS (SELECT *, (x*x*1000000) // (n1*n2) gm FROM c),
      |m AS (SELECT k, t bt FROM (
      |        SELECT k, t, row_number() OVER (PARTITION BY k ORDER BY gm DESC, t ASC) wrn
      |        FROM g) WHERE wrn = 1)
      |SELECT g.k AS user_id, g.t AS split_ts_ms,
      |       CAST(n1 AS BIGINT) AS n_left, CAST(n2 AS BIGINT) AS n_right,
      |       CAST(sign(s1) AS BIGINT) * ((abs(s1) * 20000 + 100 * n1) // (200 * n1)) / 10000.0
      |         AS left_mean,
      |       CAST(sign(s2) AS BIGINT) * ((abs(s2) * 20000 + 100 * n2) // (200 * n2)) / 10000.0
      |         AS right_mean,
      |       CAST(gm AS BIGINT) AS gain_micro
      |FROM g JOIN m ON g.k = m.k AND g.t = m.bt""".stripMargin

  /** ts_rollup_cascade oracle — each resolution aggregated DIRECTLY from
    * raw (the cascade must equal it exactly: integer sums/counts and
    * min/max are associative), avg via the same sign-magnitude
    * fixed-decimal integer math as `avgOracleSql`.
    */
  private val rollupBuckets = Seq(3600000L, 86400000L, 604800000L)
  private val rollupOracleSql: String = {
    val levels = rollupBuckets
      .map(b =>
        s"""SELECT user_id, CAST($b AS BIGINT) resolution_ms, tm - tm % $b AS bucket_ms,
           |  sum(vc) sum_pts, count(*) n, min(value) min_v, max(value) max_v
           |FROM e GROUP BY 1, 2, 3""".stripMargin.linesIterator.mkString("\n|"))
      .mkString("\n|UNION ALL\n|")
    s"""WITH e AS (SELECT user_id, epoch_ms(ts) tm, value,
       |             CAST(round(value*100) AS BIGINT) vc FROM events),
       |u AS ($levels)
       |SELECT user_id, resolution_ms, bucket_ms,
       |  CAST(sum_pts AS BIGINT) AS sum_pts, CAST(n AS BIGINT) AS n, min_v, max_v,
       |  CAST(sign(sum_pts) AS BIGINT) * ((abs(sum_pts) * 20000 + 100 * n) // (200 * n)) / 10000.0 AS avg_v
       |FROM u""".stripMargin
  }

  val all: Seq[Q] = Seq(
    // F1 time-range + F6 order + F7 projection (TS.RANGE, SURVEY S1/F1)
    Q(
      "ts_range",
      (s, dir) =>
        TsAlgebra.query(
          ev(s, dir).where(col("user_id") === 7),
          TsQueryConfig(fromTimeMs = Some(T.From), toTimeMs = Some(T.To)),
          cols),
      Some(s"""SELECT user_id, epoch_ms(ts) AS ts_ms, value FROM events
              |WHERE user_id = 7 AND epoch_ms(ts) >= ${T.From} AND epoch_ms(ts) <= ${T.To}""".stripMargin)
    ),
    // S2 reverse scan + F4 COUNT limit (TS.REVRANGE ... COUNT 50)
    Q(
      "ts_revrange_limit",
      (s, dir) =>
        TsAlgebra.query(
          ev(s, dir).where(col("user_id") === 7),
          TsQueryConfig(reversed = true, count = Some(50)),
          cols),
      Some("""SELECT user_id, epoch_ms(ts) AS ts_ms, value FROM events
             |WHERE user_id = 7 ORDER BY ts_ms DESC LIMIT 50""".stripMargin)
    ),
    // F2 timestamp-set filter (FILTER_BY_TS); the set is fixed config — here
    // the 20 earliest sample times of the series, collected driver-side.
    Q(
      "ts_filter_ts_set",
      (s, dir) => {
        import s.implicits._
        val one = ev(s, dir).where(col("user_id") === 7)
        val tsList = one.orderBy("ts_ms").limit(20).select("ts_ms").as[Long].collect().toSeq
        TsAlgebra.query(one, TsQueryConfig(filterByTs = Some(tsList)), cols)
      },
      Some("""SELECT user_id, epoch_ms(ts) AS ts_ms, value FROM events
             |WHERE user_id = 7 AND epoch_ms(ts) IN
             |  (SELECT epoch_ms(ts) FROM events WHERE user_id = 7 ORDER BY 1 LIMIT 20)""".stripMargin)
    ),
    // F3 value-range filter (FILTER_BY_VALUE), applied pre-aggregation
    Q(
      "ts_filter_value",
      (s, dir) =>
        TsAlgebra.query(
          ev(s, dir),
          TsQueryConfig(
            fromTimeMs = Some(T.From), toTimeMs = Some(T.To),
            filterByMinValue = Some(250.0), filterByMaxValue = Some(490.0)),
          cols),
      Some(s"""SELECT user_id, epoch_ms(ts) AS ts_ms, value FROM events
              |WHERE epoch_ms(ts) >= ${T.From} AND epoch_ms(ts) <= ${T.To}
              |  AND value >= 250.0 AND value <= 490.0""".stripMargin)
    ),
    // F5 latest/dedup per exact timestamp (ingest order = event_id)
    Q(
      "ts_latest",
      (s, dir) => TsAlgebra.query(ev(s, dir), TsQueryConfig(latest = true), cols),
      Some("""SELECT user_id, epoch_ms(ts) AS ts_ms, arg_max(value, event_id) AS value
             |FROM events GROUP BY 1, 2""".stripMargin)
    ),
    // F4 multi-series form: newest 5 samples of EVERY series in one pass
    Q(
      "ts_topk_per_series",
      (s, dir) =>
        TsAlgebra.query(ev(s, dir), TsQueryConfig(reversed = true, countPerKey = Some(5)), cols),
      Some("""SELECT user_id, ts_ms, value FROM (
             |  SELECT user_id, epoch_ms(ts) AS ts_ms, value,
             |         row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts) DESC) rn
             |  FROM events) WHERE rn <= 5""".stripMargin)
    ),
    // A1–A12: time-bucketed aggregation, 1-day buckets, epoch-aligned
    Q("ts_agg_avg", avgQuery _, Some(avgOracleSql)),
    Q("ts_agg_sum", aggQuery("sum"), Some(aggOracle("round(sum(value), 4)"))),
    Q("ts_agg_min", aggQuery("min"), Some(aggOracle("min(value)"))),
    Q("ts_agg_max", aggQuery("max"), Some(aggOracle("max(value)"))),
    Q("ts_agg_range", aggQuery("range"), Some(aggOracle("round(max(value) - min(value), 4)"))),
    Q("ts_agg_count", aggQuery("count"), Some(aggOracle("count(value)"))),
    Q("ts_agg_first", aggQuery("first"), Some(aggOracle("arg_min(value, epoch_ms(ts))"))),
    Q("ts_agg_last", aggQuery("last"), Some(aggOracle("arg_max(value, epoch_ms(ts))"))),
    Q("ts_agg_std_p", aggQuery("std.p"), Some(aggOracle("round(stddev_pop(value), 4)"))),
    Q("ts_agg_std_s", aggQuery("std.s"), Some(aggOracle("round(stddev_samp(value), 4)"))),
    // A11/A12 variance: the source values are exact 2-decimal numbers, so
    // both sides compute over vi = round(100·v) — integer sums are exact
    // in IEEE double in ANY summation order, and the single final division
    // is then bit-identical across engines (no rounding needed at all).
    // Any rounding scheme over each engine's native variance kernel keeps
    // straddling grid points: true variances of 2-decimal data with small
    // bucket counts land exactly on half-way values. TsAlgebra itself maps
    // var.p/var.s to Spark's var_pop/var_samp (see TsAlgebraSpec).
    Q("ts_agg_var_p", varQuery(sample = false), Some(varOracle(sample = false))),
    Q("ts_agg_var_s", varQuery(sample = true), Some(varOracle(sample = true))),
    // ALIGN + BUCKETTIMESTAMP '~': 6h buckets aligned to 11:00Z, mid label
    Q(
      "ts_agg_align",
      (s, dir) => {
        val cfg = TsQueryConfig(
          fromTimeMs = Some(T.From), toTimeMs = Some(T.To),
          aggregationType = Some("avg"), bucketSizeMs = Some(21600000L),
          align = Align.At(1704106800000L), bucketTimestamp = BucketTs.Mid,
          valueDecimals = Some(2))
        TsAlgebra.query(ev(s, dir), cfg, cols)
      },
      Some(s"""SELECT user_id,
              |  epoch_ms(ts) - ((epoch_ms(ts) - 1704106800000) % 21600000) + 10800000 AS ts_ms,
              |  CAST(sign(sum(CAST(round(value*100) AS BIGINT))) AS BIGINT)
              |    * ((abs(sum(CAST(round(value*100) AS BIGINT))) * 20000 + 100 * count(value))
              |       // (200 * count(value))) / 10000.0 AS value
              |FROM events
              |WHERE epoch_ms(ts) >= ${T.From} AND epoch_ms(ts) <= ${T.To}
              |GROUP BY 1, 2""".stripMargin)
    ),
    // Exact per-series percentiles (p50/p90/p99) by the rank-interpolation
    // formulation — the oracle replays the identical arithmetic
    // (idx = p·(n−1); lo + f·(hi−lo)) instead of quantile_cont, so both
    // engines compute the same fp sequence on the round(4) grid.
    Q(
      "ts_percentile",
      (s, dir) =>
        TsAlgebra.percentiles(
          ev(s, dir), "user_id", "value",
          Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)),
      Some("""WITH r AS (SELECT user_id, CAST(value AS DOUBLE) v,
             |    row_number() OVER (PARTITION BY user_id ORDER BY value) rn,
             |    count(*) OVER (PARTITION BY user_id) n
             |  FROM events WHERE value IS NOT NULL),
             |a AS (SELECT user_id, max(n) AS n,
             |    max(CASE WHEN rn - 1 = floor(0.5 * (n-1)) THEN v END) lo50,
             |    max(CASE WHEN rn - 1 = floor(0.5 * (n-1)) + 1 THEN v END) hi50,
             |    max(0.5 * (n-1) - floor(0.5 * (n-1))) f50,
             |    max(CASE WHEN rn - 1 = floor(0.9 * (n-1)) THEN v END) lo90,
             |    max(CASE WHEN rn - 1 = floor(0.9 * (n-1)) + 1 THEN v END) hi90,
             |    max(0.9 * (n-1) - floor(0.9 * (n-1))) f90,
             |    max(CASE WHEN rn - 1 = floor(0.99 * (n-1)) THEN v END) lo99,
             |    max(CASE WHEN rn - 1 = floor(0.99 * (n-1)) + 1 THEN v END) hi99,
             |    max(0.99 * (n-1) - floor(0.99 * (n-1))) f99
             |  FROM r GROUP BY user_id)
             |SELECT user_id, n,
             |  round(CASE WHEN f50 = 0 THEN lo50 ELSE lo50 + f50 * (coalesce(hi50, lo50) - lo50) END, 4) AS p50,
             |  round(CASE WHEN f90 = 0 THEN lo90 ELSE lo90 + f90 * (coalesce(hi90, lo90) - lo90) END, 4) AS p90,
             |  round(CASE WHEN f99 = 0 THEN lo99 ELSE lo99 + f99 * (coalesce(hi99, lo99) - lo99) END, 4) AS p99
             |FROM a""".stripMargin)
    ),
    // Seasonal-trend decomposition (STL-lite) at period 24: centered-MA
    // trend, per-phase seasonal, residual — ALL in exact 4-dp fixed
    // point (centi-int inputs, sign-magnitude half-away integer means),
    // so the oracle replays the identical integer arithmetic and the
    // compare is bit-exact. Frames/ranks are stable: (user_id, ts) is
    // unique in events.
    Q(
      "ts_stl_decompose",
      (s, dir) =>
        TsAlgebra.stlDecompose(ev(s, dir), "user_id", "ts_ms", "value", period = 24)
          .select(
            col("user_id"), col("ts_ms"), col("value"), col("phase"),
            col("trend_fp"), col("seasonal_fp"), col("resid_fp")),
      Some(stlOracleSql)
    ),
    // The same decomposition through the SQL TVF surface —
    // stl_decompose('view', 24) plans the identical window chain,
    // proven by sharing ts_stl_decompose's oracle verbatim.
    Q(
      "ts_sql_stl",
      (s, dir) => {
        graft.functions.GraftExtensions.install(s)
        ev(s, dir).createOrReplaceTempView("graft_sqls_events")
        s.sql(
          """CREATE OR REPLACE TEMPORARY VIEW graft_sqls_pts AS
            |SELECT CAST(user_id AS STRING) AS seriesKey, ts_ms AS tsMs, value
            |FROM graft_sqls_events""".stripMargin)
        s.sql(
          """SELECT CAST(seriesKey AS BIGINT) AS user_id, tsMs AS ts_ms, value,
            |       phase, trend_fp, seasonal_fp, resid_fp
            |FROM stl_decompose('graft_sqls_pts', 24)""".stripMargin)
      },
      Some(stlOracleSql)
    ),
    // Trailing 7-sample moving aggregates per series — identical
    // ROWS-frame semantics on both engines. Frames are stable because
    // (user_id, ts) is unique in events (verified at every SF); inputs
    // with duplicate timestamps must resolve them first (F5 latest).
    Q(
      "ts_moving_agg",
      (s, dir) =>
        TsAlgebra.movingAgg(
          ev(s, dir), "user_id", "ts_ms", "value", window = 7, valueDecimals = Some(2))
          .select(
            col("user_id"), col("ts_ms"), col("value"),
            col("mov_avg"), col("mov_min"), col("mov_max"), col("mov_n")),
      Some("""SELECT user_id, epoch_ms(ts) AS ts_ms, value,
             |  CAST(sign(sum(CAST(round(value*100) AS BIGINT)) OVER w) AS BIGINT)
             |    * ((abs(sum(CAST(round(value*100) AS BIGINT)) OVER w) * 20000 + 100 * count(value) OVER w)
             |       // (200 * count(value) OVER w)) / 10000.0 AS mov_avg,
             |  min(value) OVER w AS mov_min,
             |  max(value) OVER w AS mov_max,
             |  count(*) OVER w AS mov_n
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
             |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin)
    ),
    // Pairwise Pearson correlation between daily-bucketed series (a < b),
    // over shared buckets. Both sides compute r = covar_pop/(σx·σy) with
    // the zero-variance guard (NULL, not NaN/crash); round(4) absorbs
    // aggregation-order ulp noise.
    Q(
      "ts_pairwise_corr",
      (s, dir) =>
        TsAlgebra.pairwiseCorr(
          ev(s, dir).select(col("user_id"), col("ts_ms"), col("value")).where(col("user_id") < 30),
          "user_id", "ts_ms", "value", bucketMs = T.Day, minBuckets = 5),
      Some(s"""WITH b AS (SELECT user_id, epoch_ms(ts) - epoch_ms(ts) % ${T.Day} bt, avg(value) bv
              |          FROM events WHERE user_id < 30 GROUP BY 1, 2)
              |SELECT x.user_id AS key_a, y.user_id AS key_b,
              |       count(*) AS n_buckets,
              |       round(CASE WHEN stddev_pop(x.bv) > 0 AND stddev_pop(y.bv) > 0
              |                  THEN covar_pop(x.bv, y.bv) / (stddev_pop(x.bv) * stddev_pop(y.bv))
              |             END, 4) + 0.0 AS pearson_r
              |FROM b x JOIN b y ON x.bt = y.bt AND x.user_id < y.user_id
              |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin)
    ),
    // Scale path for cross-series correlation: sign-sketch band-join
    // candidates (integer-deterministic bits, occupancy-capped buckets),
    // then EXACT Pearson r on the candidates only — sub-quadratic in the
    // series count where ts_pairwise_corr is K². The oracle replays every
    // stage (fixed-point sign bits, band signatures, cap, candidate join,
    // guarded corr) so the reported r hash-matches exactly.
    Q(
      "ts_top_corr_pairs",
      (s, dir) =>
        TsAlgebra.topCorrelatedPairs(
          ev(s, dir).select(col("user_id"), col("ts_ms"), col("value")).where(col("user_id") < 120),
          "user_id", "ts_ms", "value", bucketMs = T.Day, minBuckets = 5,
          nBands = 10, minBandMatches = 2, minAbsR = 0.3, maxBucket = 200),
      Some(topCorrOracleSql)
    ),
    // SQL TVF twin of ts_top_corr_pairs: the whole sign-sketch funnel
    // from a SQL string. Keys travel as ZERO-PADDED strings so the
    // funnel's key_a < key_b tie-break keeps numeric order (bare CAST
    // would flip pairs like ('100','2') lexicographically).
    Q(
      "ts_sql_topcorr",
      (s, dir) => {
        graft.functions.GraftExtensions.install(s)
        ev(s, dir).where(col("user_id") < 120).createOrReplaceTempView("graft_sqlc_events")
        s.sql(
          """CREATE OR REPLACE TEMPORARY VIEW graft_sqlc_pts AS
            |SELECT lpad(CAST(user_id AS STRING), 8, '0') AS seriesKey,
            |       ts_ms AS tsMs, value
            |FROM graft_sqlc_events""".stripMargin)
        s.sql(
          s"""SELECT CAST(key_a AS BIGINT) AS key_a, CAST(key_b AS BIGINT) AS key_b,
             |       band_matches, n_buckets, pearson_r
             |FROM top_corr_pairs('graft_sqlc_pts', ${T.Day}, 5, 10, 2, 0.3)""".stripMargin)
      },
      Some(topCorrOracleSql)
    ),
    // Gap-filled hourly grid with last-observation-carried-forward: no fp
    // arithmetic (max per bucket, values copied), so bit-exact on both
    // engines. Hour buckets leave real gaps in the event series.
    Q(
      "ts_gapfill",
      (s, dir) =>
        TsAlgebra.gapFill(ev(s, dir), "user_id", "ts_ms", "value", bucketMs = 3600000L),
      Some("""WITH e AS (SELECT user_id, epoch_ms(ts) tm, value FROM events),
             |b AS (SELECT user_id, tm - tm % 3600000 AS bt, count(*) n, max(value) vmax
             |      FROM e GROUP BY 1, 2),
             |s AS (SELECT user_id, min(bt) mn, max(bt) mx FROM b GROUP BY 1),
             |grid AS (SELECT user_id, unnest(range(mn, mx + 3600000, 3600000)) bt FROM s),
             |j AS (SELECT g.user_id, g.bt, b.n, b.vmax
             |      FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.bt = b.bt)
             |SELECT user_id, bt AS ts_ms,
             |  coalesce(n, 0) AS n_points,
             |  last_value(vmax IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY bt ROWS UNBOUNDED PRECEDING) AS value_ff,
             |  n IS NULL AS is_gap
             |FROM j""".stripMargin)
    ),
    // Linear-interpolation gap fill: absent buckets ramp between the
    // bracketing observations (LOCF's smooth sibling). The interpolation
    // weight is integer bucket arithmetic; the final three fp ops are
    // written identically in both engines.
    Q(
      "ts_gapfill_linear",
      (s, dir) =>
        TsAlgebra.gapFillLinear(ev(s, dir), "user_id", "ts_ms", "value", bucketMs = 3600000L),
      Some("""WITH e AS (SELECT user_id, epoch_ms(ts) tm, value FROM events),
             |b AS (SELECT user_id, tm - tm % 3600000 AS bt, count(*) n,
             |        CAST(floor(max(value) * 1000 + 0.5) AS BIGINT) vpts
             |      FROM e GROUP BY 1, 2),
             |s AS (SELECT user_id, min(bt) mn, max(bt) mx FROM b GROUP BY 1),
             |grid AS (SELECT user_id, unnest(range(mn, mx + 3600000, 3600000)) bt FROM s),
             |j AS (SELECT g.user_id, g.bt, b.n, b.vpts
             |      FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.bt = b.bt),
             |w AS (SELECT user_id, bt, n, vpts,
             |        last_value(vpts IGNORE NULLS) OVER
             |          (PARTITION BY user_id ORDER BY bt ROWS UNBOUNDED PRECEDING) pv,
             |        last_value(CASE WHEN n IS NOT NULL THEN bt END IGNORE NULLS) OVER
             |          (PARTITION BY user_id ORDER BY bt ROWS UNBOUNDED PRECEDING) pt,
             |        first_value(vpts IGNORE NULLS) OVER
             |          (PARTITION BY user_id ORDER BY bt
             |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nv,
             |        first_value(CASE WHEN n IS NOT NULL THEN bt END IGNORE NULLS) OVER
             |          (PARTITION BY user_id ORDER BY bt
             |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nt
             |      FROM j),
             |ip AS (SELECT user_id, bt, n,
             |         CASE WHEN n IS NOT NULL THEN vpts
             |              WHEN pv IS NULL THEN nv
             |              WHEN nv IS NULL THEN pv
             |              ELSE pv + ((nv - pv) * (bt - pt)) // (nt - pt)
             |         END ipts
             |       FROM w)
             |SELECT user_id, bt AS ts_ms, coalesce(n, 0) AS n_points,
             |  round(ipts / 1000.0, 4) AS value_interp,
             |  n IS NULL AS is_gap
             |FROM ip""".stripMargin)
    ),
    // OHLC resample: duplicate timestamps collapse to their max value
    // FIRST (deterministic — min_by/max_by over a duplicated key would
    // depend on encounter order), then one bucketed pass composes open
    // (value at min ts), high, low, close (value at max ts) and the RAW
    // point count.
    Q(
      "ts_resample_ohlc",
      (s, dir) =>
        ev(s, dir)
          .groupBy(col("user_id"), col("ts_ms"))
          .agg(max(col("value")).as("value"), count(lit(1)).as("_c"))
          .groupBy(col("user_id"), (col("ts_ms") - col("ts_ms") % 86400000L).as("bucket_ms"))
          .agg(
            min_by(col("value"), col("ts_ms")).as("open"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            max_by(col("value"), col("ts_ms")).as("close"),
            sum(col("_c")).as("n_points")),
      Some("""WITH e AS (SELECT user_id, epoch_ms(ts) tm, max(value) AS value, count(*) c
             |           FROM events GROUP BY 1, 2)
             |SELECT user_id, tm - tm % 86400000 AS bucket_ms,
             |  arg_min(value, tm) AS open,
             |  max(value) AS high,
             |  min(value) AS low,
             |  arg_max(value, tm) AS close,
             |  CAST(sum(c) AS BIGINT) AS n_points
             |FROM e GROUP BY 1, 2""".stripMargin)
    ),
    // Exact higher moments: integer milli-unit power sums (DECIMAL(38)),
    // moment algebra in multiply/divide/sqrt only — deterministic at any
    // partitioning, unlike the built-in fp-streaming skewness/kurtosis.
    Q(
      "ts_agg_moments",
      (s, dir) => TsAlgebra.moments(ev(s, dir), "user_id", "value"),
      Some("""WITH e AS (SELECT user_id, CAST(floor(value * 1000 + 0.5) AS HUGEINT) p FROM events),
             |a AS (SELECT user_id, CAST(count(*) AS HUGEINT) n, sum(p) s1, sum(p*p) s2, sum(p*p*p) s3,
             |        sum(p*p*p*p) s4 FROM e GROUP BY 1),
             |c AS (SELECT user_id, n, s1, s2,
             |        n*s2 - s1*s1 a2,
             |        n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1 b3,
             |        n*n*n*s4 - 4*n*n*s1*s3 + 6*n*s1*s1*s2 - 3*s1*s1*s1*s1 c4
             |      FROM a)
             |SELECT user_id, CAST(n AS BIGINT) AS n,
             |  CAST(s1 AS BIGINT) AS s1_pts,
             |  CAST(s2 AS BIGINT) AS s2_pts,
             |  CASE WHEN a2 > 0 THEN round(CAST(b3 AS DOUBLE) / (CAST(a2 AS DOUBLE) * sqrt(CAST(a2 AS DOUBLE))), 4) + 0.0 END AS skewness,
             |  CASE WHEN a2 > 0 THEN round(CAST(c4 AS DOUBLE) / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE)) - 3, 4) + 0.0 END AS kurtosis_excess
             |FROM c""".stripMargin)
    ),
    // Exact per-series autocorrelation, lags 1..8: centi-int power/cross
    // sums in DECIMAL(38)/HUGEINT, integer estimator algebra, ONE final
    // double division — deterministic at any partitioning (see
    // TsAlgebra.acf). (user_id, ts) is unique in events, so the lag
    // window is stable.
    Q(
      "ts_acf",
      (s, dir) => TsAlgebra.acf(ev(s, dir), "user_id", "ts_ms", "value", maxLag = acfK),
      Some(acfOracleSql)),
    // Per-series periodogram over the period grid 2..24: spectral power
    // of the mean-centered series at frequency 1/P — the dominant-cycle
    // report that picks stlDecompose's period. Exact-integer centering
    // (dm = vm·n − S), identical θ/power expression text on both sides;
    // round(2) sits 5 orders above the residual libm/summation noise.
    Q(
      "ts_periodogram",
      (s, dir) => TsAlgebra.periodogram(ev(s, dir), "user_id", "ts_ms", "value", periods = pgPeriods),
      Some(pgOracleSql)),
    // Per-series dominant period: argmax over the ROUNDED periodogram
    // power with a total tie-break (power DESC, period ASC) — the rank
    // runs on the already-deterministic round(2) grid, so the winner is
    // engine-independent even when a flat series ties every candidate
    // at 0.00.
    Q(
      "ts_dominant_period",
      (s, dir) => TsAlgebra.dominantPeriod(ev(s, dir), "user_id", "ts_ms", "value", pgPeriods),
      Some(s"""WITH pg AS ($pgOracleSql)
              |SELECT user_id, n, CAST(period AS INT) AS dominant_period, spec_power
              |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
              |        ORDER BY spec_power DESC, period ASC) rk FROM pg)
              |WHERE rk = 1""".stripMargin)
    ),
    // TS.CREATERULE-shaped multi-resolution rollup, computed as a CASCADE
    // (hour from raw, day from the hour rollup, week from the day rollup)
    // — the oracle aggregates each resolution directly from raw, which
    // the cascade must match bit-exactly (associative integer sums,
    // min/max, and the shared fixed-decimal mean).
    Q(
      "ts_rollup_cascade",
      (s, dir) =>
        TsAlgebra.rollupCascade(ev(s, dir), "user_id", "ts_ms", "value", rollupBuckets),
      Some(rollupOracleSql)),
    // Seasonal/trend strength per series (Hyndman's STL variance
    // ratios, exact fixed-point): which series deserve a seasonal model.
    // sr = seasonal+resid = dt (detrended), tr = trend+resid =
    // vm·100 − seasonal_fp (deseasonalized) — the oracle reuses the
    // shared STL chain and the identical HUGEINT variance algebra.
    Q(
      "ts_seasonal_strength",
      (s, dir) =>
        TsAlgebra.seasonalStrength(ev(s, dir), "user_id", "ts_ms", "value", period = 24),
      Some(seasonalStrengthOracleSql)
    ),
    // The same strength report through the SQL TVF surface — proven by
    // sharing ts_seasonal_strength's oracle verbatim.
    Q(
      "ts_sql_seasonal",
      (s, dir) => {
        graft.functions.GraftExtensions.install(s)
        ev(s, dir).createOrReplaceTempView("graft_sqlss_events")
        s.sql(
          """CREATE OR REPLACE TEMPORARY VIEW graft_sqlss_pts AS
            |SELECT CAST(user_id AS STRING) AS seriesKey, ts_ms AS tsMs, value
            |FROM graft_sqlss_events""".stripMargin)
        s.sql(
          """SELECT CAST(seriesKey AS BIGINT) AS user_id, n_points,
            |       season_strength_milli, trend_strength_milli,
            |       season_strength, trend_strength
            |FROM seasonal_strength('graft_sqlss_pts', 24)""".stripMargin)
      },
      Some(seasonalStrengthOracleSql)
    ),
    // Best changepoint per series by depth-1 binary segmentation:
    // retrospective "where did the level shift" (CUSUM's stored-data
    // complement). Winner = max_by over (gain_micro, -ts) where
    // gain_micro is the truncated integer between-variance — argmax
    // engine-exact even at post-truncation ties.
    Q(
      "ts_changepoint",
      (s, dir) => TsAlgebra.changepoint(ev(s, dir), "user_id", "ts_ms", "value"),
      Some(changepointOracleSql)
    ),
    // The same changepoint through the SQL TVF surface —
    // changepoint('view') plans the identical window chain, proven by
    // sharing ts_changepoint's oracle verbatim.
    Q(
      "ts_sql_changepoint",
      (s, dir) => {
        graft.functions.GraftExtensions.install(s)
        ev(s, dir).createOrReplaceTempView("graft_sqlc_events")
        s.sql(
          """CREATE OR REPLACE TEMPORARY VIEW graft_sqlc_pts AS
            |SELECT CAST(user_id AS STRING) AS seriesKey, ts_ms AS tsMs, value
            |FROM graft_sqlc_events""".stripMargin)
        s.sql(
          """SELECT CAST(seriesKey AS BIGINT) AS user_id, split_ts_ms,
            |       n_left, n_right, left_mean, right_mean, gain_micro
            |FROM changepoint('graft_sqlc_pts')""".stripMargin)
      },
      Some(changepointOracleSql)
    ),
    // Gorilla-style compressed-size estimate per series (the reference's
    // Redis TS backend stores delta-of-delta compressed chunks): DoD
    // bucket bits for timestamps, integer first-difference buckets for
    // centi values — the storage-planning report, exact integers on both
    // engines. Bucket edges and the first/second-point costs are in
    // TsAlgebra.compressEstimate's doc.
    Q(
      "ts_compress_estimate",
      (s, dir) => TsAlgebra.compressEstimate(ev(s, dir), "user_id", "ts_ms", "value"),
      Some("""WITH e AS (SELECT user_id, epoch_ms(ts) t, CAST(round(value*100, 0) AS BIGINT) vc
             |           FROM events),
             |l1 AS (SELECT user_id, t, vc, t - lag(t) OVER w dt, vc - lag(vc) OVER w dv
             |       FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
             |l2 AS (SELECT user_id, dt, dv,
             |         dt - lag(dt) OVER (PARTITION BY user_id ORDER BY t) dod
             |       FROM l1),
             |b AS (SELECT user_id,
             |        CASE WHEN dt IS NULL THEN 64 WHEN dod IS NULL THEN 36
             |             WHEN dod = 0 THEN 1
             |             WHEN dod BETWEEN -63 AND 64 THEN 9
             |             WHEN dod BETWEEN -255 AND 256 THEN 12
             |             WHEN dod BETWEEN -2047 AND 2048 THEN 16 ELSE 36 END tb,
             |        CASE WHEN dv IS NULL THEN 64
             |             WHEN dv = 0 THEN 1
             |             WHEN dv BETWEEN -63 AND 64 THEN 9
             |             WHEN dv BETWEEN -511 AND 512 THEN 13
             |             WHEN dv BETWEEN -4095 AND 4096 THEN 17 ELSE 36 END vb
             |      FROM l2),
             |g AS (SELECT user_id, CAST(count(*) AS BIGINT) n_points,
             |        CAST(sum(tb) AS BIGINT) ts_bits, CAST(sum(vb) AS BIGINT) val_bits
             |      FROM b GROUP BY 1)
             |SELECT user_id, n_points, ts_bits, val_bits,
             |       CAST((ts_bits + val_bits + 7) // 8 AS BIGINT) AS bytes_est,
             |       CAST(n_points * 16 AS BIGINT) AS bytes_raw,
             |       CAST((((ts_bits + val_bits + 7) // 8) * 1000) // (n_points * 16) AS BIGINT)
             |         AS ratio_milli
             |FROM g""".stripMargin))
  )
}
