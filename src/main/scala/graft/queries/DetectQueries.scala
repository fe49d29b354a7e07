package graft.queries

import graft.Tables
import graft.config.{Constants, DetectorConfig, TsQueryConfig}
import graft.detect.Detectors
import graft.model.TsSample
import graft.ts.{TsAlgebra, TsCols}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.4 — the anomaly-detection operator suite (D0–D16) on the
  * `events` table, with DuckDB oracles. The EMA recurrences are verified
  * against recursive-CTE oracles computing the identical fp sequence.
  */
object DetectQueries {

  private val cols = TsCols(key = "user_id", ts = "ts_ms", value = "value", seq = Some("event_id"))

  /** events → guarded Dataset[TsSample] (D0 min-cardinality gate).
    * The engine's series key is a string (reference keys are Redis key
    * strings); events.user_id enters as its string form and leaves via
    * `keyAsLong` so oracle schemas keep the table's BIGINT type.
    */
  private def pts(s: SparkSession, dir: String): Dataset[TsSample] = {
    import s.implicits._
    Detectors
      .minPointsGuard(
        Tables.events(s, dir)
          .select(
            col("user_id").cast("string").as("seriesKey"),
            col("ts_ms").as("tsMs"), col("value"))
          .as[TsSample])
      .as[TsSample]
  }

  private def keyAsLong = col("seriesKey").cast("long")

  private def asOut(scores: DataFrame): DataFrame =
    scores.select(
      keyAsLong.as("user_id"),
      col("tsMs").as("ts_ms"),
      col("value"),
      round(col("score"), 4).as("score"))

  // ---- shared oracle CTE fragments (must mirror the Scala fp-op order) ----

  /** D0-guarded points, with a pluggable series-key expression (the
    * string-key query derives `'u' || user_id`).
    */
  private def ptsCteFor(keyExpr: String) =
    s"""pts AS (
       |  SELECT k, ts_ms, v FROM (
       |    SELECT $keyExpr k, epoch_ms(ts) ts_ms, value v,
       |           count(*) OVER (PARTITION BY user_id) n
       |    FROM events)
       |  WHERE n >= 4),
       |rpts AS (SELECT k, ts_ms, v, row_number() OVER (PARTITION BY k ORDER BY ts_ms) rn FROM pts)""".stripMargin

  private val ptsCte = ptsCteFor("user_id")

  /** D2 exp_avg: ema recurrence + |v-ema|/stddev_pop(values). */
  private val escoreCte =
    """ema AS (
      |  SELECT k, ts_ms, v, rn, v AS ema FROM rpts WHERE rn = 1
      |  UNION ALL
      |  SELECT p.k, p.ts_ms, p.v, p.rn, 0.2*p.v + (1 - 0.2)*e.ema
      |  FROM rpts p JOIN ema e ON p.k = e.k AND p.rn = e.rn + 1),
      |vsd AS (SELECT k, stddev_pop(v) sd FROM pts GROUP BY k),
      |escore AS (
      |  SELECT e.k, e.ts_ms, e.v,
      |         CASE WHEN s.sd > 0 THEN abs((e.v - e.ema)/s.sd) ELSE e.v - e.ema END AS score
      |  FROM ema e JOIN vsd s ON e.k = s.k)""".stripMargin

  /** D3 derivative: |Δv/Δt_s| with d_0 := d_1, ema, |d-ema|/stddev_pop(dev). */
  /** Holt-Winters (m = 4) recursive CTE over `src` (a (k, ts_ms, v, rn)
    * relation): carries (l, b, s0..s3, dev) with the HoltWintersKernel's
    * exact expression text — the seasonal slot is a CASE over (rn−1) mod
    * 4, the level update appears VERBATIM inside the trend and seasonal
    * updates (identical fp sequence — the Holt-oracle trick one state
    * wider). Lines are '|'-joined for the caller's stripMargin.
    */
  private def hwRecursionSql(src: String): String = {
    // sj = seasonal slot read BEFORE update; l1 = level update text
    val sj = "CASE (p.rn-1)%4 WHEN 0 THEN h.s0 WHEN 1 THEN h.s1 WHEN 2 THEN h.s2 ELSE h.s3 END"
    val l1 = s"0.2*(p.v - ($sj)) + (1 - 0.2)*(h.l + h.b)"
    val sCols = (0 to 3).map(j =>
      s"CASE WHEN (p.rn-1)%4 = $j THEN 0.3*(p.v - ($l1)) + (1 - 0.3)*h.s$j ELSE h.s$j END")
    (Seq(
      "hw AS (",
      "  SELECT k, ts_ms, v, rn, v AS l, CAST(0 AS DOUBLE) b,",
      "         CAST(0 AS DOUBLE) s0, CAST(0 AS DOUBLE) s1,",
      "         CAST(0 AS DOUBLE) s2, CAST(0 AS DOUBLE) s3,",
      "         CAST(0 AS DOUBLE) dev",
      s"  FROM $src WHERE rn = 1",
      "  UNION ALL",
      "  SELECT p.k, p.ts_ms, p.v, p.rn,",
      s"         $l1,",
      s"         0.1*(($l1) - h.l) + (1 - 0.1)*h.b,") ++
      sCols.map(c => s"         $c,") ++
      Seq(
        s"         p.v - (h.l + h.b + ($sj))",
        s"  FROM $src p JOIN hw h ON p.k = h.k AND p.rn = h.rn + 1)")).mkString("\n|")
  }

  /** Generalized-ESD oracle rounds g/j/c/a 1..k over the centi-int table
    * `a0(k, ts_ms, v, vc)` — each round mirrors `Detectors.esdOutliers`:
    * per-series HUGEINT (n, Σv, Σv²) over the REMAINING points with the
    * n ≥ 4 re-guard, max-|n·v − S| candidate (ts tie-break), removal via
    * rn > 1. Lines '|'-joined for the caller's stripMargin.
    */
  private def esdIterCte(k: Int): String =
    (1 to k).map { i =>
      Seq(
        s"g$i AS (SELECT k, CAST(count(*) AS HUGEINT) n, sum(vc) s1, sum(vc*vc) q",
        s"        FROM a${i - 1} GROUP BY k HAVING count(*) >= ${Constants.MinPoints}),",
        s"j$i AS (SELECT a.k, a.ts_ms, a.v, a.vc, g.n, g.s1, g.q,",
        s"          abs(g.n * a.vc - g.s1) dev,",
        s"          row_number() OVER (PARTITION BY a.k ORDER BY abs(g.n * a.vc - g.s1) DESC, a.ts_ms) rn",
        s"        FROM a${i - 1} a JOIN g$i g ON a.k = g.k),",
        s"c$i AS (SELECT k, ts_ms, v, $i iter, dev*dev num, n*q - s1*s1 den FROM j$i WHERE rn = 1),",
        s"a$i AS (SELECT k, ts_ms, v, vc FROM j$i WHERE rn > 1)"
      ).mkString("\n|")
    }.mkString(",\n|")

  /** anomaly_esd / anomaly_sql_esd shared oracle: centi-int points,
    * three unrolled ESD rounds, Rosner maxI flag rule.
    */
  /** ts_asof_forward / ts_sql_asof shared oracle: DuckDB's native ASOF
    * with the comparison flipped, against the end-of-day daily-avg
    * baseline.
    */
  private lazy val asofForwardOracleSql: String =
    s"""WITH daily AS (
       |  SELECT user_id k, (epoch_ms(ts) - epoch_ms(ts) % ${T.Day}) + ${T.Day} AS tm,
       |       $exactDailyAvgSql bv
       |  FROM events GROUP BY user_id, epoch_ms(ts) - epoch_ms(ts) % ${T.Day}),
       |pts AS (SELECT user_id k, epoch_ms(ts) ts_ms, value v FROM events),
       |j AS (SELECT p.k, p.ts_ms, p.v, d.bv
       |      FROM pts p ASOF JOIN daily d ON p.k = d.k AND p.ts_ms <= d.tm)
       |SELECT k AS user_id, ts_ms, v AS value, bv AS baseline FROM j""".stripMargin

  private lazy val esdOracleSql: String =
    s"""WITH a0 AS (SELECT user_id k, epoch_ms(ts) ts_ms, value v,
       |             CAST(round(value * 100, 0) AS HUGEINT) vc FROM events),
       |${esdIterCte(3)},
       |cand AS (SELECT k, ts_ms, v, iter, (den > 0 AND num > 9*den) test,
       |           CASE WHEN den > 0 THEN (num * 1000000) // den ELSE 0 END r2m
       |         FROM (${(1 to 3).map(i => s"SELECT * FROM c$i").mkString(" UNION ALL ")})),
       |mi AS (SELECT k, max(CASE WHEN test THEN iter ELSE 0 END) max_i FROM cand GROUP BY k)
       |SELECT cand.k AS user_id, cand.ts_ms, cand.v AS value,
       |       CAST(cand.iter AS INT) AS iter, CAST(cand.r2m AS BIGINT) AS r2_micro
       |FROM cand JOIN mi ON cand.k = mi.k WHERE cand.iter <= mi.max_i""".stripMargin

  private val dscoreCte =
    """dv AS (
      |  SELECT k, ts_ms, v, rn,
      |    CASE WHEN (ts_ms - lag(ts_ms) OVER w) <> 0
      |         THEN abs((v - lag(v) OVER w) / ((ts_ms - lag(ts_ms) OVER w) / 1000.0))
      |         ELSE abs(v - lag(v) OVER w) END AS d_raw
      |  FROM rpts WINDOW w AS (PARTITION BY k ORDER BY rn)),
      |dfix AS (SELECT k, ts_ms, v, rn,
      |  CASE WHEN rn = 1 THEN lead(d_raw) OVER (PARTITION BY k ORDER BY rn) ELSE d_raw END AS d
      |  FROM dv),
      |dema AS (
      |  SELECT k, ts_ms, v, rn, d, d AS ema FROM dfix WHERE rn = 1
      |  UNION ALL
      |  SELECT p.k, p.ts_ms, p.v, p.rn, p.d, 0.2*p.d + (1 - 0.2)*e.ema
      |  FROM dfix p JOIN dema e ON p.k = e.k AND p.rn = e.rn + 1),
      |draw AS (SELECT k, ts_ms, v, abs(d - ema) AS dev FROM dema),
      |dsd AS (SELECT k, stddev_pop(dev) sd FROM draw GROUP BY k),
      |dscore AS (SELECT r.k, r.ts_ms, r.v,
      |  CASE WHEN s.sd > 0 THEN r.dev / s.sd ELSE r.dev END AS score
      |  FROM draw r JOIN dsd s ON r.k = s.k)""".stripMargin

  /** D11+D12 on derivative scores: percent-of-max threshold + run-length
    * sessionization.
    */
  private val windowsCte =
    """mx AS (SELECT k, max(score) m FROM dscore GROUP BY k),
      |hot AS (SELECT s.k, s.ts_ms, s.score, s.score > 0.2 * x.m AS is_hot
      |        FROM dscore s JOIN mx x ON s.k = x.k),
      |runs AS (SELECT k, ts_ms, score, is_hot,
      |         sum(CASE WHEN is_hot THEN 0 ELSE 1 END) OVER (PARTITION BY k ORDER BY ts_ms) grp
      |         FROM hot),
      |wins AS (
      |  SELECT k, grp, min(ts_ms) start_ms, max(ts_ms) end_ms,
      |         max(score) mscore, arg_max(ts_ms, score) exact_ms
      |  FROM runs WHERE is_hot GROUP BY k, grp)""".stripMargin

  /** Daily-average series with its one-day-lagged self as baseline (D7/D8
    * baseline join).
    */
  /** Exact day-bucket average, 4-decimal half-away-from-zero in INTEGER
    * domain (cent sums; r = sign(sc)·⌊(|sc|·10⁴ + d/2)/d⌋, d = 100·n —
    * sign-magnitude because integer DIV truncates toward zero in both
    * engines) — the true mean of cent values lands exactly on the
    * 4-decimal half-way point often enough (sf0.1: user 522) that double
    * `avg` + `round` diverges between engines (Spark rounds the binary
    * expansion, DuckDB the shortest decimal repr). Identical formula in
    * `dailyCte` and `TsQueries`' ts_agg_avg.
    */
  private def exactDailyAvg(s: SparkSession, dir: String): DataFrame =
    TsAlgebra.query(
      Tables.events(s, dir),
      TsQueryConfig(
        aggregationType = Some("avg"), bucketSizeMs = Some(T.Day), valueDecimals = Some(2)),
      cols)

  private val exactDailyAvgSql =
    """CAST(sign(sum(CAST(round(value*100) AS BIGINT))) AS BIGINT)
      |  * ((abs(sum(CAST(round(value*100) AS BIGINT))) * 20000 + 100 * count(value))
      |       // (200 * count(value))) / 10000.0""".stripMargin

  private val dailyCte =
    s"""daily AS (SELECT user_id k, epoch_ms(ts) - epoch_ms(ts) % 86400000 tm,
      |       $exactDailyAvgSql v
      |          FROM events GROUP BY 1, 2),
      |j AS (SELECT c.k, c.tm, c.v, p.v bv
      |      FROM daily c JOIN daily p ON c.k = p.k AND c.tm = p.tm + 86400000)""".stripMargin

  private def dailyWithBaseline(s: SparkSession, dir: String): (Dataset[TsSample], DataFrame) = {
    import s.implicits._
    val daily = exactDailyAvg(s, dir)
    val p = daily
      .select(col("user_id").cast("string").as("seriesKey"), col("ts_ms").as("tsMs"), col("value"))
      .as[TsSample]
    val baseline = daily.select(
      col("user_id").cast("string").as("seriesKey"),
      (col("ts_ms") + T.Day).as("tsMs"),
      col("value").as("baseline"))
    (p, baseline)
  }

  val all: Seq[Q] = Seq(
    // D6 absolute_threshold — pure expression, exact match (no rounding)
    Q(
      "anomaly_absolute_threshold",
      (s, dir) =>
        Detectors
          .absoluteThresholdScores(pts(s, dir), upper = Some(150.0), lower = Some(1.0))
          .select(
            keyAsLong.as("user_id"), col("tsMs").as("ts_ms"), col("value"), col("score")),
      Some(s"""WITH $ptsCte
              |SELECT k AS user_id, ts_ms, v AS value,
              |       greatest(v - 150.0, 1.0 - v, 0.0) AS score
              |FROM pts""".stripMargin)
    ),
    // D2 exp_avg scores
    Q(
      "anomaly_exp_avg_scores",
      (s, dir) => asOut(Detectors.expAvgScores(pts(s, dir))),
      Some(s"""WITH RECURSIVE $ptsCte, $escoreCte
              |SELECT k AS user_id, ts_ms, v AS value, round(score, 4) AS score FROM escore""".stripMargin)
    ),
    // D3 derivative scores (the reference default algorithm)
    Q(
      "anomaly_derivative_scores",
      (s, dir) => asOut(Detectors.derivativeScores(pts(s, dir))),
      Some(s"""WITH RECURSIVE $ptsCte, $dscoreCte
              |SELECT k AS user_id, ts_ms, v AS value, round(score, 4) AS score FROM dscore""".stripMargin)
    ),
    // D5 default_detector: significance-gated combine of D2 + D3
    Q(
      "anomaly_default_scores",
      (s, dir) => asOut(Detectors.defaultScores(pts(s, dir))),
      Some(
        s"""WITH RECURSIVE $ptsCte, $escoreCte, $dscoreCte
           |SELECT e.k AS user_id, e.ts_ms, e.v AS value,
           |  round(CASE WHEN e.score > 0.94 THEN greatest(e.score, d.score)
           |             ELSE e.score * 0.65 END, 4) AS score
           |FROM escore e JOIN dscore d ON e.k = d.k AND e.ts_ms = d.ts_ms""".stripMargin)
    ),
    // The SQL surface (SURVEY §7.4): the ENTIRE D5 default-detector
    // pipeline from pure SQL strings — the fold recurrences enter through
    // the exp_avg_fold/derivative_fold TABLE functions (KeyedFoldNode
    // under the hood, same plan as the Scala API), guard + normalization +
    // combine are plain SQL. Oracle = the D5 recursive-CTE oracle.
    Q(
      "anomaly_sql_surface",
      (s, dir) => {
        graft.functions.GraftExtensions.install(s)
        Tables.events(s, dir).createOrReplaceTempView("graft_sql_events")
        s.sql(
          s"""CREATE OR REPLACE TEMPORARY VIEW graft_sql_pts AS
             |SELECT CAST(user_id AS STRING) AS seriesKey, ts_ms AS tsMs, value
             |FROM (SELECT user_id, ts_ms, value,
             |             count(*) OVER (PARTITION BY user_id) AS n
             |      FROM graft_sql_events)
             |WHERE n >= ${Constants.MinPoints}""".stripMargin)
        s.sql(
          s"""WITH ef AS (SELECT * FROM exp_avg_fold('graft_sql_pts', ${Constants.DefaultSmoothingFactor})),
             |df AS (SELECT * FROM derivative_fold('graft_sql_pts', ${Constants.DefaultSmoothingFactor})),
             |vsd AS (SELECT seriesKey, stddev_pop(value) AS sd FROM graft_sql_pts GROUP BY seriesKey),
             |es AS (SELECT f.seriesKey, f.tsMs, f.value,
             |              CASE WHEN s.sd > 0 THEN abs(f.dev / s.sd) ELSE f.dev END AS score
             |       FROM ef f JOIN vsd s ON f.seriesKey = s.seriesKey),
             |dsd AS (SELECT seriesKey, stddev_pop(dev) AS sd FROM df GROUP BY seriesKey),
             |ds AS (SELECT f.seriesKey, f.tsMs,
             |              CASE WHEN s.sd > 0 THEN f.dev / s.sd ELSE f.dev END AS score
             |       FROM df f JOIN dsd s ON f.seriesKey = s.seriesKey)
             |SELECT CAST(e.seriesKey AS BIGINT) AS user_id, e.tsMs AS ts_ms, e.value,
             |       round(CASE WHEN e.score > ${Constants.DefaultDetectorEmaSignificant}
             |                  THEN greatest(e.score, d.score)
             |                  ELSE e.score * ${Constants.DefaultDetectorEmaWeight} END, 4) AS score
             |FROM es e JOIN ds d ON e.seriesKey = d.seriesKey AND e.tsMs = d.tsMs""".stripMargin)
      },
      Some(
        s"""WITH RECURSIVE $ptsCte, $escoreCte, $dscoreCte
           |SELECT e.k AS user_id, e.ts_ms, e.v AS value,
           |  round(CASE WHEN e.score > 0.94 THEN greatest(e.score, d.score)
           |             ELSE e.score * 0.65 END, 4) AS score
           |FROM escore e JOIN dscore d ON e.k = d.k AND e.ts_ms = d.ts_ms""".stripMargin)
    ),
    // The NEW detectors' SQL surface: the whole CUSUM pipeline from pure
    // SQL strings — per-series moments as plain GROUP BY + join, the
    // clamped accumulation through the cusum_fold TVF (same KeyedFoldNode
    // as the Scala path). Oracle = the batch CUSUM recursion.
    Q(
      "anomaly_sql_cusum",
      (s, dir) => {
        graft.functions.GraftExtensions.install(s)
        Tables.events(s, dir).createOrReplaceTempView("graft_sqlc_events")
        s.sql(
          s"""CREATE OR REPLACE TEMPORARY VIEW graft_sqlc_pts AS
             |SELECT CAST(user_id AS STRING) AS seriesKey, ts_ms AS tsMs, value
             |FROM (SELECT user_id, ts_ms, value,
             |             count(*) OVER (PARTITION BY user_id) AS n
             |      FROM graft_sqlc_events)
             |WHERE n >= ${Constants.MinPoints}""".stripMargin)
        s.sql(
          s"""CREATE OR REPLACE TEMPORARY VIEW graft_sqlc_stat AS
             |SELECT p.seriesKey, p.tsMs, p.value, s.mu, s.sd
             |FROM graft_sqlc_pts p JOIN (
             |  SELECT seriesKey, avg(value) AS mu, stddev_pop(value) AS sd
             |  FROM graft_sqlc_pts GROUP BY seriesKey) s
             |ON p.seriesKey = s.seriesKey""".stripMargin)
        s.sql(
          s"""SELECT CAST(seriesKey AS BIGINT) AS user_id, tsMs AS ts_ms, value,
             |       round(dev, 4) AS score
             |FROM cusum_fold('graft_sqlc_stat', ${Constants.CusumSlack})""".stripMargin)
      },
      Some(s"""WITH RECURSIVE $ptsCte,
              |vstat AS (SELECT k, avg(v) mu, stddev_pop(v) sd FROM pts GROUP BY k),
              |zp AS (SELECT r.k, r.ts_ms, r.v, r.rn,
              |         CASE WHEN s.sd > 0 THEN (r.v - s.mu)/s.sd ELSE r.v - s.mu END z
              |       FROM rpts r JOIN vstat s ON r.k = s.k),
              |cus AS (
              |  SELECT k, ts_ms, v, rn,
              |         greatest(0, 0 + z - 0.5) sp, greatest(0, 0 - z - 0.5) sn
              |  FROM zp WHERE rn = 1
              |  UNION ALL
              |  SELECT p.k, p.ts_ms, p.v, p.rn,
              |         greatest(0, c.sp + p.z - 0.5), greatest(0, c.sn - p.z - 0.5)
              |  FROM zp p JOIN cus c ON p.k = c.k AND p.rn = c.rn + 1)
              |SELECT k AS user_id, ts_ms, v AS value,
              |       round(greatest(sp, sn), 4) AS score FROM cus""".stripMargin)
    ),
    // The Holt-Winters pipeline as pure SQL: D0 guard + hw_fold TVF
    // (same KeyedFoldNode as the Scala path) + the exp_avg normalization
    // as a relational join — SQL users get the seasonal detector without
    // touching Scala. Oracle = the batch HW recursion.
    Q(
      "anomaly_sql_hw",
      (s, dir) => {
        graft.functions.GraftExtensions.install(s)
        Tables.events(s, dir).createOrReplaceTempView("graft_sqlh_events")
        s.sql(
          s"""CREATE OR REPLACE TEMPORARY VIEW graft_sqlh_pts AS
             |SELECT CAST(user_id AS STRING) AS seriesKey, ts_ms AS tsMs, value
             |FROM (SELECT user_id, ts_ms, value,
             |             count(*) OVER (PARTITION BY user_id) AS n
             |      FROM graft_sqlh_events)
             |WHERE n >= ${Constants.MinPoints}""".stripMargin)
        s.sql(
          s"""WITH sd AS (SELECT seriesKey, stddev_pop(value) AS sd
             |            FROM graft_sqlh_pts GROUP BY seriesKey)
             |SELECT CAST(f.seriesKey AS BIGINT) AS user_id, f.tsMs AS ts_ms, f.value,
             |       round(CASE WHEN s.sd > 0 THEN abs(f.dev / s.sd) ELSE f.dev END, 4) AS score
             |FROM hw_fold('graft_sqlh_pts') f JOIN sd s ON f.seriesKey = s.seriesKey""".stripMargin)
      },
      Some(s"""WITH RECURSIVE $ptsCte,
              |${hwRecursionSql("rpts")},
              |vsd AS (SELECT k, stddev_pop(v) sd FROM pts GROUP BY k),
              |hs AS (SELECT w.k, w.ts_ms, w.v,
              |         CASE WHEN s.sd > 0 THEN abs(w.dev / s.sd) ELSE w.dev END score
              |       FROM hw w JOIN vsd s ON w.k = s.k)
              |SELECT k AS user_id, ts_ms, v AS value, round(score, 4) AS score FROM hs""".stripMargin)
    ),
    // D2 exp_avg over Redis-style STRING series keys, through the full
    // EP2 monitor facade (range-query algebra → D0 guard → scoring): the
    // reference's keys are key strings (/root/reference/potoos/client.py:39),
    // and this query proves them end-to-end at the driver gate.
    Q(
      "anomaly_string_key_monitor",
      (s, dir) => {
        val df = Tables.events(s, dir).select(
          concat(lit("u"), col("user_id").cast("string")).as("skey"),
          col("ts_ms"), col("value"))
        graft.client.Graft
          .monitor(
            df,
            TsCols(key = "skey", ts = "ts_ms", value = "value", seq = None),
            detCfg = DetectorConfig(algorithmName = "exp_avg_detector", scoreOnly = true))
          .scores
          .select(
            col("seriesKey").as("series_key"), col("tsMs").as("ts_ms"),
            col("value"), round(col("score"), 4).as("score"))
      },
      Some(s"""WITH RECURSIVE ${ptsCteFor("'u' || CAST(user_id AS VARCHAR)")}, $escoreCte
              |SELECT k AS series_key, ts_ms, v AS value, round(score, 4) AS score FROM escore""".stripMargin)
    ),
    // D2 exp_avg via the chunked parallel-scan fold (skew escape for one
    // gigantic series, ChunkedFold.scala) — same oracle as the sequential
    // fold: the composed chunk seeds agree to fp-ulp, far inside round(4).
    Q(
      "anomaly_exp_avg_chunked",
      (s, dir) => asOut(Detectors.expAvgScoresChunked(pts(s, dir), chunkMs = 6L * 3600 * 1000)),
      Some(s"""WITH RECURSIVE $ptsCte, $escoreCte
              |SELECT k AS user_id, ts_ms, v AS value, round(score, 4) AS score FROM escore""".stripMargin)
    ),
    // D2 exp_avg lag-window variant — oracled via the closed form of the
    // windowed EMA fold: ema_last([s..j]) = v_s·β^(j−s) + Σ α·v_i·β^(j−i)
    // (β = 1−α); the weighted sum differs from the fold only at ulp level,
    // far inside the round(4). lag = min(200, trunc(0.2·n)) mirrors the
    // kernel clamp. (Kernel additionally property-tested in PropertiesSpec.)
    Q(
      "anomaly_exp_avg_lag_scores",
      (s, dir) => asOut(Detectors.expAvgLagScores(pts(s, dir))),
      Some(s"""WITH $ptsCte,
              |st AS (SELECT k, count(*) n, stddev_pop(v) sd,
              |         least(CAST(trunc(count(*)*0.2) AS BIGINT), 200) lag
              |       FROM pts GROUP BY k),
              |e AS (
              |  SELECT p.k, p.rn, p.ts_ms, p.v, s.sd,
              |    sum(CASE WHEN q.rn = greatest(1, p.rn - s.lag)
              |             THEN q.v * pow(1 - 0.2, p.rn - q.rn)
              |             ELSE 0.2 * q.v * pow(1 - 0.2, p.rn - q.rn) END) AS ema
              |  FROM rpts p
              |  JOIN st s ON p.k = s.k
              |  JOIN rpts q ON q.k = p.k AND q.rn BETWEEN greatest(1, p.rn - s.lag) AND p.rn
              |  GROUP BY p.k, p.rn, p.ts_ms, p.v, s.sd)
              |SELECT k AS user_id, ts_ms, v AS value,
              |       round(CASE WHEN sd > 0 THEN abs(v - ema)/sd ELSE abs(v - ema) END, 4) AS score
              |FROM e""".stripMargin)
    ),
    // D4 bitmap (SAX) scores — oracled as an O(n·w) window/self-join: the
    // chunk-frequency SSD is exact integer arithmetic, so the only fp ops
    // (the shared quantization expression) are identical on both engines.
    // Constants mirrored from config.Constants: precision 4, chunk 2,
    // w = clamp(round(0.02·n), 10, 200).
    Q(
      "anomaly_bitmap_scores",
      (s, dir) => asOut(graft.detect.BitmapDetector.scores(pts(s, dir))),
      Some(s"""WITH $ptsCte,
              |st AS (SELECT k, count(*) n, min(v) vmin, max(v) vmax,
              |         CAST(least(greatest(floor(0.02*count(*) + 0.5), 10), 200) AS BIGINT) w
              |       FROM pts GROUP BY k),
              |syms AS (SELECT p.k, p.ts_ms, p.v, s.w, s.n,
              |           row_number() OVER (PARTITION BY p.k ORDER BY p.ts_ms) rn,
              |           CASE WHEN s.vmax = s.vmin THEN 0
              |                ELSE least(3, CAST(trunc((p.v - s.vmin)/(s.vmax - s.vmin)*4) AS INT)) END sym
              |         FROM pts p JOIN st s ON p.k = s.k),
              |chunks AS (SELECT k, rn, sym*4 + lead(sym) OVER (PARTITION BY k ORDER BY rn) chunk
              |           FROM syms),
              |pairs AS (
              |  SELECT s.k, s.rn j,
              |         CASE WHEN c.rn <= s.rn - 2 THEN 0 ELSE 1 END side, c.chunk
              |  FROM syms s JOIN chunks c
              |    ON s.k = c.k AND c.rn >= s.rn - s.w AND c.rn <= s.rn + s.w - 2
              |  WHERE c.chunk IS NOT NULL
              |    AND s.rn >= s.w + 1 AND s.rn + s.w - 1 <= s.n
              |    AND (c.rn <= s.rn - 2 OR c.rn >= s.rn)),
              |freq AS (SELECT k, j, chunk,
              |           sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) cl,
              |           sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) cf
              |         FROM pairs GROUP BY 1, 2, 3),
              |ssd AS (SELECT k, j, sum(CAST((cl - cf)*(cl - cf) AS DOUBLE)) score
              |        FROM freq GROUP BY 1, 2)
              |SELECT s.k AS user_id, s.ts_ms, s.v AS value,
              |       round(coalesce(d.score, 0.0), 4) AS score
              |FROM syms s LEFT JOIN ssd d ON s.k = d.k AND s.rn = d.j""".stripMargin)
    ),
    // Two-sided CUSUM changepoint scores (beyond the reference suite):
    // the oracle standardizes with the same per-series avg/stddev_pop,
    // then replays the max(0, ·)-clamped accumulation recurrence with
    // the identical fp-op order (s + z − slack, left-associated).
    Q(
      "anomaly_cusum_scores",
      (s, dir) => asOut(Detectors.cusumScores(pts(s, dir))),
      Some(s"""WITH RECURSIVE $ptsCte,
              |vstat AS (SELECT k, avg(v) mu, stddev_pop(v) sd FROM pts GROUP BY k),
              |zp AS (SELECT r.k, r.ts_ms, r.v, r.rn,
              |         CASE WHEN s.sd > 0 THEN (r.v - s.mu)/s.sd ELSE r.v - s.mu END z
              |       FROM rpts r JOIN vstat s ON r.k = s.k),
              |cus AS (
              |  SELECT k, ts_ms, v, rn,
              |         greatest(0, 0 + z - 0.5) sp, greatest(0, 0 - z - 0.5) sn
              |  FROM zp WHERE rn = 1
              |  UNION ALL
              |  SELECT p.k, p.ts_ms, p.v, p.rn,
              |         greatest(0, c.sp + p.z - 0.5), greatest(0, c.sn - p.z - 0.5)
              |  FROM zp p JOIN cus c ON p.k = c.k AND p.rn = c.rn + 1)
              |SELECT k AS user_id, ts_ms, v AS value,
              |       round(greatest(sp, sn), 4) AS score FROM cus""".stripMargin)
    ),
    // Holt double-exponential (level+trend) forecaster deviations
    // (beyond the reference suite): the oracle carries (l, b) through the
    // recursive CTE with the kernel's exact expression text — the level
    // update appears verbatim inside the trend update, so the fp
    // sequences are identical — then applies the exp_avg normalization.
    Q(
      "anomaly_holt_scores",
      (s, dir) => asOut(Detectors.holtScores(pts(s, dir))),
      Some(s"""WITH RECURSIVE $ptsCte,
              |hw AS (
              |  SELECT k, ts_ms, v, rn, v AS l, CAST(0 AS DOUBLE) b, CAST(0 AS DOUBLE) dev
              |  FROM rpts WHERE rn = 1
              |  UNION ALL
              |  SELECT p.k, p.ts_ms, p.v, p.rn,
              |         0.2*p.v + (1 - 0.2)*(h.l + h.b),
              |         0.1*((0.2*p.v + (1 - 0.2)*(h.l + h.b)) - h.l) + (1 - 0.1)*h.b,
              |         p.v - (h.l + h.b)
              |  FROM rpts p JOIN hw h ON p.k = h.k AND p.rn = h.rn + 1),
              |vsd AS (SELECT k, stddev_pop(v) sd FROM pts GROUP BY k),
              |hs AS (SELECT h.k, h.ts_ms, h.v,
              |         CASE WHEN s.sd > 0 THEN abs(h.dev / s.sd) ELSE h.dev END score
              |       FROM hw h JOIN vsd s ON h.k = s.k)
              |SELECT k AS user_id, ts_ms, v AS value, round(score, 4) AS score FROM hs""".stripMargin)
    ),
    // Holt-Winters (level + trend + additive seasonality, period 4)
    // forecaster deviations (beyond the reference suite): the oracle
    // carries (l, b, s0..s3) through the recursive CTE; the phase slot is
    // selected by a CASE over (rn−1) mod 4, the level update appears
    // VERBATIM inside the trend and seasonal updates (identical fp
    // sequence — the Holt-oracle trick one state wider), then the
    // exp_avg normalization applies.
    Q(
      "anomaly_hw_scores",
      (s, dir) => asOut(Detectors.hwScores(pts(s, dir))),
      Some(s"""WITH RECURSIVE $ptsCte,
              |${hwRecursionSql("rpts")},
              |vsd AS (SELECT k, stddev_pop(v) sd FROM pts GROUP BY k),
              |hs AS (SELECT w.k, w.ts_ms, w.v,
              |         CASE WHEN s.sd > 0 THEN abs(w.dev / s.sd) ELSE w.dev END score
              |       FROM hw w JOIN vsd s ON w.k = s.k)
              |SELECT k AS user_id, ts_ms, v AS value, round(score, 4) AS score FROM hs""".stripMargin)
    ),
    // Streaming Holt-Winters, batch-parity replayed: the day-chunked
    // stream carries (l, b, s0..s3) across ~30 micro-batch boundaries.
    // Oracle = the batch HW recursion over the min-per-duplicated-ts
    // deduped stream view (the stream's late/dup policy), normalized by
    // stddev over ALL points (the normalization side sees history
    // pre-dedup, as the replay harness does).
    Q(
      "anomaly_stream_hw",
      (s, dir) =>
        graft.streaming.Replay
          .hwReplay(pts(s, dir), p => p.tsMs / 86400000L)
          .select(
            keyAsLong.as("user_id"), col("tsMs").as("ts_ms"), col("value"),
            round(col("score"), 4).as("score")),
      Some(s"""WITH RECURSIVE $ptsCte,
              |d AS (SELECT k, ts_ms, min(v) v FROM pts GROUP BY k, ts_ms),
              |rd AS (SELECT k, ts_ms, v, row_number() OVER (PARTITION BY k ORDER BY ts_ms) rn FROM d),
              |${hwRecursionSql("rd")},
              |vsd AS (SELECT k, stddev_pop(v) sd FROM pts GROUP BY k),
              |hs AS (SELECT w.k, w.ts_ms, w.v,
              |         CASE WHEN s.sd > 0 THEN abs(w.dev / s.sd) ELSE w.dev END score
              |       FROM hw w JOIN vsd s ON w.k = s.k)
              |SELECT k AS user_id, ts_ms, v AS value, round(score, 4) AS score FROM hs""".stripMargin)
    ),
    // Streaming CUSUM, batch-parity replayed: the day-chunked stream
    // carries (s⁺, s⁻) across ~30 micro-batch boundaries, calibrated by
    // the batch mean/stddev over the same points. Oracle = the batch
    // CUSUM recursion over the min-per-duplicated-ts deduped stream view
    // (the stream's late/dup policy), standardized by stats over ALL
    // points (the calibration side sees history pre-dedup).
    Q(
      "anomaly_stream_cusum",
      (s, dir) =>
        graft.streaming.Replay
          .cusumReplay(pts(s, dir), p => p.tsMs / 86400000L)
          .select(
            keyAsLong.as("user_id"), col("tsMs").as("ts_ms"), col("value"),
            round(col("sp"), 4).as("sp"), round(col("sn"), 4).as("sn"),
            round(col("score"), 4).as("score")),
      Some(s"""WITH RECURSIVE $ptsCte,
              |vstat AS (SELECT k, avg(v) mu, stddev_pop(v) sd FROM pts GROUP BY k),
              |d AS (SELECT k, ts_ms, min(v) v FROM pts GROUP BY k, ts_ms),
              |rd AS (SELECT k, ts_ms, v, row_number() OVER (PARTITION BY k ORDER BY ts_ms) rn FROM d),
              |zp AS (SELECT r.k, r.ts_ms, r.v, r.rn,
              |         CASE WHEN s.sd > 0 THEN (r.v - s.mu)/s.sd ELSE r.v - s.mu END z
              |       FROM rd r JOIN vstat s ON r.k = s.k),
              |cus AS (
              |  SELECT k, ts_ms, v, rn,
              |         greatest(0, 0 + z - 0.5) sp, greatest(0, 0 - z - 0.5) sn
              |  FROM zp WHERE rn = 1
              |  UNION ALL
              |  SELECT p.k, p.ts_ms, p.v, p.rn,
              |         greatest(0, c.sp + p.z - 0.5), greatest(0, c.sn - p.z - 0.5)
              |  FROM zp p JOIN cus c ON p.k = c.k AND p.rn = c.rn + 1)
              |SELECT k AS user_id, ts_ms, v AS value, round(sp, 4) AS sp,
              |       round(sn, 4) AS sn, round(greatest(sp, sn), 4) AS score FROM cus""".stripMargin)
    ),
    // Robust z-score (median/MAD — beyond the reference suite): the
    // oracle replays the exact rank-interpolation median twice (values,
    // then absolute deviations) and the same guarded normalization.
    Q(
      "anomaly_mad_scores",
      (s, dir) => asOut(Detectors.madScores(pts(s, dir))),
      Some(s"""WITH $ptsCte,
              |r1 AS (SELECT k, ts_ms, v,
              |         row_number() OVER (PARTITION BY k ORDER BY v) vrn,
              |         count(*) OVER (PARTITION BY k) vn
              |       FROM pts),
              |m1 AS (SELECT k,
              |         max(CASE WHEN vrn - 1 = floor(0.5 * (vn-1)) THEN v END) lo,
              |         max(CASE WHEN vrn - 1 = floor(0.5 * (vn-1)) + 1 THEN v END) hi,
              |         max(0.5 * (vn-1) - floor(0.5 * (vn-1))) f
              |       FROM r1 GROUP BY k),
              |med AS (SELECT k,
              |          round(CASE WHEN f = 0 THEN lo ELSE lo + f * (coalesce(hi, lo) - lo) END, 4) med
              |        FROM m1),
              |d AS (SELECT p.k, p.ts_ms, p.v, abs(p.v - m.med) ad
              |      FROM pts p JOIN med m USING (k)),
              |r2 AS (SELECT k, ts_ms, v, ad,
              |         row_number() OVER (PARTITION BY k ORDER BY ad) arn,
              |         count(*) OVER (PARTITION BY k) an
              |       FROM d),
              |m2 AS (SELECT k,
              |         max(CASE WHEN arn - 1 = floor(0.5 * (an-1)) THEN ad END) lo,
              |         max(CASE WHEN arn - 1 = floor(0.5 * (an-1)) + 1 THEN ad END) hi,
              |         max(0.5 * (an-1) - floor(0.5 * (an-1))) f
              |       FROM r2 GROUP BY k),
              |mad AS (SELECT k,
              |          round(CASE WHEN f = 0 THEN lo ELSE lo + f * (coalesce(hi, lo) - lo) END, 4) mad
              |        FROM m2)
              |SELECT d.k AS user_id, d.ts_ms, d.v AS value,
              |       round(CASE WHEN mad.mad > 0 THEN d.ad / (1.4826 * mad.mad) ELSE d.ad END, 4) AS score
              |FROM d JOIN mad USING (k)""".stripMargin)
    ),
    // Generalized-ESD outliers (Rosner; the iterative unmasking detector):
    // k=3 rounds, each recomputing stats over the REMAINING points and
    // removing the max-deviation point; flagged set = first maxI removed
    // where maxI is the last round whose exact-integer test
    // (n·v − S)² > 9·(nQ − S²) fires. The oracle unrolls the three
    // rounds with the identical HUGEINT algebra and row_number removal.
    Q(
      "anomaly_esd",
      (s, dir) => {
        // UNGUARDED points: esdOutliers re-applies the D0 floor per round
        // internally (n₀ − (i−1) ≥ 4 subsumes the initial guard), so the
        // minPointsGuard semi-join would be a second scan for nothing
        import s.implicits._
        val raw = Tables.events(s, dir)
          .select(
            col("user_id").cast("string").as("seriesKey"),
            col("ts_ms").as("tsMs"), col("value"))
          .as[graft.model.TsSample]
        Detectors.esdOutliers(raw, k = 3, cut = 3)
          .select(
            keyAsLong.as("user_id"), col("tsMs").as("ts_ms"), col("value"),
            col("iter"), col("r2_micro"))
      },
      Some(esdOracleSql)
    ),
    // The same ESD through the SQL TVF surface: esd_outliers('view')
    // plans the identical window chain, proven by sharing anomaly_esd's
    // oracle verbatim.
    Q(
      "anomaly_sql_esd",
      (s, dir) => {
        graft.functions.GraftExtensions.install(s)
        Tables.events(s, dir).createOrReplaceTempView("graft_sqle_events")
        s.sql(
          """CREATE OR REPLACE TEMPORARY VIEW graft_sqle_pts AS
            |SELECT CAST(user_id AS STRING) AS seriesKey, ts_ms AS tsMs, value
            |FROM graft_sqle_events""".stripMargin)
        s.sql(
          """SELECT CAST(seriesKey AS BIGINT) AS user_id, tsMs AS ts_ms, value,
            |       iter, r2_micro
            |FROM esd_outliers('graft_sqle_pts')""".stripMargin)
      },
      Some(esdOracleSql)
    ),
    // Tukey fences (boxplot outliers): distance outside
    // [Q1 − 1.5·IQR, Q3 + 1.5·IQR] — the quartile-based robust detector
    // next to MAD; quartiles via the exact rank-interpolation form the
    // percentile/MAD oracles already pin, fences computed on the rounded
    // quartiles so both engines see identical doubles.
    Q(
      "anomaly_tukey",
      // NOT asOut: score is already an exact integer ratio; a round(4)
      // would reintroduce the .5-boundary drift the integer fences fixed
      (s, dir) =>
        Detectors.tukeyScores(pts(s, dir))
          .select(
            keyAsLong.as("user_id"), col("tsMs").as("ts_ms"),
            col("value"), col("score")),
      Some(s"""WITH $ptsCte,
              |r1 AS (SELECT k, ts_ms, v,
              |         row_number() OVER (PARTITION BY k ORDER BY v) vrn,
              |         count(*) OVER (PARTITION BY k) vn
              |       FROM pts),
              |m1 AS (SELECT k,
              |         max(CASE WHEN vrn - 1 = floor(0.25 * (vn-1)) THEN v END) lo1,
              |         max(CASE WHEN vrn - 1 = floor(0.25 * (vn-1)) + 1 THEN v END) hi1,
              |         max(0.25 * (vn-1) - floor(0.25 * (vn-1))) f1,
              |         max(CASE WHEN vrn - 1 = floor(0.75 * (vn-1)) THEN v END) lo3,
              |         max(CASE WHEN vrn - 1 = floor(0.75 * (vn-1)) + 1 THEN v END) hi3,
              |         max(0.75 * (vn-1) - floor(0.75 * (vn-1))) f3
              |       FROM r1 GROUP BY k),
              |q AS (SELECT k,
              |        round(CASE WHEN f1 = 0 THEN lo1 ELSE lo1 + f1 * (coalesce(hi1, lo1) - lo1) END, 4) q1,
              |        round(CASE WHEN f3 = 0 THEN lo3 ELSE lo3 + f3 * (coalesce(hi3, lo3) - lo3) END, 4) q3
              |      FROM m1),
              |qu AS (SELECT k, CAST(round(q1 * 20000) AS BIGINT) q1u,
              |         CAST(round(q3 * 20000) AS BIGINT) q3u FROM q)
              |SELECT p.k AS user_id, p.ts_ms, p.v AS value,
              |       greatest(q1u - (3*(q3u - q1u))//2 - CAST(round(p.v * 20000) AS BIGINT),
              |                CAST(round(p.v * 20000) AS BIGINT) - q3u - (3*(q3u - q1u))//2,
              |                0) / 20000.0 AS score
              |FROM pts p JOIN qu USING (k)""".stripMargin)
    ),
    // S-ESD (the Twitter seasonal-hybrid shape): STL fixed-point
    // decomposition first, generalized ESD on the RESIDUAL — a pure
    // cycle is explained away by the seasonal profile, so only genuine
    // departures from it reach the outlier test. The residual is the
    // exact fp integer (no re-rounding), so the composed oracle is the
    // shared STL CTE chain feeding the unrolled ESD rounds verbatim.
    Q(
      "anomaly_sesd",
      (s, dir) => {
        val stl = graft.ts.TsAlgebra.stlDecompose(
          Tables.events(s, dir).select(col("user_id"), col("ts_ms"), col("value")),
          "user_id", "ts_ms", "value", period = 24)
        // edge guard: the centered 2xMA trend truncates inside the first/
        // last half-period, leaving systematic edge residuals that are
        // false positives by construction — standard S-H-ESD trim
        val w = org.apache.spark.sql.expressions.Window
        val trimmed = stl
          .withColumn("_rn", row_number().over(w.partitionBy("user_id").orderBy("ts_ms")))
          .withColumn("_nn", count(lit(1)).over(w.partitionBy("user_id")))
          .where(col("_rn") > 12 && col("_rn") <= col("_nn") - 12)
        Detectors.esdOutliersFp(trimmed, "user_id", "ts_ms", "resid_fp", k = 3, cut = 3)
          .select(
            col("seriesKey").cast("long").as("user_id"),
            col("tsMs").as("ts_ms"),
            col("value").as("resid_fp"),
            col("iter"), col("r2_micro"))
      },
      Some(s"""WITH ${TsQueries.stlCte},
              |a0 AS (SELECT user_id k, ts_ms, CAST(dt - seasonal_fp AS BIGINT) v,
              |         CAST(dt - seasonal_fp AS HUGEINT) vc
              |       FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_ms) ern,
              |               count(*) OVER (PARTITION BY user_id) enn FROM f)
              |       WHERE ern > 12 AND ern <= enn - 12),
              |${esdIterCte(3)},
              |cand AS (SELECT k, ts_ms, v, iter, (den > 0 AND num > 9*den) test,
              |           CASE WHEN den > 0 THEN (num * 1000000) // den ELSE 0 END r2m
              |         FROM (${(1 to 3).map(i => s"SELECT * FROM c$i").mkString(" UNION ALL ")})),
              |mi AS (SELECT k, max(CASE WHEN test THEN iter ELSE 0 END) max_i FROM cand GROUP BY k)
              |SELECT cand.k AS user_id, cand.ts_ms, CAST(cand.v AS BIGINT) AS resid_fp,
              |       CAST(cand.iter AS INT) AS iter, CAST(cand.r2m AS BIGINT) AS r2_micro
              |FROM cand JOIN mi ON cand.k = mi.k WHERE cand.iter <= mi.max_i""".stripMargin)
    ),
    // Western Electric control-chart zone rules (beyond the reference
    // suite): every zone test is the INTEGER comparison dm² > k²·D
    // (dm = vm·n − S, D = nQ − S²) — no float mean/σ anywhere, so both
    // engines produce bit-identical booleans; the run rules are trailing
    // ROWS-frame counts over the deterministic (user, ts) order.
    Q(
      "anomaly_control_rules",
      (s, dir) =>
        Detectors.controlRuleFlags(pts(s, dir))
          .select(
            keyAsLong.as("user_id"), col("tsMs").as("ts_ms"), col("value"),
            col("r1_beyond3"), col("r2_2of3_2sigma"), col("r3_4of5_1sigma"), col("r4_run8")),
      Some(s"""WITH $ptsCte,
              |e AS (SELECT k, ts_ms, v, CAST(round(v*100) AS BIGINT) vm FROM pts),
              |g AS (SELECT k, CAST(count(*) AS BIGINT) n, sum(vm) s, sum(vm*vm) q FROM e GROUP BY 1),
              |j AS (SELECT e.k, e.ts_ms, e.v, e.vm*g.n - g.s AS dm, g.n*g.q - g.s*g.s AS d
              |      FROM e JOIN g USING (k)),
              |f AS (SELECT k, ts_ms, v,
              |        CASE WHEN dm > 0 THEN 1 WHEN dm < 0 THEN -1 ELSE 0 END sgn,
              |        dm*dm > 9*d b3, dm*dm > 4*d b2, dm*dm > d b1
              |      FROM j)
              |SELECT k AS user_id, ts_ms, v AS value,
              |  b3 AS r1_beyond3,
              |  (sum(CASE WHEN b2 AND sgn = 1 THEN 1 ELSE 0 END) OVER w3 >= 2
              |   OR sum(CASE WHEN b2 AND sgn = -1 THEN 1 ELSE 0 END) OVER w3 >= 2) AS r2_2of3_2sigma,
              |  (sum(CASE WHEN b1 AND sgn = 1 THEN 1 ELSE 0 END) OVER w5 >= 4
              |   OR sum(CASE WHEN b1 AND sgn = -1 THEN 1 ELSE 0 END) OVER w5 >= 4) AS r3_4of5_1sigma,
              |  (sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) OVER w8 = 8
              |   OR sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) OVER w8 = 8) AS r4_run8
              |FROM f
              |WINDOW w3 AS (PARTITION BY k ORDER BY ts_ms ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
              |       w5 AS (PARTITION BY k ORDER BY ts_ms ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
              |       w8 AS (PARTITION BY k ORDER BY ts_ms ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)""".stripMargin)
    ),
    // Streaming control rules, batch-parity replayed: the day-chunked
    // stream carries the trailing zone-code ring across ~30 micro-batch
    // boundaries, calibrated by the batch integer stats over the same
    // points. Oracle = the batch rule algebra over the
    // min-per-duplicated-ts deduped stream view, with stats over ALL
    // points (the calibration side sees history pre-dedup).
    Q(
      "anomaly_stream_control",
      (s, dir) =>
        graft.streaming.Replay
          .controlRulesReplay(pts(s, dir), p => p.tsMs / 86400000L)
          .select(
            keyAsLong.as("user_id"), col("tsMs").as("ts_ms"), col("value"),
            col("r1_beyond3"), col("r2_2of3_2sigma"), col("r3_4of5_1sigma"), col("r4_run8")),
      Some(s"""WITH $ptsCte,
              |ea AS (SELECT k, CAST(round(v*100) AS BIGINT) vm FROM pts),
              |g AS (SELECT k, CAST(count(*) AS BIGINT) n, sum(vm) s, sum(vm*vm) q FROM ea GROUP BY 1),
              |dd AS (SELECT k, ts_ms, min(v) v FROM pts GROUP BY k, ts_ms),
              |e AS (SELECT k, ts_ms, v, CAST(round(v*100) AS BIGINT) vm FROM dd),
              |j AS (SELECT e.k, e.ts_ms, e.v, e.vm*g.n - g.s AS dm, g.n*g.q - g.s*g.s AS d
              |      FROM e JOIN g USING (k)),
              |f AS (SELECT k, ts_ms, v,
              |        CASE WHEN dm > 0 THEN 1 WHEN dm < 0 THEN -1 ELSE 0 END sgn,
              |        dm*dm > 9*d b3, dm*dm > 4*d b2, dm*dm > d b1
              |      FROM j)
              |SELECT k AS user_id, ts_ms, v AS value,
              |  b3 AS r1_beyond3,
              |  (sum(CASE WHEN b2 AND sgn = 1 THEN 1 ELSE 0 END) OVER w3 >= 2
              |   OR sum(CASE WHEN b2 AND sgn = -1 THEN 1 ELSE 0 END) OVER w3 >= 2) AS r2_2of3_2sigma,
              |  (sum(CASE WHEN b1 AND sgn = 1 THEN 1 ELSE 0 END) OVER w5 >= 4
              |   OR sum(CASE WHEN b1 AND sgn = -1 THEN 1 ELSE 0 END) OVER w5 >= 4) AS r3_4of5_1sigma,
              |  (sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) OVER w8 = 8
              |   OR sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) OVER w8 = 8) AS r4_run8
              |FROM f
              |WINDOW w3 AS (PARTITION BY k ORDER BY ts_ms ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
              |       w5 AS (PARTITION BY k ORDER BY ts_ms ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
              |       w8 AS (PARTITION BY k ORDER BY ts_ms ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)""".stripMargin)
    ),
    // Seasonal hour-of-day baseline (composition showcase): each point
    // diff-percent-scored against its series' average at the same hour
    // of day — the daily-seasonality profile every ops dashboard keeps.
    Q(
      "anomaly_seasonal_diff",
      (s, dir) => {
        val raw = pts(s, dir)
        val hod = expr(s"(tsMs % ${T.Day}) DIV 3600000")
        // baseline must be BIT-identical across engines (it feeds the
        // score): exact cent-integer sum, one correctly-rounded fp divide
        // — fp `avg` differs by summation order between engines
        val prof = raw.groupBy(col("seriesKey"), hod.as("hod"))
          .agg((sum(round(col("value") * 100, 0).cast("long")).cast("double")
            / (count(col("value")) * 100.0)).as("baseline")) // non-null count matches the null-skipping sum
        val joined = raw.toDF().withColumn("hod", hod).join(prof, Seq("seriesKey", "hod"))
        Detectors
          .diffPercentFromJoined(joined, thresholdUpper = Some(20.0), thresholdLower = Some(20.0))
          .select(
            keyAsLong.as("user_id"), col("tsMs").as("ts_ms"),
            col("value"), round(col("score"), 4).as("score"))
      },
      Some(s"""WITH $ptsCte,
              |prof AS (SELECT k, (ts_ms % ${T.Day}) // 3600000 hod,
              |           CAST(sum(CAST(round(v*100) AS BIGINT)) AS DOUBLE) / (count(v) * 100.0) bv
              |         FROM pts GROUP BY 1, 2),
              |j AS (SELECT p.k, p.ts_ms, p.v, pr.bv
              |      FROM pts p JOIN prof pr
              |        ON p.k = pr.k AND (p.ts_ms % ${T.Day}) // 3600000 = pr.hod),
              |sc AS (SELECT k, ts_ms, v,
              |  CASE WHEN bv <> 0 THEN 100.0*(v - bv)/bv
              |       ELSE CASE WHEN v <> 0 THEN 100.0 ELSE 0.0 END END dp
              |  FROM j)
              |SELECT k AS user_id, ts_ms, v AS value,
              |       round(CASE WHEN dp > 20.0 OR dp < -20.0 THEN abs(dp) ELSE 0.0 END, 4) AS score
              |FROM sc""".stripMargin)
    ),
    // D7 diff_percent_threshold vs one-day-lagged daily-average baseline
    Q(
      "anomaly_diff_percent",
      (s, dir) => {
        val (p, baseline) = dailyWithBaseline(s, dir)
        Detectors
          .diffPercentScores(p, baseline, thresholdUpper = Some(20.0), thresholdLower = Some(20.0))
          .select(
            keyAsLong.as("user_id"), col("tsMs").as("ts_ms"),
            round(col("value"), 4).as("value"), round(col("score"), 4).as("score"))
      },
      Some(s"""WITH $dailyCte,
              |d AS (SELECT k, tm, v,
              |  CASE WHEN bv <> 0 THEN 100.0*(v - bv)/bv
              |       ELSE CASE WHEN v <> 0 THEN 100.0 ELSE 0.0 END END dp
              |  FROM j)
              |SELECT k AS user_id, tm AS ts_ms, round(v, 4) AS value,
              |       round(CASE WHEN dp > 20.0 OR dp < -20.0 THEN abs(dp) ELSE 0.0 END, 4) AS score
              |FROM d""".stripMargin)
    ),
    // D7 via AS-OF JOIN: every raw point scored against the most recent
    // prior daily average (a step-function baseline) — oracled against
    // DuckDB's native ASOF JOIN
    Q(
      "anomaly_diff_percent_asof",
      (s, dir) => {
        val raw = Tables.events(s, dir)
          .select(col("user_id").as("seriesKey"), col("ts_ms").as("tsMs"), col("value"))
        val daily = exactDailyAvg(s, dir)
        // daily avg becomes valid at the END of its day
        val baseline = daily.select(
          col("user_id").as("seriesKey"),
          (col("ts_ms") + T.Day).as("tsMs"),
          col("value").as("baseline"))
        Detectors
          .diffPercentFromJoined(
            graft.ts.AsOfJoin.join(raw, baseline),
            thresholdUpper = Some(20.0), thresholdLower = Some(20.0))
          .select(
            col("seriesKey").as("user_id"), col("tsMs").as("ts_ms"),
            col("value"), round(col("score"), 4).as("score"))
      },
      Some(s"""WITH daily AS (
              |  SELECT user_id k, (epoch_ms(ts) - epoch_ms(ts) % ${T.Day}) + ${T.Day} AS tm,
              |       $exactDailyAvgSql bv
              |  FROM events GROUP BY user_id, epoch_ms(ts) - epoch_ms(ts) % ${T.Day}),
              |pts AS (SELECT user_id k, epoch_ms(ts) ts_ms, value v FROM events),
              |j AS (SELECT p.k, p.ts_ms, p.v, d.bv
              |      FROM pts p ASOF JOIN daily d ON p.k = d.k AND p.ts_ms >= d.tm),
              |s AS (SELECT k, ts_ms, v,
              |  CASE WHEN bv <> 0 THEN 100.0*(v - bv)/bv
              |       ELSE CASE WHEN v <> 0 THEN 100.0 ELSE 0.0 END END dp
              |  FROM j)
              |SELECT k AS user_id, ts_ms, v AS value,
              |       round(CASE WHEN dp > 20.0 OR dp < -20.0 THEN abs(dp) ELSE 0.0 END, 4) AS score
              |FROM s""".stripMargin)
    ),
    // AS-OF JOIN, FORWARD direction: every raw point matched to the
    // EARLIEST baseline boundary at or after it — oracled against
    // DuckDB's native ASOF with the comparison flipped. Same single
    // key-partition + sort plan as backward.
    Q(
      "ts_asof_forward",
      (s, dir) => {
        val raw = Tables.events(s, dir)
          .select(col("user_id").as("seriesKey"), col("ts_ms").as("tsMs"), col("value"))
        val baseline = exactDailyAvg(s, dir).select(
          col("user_id").as("seriesKey"),
          (col("ts_ms") + T.Day).as("tsMs"),
          col("value").as("baseline"))
        graft.ts.AsOfJoin.join(raw, baseline, graft.ts.AsOfJoin.Forward, Long.MaxValue)
          .select(
            col("seriesKey").as("user_id"), col("tsMs").as("ts_ms"),
            col("value"), col("baseline"))
      },
      Some(asofForwardOracleSql)
    ),
    // The same forward as-of through the SQL TVF surface — the first
    // TWO-TABLE TVF (both args name relations); proven by sharing
    // ts_asof_forward's oracle verbatim.
    Q(
      "ts_sql_asof",
      (s, dir) => {
        graft.functions.GraftExtensions.install(s)
        Tables.events(s, dir)
          .select(col("user_id").as("seriesKey"), col("ts_ms").as("tsMs"), col("value"))
          .createOrReplaceTempView("graft_sqla_pts")
        exactDailyAvg(s, dir)
          .select(
            col("user_id").as("seriesKey"),
            (col("ts_ms") + T.Day).as("tsMs"),
            col("value").as("baseline"))
          .createOrReplaceTempView("graft_sqla_base")
        s.sql(
          """SELECT CAST(seriesKey AS BIGINT) AS user_id, tsMs AS ts_ms, value, baseline
            |FROM asof_join('graft_sqla_pts', 'graft_sqla_base', 'forward')""".stripMargin)
      },
      Some(asofForwardOracleSql)
    ),
    // AS-OF JOIN with a match-gap TOLERANCE (backward, gap <= 2 days):
    // the backward match is the CLOSEST earlier baseline, so filtering it
    // by gap is exact — no farther candidate could qualify. Oracle =
    // native ASOF + the same gap predicate.
    Q(
      "ts_asof_tolerance",
      (s, dir) => {
        val raw = Tables.events(s, dir)
          .select(col("user_id").as("seriesKey"), col("ts_ms").as("tsMs"), col("value"))
        val baseline = exactDailyAvg(s, dir).select(
          col("user_id").as("seriesKey"),
          (col("ts_ms") + T.Day).as("tsMs"),
          col("value").as("baseline"))
        graft.ts.AsOfJoin.join(raw, baseline, graft.ts.AsOfJoin.Backward, 2L * T.Day)
          .select(
            col("seriesKey").as("user_id"), col("tsMs").as("ts_ms"),
            col("value"), col("baseline"))
      },
      Some(s"""WITH daily AS (
              |  SELECT user_id k, (epoch_ms(ts) - epoch_ms(ts) % ${T.Day}) + ${T.Day} AS tm,
              |       $exactDailyAvgSql bv
              |  FROM events GROUP BY user_id, epoch_ms(ts) - epoch_ms(ts) % ${T.Day}),
              |pts AS (SELECT user_id k, epoch_ms(ts) ts_ms, value v FROM events),
              |j AS (SELECT p.k, p.ts_ms, p.v, d.bv, d.tm
              |      FROM pts p ASOF JOIN daily d ON p.k = d.k AND p.ts_ms >= d.tm)
              |SELECT k AS user_id, ts_ms, v AS value, bv AS baseline
              |FROM j WHERE ts_ms - tm <= ${2L * T.Day}""".stripMargin)
    ),
    // AS-OF JOIN, NEAREST direction with tolerance: candidates filtered
    // by gap <= 1 day FIRST, then the closer side wins, ties backward
    // (the documented contract — tolerance shapes the eligible set, it
    // does not veto the chosen row afterwards). Oracle composes two
    // native ASOF LEFT joins and replays the identical choice.
    Q(
      "ts_asof_nearest",
      (s, dir) => {
        val raw = Tables.events(s, dir)
          .select(col("user_id").as("seriesKey"), col("ts_ms").as("tsMs"), col("value"))
        val baseline = exactDailyAvg(s, dir).select(
          col("user_id").as("seriesKey"),
          (col("ts_ms") + T.Day).as("tsMs"),
          col("value").as("baseline"))
        graft.ts.AsOfJoin.join(raw, baseline, graft.ts.AsOfJoin.Nearest, T.Day)
          .select(
            col("seriesKey").as("user_id"), col("tsMs").as("ts_ms"),
            col("value"), col("baseline"))
      },
      Some(s"""WITH daily AS (
              |  SELECT user_id k, (epoch_ms(ts) - epoch_ms(ts) % ${T.Day}) + ${T.Day} AS tm,
              |       $exactDailyAvgSql bv
              |  FROM events GROUP BY user_id, epoch_ms(ts) - epoch_ms(ts) % ${T.Day}),
              |pts AS (SELECT user_id k, epoch_ms(ts) ts_ms, value v FROM events),
              |b AS (SELECT p.k, p.ts_ms, p.v, d.tm bt, d.bv bbv
              |      FROM pts p ASOF LEFT JOIN daily d ON p.k = d.k AND p.ts_ms >= d.tm),
              |f AS (SELECT p.k, p.ts_ms, d.tm ft, d.bv fbv
              |      FROM pts p ASOF LEFT JOIN daily d ON p.k = d.k AND p.ts_ms <= d.tm),
              |n AS (SELECT b.k, b.ts_ms, b.v,
              |        CASE WHEN b.ts_ms - bt <= ${T.Day} THEN bbv END eb,
              |        CASE WHEN ft - b.ts_ms <= ${T.Day} THEN fbv END ef,
              |        b.ts_ms - bt gb, ft - b.ts_ms gf
              |      FROM b JOIN f ON b.k = f.k AND b.ts_ms = f.ts_ms),
              |c AS (SELECT k, ts_ms, v,
              |        CASE WHEN eb IS NOT NULL AND (ef IS NULL OR gb <= gf) THEN eb
              |             ELSE ef END bv
              |      FROM n)
              |SELECT k AS user_id, ts_ms, v AS value, bv AS baseline
              |FROM c WHERE bv IS NOT NULL""".stripMargin)
    ),
    // D8 sign_test vs the same baseline: trailing-7 window comparator
    Q(
      "anomaly_sign_test",
      (s, dir) => {
        val (p, baseline) = dailyWithBaseline(s, dir)
        Detectors
          .signTestScores(p, baseline, windowPoints = 7, confidence = 0.6, offset = 0.05)
          .select(
            keyAsLong.as("user_id"), col("tsMs").as("ts_ms"),
            round(col("value"), 4).as("value"), round(col("score"), 4).as("score"))
      },
      Some(s"""WITH $dailyCte,
              |f AS (SELECT k, tm, v,
              |  greatest(
              |    avg(CASE WHEN v > bv * (1 + 0.05) THEN 1.0 ELSE 0.0 END)
              |      OVER (PARTITION BY k ORDER BY tm ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
              |    avg(CASE WHEN v < bv * (1 - 0.05) THEN 1.0 ELSE 0.0 END)
              |      OVER (PARTITION BY k ORDER BY tm ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) ff
              |  FROM j)
              |SELECT k AS user_id, tm AS ts_ms, round(v, 4) AS value,
              |       round(CASE WHEN ff >= 0.6 THEN (ff - 0.6)/(1 - 0.6)*10.0 ELSE 0.0 END, 4) AS score
              |FROM f""".stripMargin)
    ),
    // D11+D12: threshold at 0.2·max(score) per series, consecutive runs →
    // anomaly windows (derivative scores)
    Q(
      "anomaly_windows",
      (s, dir) => {
        val scores = Detectors.derivativeScores(pts(s, dir))
        Detectors
          .anomalies(Detectors.withThreshold(scores, DetectorConfig()))
          .select(
            keyAsLong.as("user_id"), col("startTsMs").as("start_ms"),
            col("endTsMs").as("end_ms"), round(col("anomalyScore"), 4).as("anomaly_score"),
            col("exactTsMs").as("exact_ms"))
      },
      Some(s"""WITH RECURSIVE $ptsCte, $dscoreCte, $windowsCte
              |SELECT k AS user_id, start_ms, end_ms, round(mscore, 4) AS anomaly_score, exact_ms
              |FROM wins""".stripMargin)
    ),
    // D15 metadata aggregate (+ anomaly counts from the D12 windows)
    Q(
      "anomaly_meta",
      (s, dir) => {
        val p = pts(s, dir)
        val scores = Detectors.derivativeScores(p)
        val wins = Detectors.anomalies(Detectors.withThreshold(scores, DetectorConfig()))
        Detectors
          .metadata(p, wins, "derivative_detector")
          .select(
            keyAsLong.as("user_id"), col("algorithm"),
            col("dataPointsAnalyzed").as("data_points_analyzed"),
            col("anomaliesFound").as("anomalies_found"),
            col("startMs").as("start_ms"), col("endMs").as("end_ms"),
            col("durationMs").as("duration_ms"))
      },
      Some(s"""WITH RECURSIVE $ptsCte, $dscoreCte, $windowsCte,
              |base AS (SELECT k, count(*) n, min(ts_ms) s, max(ts_ms) e FROM pts GROUP BY k),
              |wc AS (SELECT k, count(*) c FROM wins GROUP BY k)
              |SELECT b.k AS user_id, 'derivative_detector' AS algorithm,
              |       b.n AS data_points_analyzed, coalesce(wc.c, 0) AS anomalies_found,
              |       b.s AS start_ms, b.e AS end_ms, b.e - b.s AS duration_ms
              |FROM base b LEFT JOIN wc ON b.k = wc.k""".stripMargin)
    ),
    // D13 refinement through the EP2 facade: derivative windows whose
    // exact_timestamp is re-pinned by an absolute_threshold re-score of
    // each window's slice (ties → latest ts, mirroring refineExact's
    // max_by(ts, struct(score, ts))). The slices run through the same
    // scoring kernels under synthetic per-window keys — fully
    // distributed, no per-window driver jobs.
    Q(
      "anomaly_refined",
      (s, dir) => {
        val cfg = DetectorConfig(
          refineAlgorithmName = Some("absolute_threshold"),
          absoluteThresholdUpper = Some(150.0),
          absoluteThresholdLower = Some(1.0))
        graft.client.Graft.monitor(Tables.events(s, dir), cols, detCfg = cfg)
          .anomalies
          .select(
            keyAsLong.as("user_id"), col("startTsMs").as("start_ms"),
            col("endTsMs").as("end_ms"), round(col("anomalyScore"), 4).as("anomaly_score"),
            col("exactTsMs").as("exact_ms"))
      },
      Some(s"""WITH RECURSIVE $ptsCte, $dscoreCte, $windowsCte,
              |sliced AS (
              |  SELECT w.k, w.start_ms, w.end_ms, w.mscore, p.ts_ms,
              |         greatest(p.v - 150.0, 1.0 - p.v, 0.0) AS rs
              |  FROM wins w JOIN pts p
              |    ON p.k = w.k AND p.ts_ms BETWEEN w.start_ms AND w.end_ms),
              |ranked AS (
              |  SELECT *, row_number() OVER (PARTITION BY k, start_ms
              |                               ORDER BY rs DESC, ts_ms DESC) rn
              |  FROM sliced)
              |SELECT k AS user_id, start_ms, end_ms,
              |       round(mscore, 4) AS anomaly_score, ts_ms AS exact_ms
              |FROM ranked WHERE rn = 1""".stripMargin)
    ),
    // D14 score_only through the EP2 facade: detection short-circuits
    // after scoring (anomalies stays empty), scores flow out unchanged —
    // verified against the same EMA recursive-CTE oracle as the direct
    // kernel query.
    Q(
      "anomaly_score_only",
      (s, dir) =>
        asOut(
          graft.client.Graft
            .monitor(
              Tables.events(s, dir), cols,
              detCfg = DetectorConfig(algorithmName = "exp_avg_detector", scoreOnly = true))
            .scores),
      Some(s"""WITH RECURSIVE $ptsCte, $escoreCte
              |SELECT k AS user_id, ts_ms, v AS value, round(score, 4) AS score FROM escore""".stripMargin)
    ),
    // Streaming parity: the Structured Streaming monitor (exp_avg EMA
    // state in the state store + absolute D11 threshold), batch-replayed
    // one micro-batch per day so EmaState crosses ~30 batch boundaries,
    // against the same recursive-CTE EMA the batch kernel oracles use.
    // The stream kernel drops a point whose ts does not advance its key
    // (late/dup policy) — with per-batch (ts, value) sorting that keeps
    // the MIN value of each duplicated timestamp, mirrored by the
    // oracle's min(v) GROUP BY. Scores here are the RAW |v − ema| devs
    // (the documented batch/stream divergence: stddev normalization
    // needs the whole series).
    Q(
      "anomaly_stream_monitor",
      (s, dir) =>
        graft.streaming.Replay
          .monitorCfgReplay(
            pts(s, dir),
            DetectorConfig(algorithmName = "exp_avg_detector", scoreThreshold = Some(30.0)),
            p => p.tsMs / 86400000L)
          .select(
            keyAsLong.as("user_id"), col("tsMs").as("ts_ms"), col("value"),
            round(col("ema"), 4).as("ema"), round(col("dev"), 4).as("dev"),
            col("isAnomaly").as("is_anomaly")),
      Some(s"""WITH RECURSIVE $ptsCte,
              |d AS (SELECT k, ts_ms, min(v) v FROM pts GROUP BY k, ts_ms),
              |rd AS (SELECT k, ts_ms, v, row_number() OVER (PARTITION BY k ORDER BY ts_ms) rn FROM d),
              |sema AS (
              |  SELECT k, ts_ms, v, rn, v AS ema FROM rd WHERE rn = 1
              |  UNION ALL
              |  SELECT p.k, p.ts_ms, p.v, p.rn, 0.2*p.v + (1 - 0.2)*e.ema
              |  FROM rd p JOIN sema e ON p.k = e.k AND p.rn = e.rn + 1)
              |SELECT k AS user_id, ts_ms, v AS value, round(ema, 4) AS ema,
              |       round(abs(v - ema), 4) AS dev, abs(v - ema) > 30.0 AS is_anomaly
              |FROM sema""".stripMargin)
    ),
    // D11 divergence CLOSED: streaming can't do pct-of-max (needs the
    // whole series), so the absolute threshold is CALIBRATED from a
    // history window — the p99 of the first 15 days' streaming raw
    // deviations via the integer histogram sketch — and the live half of
    // the month streams against that cut. The oracle replays both
    // stages: the history EMA recursion, the centi-unit binned quantile
    // interpolation, and the live recursion + flag, all in the same
    // integer arithmetic.
    Q(
      "anomaly_stream_calibrated",
      (s, dir) => {
        val all = pts(s, dir)
        val splitMs = 1705363200000L // 2024-01-16T00:00Z: days 1-15 calibrate
        val hist = all.filter(col("tsMs") < splitMs)
        val live = all.filter(col("tsMs") >= splitMs)
        // history scored by the SAME streaming kernel (replayed one
        // micro-batch per day), threshold = its p99 dev
        val histScores = graft.streaming.Replay.monitorCfgReplay(
          hist,
          DetectorConfig(algorithmName = "exp_avg_detector", scoreThreshold = Some(Double.MaxValue)),
          p => p.tsMs / 86400000L)
        val thr = graft.streaming.MonitorStream.calibratedThreshold(histScores, "dev", qMille = 990)
        graft.streaming.Replay
          .monitorCfgReplay(
            live,
            DetectorConfig(algorithmName = "exp_avg_detector", scoreThreshold = Some(thr)),
            p => p.tsMs / 86400000L)
          .select(
            keyAsLong.as("user_id"), col("tsMs").as("ts_ms"), col("value"),
            round(col("dev"), 4).as("dev"), col("isAnomaly").as("is_anomaly"),
            lit(thr).as("threshold"))
      },
      Some(s"""WITH RECURSIVE $ptsCte,
              |h AS (SELECT k, ts_ms, min(v) v FROM pts WHERE ts_ms < 1705363200000 GROUP BY k, ts_ms),
              |rh AS (SELECT k, ts_ms, v, row_number() OVER (PARTITION BY k ORDER BY ts_ms) rn FROM h),
              |semah AS (
              |  SELECT k, ts_ms, v, rn, v AS ema FROM rh WHERE rn = 1
              |  UNION ALL
              |  SELECT p.k, p.ts_ms, p.v, p.rn, 0.2*p.v + (1 - 0.2)*e.ema
              |  FROM rh p JOIN semah e ON p.k = e.k AND p.rn = e.rn + 1),
              |cells AS (SELECT least(greatest(CAST(round(abs(v - ema) * 100, 0) AS BIGINT) // 64, 0), 639) bin,
              |                 count(*) cnt
              |          FROM semah GROUP BY 1),
              |cc AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) cum, sum(cnt) OVER () total FROM cells),
              |th AS (SELECT round(CAST(bin * 64 + ((target - (cum - cnt)) * 64) // cnt AS BIGINT) / 100.0, 4) thr
              |       FROM (SELECT bin, cnt, cum, total,
              |               greatest((990 * total + 999) // 1000, 1) target FROM cc)
              |       WHERE cum >= target AND cum - cnt < target),
              |l AS (SELECT k, ts_ms, min(v) v FROM pts WHERE ts_ms >= 1705363200000 GROUP BY k, ts_ms),
              |rl AS (SELECT k, ts_ms, v, row_number() OVER (PARTITION BY k ORDER BY ts_ms) rn FROM l),
              |semal AS (
              |  SELECT k, ts_ms, v, rn, v AS ema FROM rl WHERE rn = 1
              |  UNION ALL
              |  SELECT p.k, p.ts_ms, p.v, p.rn, 0.2*p.v + (1 - 0.2)*e.ema
              |  FROM rl p JOIN semal e ON p.k = e.k AND p.rn = e.rn + 1)
              |SELECT k AS user_id, ts_ms, v AS value, round(abs(v - ema), 4) AS dev,
              |       abs(v - ema) > th.thr AS is_anomaly, th.thr AS threshold
              |FROM semal CROSS JOIN th""".stripMargin)
    ),
    // Streaming seasonal-residual monitor: days 1-15 decompose into a
    // STORED STL profile (per-phase seasonal + level-hold + history
    // length) and calibrate the p99 residual threshold; days 16+ stream
    // against the profile through two broadcast stream-static joins and
    // an O(1) phase-continuation fold. Closes the last batch/stream
    // asymmetry: the trailing-EMA monitors flag every on-peak hour of a
    // cyclic series, this one flags deviation FROM the cycle. The
    // oracle replays the decomposition (history split), the profile
    // derivation, the integer histogram-quantile calibration, and the
    // live phase/residual arithmetic.
    Q(
      "anomaly_stream_seasonal",
      (s, dir) => {
        val all = pts(s, dir)
        val splitMs = 1705363200000L // 2024-01-16T00:00Z: days 1-15 profile
        // the decomposition feeds three consumers (profile aggs +
        // calibration) and the profile is re-read by EVERY micro-batch's
        // stream-static join — scoped persists, released after the
        // memory sink has materialized
        val stl = graft.ts.TsAlgebra.stlDecompose(
          all.filter(col("tsMs") < splitMs).toDF(),
          "seriesKey", "tsMs", "value", period = 24).persist()
        try {
          val profile = graft.streaming.MonitorStream
            .seasonalProfileFrom(stl, "seriesKey", "tsMs").persist()
          profile.count()
          try {
            val thr = graft.streaming.MonitorStream.calibratedThreshold(
              stl.withColumn("dev", abs(col("resid_fp")) / 10000.0), "dev", qMille = 990)
            graft.streaming.Replay
              .seasonalReplay(
                all.filter(col("tsMs") >= splitMs), profile, period = 24, threshold = thr,
                p => p.tsMs / 86400000L)
              .select(
                keyAsLong.as("user_id"), col("tsMs").as("ts_ms"), col("value"),
                col("phase").cast("long").as("phase"), col("resid_fp"),
                round(col("dev"), 4).as("dev"), col("isAnomaly").as("is_anomaly"),
                lit(thr).as("threshold"))
          } finally profile.unpersist(blocking = false)
        } finally stl.unpersist(blocking = false)
      },
      Some(s"""WITH ${TsQueries.stlCteFor(s"(SELECT * FROM events WHERE epoch_ms(ts) < 1705363200000)")},
              |prof_p AS (SELECT user_id, phase, min(seasonal_fp) seasonal_fp FROM f GROUP BY 1, 2),
              |prof_k AS (SELECT user_id, n0, level_fp FROM (
              |             SELECT user_id, trend_fp level_fp,
              |                    count(*) OVER (PARTITION BY user_id) n0,
              |                    row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC) rn
              |             FROM f) WHERE rn = 1),
              |cells AS (SELECT least(greatest(CAST(round((abs(dt - seasonal_fp) / 10000.0) * 100, 0) AS BIGINT) // 64, 0), 639) bin,
              |                 count(*) cnt
              |          FROM f GROUP BY 1),
              |cc AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) cum, sum(cnt) OVER () total FROM cells),
              |th AS (SELECT round(CAST(bin * 64 + ((target - (cum - cnt)) * 64) // cnt AS BIGINT) / 100.0, 4) thr
              |       FROM (SELECT bin, cnt, cum, total,
              |               greatest((990 * total + 999) // 1000, 1) target FROM cc)
              |       WHERE cum >= target AND cum - cnt < target),
              |lv AS (SELECT user_id, epoch_ms(ts) ts_ms, value,
              |         CAST(round(value*100, 0) AS BIGINT) * 100 value_fp,
              |         row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)) - 1 idx
              |       FROM events WHERE epoch_ms(ts) >= 1705363200000),
              |sc AS (SELECT l.user_id, l.ts_ms, l.value, l.value_fp,
              |         (k.n0 + l.idx) % 24 phase, k.level_fp
              |       FROM lv l JOIN prof_k k USING (user_id)),
              |j AS (SELECT s.user_id, s.ts_ms, s.value, s.phase,
              |        s.value_fp - s.level_fp - p.seasonal_fp resid_fp
              |      FROM sc s JOIN prof_p p ON p.user_id = s.user_id AND p.phase = s.phase)
              |SELECT user_id, ts_ms, value, CAST(phase AS BIGINT) AS phase,
              |       CAST(resid_fp AS BIGINT) AS resid_fp,
              |       round(abs(resid_fp) / 10000.0, 4) AS dev,
              |       abs(resid_fp) / 10000.0 > th.thr AS is_anomaly, th.thr AS threshold
              |FROM j CROSS JOIN th""".stripMargin)
    ),
    // Cold-start surface of the seasonal monitor: the stored profile is
    // MISSING every fifth series (a stale artifact / newly-onboarded
    // hosts), and the stream runs in emitUnscored mode — absent keys
    // surface as explicit 'unscored' rows (NULL residual/verdict), keys
    // whose short history never exhibited a phase score 'level_only'
    // against the level-hold forecast, full hits score 'seasonal'. The
    // oracle replays the same left joins over the filtered profile;
    // calibration stays on the FULL history (the threshold artifact is
    // refreshed separately from the profile in a real pipeline).
    Q(
      "anomaly_stream_seasonal_cold",
      (s, dir) => {
        val all = pts(s, dir)
        val splitMs = 1705363200000L // 2024-01-16T00:00Z: days 1-15 profile
        val stl = graft.ts.TsAlgebra.stlDecompose(
          all.filter(col("tsMs") < splitMs).toDF(),
          "seriesKey", "tsMs", "value", period = 24).persist()
        try {
          val profile = graft.streaming.MonitorStream
            .seasonalProfileFrom(stl, "seriesKey", "tsMs")
            .where(col("seriesKey").cast("long") % 5 =!= 0)
            .persist()
          profile.count()
          try {
            val thr = graft.streaming.MonitorStream.calibratedThreshold(
              stl.withColumn("dev", abs(col("resid_fp")) / 10000.0), "dev", qMille = 990)
            graft.streaming.Replay
              .seasonalReplay(
                all.filter(col("tsMs") >= splitMs), profile, period = 24, threshold = thr,
                p => p.tsMs / 86400000L, emitUnscored = true)
              .select(
                keyAsLong.as("user_id"), col("tsMs").as("ts_ms"), col("value"),
                col("phase").cast("long").as("phase"), col("score_mode"), col("resid_fp"),
                round(col("dev"), 4).as("dev"), col("isAnomaly").as("is_anomaly"),
                lit(thr).as("threshold"))
          } finally profile.unpersist(blocking = false)
        } finally stl.unpersist(blocking = false)
      },
      Some(s"""WITH ${TsQueries.stlCteFor(s"(SELECT * FROM events WHERE epoch_ms(ts) < 1705363200000)")},
              |prof_p AS (SELECT user_id, phase, min(seasonal_fp) seasonal_fp FROM f
              |           WHERE user_id % 5 <> 0 GROUP BY 1, 2),
              |prof_k AS (SELECT user_id, n0, level_fp FROM (
              |             SELECT user_id, trend_fp level_fp,
              |                    count(*) OVER (PARTITION BY user_id) n0,
              |                    row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC) rn
              |             FROM f) WHERE rn = 1 AND user_id % 5 <> 0),
              |cells AS (SELECT least(greatest(CAST(round((abs(dt - seasonal_fp) / 10000.0) * 100, 0) AS BIGINT) // 64, 0), 639) bin,
              |                 count(*) cnt
              |          FROM f GROUP BY 1),
              |cc AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) cum, sum(cnt) OVER () total FROM cells),
              |th AS (SELECT round(CAST(bin * 64 + ((target - (cum - cnt)) * 64) // cnt AS BIGINT) / 100.0, 4) thr
              |       FROM (SELECT bin, cnt, cum, total,
              |               greatest((990 * total + 999) // 1000, 1) target FROM cc)
              |       WHERE cum >= target AND cum - cnt < target),
              |lv AS (SELECT user_id, epoch_ms(ts) ts_ms, value,
              |         CAST(round(value*100, 0) AS BIGINT) * 100 value_fp,
              |         row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)) - 1 idx
              |       FROM events WHERE epoch_ms(ts) >= 1705363200000),
              |sc AS (SELECT l.user_id, l.ts_ms, l.value, l.value_fp,
              |         CASE WHEN k.n0 IS NOT NULL THEN (k.n0 + l.idx) % 24 END phase,
              |         k.level_fp, k.n0
              |       FROM lv l LEFT JOIN prof_k k USING (user_id)),
              |j AS (SELECT s.user_id, s.ts_ms, s.value, s.phase,
              |        CASE WHEN s.n0 IS NULL THEN 'unscored'
              |             WHEN p.seasonal_fp IS NULL THEN 'level_only'
              |             ELSE 'seasonal' END score_mode,
              |        CASE WHEN s.n0 IS NULL THEN NULL
              |             WHEN p.seasonal_fp IS NULL THEN s.value_fp - s.level_fp
              |             ELSE s.value_fp - s.level_fp - p.seasonal_fp END resid_fp
              |      FROM sc s LEFT JOIN prof_p p ON p.user_id = s.user_id AND p.phase = s.phase)
              |SELECT user_id, ts_ms, value, CAST(phase AS BIGINT) AS phase, score_mode,
              |       CAST(resid_fp AS BIGINT) AS resid_fp,
              |       round(abs(resid_fp) / 10000.0, 4) AS dev,
              |       CASE WHEN score_mode = 'unscored' THEN NULL
              |            ELSE abs(resid_fp) / 10000.0 > th.thr END AS is_anomaly,
              |       th.thr AS threshold
              |FROM j CROSS JOIN th""".stripMargin)
    )
  )
}
