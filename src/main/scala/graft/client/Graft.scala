package graft.client

import graft.config.{DetectorConfig, TsQueryConfig}
import graft.bridge.SqlBridge
import graft.detect.Detectors
import graft.model.TsSample
import graft.ts.{TsAlgebra, TsCols}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** The three result facets of the reference `AnomalyResult`
  * (/root/reference/potoos/models/anomaly.py:39-45) as Datasets — kept
  * distributed instead of collected client-side.
  *
  * The facets are not lazy: `Graft.monitor` has already run the range
  * query, the min-points guard, the detector and the threshold, and all
  * three facets read that one scored copy (memory, spilling to disk).
  * What is left for a facet to run is a filter (`scores`) or one
  * per-series aggregate (`anomalies`, `metadata`). The result holds the
  * scored copy until it (and every frame built on a facet) is unreachable;
  * Spark's ContextCleaner releases it at the next driver GC after that,
  * which an idle driver may not run for up to
  * `spark.cleaner.periodicGC.interval` (30 min by default). A monitor over
  * a whole table keeps a scored copy of that table's guarded points until
  * then.
  */
final case class MonitorResult(scores: DataFrame, anomalies: DataFrame, metadata: DataFrame)

/** Engine facade — the Spark-native `PotoosClient.monitor()`
  * (EP2, /root/reference/potoos/client.py:113-139), generalized from
  * one-series-per-call to all series in the input at once.
  *
  * Pipeline: range-query algebra (filters/aggregation) → min-cardinality
  * guard → detector scoring → thresholding → anomaly-window assembly →
  * metadata. Empty input yields empty results (D16) rather than an error;
  * series shorter than 4 points are dropped by the guard (D0, relational
  * form of the reference's ValueError).
  */
/** Stateful client mirroring the reference's constructor-defaults +
  * per-call-override shape (EP2: ts_config resolution at
  * /root/reference/potoos/client.py:130; tested by the reference's
  * config-override cases, tests/test_client.py:205-267).
  */
final class GraftClient(
    val defaultTsCfg: TsQueryConfig = TsQueryConfig(),
    val defaultDetCfg: DetectorConfig = DetectorConfig()) {

  def monitor(
      df: DataFrame,
      cols: TsCols = TsCols(),
      tsCfg: Option[TsQueryConfig] = None,
      detCfg: Option[DetectorConfig] = None,
      baseline: Option[DataFrame] = None): MonitorResult =
    Graft.monitor(df, cols, tsCfg.getOrElse(defaultTsCfg), detCfg.getOrElse(defaultDetCfg), baseline)
}

object Graft {

  /** Scores once per request. The range query's guarded points are
    * scored and thresholded, every point is tagged with its anomaly run
    * (D12 `runIds`) and its series' extent (D15 `extent`), and those rows
    * are materialized as one copy hash-partitioned by series; see
    * `MonitorResult` for what the result keeps alive. A series the detector
    * scored no row of (a baseline covering none of its points) keeps one
    * row of nulls in the copy, so it still gets its metadata row. With
    * `refineAlgorithmName` set, the anomaly windows are re-scored and
    * materialized here too (`refineExact`), over the copy's scored points.
    */
  def monitor(
      df: DataFrame,
      cols: TsCols = TsCols(),
      tsCfg: TsQueryConfig = TsQueryConfig(),
      detCfg: DetectorConfig = DetectorConfig(),
      baseline: Option[DataFrame] = None): MonitorResult = {
    val spark = df.sparkSession
    import spark.implicits._
    val points = guardedPoints(df, cols, tsCfg)
    val scored = Detectors.score(points.as[TsSample], detCfg, baseline)
    val runs =
      if (detCfg.scoreOnly) scored.withColumn("_run", lit(null).cast("long"))
      else Detectors.runIds(Detectors.withThreshold(scored, detCfg))
    // both sides derive from the one series exchange: the merge hint keeps
    // the planner from broadcasting the scored side (a job of its own)
    val copy = SqlBridge.persistRows(
      Detectors.extent(points)
        .join(runs.withColumn("_scored", lit(true)).hint("merge"), Seq("seriesKey"), "left"))
    val scores = copy
      .where(col("_scored"))
      .select(scored.columns.map(c => col("`" + c.replace("`", "``") + "`")): _*)
    val anomalies =
      if (detCfg.scoreOnly) spark.emptyDataset[graft.model.Anomaly].toDF()
      else {
        val wins = Detectors.runWindows(copy)
        detCfg.refineAlgorithmName match {
          case Some(r) =>
            Detectors.refineExact(
              scores.select("seriesKey", "tsMs", "value").as[TsSample], wins,
              detCfg.copy(algorithmName = r, refineAlgorithmName = None))
          case None => wins
        }
      }
    MonitorResult(scores, anomalies, Detectors.runMetadata(copy, detCfg.algorithmName))
  }

  /** The detectors' input, unexecuted: the range query's rows as
    * `TsSample`s, hash-partitioned by series, series under the minimum
    * length dropped by a fold over those partitions. The detector's
    * per-series operators (folds, windows, per-key aggregates) and the
    * series extent then run without a shuffle of their own, so this
    * repartition is the request's one exchange. The query's global order is
    * skipped unless a COUNT limit needs it to pick its first N rows.
    */
  private[graft] def guardedPoints(df: DataFrame, cols: TsCols, tsCfg: TsQueryConfig): DataFrame = {
    val rows = TsAlgebra.select(df, tsCfg, cols)
    val queried = if (tsCfg.count.isDefined) TsAlgebra.order(rows, tsCfg, cols) else rows
    // any key type (Redis-style `host:metric` strings, numeric ids)
    // casts losslessly to the engine's string series key
    Detectors.minPointsFold(
      queried
        .select(
          col(cols.key).cast("string").as("seriesKey"),
          col(cols.ts).cast("long").as("tsMs"),
          col(cols.value).cast("double").as("value"))
        .repartition(col("seriesKey")))
  }
}
