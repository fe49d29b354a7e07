package graft.client

import graft.config.{DetectorConfig, TsQueryConfig}
import graft.bridge.SqlBridge
import graft.detect.Detectors
import graft.model.TsSample
import graft.ts.{TsAlgebra, TsCols}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The three result facets of the reference `AnomalyResult`
  * (/root/reference/potoos/models/anomaly.py:39-45) as Datasets — kept
  * distributed instead of collected client-side.
  *
  * The facets are not fully lazy: `Graft.monitor` has already run the
  * range query and the min-points guard, and all three facets read those
  * guarded points from one persisted copy (memory, spilling to disk). The
  * result holds that copy until it (and every frame built on a facet) is
  * unreachable; Spark's ContextCleaner releases it at the next driver GC
  * after that, which an idle driver may not run for up to
  * `spark.cleaner.periodicGC.interval` (30 min by default). A monitor over
  * a whole table keeps a copy of that table's guarded points until then.
  * Each facet's own scoring, windowing and metadata stages run when the
  * facet is executed.
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

  /** Runs the range query and the min-points guard once, then builds the
    * three facets over those points; see `MonitorResult` for what the
    * result keeps alive. With `refineAlgorithmName` set, the anomaly
    * windows are scored and materialized here too (`refineExact`).
    */
  def monitor(
      df: DataFrame,
      cols: TsCols = TsCols(),
      tsCfg: TsQueryConfig = TsQueryConfig(),
      detCfg: DetectorConfig = DetectorConfig(),
      baseline: Option[DataFrame] = None): MonitorResult = {
    val spark = df.sparkSession
    import spark.implicits._
    val points = SqlBridge.persistRows(guardedPoints(df, cols, tsCfg)).as[TsSample]
    val scores = Detectors.score(points, detCfg, baseline)
    val anomalies =
      if (detCfg.scoreOnly) spark.emptyDataset[graft.model.Anomaly].toDF()
      else {
        val wins = Detectors.anomalies(Detectors.withThreshold(scores, detCfg))
        detCfg.refineAlgorithmName match {
          case Some(r) =>
            Detectors.refineExact(points, wins, detCfg.copy(algorithmName = r, refineAlgorithmName = None))
          case None => wins
        }
      }
    MonitorResult(scores, anomalies, Detectors.metadata(points, anomalies, detCfg.algorithmName))
  }

  /** The detectors' input, unexecuted: the range query's rows as
    * `TsSample`s, series under the minimum length dropped, hash-partitioned
    * by series. Materialized with that partitioning, it lets every facet's
    * per-series operators (folds, windows, per-key aggregates) run without
    * a shuffle of their own. The query's global order is skipped unless a
    * COUNT limit needs it to pick its first N rows.
    */
  private[graft] def guardedPoints(df: DataFrame, cols: TsCols, tsCfg: TsQueryConfig): DataFrame = {
    import df.sparkSession.implicits._
    val rows = TsAlgebra.select(df, tsCfg, cols)
    val queried = if (tsCfg.count.isDefined) TsAlgebra.order(rows, tsCfg, cols) else rows
    // any key type (Redis-style `host:metric` strings, numeric ids)
    // casts losslessly to the engine's string series key
    Detectors.minPointsGuard(
      queried.select(
        col(cols.key).cast("string").as("seriesKey"),
        col(cols.ts).cast("long").as("tsMs"),
        col(cols.value).cast("double").as("value")).as[TsSample])
      .repartition(col("seriesKey"))
  }
}
