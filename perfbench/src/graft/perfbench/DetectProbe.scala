package graft.perfbench

import graft.config.{DetectorConfig, TsQueryConfig}
import graft.detect.Detectors
import graft.model.TsSample
import graft.ts.{TsAlgebra, TsCols}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Traced runs only: `Graft.monitor` calls the detect module internally,
  * where the benchmark cannot put a span, so the traced run builds the same
  * detect-layer frames through the module's public entry points and times
  * each call. The frames are built, not executed.
  */
object DetectProbe {
  def build(df: DataFrame, cols: TsCols, tsCfg: TsQueryConfig, cfg: DetectorConfig, tr: Tracer): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val points = Detectors
      .minPointsGuard(
        TsAlgebra.query(df, tsCfg, cols).select(
          col(cols.key).cast("string").as("seriesKey"),
          col(cols.ts).cast("long").as("tsMs"),
          col(cols.value).cast("double").as("value")).as[TsSample])
      .as[TsSample]
    val scores = tr.span("detect.score")(Detectors.score(points, cfg))
    val marked = tr.span("detect.withThreshold")(Detectors.withThreshold(scores, cfg))
    val anomalies = tr.span("detect.anomalies")(Detectors.anomalies(marked))
    tr.span("detect.metadata")(Detectors.metadata(points, anomalies, cfg.algorithmName))
  }
}
