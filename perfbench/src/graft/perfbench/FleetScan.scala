package graft.perfbench

import graft.Tables
import graft.client.Graft
import graft.config.{DetectorConfig, TsQueryConfig}
import graft.ts.TsCols
import org.apache.spark.sql.SparkSession

/** A fleet-wide detection scan: `Graft.monitor` over every series of the
  * table at once, rotating the detector and sliding the time window each
  * operation, and materializing all three result facets.
  */
final class FleetScan(seed: Long, files: Int, shape: SeriesShape) extends ClosedLoop {
  import FleetScan._

  val cycleLen: Int = Detectors.length
  val warmUpOps: Seq[Int] = Seq(0)
  private var spark: SparkSession = _
  private var dir: String = _
  private var base: Array[Series] = _
  /** lowest share of planted spikes the derivative detector must flag, over one operation */
  private val recallFloor = 0.9
  var lastRecall = 1.0

  def setup(s: SparkSession, d: String): Unit = {
    spark = s
    dir = d
    SeriesGen.write(spark, s"$dir/$Table.parquet", seed, shape, files)
    base = SeriesGen.all(seed, shape)
  }

  /** the scanned window: four fifths of each series */
  private val WindowPoints = shape.points * 4 / 5

  def op(i: Int, tr: Tracer): OpOut = {
    val algorithm = Detectors(i % Detectors.length)
    // the window slides by a seeded whole number of steps per operation
    val lo = Gen.rng(seed, 9000L + i).nextInt(shape.points - WindowPoints)
    val from = shape.ts(lo)
    val to = shape.ts(lo + WindowPoints - 1)
    val df = tr.span("tables.read")(Tables.read(spark, dir, Table))
    val cfg = DetectorConfig(algorithmName = algorithm)
    val tsCfg = TsQueryConfig(Some(from), Some(to))
    val res = tr.span("client.monitor")(Graft.monitor(df, Cols, tsCfg, cfg))
    if (tr.enabled) DetectProbe.build(df, Cols, tsCfg, cfg, tr)
    val nScores = tr.count(res.scores)
    val anomalies = tr.collect(res.anomalies)
    val meta = tr.collect(res.metadata)
    val rows = shape.keys.toLong * WindowPoints
    val why =
      if (nScores != rows) s"$nScores scores, want $rows"
      else if (meta.length != shape.keys) s"${meta.length} metadata rows, want ${shape.keys}"
      else if (meta.exists(_.getAs[Long]("dataPointsAnalyzed") != WindowPoints)) "dataPointsAnalyzed"
      else if (meta.map(_.getAs[Long]("anomaliesFound")).sum != anomalies.length) "anomaliesFound"
      else if (algorithm == "derivative_detector") {
        val windows = anomalies.groupBy(_.getAs[String]("seriesKey"))
          .map { case (k, ws) => k -> ws.map(a => (a.getAs[Long]("startTsMs"), a.getAs[Long]("endTsMs"))) }
        val planted = base.toSeq.flatMap { s =>
          (lo until lo + WindowPoints).filter(t => s.spikes(t) && t > lo + 1).map(t => (s.key, shape.ts(t)))
        }
        val hit = planted.count { case (k, t) => windows.getOrElse(k, Array.empty[(Long, Long)]).exists { case (a, b) => a <= t && t <= b } }
        lastRecall = if (planted.isEmpty) 1.0 else hit.toDouble / planted.size
        if (lastRecall < recallFloor) f"spike recall $lastRecall%.3f below $recallFloor" else ""
      } else ""
    OpOut(algorithm, rows, why.isEmpty, s"$algorithm [$from,$to]: $why")
  }
}

object FleetScan {
  val Table = "fleet"
  val Full: SeriesShape = SeriesShape(keys = 128, points = 600, spikeRate = 0.004, shiftRate = 0.002, salt = 2)
  /** the warm-up table: same schema and layout, a fortieth of the rows */
  val Warm: SeriesShape = Full.copy(keys = 16, points = 120, salt = 12)
  val Cols: TsCols = TsCols(key = "series", ts = "ts_ms", value = "value")
  val Detectors: Array[String] = Array("derivative_detector", "exp_avg_detector", "bitmap_detector", "default_detector")
}
