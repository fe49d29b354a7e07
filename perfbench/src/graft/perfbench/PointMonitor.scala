package graft.perfbench

import scala.collection.mutable

import graft.Tables
import graft.client.Graft
import graft.config.{DetectorConfig, TsQueryConfig}
import graft.ts.{TsAlgebra, TsCols}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Potoos's own traffic: one caller asking for one series at a time. Every
  * request loads the table with `Tables.read`, then runs a raw range, a
  * bucketed `avg` range or `Graft.monitor` on a random key and window;
  * the fifth request of every ten instead appends a batch of new samples
  * as a new parquet file. The three reads right after it ask for the
  * newest samples of a series it appended to, so a stale read fails their
  * check on every cycle.
  */
final class PointMonitor(seed: Long, files: Int, shape: SeriesShape) extends ClosedLoop {
  import PointMonitor._

  val cycleLen: Int = Kinds.length
  /** one request of each read kind, so no measured request is the first to run
    * its code path: a first `avg` took twice, a first monitor 1.7 times as long */
  val warmUpOps: Seq[Int] = Seq(0, 1, 2)
  private var spark: SparkSession = _
  private var dir: String = _
  private var base: Array[Series] = _
  private val appended = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Double)]]
  private var lastAppendKeys: Seq[Int] = Nil
  private val nextTs = mutable.Map.empty[Int, Long]
  private var tableRows = 0L
  private val seen = mutable.Set.empty[(Int, Long, Long)]
  private var reads = 0L
  private var repeats = 0L

  def setup(s: SparkSession, d: String): Unit = {
    spark = s
    dir = d
    SeriesGen.write(spark, s"$dir/$Table.parquet", seed, shape, files)
    base = SeriesGen.all(seed, shape)
    appended.clear()
    nextTs.clear()
    lastAppendKeys = Nil
    tableRows = shape.keys.toLong * shape.points
  }

  def op(i: Int, tr: Tracer): OpOut = {
    val c = i % cycleLen
    if (Kinds(c) == Append) append(i, tr)
    else read(Kinds(c), TailReads.contains(c), Gen.rng(seed, 1000L + i), tr)
  }

  /** Plain-Scala view of one series: generated samples plus appended ones. */
  private def expected(k: Int, from: Long, to: Long): Seq[(Long, Double)] = {
    val s = base(k)
    val gen = (0 until shape.points).iterator.map(t => (shape.ts(t), s.values(t)))
    (gen ++ appended.get(k).iterator.flatten).filter { case (t, _) => t >= from && t <= to }.toSeq
  }

  /** A read of a random key and window; a tail read instead takes a key the
    * last append wrote to and a window ending at that key's newest sample.
    */
  private def read(kind: Int, tail: Boolean, r: java.util.SplittableRandom, tr: Tracer): OpOut = {
    val k = if (tail) lastAppendKeys(r.nextInt(lastAppendKeys.size)) else r.nextInt(shape.keys)
    val key = base(k).key
    val len = Windows(r.nextInt(Windows.length)) * shape.stepMs
    val (from, to) =
      if (tail) { val end = nextTs(k) - shape.stepMs; (end - len, end) }
      else { val start = shape.t0 + r.nextInt(shape.points / 30 + 1) * 30 * shape.stepMs; (start, start + len) }
    reads += 1
    if (!seen.add((k, from, to))) repeats += 1
    val want = expected(k, from, to)
    val df = tr.span("tables.read")(Tables.read(spark, dir, Table)).where(col("series") === key)
    kind match {
      case 0 =>
        val q = tr.span("ts.query")(TsAlgebra.query(df, TsQueryConfig(Some(from), Some(to)), Cols))
        val got = tr.collect(q).map(r => (r.getLong(1), r.getDouble(2))).toSeq
        OpOut("range", tableRows, got == want, s"range $key [$from,$to]: ${got.size} rows, want ${want.size}")
      case 1 =>
        val b = Buckets(r.nextInt(Buckets.length)) * shape.stepMs
        val cfg = TsQueryConfig(Some(from), Some(to), aggregationType = Some("avg"), bucketSizeMs = Some(b))
        val q = tr.span("ts.query")(TsAlgebra.query(df, cfg, Cols))
        val got = tr.collect(q).map(r => (r.getLong(1), r.getDouble(2))).toSeq
        val exp = want.groupBy { case (t, _) => t - Math.floorMod(t, b) }.toSeq.sortBy(_._1)
          .map { case (bt, xs) => (bt, xs.map(_._2).sum / xs.size) }
        val same = got.size == exp.size && got.zip(exp).forall { case ((gt, gv), (et, ev)) =>
          gt == et && math.abs(gv - ev) <= 1e-9 * math.max(1.0, math.abs(ev))
        }
        OpOut("avg", tableRows, same, s"avg $key [$from,$to]/$b: ${got.size} buckets, want ${exp.size}")
      case _ =>
        val cfg = DetectorConfig()
        val res = tr.span("client.monitor")(Graft.monitor(df, Cols, TsQueryConfig(Some(from), Some(to)), cfg))
        if (tr.enabled) DetectProbe.build(df, Cols, TsQueryConfig(Some(from), Some(to)), cfg, tr)
        val scores = tr.collect(res.scores)
        val anomalies = tr.collect(res.anomalies)
        val meta = tr.collect(res.metadata)
        val why = checkMonitor(want, scores, anomalies, meta)
        OpOut("monitor", tableRows, why.isEmpty, s"monitor $key [$from,$to]: $why")
    }
  }

  /** Empty when the three facets agree with the requested window's points. */
  private def checkMonitor(want: Seq[(Long, Double)], scores: Array[Row], anomalies: Array[Row], meta: Array[Row]): String = {
    val n = want.size
    if (n < graft.config.Constants.MinPoints) {
      if (scores.isEmpty && anomalies.isEmpty && meta.isEmpty) "" else "short series not dropped"
    } else if (scores.map(_.getAs[Long]("tsMs")).sorted.toSeq != want.map(_._1).sorted) s"scores ${scores.length} != $n points"
    else if (meta.length != 1) s"${meta.length} metadata rows"
    else if (meta(0).getAs[Long]("dataPointsAnalyzed") != n) "dataPointsAnalyzed"
    else if (meta(0).getAs[Long]("anomaliesFound") != anomalies.length) "anomaliesFound"
    else if (anomalies.exists(a => a.getAs[Long]("startTsMs") < want.head._1 || a.getAs[Long]("endTsMs") > want.last._1))
      "anomaly outside the window"
    else ""
  }

  private def append(i: Int, tr: Tracer): OpOut = {
    val r = Gen.rng(seed, 5000000L + i)
    val keys = Iterator.continually(r.nextInt(shape.keys)).distinct.take(appendKeys(shape)).toSeq
    lastAppendKeys = keys
    val rows = keys.flatMap { k =>
      val last = base(k).values.last
      (0 until AppendPoints).map { _ =>
        val t = nextTs.getOrElse(k, shape.lastTs + shape.stepMs)
        nextTs(k) = t + shape.stepMs
        val v = math.round((last + r.nextGaussian()) * 100) / 100.0
        appended.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ((t, v))
        Point(base(k).key, t, v)
      }
    }
    val sp = spark
    import sp.implicits._
    tr.span("sources.append_write") {
      rows.toDS().coalesce(1).write.mode("append").parquet(s"$dir/$Table.parquet")
    }
    tableRows += rows.size
    OpOut("append", rows.size.toLong, ok = true)
  }

  def repeatShare: Double = if (reads == 0) 0.0 else repeats.toDouble / reads
}

object PointMonitor {
  val Table = "points"
  val Full: SeriesShape = SeriesShape(keys = 2000, points = 500, spikeRate = 0.004, shiftRate = 0.002, salt = 1)
  /** the warm-up table: same schema and layout, a fiftieth of the rows */
  val Warm: SeriesShape = Full.copy(keys = 200, points = 100, salt = 11)
  /** one cycle: the request at each position (0 raw range, 1 `avg` range,
    * 2 monitor, or an append), and the reads that follow the append onto
    * its tail */
  val Append: Int = -1
  val Kinds: Array[Int] = Array(0, 1, 2, 0, Append, 0, 1, 2, 1, 2)
  val TailReads: Set[Int] = Set(5, 6, 7)
  val Cols: TsCols = TsCols(key = "series", ts = "ts_ms", value = "value")
  /** window lengths and bucket sizes, in minutes */
  val Windows: Array[Long] = Array(60L, 120L, 240L)
  val Buckets: Array[Long] = Array(5L, 15L)
  /** series per append: a twentieth of the keys */
  def appendKeys(shape: SeriesShape): Int = math.max(1, shape.keys / 20)
  val AppendPoints = 5
}
