package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Linear-interpolated percentile, `q` in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val h = (s.size - 1) * q
      val lo = h.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** The benchmark's entry point.
  *
  * {{{
  * Main --workload point_monitor|fleet_scan|corpus_dedup|stream_ingest
  *      --seed N --seconds S --trace 0|1 --cores C --work DIR
  * }}}
  *
  * Sets up `SetupReps` times (fresh inputs, a fresh session, a warm-up) and
  * reports the median set-up time; then measures for `--seconds`. With
  * `--trace 1` the first half of the time is traced and the second half is
  * not, and the per-layer numbers plus the tracing overhead are reported.
  * The last stdout line is the JSON result.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val cores = opt("cores").toInt
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    exitWhenStdinCloses()

    // closed loops warm up over a small input of the same shape; the stream
    // warms up its own query
    val (wl, warm): (Workload, Workload) = workload match {
      case "point_monitor" => (new PointMonitor(seed, cores, PointMonitor.Full), new PointMonitor(seed, 1, PointMonitor.Warm))
      case "fleet_scan" => (new FleetScan(seed, cores, FleetScan.Full), new FleetScan(seed, 1, FleetScan.Warm))
      case "corpus_dedup" => (new CorpusDedup(seed, CorpusDedup.Full), new CorpusDedup(seed, CorpusDedup.Warm))
      case "stream_ingest" => val s = new StreamIngest(seed); (s, s)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val tr = new Tracer
    var spark: SparkSession = null
    var warmUpFailed = 0
    val setupS = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime
      if (spark != null) {
        wl.close()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(cores, work)
      val t1 = System.nanoTime
      val dir = work.resolve(s"inputs-$rep")
      wl.setup(spark, dir.toString)
      if (warm ne wl) warm.setup(spark, dir.resolve("warm-up").toString)
      val t2 = System.nanoTime
      warmUpFailed += warm.warmUp(tr)
      val s = (System.nanoTime - t0) / 1e9
      Console.err.println(f"[perfbench] setup $rep: session ${(t1 - t0) / 1e9}%.2f s, inputs ${(t2 - t1) / 1e9}%.2f s, " +
        f"warm-up ${(System.nanoTime - t2) / 1e9}%.2f s")
      if (rep > 1) deleteTree(work.resolve(s"inputs-${rep - 1}"))
      s
    }

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val report = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    if (!traced) {
      val s = wl.measure(seconds, tr)
      attempted = s.attempted
      failed = s.failed
      val e2e = endToEnd(s, setupS)
      e2e.foreach { case (k, v) => metrics(k) = v }
      report ++= e2e
      report ++= tails(s)
      report ++= s.extra
      wl match {
        case pm: PointMonitor => report("repeat_share") = (pm.repeatShare, "ratio")
        case fs: FleetScan => report("derivative_spike_recall") = (fs.lastRecall, "ratio")
        case _ =>
      }
    } else {
      tr.attach(spark)
      val t = wl.measure(seconds / 2, tr)
      tr.detach()
      val funnels = wl.afterTrace()
      val u = wl.measure(seconds / 2, tr)
      attempted = t.attempted + u.attempted
      failed = t.failed + u.failed
      val layers = Layers.metrics(tr, t, wl) ++ funnels
      Layers.Names.foreach { case (k, unit) => metrics(k) = (layers.getOrElse(k, 0.0), unit) }
      val p50t = Stats.median(t.latMs.toSeq)
      val p50u = Stats.median(u.latMs.toSeq)
      metrics("trace.overhead_pct") = (if (p50u > 0) 100.0 * (p50t / p50u - 1) else 0.0, "%")
      report ++= metrics
      report ++= layers.collect { case (k, v) if !metrics.contains(k) => k -> (v, "") }
      tr.writeJsonl(work.resolve(s"trace-$workload-$seed.jsonl"))
    }
    // a wrong warm-up output is a wrong output too
    attempted += warmUpFailed
    failed += warmUpFailed
    report("failed_ratio") = (if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio")
    report("attempted") = (attempted.toDouble, "count")

    wl.close()
    spark.stop()

    report.foreach { case (k, (v, u)) => println(s"[perfbench] $workload $k = ${fmt(v)} $u") }
    val m = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, "metrics": {$m}}""")
    System.out.flush()
    sys.exit(0)
  }

  private def endToEnd(s: Samples, setupS: Seq[Double]): Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (Stats.median(setupS), "s"),
    "rows_per_s" -> (s.rows / s.busyS, "1/s"),
    "ops_per_s" -> (s.ops / s.busyS, "1/s"),
    "latency_p50_ms" -> (Stats.median(s.latMs.toSeq), "ms"),
    "heap_live_mb" -> (s.heapLiveMb, "MB"))

  /** p90 and p99 where at least ten samples lie beyond them, with the sample count, and
    * the p50 of each kind of operation where a workload mixes kinds. */
  private def tails(s: Samples): Seq[(String, (Double, String))] = {
    val n = s.latMs.size
    Seq(0.9 -> "latency_p90_ms", 0.99 -> "latency_p99_ms").collect {
      case (q, name) if n * (1 - q) >= 10 => name -> (Stats.pct(s.latMs.toSeq, q), "ms")
    } ++ Seq("latency_samples" -> (n.toDouble, "count"), "peak_rss_mb" -> (peakRssMb, "MB")) ++
      (if (s.byKind.size < 2) Nil
       else s.byKind.toSeq.sortBy(_._1).map { case (k, xs) => s"${k}_latency_p50_ms" -> (Stats.median(xs.toSeq), "ms") })
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.fold(0.0)(_.split("\\s+")(1).toDouble / 1024)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = graft.Sessions.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The runner holds our stdin open; if it dies, stop at once instead of running on. */
  private def exitWhenStdinCloses(): Unit = {
    val t = new Thread(() => {
      while (System.in.read() >= 0) {}
      Runtime.getRuntime.halt(1)
    }, "perfbench-stdin-watch")
    t.setDaemon(true)
    t.start()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally all.close()
  }
}
