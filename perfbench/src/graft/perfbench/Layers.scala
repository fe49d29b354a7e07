package graft.perfbench

/** Per-layer numbers from a traced stretch. Times are means per operation
  * over every traced operation; counts that should repeat exactly under a
  * fixed seed (jobs, stages, tasks, scan rows, shuffle bytes) are means per
  * operation over the first whole cycle only, which is the same set of
  * operations on every run. For `stream_ingest` an operation is a
  * micro-batch. A layer a workload does not call reads 0.
  */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "tables.read_ms" -> "ms", "tables.read_jobs" -> "count",
    "ts.query_build_ms" -> "ms", "client.monitor_build_ms" -> "ms", "detect.build_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count", "spark.driver_gap_ms" -> "ms",
    "spark.scan_rows" -> "count", "spark.scan_rows_per_result_row" -> "ratio",
    "spark.task_cpu_ms" -> "ms", "spark.task_run_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.peak_exec_mem_bytes" -> "B",
    "sources.append_write_ms" -> "ms",
    "ext.minhash_ms" -> "ms", "ext.clusters_ms" -> "ms", "ext.clusters_rounds" -> "count", "ext.ppjoin_ms" -> "ms",
    "ext.candidates" -> "count", "ext.verified_pairs" -> "count", "ext.verify_ratio" -> "ratio",
    "streaming.batch_ms" -> "ms", "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.state_commit_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_mem_bytes" -> "B", "streaming.late_rows_dropped" -> "count", "streaming.backlog_rows" -> "count",
    "streaming.generator_lag_ms" -> "ms",
    "tables.self_ms" -> "ms", "ts.self_ms" -> "ms", "client.self_ms" -> "ms", "detect.self_ms" -> "ms",
    "ext.self_ms" -> "ms", "streaming.self_ms" -> "ms", "spark.self_ms" -> "ms", "sources.self_ms" -> "ms")

  def metrics(tr: Tracer, s: Samples, wl: Workload): Map[String, Double] = {
    val all = tr.spansOf(s.allOps)
    val first = tr.spansOf(s.firstCycle)
    val nOps = math.max(1, s.allOps.size).toDouble
    val nFirst = math.max(1, s.firstCycle.size).toDouble
    def named(xs: Seq[Span], name: String) = xs.filter(_.name == name)
    def meanMs(name: String) = Stats.mean(named(all, name).map(_.ms))
    def perOp(xs: Seq[Span], n: Double, k: String) = xs.map(_.count(k)).sum / n
    val monitors = math.max(1, named(all, "client.monitor").size).toDouble
    val results = first.map(_.count("result_rows")).sum
    val scan = perOp(first, nFirst, "scan_rows")
    val base = Map(
      "tables.read_ms" -> meanMs("tables.read"),
      "tables.read_jobs" -> Stats.mean(named(first, "tables.read").map(_.count("jobs"))),
      "ts.query_build_ms" -> meanMs("ts.query"),
      "client.monitor_build_ms" -> meanMs("client.monitor"),
      "detect.build_ms" -> all.filter(_.layer == "detect").map(_.ms).sum / monitors,
      "catalyst.analysis_ms" -> perOp(all, nOps, "analysis_ms"),
      "catalyst.optimization_ms" -> perOp(all, nOps, "optimization_ms"),
      "catalyst.planning_ms" -> perOp(all, nOps, "planning_ms"),
      "spark.jobs" -> perOp(first, nFirst, "jobs"),
      "spark.stages" -> perOp(first, nFirst, "stages"),
      "spark.tasks" -> perOp(first, nFirst, "tasks"),
      "spark.driver_gap_ms" -> perOp(all, nOps, "driver_gap_ms"),
      "spark.scan_rows" -> scan,
      "spark.scan_rows_per_result_row" -> (if (results > 0) scan * nFirst / results else 0.0),
      "spark.task_cpu_ms" -> perOp(all, nOps, "task_cpu_ms"),
      "spark.task_run_ms" -> perOp(all, nOps, "task_run_ms"),
      "spark.gc_ms" -> perOp(all, nOps, "gc_ms"),
      "spark.shuffle_write_bytes" -> perOp(first, nFirst, "shuffle_write_bytes"),
      "spark.shuffle_read_bytes" -> perOp(first, nFirst, "shuffle_read_bytes"),
      "spark.spill_bytes" -> perOp(first, nFirst, "spill_bytes"),
      "spark.peak_exec_mem_bytes" -> (0.0 +: all.map(_.count("peak_exec_mem_bytes"))).max,
      "sources.append_write_ms" -> meanMs("sources.append_write"),
      "ext.minhash_ms" -> meanMs("ext.minhash"),
      "ext.clusters_ms" -> meanMs("ext.clusters"),
      "ext.clusters_rounds" -> Stats.mean(named(first, "ext.clusters").map(_.count("rounds"))),
      "ext.ppjoin_ms" -> meanMs("ext.ppjoin")) ++
      Seq("tables", "ts", "client", "detect", "ext", "spark", "sources").map { l =>
        s"$l.self_ms" -> all.filter(_.layer == l).map(tr.selfMs).sum / nOps
      }
    wl match {
      case st: StreamIngest =>
        // one span covers the whole stretch: spread its Spark work over the micro-batches
        val layer = st.streamingLayer(tr, s)
        val batches = math.max(1.0, layer("streaming.batches"))
        val spark = Seq("jobs", "stages", "tasks", "task_cpu_ms", "task_run_ms", "gc_ms", "shuffle_write_bytes",
          "shuffle_read_bytes", "spill_bytes", "analysis_ms", "optimization_ms", "planning_ms")
          .map(k => k -> all.map(_.count(k)).sum / batches).toMap
        base ++ layer ++ Map(
          "spark.jobs" -> spark("jobs"), "spark.stages" -> spark("stages"), "spark.tasks" -> spark("tasks"),
          "spark.task_cpu_ms" -> spark("task_cpu_ms"), "spark.task_run_ms" -> spark("task_run_ms"),
          "spark.gc_ms" -> spark("gc_ms"), "spark.shuffle_write_bytes" -> spark("shuffle_write_bytes"),
          "spark.shuffle_read_bytes" -> spark("shuffle_read_bytes"), "spark.spill_bytes" -> spark("spill_bytes"),
          "catalyst.analysis_ms" -> spark("analysis_ms"), "catalyst.optimization_ms" -> spark("optimization_ms"),
          "catalyst.planning_ms" -> spark("planning_ms"))
      case _ => base
    }
  }
}
