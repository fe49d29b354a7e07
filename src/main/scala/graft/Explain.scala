package graft

/** Dev tool: run one named query with timing, optionally print the
  * formatted physical plan. A trailing rep count repeats the run (cache
  * cleared and a GC between reps) to see one query's cost and variance
  * without the whole bench. Usage:
  *   runMain graft.Explain <query> <sfDir> [plan] [reps]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val reps = args.drop(2).lastOption.flatMap(_.toIntOption).getOrElse(1)
    val spark = Sessions.get("explain")
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      if (i == 1 && args.contains("plan")) df.explain("formatted")
      val t1 = System.nanoTime()
      val n = df.count()
      val t2 = System.nanoTime()
      println(f"[explain] $name run $i rows=$n build=${(t1 - t0) / 1e9}%.2fs count=${(t2 - t1) / 1e9}%.2fs")
      spark.catalog.clearCache(); System.gc()
    }
    spark.stop()
  }
}
