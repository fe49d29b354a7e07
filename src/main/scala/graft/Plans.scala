package graft
import java.nio.file.{Files, Paths}

/** Plan dumper (optimization-round measurement harness, guide §1/§7.2):
  * for each named query, build the DataFrame and write its
  * `.explain("formatted")` output to `<outDir>/<name><suffix>.txt`.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> <q1,q2,...|all> [suffix]
  *
  * The dump is the PRE-execution plan (AdaptiveSparkPlan
  * isFinalPlan=false where AQE applies); Exchange counts, join
  * strategies, PushedFilters and ReadSchema are all visible at this
  * stage, which is what the plan-shape audit needs. Queries whose
  * construction is eager (index builds, persisted kernels) run that
  * part for real — same behavior as one bench iteration.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names: Seq[String] =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val suffix = if (args.length > 3) args(3) else ""
    val spark = Sessions.get("plans")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plans] unknown query: $name")
        case Some(fn) =>
          try {
            spark.sparkContext.setJobDescription(s"plans: $name")
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"$outDir/$name$suffix.txt"), txt)
            System.err.println(s"[plans] $name -> $outDir/$name$suffix.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[plans] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
