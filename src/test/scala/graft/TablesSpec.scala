package graft

import org.apache.spark.graft.SparkInternals
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {
  lazy val spark = Sessions.get("tables-spec")
  val sf = "/root/testdata/sf0.001"

  test("events loads with normalized ts_ms") {
    val ev = Tables.events(spark, sf)
    val row = ev.selectExpr("min(ts_ms)", "max(ts_ms)", "count(*)").head()
    assert(row.getLong(2) > 0)
    // 2024-01-01T00:00:00Z = 1704067200000
    assert(row.getLong(0) >= 1704067200000L)
    assert(row.getLong(1) < 1706659200000L) // < 2024-01-31
  }

  test("lineitem loads") {
    assert(Tables.lineitem(spark, sf).count() > 1000)
  }

  /** Spark jobs started while `body` ran. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    SparkInternals.drainListeners(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      SparkInternals.drainListeners(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("schema catalog: a repeat load runs no job; an appended or rewritten file re-infers") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toString
    val table = s"$dir/pts.parquet"
    Seq(("a", 1L, 1.0), ("b", 2L, 2.0)).toDF("k", "ts", "v").coalesce(1).write.parquet(table)

    val (first, firstJobs) = jobsIn(Tables.read(spark, dir, "pts"))
    assert(firstJobs >= 1, "the first load infers the schema")
    val (again, againJobs) = jobsIn(Tables.read(spark, dir, "pts"))
    assert(againJobs == 0, s"a repeat load of unchanged files must run no job, ran $againJobs")
    assert(again.schema == first.schema)
    assert(again.collect().map(_.toString).sorted.toSeq == first.collect().map(_.toString).sorted.toSeq)

    // an appended file is a new listing: re-infer, then hit again
    Seq(("c", 3L, 3.0)).toDF("k", "ts", "v").coalesce(1).write.mode("append").parquet(table)
    val (appended, appendJobs) = jobsIn(Tables.read(spark, dir, "pts"))
    assert(appendJobs >= 1, "an appended file must re-infer")
    assert(appended.count() == 3)
    assert(jobsIn(Tables.read(spark, dir, "pts"))._2 == 0)

    // the same file path rewritten with a new column: its length and
    // mtime change, so the catalog must not hand back the old schema
    Seq(("a", 1L, 1.0)).toDF("k", "ts", "v").coalesce(1).write.parquet(s"$dir/rw.parquet")
    assert(!Tables.read(spark, dir, "rw").columns.contains("extra"))
    val part = new java.io.File(s"$dir/rw.parquet").listFiles().filter(f => f.getName.startsWith("part-")).head
    val other = s"$dir/other.parquet"
    Seq(("d", 4L, 4.0, 40)).toDF("k", "ts", "v", "extra").coalesce(1).write.parquet(other)
    val donor = new java.io.File(other).listFiles().filter(f => f.getName.startsWith("part-")).head
    new java.io.File(part.getParentFile, s".${part.getName}.crc").delete()
    java.nio.file.Files.move(donor.toPath, part.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    part.setLastModified(part.lastModified() + 2000)
    val (rewritten, rewriteJobs) = jobsIn(Tables.read(spark, dir, "rw"))
    assert(rewriteJobs >= 1, "a rewritten file must re-infer")
    assert(rewritten.columns.contains("extra"), rewritten.schema.treeString)
  }

  test("a repeat load reuses the listed file index; the load after an append sees the new file's rows") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def index(df: org.apache.spark.sql.DataFrame) = graft.bridge.SqlBridge.analyzedPlan(df) match {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation].location
      case p => fail(s"not a file relation: $p")
    }
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toString
    val table = s"$dir/idx.parquet"
    Seq(("a", 1L, 1.0), ("b", 2L, 2.0)).toDF("k", "ts", "v").coalesce(1).write.parquet(table)

    val first = Tables.read(spark, dir, "idx")
    val again = Tables.read(spark, dir, "idx")
    assert(index(again) eq index(first), "a repeat load of unchanged files must not list them into a new index")
    // two loads are still two relations to the analyzer: a self-join resolves
    assert(first.join(again, Seq("k")).count() == 2)

    Seq(("c", 3L, 3.0)).toDF("k", "ts", "v").coalesce(1).write.mode("append").parquet(table)
    val appended = Tables.read(spark, dir, "idx")
    assert(!(index(appended) eq index(first)))
    assert(appended.select("k").as[String].collect().sorted.toSeq == Seq("a", "b", "c"))
    assert(index(Tables.read(spark, dir, "idx")) eq index(appended))
  }
}
