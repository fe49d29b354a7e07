package graft

import graft.detect.{ExpAvgKernel, KeyedFold}
import graft.model.TsSample
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom Catalyst fold operator (graft.plans.KeyedFoldPlan):
  * semantics identical to the composed repartition+sort+mapPartitions
  * path, but data movement is planned by EnsureRequirements — and elided
  * when the input already satisfies the distribution/ordering.
  */
class FoldPlanSpec extends AnyFunSuite {
  lazy val spark = Sessions.get("fold-plan-spec")
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def pts: Dataset[TsSample] =
    Tables.events(spark, sf)
      .select(
        col("user_id").cast("string").as("seriesKey"),
        col("ts_ms").as("tsMs"), col("value"))
      .as[TsSample]

  private def plan(ds: Dataset[_]): String = ds.queryExecution.executedPlan.toString

  private def exchanges(p: String): Int = "(?<!Broadcast)Exchange ".r.findAllIn(p).size

  test("foldExec matches the composed fold bit-for-bit") {
    val viaExec = KeyedFold.foldExec(pts)(() => new ExpAvgKernel(0.2)).collect()
      .map(r => (r.seriesKey, r.tsMs) -> (r.value, r.dev)).toMap
    val viaComposed = KeyedFold.fold(pts)(() => new ExpAvgKernel(0.2)).collect()
      .map(r => (r.seriesKey, r.tsMs) -> (r.value, r.dev)).toMap
    assert(viaExec.size == viaComposed.size && viaExec.nonEmpty)
    assert(viaExec == viaComposed)
  }

  test("EnsureRequirements inserts exactly one exchange + sort over a raw scan") {
    val ds = KeyedFold.foldExec(pts)(() => new ExpAvgKernel(0.2))
    val p = plan(ds)
    assert(p.contains("KeyedFold "), s"custom operator missing from plan:\n$p")
    assert(exchanges(p) == 1, s"expected exactly 1 shuffle, got plan:\n$p")
    assert(p.contains("Sort "), "expected a planner-inserted sort")
  }

  test("exchange is elided when the input is already hash-distributed on the key") {
    // the repartition IS the only exchange; the fold's requirement is
    // satisfied by it, so EnsureRequirements adds nothing
    val pre = pts.repartition(col("seriesKey"))
    val ds = KeyedFold.foldExec(pre)(() => new ExpAvgKernel(0.2))
    val p = plan(ds)
    assert(p.contains("KeyedFold "))
    assert(exchanges(p) == 1, s"fold must reuse the existing distribution, plan:\n$p")
  }

  test("fold after a sort-merge join adds no exchange of its own") {
    // hash(seriesKey) distribution arrives from upstream operators
    // (distinct + forced SMJ); the fold only needs a partition-local sort
    import spark.implicits._
    val keys = pts.toDF().select("seriesKey").distinct()
    val joined: Dataset[TsSample] =
      pts.toDF().join(keys.hint("merge"), "seriesKey")
        .select(col("seriesKey"), col("tsMs"), col("value")).as[TsSample]
    val exec = plan(KeyedFold.foldExec(joined)(() => new ExpAvgKernel(0.2)))
    // distinct: 1 exchange; SMJ probe side: 1 exchange; the fold: none
    assert(exec.contains("KeyedFold "))
    assert(exchanges(exec) == 2, s"exec fold must add no exchange over SMJ output:\n$exec")
  }

  test("exp_avg_fold TVF from pure SQL equals the Scala fold and plans through KeyedFoldExec") {
    graft.functions.GraftExtensions.install(spark)
    pts.toDF().createOrReplaceTempView("fold_tvf_pts")
    val sqlDf = spark.sql("SELECT * FROM exp_avg_fold('fold_tvf_pts', 0.2)")
    val p = plan(sqlDf)
    assert(p.contains("KeyedFold "), s"TVF must plan through the custom operator:\n$p")
    val viaSql = sqlDf.collect()
      .map(r => (r.getAs[String]("seriesKey"), r.getAs[Long]("tsMs")) ->
        ((r.getAs[Double]("value"), r.getAs[Double]("dev")))).toMap
    val viaScala = KeyedFold.foldExec(pts)(() => new ExpAvgKernel(0.2)).collect()
      .map(r => (r.seriesKey, r.tsMs) -> ((r.value, r.dev))).toMap
    assert(viaSql.nonEmpty && viaSql == viaScala)
  }

  test("derivative_fold TVF defaults alpha and rejects non-literal args") {
    graft.functions.GraftExtensions.install(spark)
    pts.toDF().createOrReplaceTempView("fold_tvf_pts")
    val withDefault = spark.sql("SELECT * FROM derivative_fold('fold_tvf_pts')")
    val explicit = spark.sql("SELECT * FROM derivative_fold('fold_tvf_pts', 0.2)")
    assert(withDefault.collect().toSet == explicit.collect().toSet)
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM exp_avg_fold(42)").collect()
    }
    assert(ex.getMessage.contains("string literal"))
  }

  test("holt_fold and cusum_fold TVFs equal their Scala kernels and plan through KeyedFoldExec") {
    graft.functions.GraftExtensions.install(spark)
    import spark.implicits._
    pts.toDF().createOrReplaceTempView("fold_tvf_pts")
    // holt: plain (seriesKey, tsMs, value) relation
    val holtSql = spark.sql("SELECT * FROM holt_fold('fold_tvf_pts', 0.2, 0.1)")
    assert(plan(holtSql).contains("KeyedFold "))
    val viaSql = holtSql.collect()
      .map(r => (r.getAs[String]("seriesKey"), r.getAs[Long]("tsMs")) -> r.getAs[Double]("dev")).toMap
    val viaScala = KeyedFold.foldExec(pts)(() => new graft.detect.HoltKernel(0.2, 0.1)).collect()
      .map(r => (r.seriesKey, r.tsMs) -> r.dev).toMap
    assert(viaSql.nonEmpty && viaSql == viaScala)
    // cusum: pre-standardized relation built in plain SQL
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW fold_tvf_stat AS
        |SELECT p.seriesKey, p.tsMs, p.value, s.mu, s.sd
        |FROM fold_tvf_pts p JOIN (
        |  SELECT seriesKey, avg(value) mu, stddev_pop(value) sd
        |  FROM fold_tvf_pts GROUP BY seriesKey) s
        |ON p.seriesKey = s.seriesKey""".stripMargin)
    val cusumSql = spark.sql("SELECT * FROM cusum_fold('fold_tvf_stat', 0.5)")
    assert(plan(cusumSql).contains("KeyedFold "))
    val cSql = cusumSql.collect()
      .map(r => (r.getAs[String]("seriesKey"), r.getAs[Long]("tsMs")) -> r.getAs[Double]("dev")).toMap
    val cScala = graft.detect.Detectors.cusumScores(pts, slack = 0.5).collect()
      .map(r => (r.getAs[String]("seriesKey"), r.getAs[Long]("tsMs")) -> r.getAs[Double]("score")).toMap
    assert(cSql.nonEmpty && cSql == cScala)
  }

  test("hw_fold TVF equals the Holt-Winters kernel, defaults every factor, plans through KeyedFoldExec") {
    graft.functions.GraftExtensions.install(spark)
    pts.toDF().createOrReplaceTempView("fold_tvf_hw_pts")
    val viaSql = spark.sql("SELECT * FROM hw_fold('fold_tvf_hw_pts')")
    assert(plan(viaSql).contains("KeyedFold "))
    val sqlMap = viaSql.collect()
      .map(r => (r.getAs[String]("seriesKey"), r.getAs[Long]("tsMs")) -> r.getAs[Double]("dev")).toMap
    val scalaMap = KeyedFold
      .foldExec(pts)(() => new graft.detect.HoltWintersKernel(
        graft.config.Constants.DefaultSmoothingFactor, graft.config.Constants.HoltTrendFactor,
        graft.config.Constants.HwSeasonFactor, graft.config.Constants.HwPeriod))
      .collect().map(r => (r.seriesKey, r.tsMs) -> r.dev).toMap
    assert(sqlMap.nonEmpty && sqlMap == scalaMap)
    // explicit period overrides the default and changes the profile slots
    val p2 = spark.sql("SELECT * FROM hw_fold('fold_tvf_hw_pts', 0.2, 0.1, 0.3, 2)").collect()
      .map(r => (r.getAs[String]("seriesKey"), r.getAs[Long]("tsMs")) -> r.getAs[Double]("dev")).toMap
    val p2Scala = KeyedFold
      .foldExec(pts)(() => new graft.detect.HoltWintersKernel(0.2, 0.1, 0.3, 2))
      .collect().map(r => (r.seriesKey, r.tsMs) -> r.dev).toMap
    assert(p2 == p2Scala && p2 != sqlMap)
  }

  test("fold partitioning propagates downstream; the typed-MapPartitions path erases it") {
    // this is the structural advantage over the composed fold: a typed
    // MapPartitions node reports unknown partitioning, so everything
    // per-key AFTER a composed fold pays a second shuffle — the custom
    // node re-expresses hash(seriesKey) over its output instead
    val agg = KeyedFold.foldExec(pts)(() => new ExpAvgKernel(0.2))
      .groupBy("seriesKey").agg(max("dev").as("mx"))
    assert(exchanges(plan(agg)) == 1,
      s"downstream per-key agg must reuse the fold's partitioning:\n${plan(agg)}")
    val aggComposed = KeyedFold.fold(pts)(() => new ExpAvgKernel(0.2))
      .groupBy("seriesKey").agg(max("dev").as("mx"))
    assert(exchanges(plan(aggComposed)) == 2,
      "composed fold loses partitioning info through the object boundary")
  }
}
