package graft

import graft.ext.{Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** graft keeps one storage rule and one cache. Rows that several consumers
  * read are stored with `SqlBridge.persistRows`; a build that queries reuse
  * (an in-memory ANN index, a trained BPE vocabulary, a bucketed table) is
  * a `graft.Artifacts` entry keyed on the content of its inputs, so a table
  * rewritten in place under the same directory is a new key.
  */
class ArtifactsSpec extends AnyFunSuite {
  lazy val spark = Sessions.get("artifacts-spec")

  private val sf = "/root/testdata/sf0.001"

  /** A fresh directory holding copies of the named sf0.001 tables. */
  private def copyTables(names: String*): String = {
    val dir = Files.createTempDirectory("graft-content-keys")
    names.foreach(n => Files.copy(Paths.get(s"$sf/$n.parquet"), dir.resolve(s"$n.parquet")))
    dir.toString
  }

  /** Rewrites `dir/name.parquet` in place with the rows `keep` selects. */
  private def rewrite(dir: String, name: String, keep: Column): Unit = {
    val (table, staged) = (Paths.get(s"$dir/$name.parquet"), Paths.get(s"$dir/$name.staged"))
    Tables.read(spark, dir, name).where(keep).write.parquet(staged.toString)
    Files.delete(table)
    Files.move(staged, table)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted

  test("a table rewritten in place rebuilds its index, vocab and bucketed layout; an unchanged one reuses them") {
    val dir = copyTables("embeddings", "documents", "lineitem", "orders")
    val names = Seq("sim_ivf_topk", "sim_ivfpq_topk", "text_bpe_train", "text_bpe_apply", "q_bucket_join")
    def run(q: String) = rows(SparkEntry.queries(q)(spark, dir))
    val before = names.map(q => q -> run(q)).toMap
    val (builds, fits) = (Artifacts.buildCount, Similarity.ivfFits)
    names.foreach(q => assert(run(q) == before(q), s"$q changed on an unchanged dir"))
    assert(Artifacts.buildCount == builds, "a repeat call on an unchanged dir rebuilt an artifact")
    assert(Similarity.ivfFits == fits, "a repeat call on an unchanged dir refit the quantizer")

    rewrite(dir, "embeddings", col("vec_id") % 3 =!= 1)
    // a subset that learns different merges, not only a new order of them,
    // so a stale vocabulary also tokenizes the new corpus differently
    rewrite(dir, "documents", col("doc_id") % 7 === 0)
    rewrite(dir, "lineitem", col("l_orderkey") % 3 =!= 1)
    rewrite(dir, "orders", col("o_orderkey") % 2 === 0)
    val ivf = Similarity.buildIvfIndex(Tables.embeddings(spark, dir), "vec_id", "embedding")
    val docs = Tables.documents(spark, dir)
    val (merges, vocab) = TextAnalysis.bpeTrainVocab(docs, "text", nMerges = 8)
    val fresh = Map(
      "sim_ivf_topk" -> Similarity.ivfProbe(ivf, col("id") < 10, k = 5),
      "sim_ivfpq_topk" -> Similarity.pqProbe(Similarity.buildPqOn(ivf), col("id") < 10, k = 5),
      "text_bpe_train" -> TextAnalysis.bpeMergeTable(spark, merges),
      "text_bpe_apply" -> TextAnalysis.bpeTokenCounts(docs, "doc_id", "text", vocab),
      "q_bucket_join" -> Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          round(sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0, 2).as("revenue"),
          count(lit(1)).as("n_items"))
    ).view.mapValues(rows).toMap
    names.foreach(q =>
      assert(fresh(q) != before(q), s"$q: the rewrite must change the answer, or this test shows nothing"))
    val stale = names.filter(q => run(q) != fresh(q))
    assert(stale.isEmpty, s"over tables rewritten in place these differ from a fresh computation: $stale")
  }

  test("one IVF fit per table content serves the raw, filtered, recall, semantic-dedup and PQ queries") {
    val dir = copyTables("embeddings")
    val fits = Similarity.ivfFits
    Seq("sim_ivf_topk", "sim_ivf_filtered", "sim_recall_report", "dedup_semantic", "sim_ivfpq_topk")
      .foreach(q => SparkEntry.queries(q)(spark, dir).collect())
    assert(Similarity.ivfFits == fits + 1)
  }

  test("src/main stores rows only through persistRows: no other .persist( or .cache() call") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val allowed = Set("graft/bridge/SqlBridgeImpl.scala", "graft/ScaleProbe.scala")
    val call = """\.persist\(|\.cache\(\)""".r
    val walk = Files.walk(root)
    val offending =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && !allowed(root.relativize(p).toString))
        .flatMap { (p: Path) =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if call.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
          }
        }
        .toList
      finally walk.close()
    assert(offending.isEmpty,
      "store shared rows with SqlBridge.persistRows, not Dataset.persist/cache:\n" + offending.mkString("\n"))
  }
}
