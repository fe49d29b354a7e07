package graft.perfbench

import scala.collection.mutable

import graft.Tables
import graft.ext.Dedup
import org.apache.spark.sql.{Row, SparkSession}

/** The LLM-corpus operators over a seeded corpus with planted
  * near-duplicates: operations alternate between MinHash-LSH pairs fed to
  * the connected-components clustering, and the exact PPJoin pair join.
  */
final class CorpusDedup(seed: Long, shape: CorpusShape) extends ClosedLoop {
  import CorpusDedup._

  /** two rounds of the two kinds: the first MinHash pass still compiles code, so a
    * cycle of two would give a median of two unequal samples, one of them cold */
  val cycleLen = 4
  /** PPJoin only: a MinHash-plus-clustering pass costs seconds even on a tiny corpus */
  val warmUpOps: Seq[Int] = Seq(1)
  private var spark: SparkSession = _
  private var dir: String = _
  private var shingles: Array[Set[String]] = _
  /** planted pairs whose true Jaccard reaches τ: PPJoin is exact and must return each */
  private var mustFind: Seq[(Long, Long)] = Nil

  def setup(s: SparkSession, d: String): Unit = {
    spark = s
    dir = d
    val (docs, planted) = CorpusGen.generate(seed, shape)
    val sp = spark
    import sp.implicits._
    docs.toSeq.toDS().repartition(1).write.mode("overwrite").parquet(s"$dir/$Table.parquet")
    shingles = docs.map(d => CorpusGen.shingles(d.text, N))
    mustFind = planted.map(p => (math.min(p.base, p.copy), math.max(p.base, p.copy)))
      .filter { case (a, b) => CorpusGen.jaccard(shingles(a.toInt), shingles(b.toInt)) >= Tau }
  }

  def op(i: Int, tr: Tracer): OpOut = run(i % 2, tr)

  private def run(kind: Int, tr: Tracer): OpOut = {
    val df = tr.span("tables.read")(Tables.read(spark, dir, Table))
    if (kind == 0) {
      val (pairsDf, pairs) = tr.span("ext.minhash") {
        val p = Dedup.minhashLshPairs(df, "id", "text", n = N, tau = Tau)
        (p, tr.collect(p))
      }
      val (members, rounds) = tr.span("ext.clusters") {
        val (c, r) = Dedup.clustersWithRounds(pairsDf)
        (tr.collect(c), r)
      }
      tr.last("ext.clusters").foreach(_.add("rounds", rounds))
      val why = checkPairs(pairs).orElse(checkClusters(pairs, members)).getOrElse("")
      OpOut("minhash_clusters", shape.docs.toLong, why.isEmpty, why)
    } else {
      val pairs = tr.span("ext.ppjoin") {
        val p = Dedup.ppjoinPairs(df, "id", "text", N, Tau)
        tr.collect(p)
      }
      val got = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
      val missed = mustFind.filterNot(got.contains)
      val why = checkPairs(pairs).getOrElse(
        if (missed.nonEmpty) s"ppjoin missed ${missed.size} of ${mustFind.size} planted pairs with Jaccard >= $Tau" else "")
      OpOut("ppjoin", shape.docs.toLong, why.isEmpty, why)
    }
  }

  /** Every returned pair re-verified on the driver: exact Jaccard ≥ τ, and the reported value matches. */
  private def checkPairs(pairs: Array[Row]): Option[String] =
    pairs.iterator.map { r =>
      val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val exact = CorpusGen.jaccard(shingles(a.toInt), shingles(b.toInt))
      if (a >= b) Some(s"pair ($a,$b) not ordered")
      else if (exact < Tau) Some(f"pair ($a,$b) has Jaccard $exact%.4f < $Tau")
      else if (math.abs(exact - j) > 1e-4) Some(f"pair ($a,$b) reports $j, exact $exact%.4f")
      else None
    }.collectFirst { case Some(w) => w }

  /** Each pair member carries its component's minimum id and size. */
  private def checkClusters(pairs: Array[Row], members: Array[Row]): Option[String] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val nodes = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
    val size = nodes.groupBy(find).map { case (k, v) => k -> v.length.toLong }
    val got = members.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    if (got.size != nodes.length) Some(s"${got.size} clustered docs, want ${nodes.length}")
    else nodes.collectFirst {
      case x if got(x) != ((find(x), size(find(x)))) => s"doc $x clustered as ${got(x)}, want ${(find(x), size(find(x)))}"
    }
  }

  override def afterTrace(): Map[String, Double] = {
    val df = Tables.read(spark, dir, Table)
    val mh = Dedup.minhashLshFunnel(df, "id", "text", n = N, tau = Tau)
    val pp = Dedup.ppjoinFunnel(df, "id", "text", N, Tau)
    val cand = pp("candidates").toDouble
    Map(
      "ext.candidates" -> cand,
      "ext.verified_pairs" -> pp("verified_pairs").toDouble,
      "ext.verify_ratio" -> (if (cand == 0) 0.0 else pp("verified_pairs") / cand),
      "ext.minhash_candidates" -> mh("n_candidate_pairs").toDouble,
      "ext.minhash_verified_pairs" -> mh("n_verified_pairs").toDouble)
  }
}

object CorpusDedup {
  val Table = "corpus"
  val Full: CorpusShape = CorpusShape(docs = 3000, vocab = 20000, dupShare = 0.1, editRates = Seq(0.02, 0.05, 0.1, 0.2))
  /** the warm-up corpus: same generator, a fifteenth of the documents */
  val Warm: CorpusShape = Full.copy(docs = 200)
  val N = 3
  val Tau = 0.5
}
