package graft.functions

import graft.ext.{Dedup, Sketches, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import graft.bridge.SqlBridge

/** SQL surface for the flagship extension operators — table-valued
  * functions so a SQL-only user can run the dedup/text pipeline from
  * pure SQL strings, the same way `exp_avg_fold`/`derivative_fold`
  * expose the detectors:
  *
  *   SELECT * FROM minhash_pairs('docs_view')        -- τ default 0.5
  *   SELECT * FROM minhash_pairs('docs_view', 0.3)   -- explicit τ
  *   SELECT * FROM tfidf_topk('docs_view', 5)        -- top-5 keywords/doc
  *
  * The argument names a table/view exposing `(doc_id, text)` (the
  * documents convention, mirroring the fold TVFs' fixed
  * seriesKey/tsMs/value contract). Each builder delegates to the SAME
  * DataFrame implementation as the Scala API (`Dedup.minhashLshPairs`,
  * `TextAnalysis.tfidfTopK`) and returns its analyzed plan, so the SQL
  * path inherits the exact operator — banding caps, broadcast
  * choices, fixed-point idf — with zero drift between surfaces.
  *
  * Unlike the fold TVFs (which stay unresolved until analysis), these
  * builders resolve the named table via the ACTIVE session at analysis
  * time — required because the underlying operators are eager about
  * their own materialization points (the MinHash signature table).
  * Consequence: the relation must exist when the query is ANALYZED, and
  * the signature table is materialized then too.
  *
  * Each TVF is declared once in `functions`, registered the same way as
  * `FoldTableFunctions.functions`.
  */
object ExtTableFunctions {

  val MinhashPairsName = "minhash_pairs"
  val TfidfTopKName = "tfidf_topk"
  val QualityLrName = "quality_lr"
  val KmvOverlapName = "kmv_overlap"
  val PpjoinPairsName = "ppjoin_pairs"
  val DedupClustersName = "dedup_clusters"
  val DedupExciseName = "dedup_excise"
  val TrianglesName = "triangles"
  val ContainmentPairsName = "containment_pairs"
  val ExactSubstringName = "exact_substring_excise"
  val FuzzyDecontamName = "fuzzy_decontaminate"

  /** The pair-graph TVFs (minhash, ppjoin, containment, clusters,
    * excision, decontamination) and `triangles` go through
    * `graft.Artifacts`: without it their whole signature→candidate→verify
    * pipeline (or the wedge joins) would re-run on EVERY SQL query (and,
    * because Spark inlines duplicate CTE references, can re-run twice
    * inside ONE query). The first call
    * writes the result to parquet and every later call reads the file,
    * for as long as the named relation's content is unchanged: the entry
    * is keyed on the relation's plan and files, not its name, so a
    * replaced view gets fresh pairs.
    */
  private def cachedPlan(kind: String, tables: Seq[String], params: Any*)(
      build: Seq[DataFrame] => DataFrame): LogicalPlan = {
    val spark = SparkSession.active
    val inputs = tables.map(spark.table)
    SqlBridge.analyzedPlan(graft.Artifacts.parquet(kind, inputs, params: _*)(build(inputs)))
  }

  /** `minhash_pairs(table[, tau])` — MinHash-LSH near-dup pairs
    * `(da, db, jaccard)` over a `(doc_id, text)` relation.
    */
  def minhashPairsBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.length <= 2, s"usage: $MinhashPairsName(table[, tau])")
    val table = FoldTableFunctions.stringArg(MinhashPairsName, args, 0)
    val tau = FoldTableFunctions.doubleArg(MinhashPairsName, args, 1, 0.5)
    cachedPlan(MinhashPairsName, Seq(table), tau) { case Seq(docs) =>
      Dedup.minhashLshPairs(docs, "doc_id", "text", tau = tau)
    }
  }

  /** `tfidf_topk(table, k)` — per-doc top-k tf·idf keywords
    * `(doc_id, rank, wd, tf, score_fp)` over a `(doc_id, text)` relation.
    */
  def tfidfTopKBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2, s"usage: $TfidfTopKName(table, k)")
    val table = FoldTableFunctions.stringArg(TfidfTopKName, args, 0)
    val k = FoldTableFunctions.doubleArg(TfidfTopKName, args, 1, Double.NaN).toInt
    val spark = SparkSession.active
    SqlBridge.analyzedPlan(
      TextAnalysis.tfidfTopK(spark.table(table), "doc_id", "text", k))
  }

  /** `quality_lr(table)` — fasttext-shaped hashed-bag-of-words quality
    * scores `(doc_id, n_tokens, score, keep)` over a `(doc_id, text)`
    * relation.
    */
  def qualityLrBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 1, s"usage: $QualityLrName(table)")
    val table = FoldTableFunctions.stringArg(QualityLrName, args, 0)
    val spark = SparkSession.active
    SqlBridge.analyzedPlan(TextAnalysis.qualityLr(spark.table(table), "doc_id", "text"))
  }

  /** `kmv_overlap(table[, k])` — pairwise cross-source KMV token overlap
    * `(ga, gb, jaccard_est, union_est)` over a `(source, text)` relation.
    */
  def kmvOverlapBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.length <= 2, s"usage: $KmvOverlapName(table[, k])")
    val table = FoldTableFunctions.stringArg(KmvOverlapName, args, 0)
    val k = FoldTableFunctions.doubleArg(KmvOverlapName, args, 1, 128.0).toInt
    val spark = SparkSession.active
    SqlBridge.analyzedPlan(
      Sketches.kmvOverlap(Sketches.kmvTokenSketch(spark.table(table), "source", "text", k), "source", k))
  }

  /** `dedup_clusters(table[, tau])` — duplicate-cluster assembly from
    * SQL: MinHash-LSH pairs at τ, then connected components (min-label
    * propagation with path halving), returning `(doc_id, canonical_id,
    * cluster_size)` — so a SQL-only user gets the thing a dedup pipeline
    * actually consumes (which doc to keep per group), not just the raw
    * pair graph `minhash_pairs` already exposes. Routed through the
    * artifact cache: the signature pipeline AND the label-propagation
    * fixpoint run once per (relation content, τ); every later SQL query
    * reads the parquet artifact.
    */
  def dedupClustersBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.length <= 2, s"usage: $DedupClustersName(table[, tau])")
    val table = FoldTableFunctions.stringArg(DedupClustersName, args, 0)
    val tau = FoldTableFunctions.doubleArg(DedupClustersName, args, 1, 0.5)
    cachedPlan(DedupClustersName, Seq(table), tau) { case Seq(docs) =>
      Dedup.clusters(Dedup.minhashLshPairs(docs, "doc_id", "text", tau = tau))
    }
  }

  /** `dedup_excise(table)` — corpus-wide duplicated-span excision from
    * SQL: CDC chunking, keep-first ownership election, and clean-text
    * reconstruction (`Dedup.exciseDuplicateChunks`), returning one row
    * per input document `(doc_id, n_chunks, n_kept, clean_text)` — the
    * substring-level dedup OUTPUT a SQL-only pipeline ships, not just
    * the chunk table. Routed through the artifact cache: the chunk +
    * election pipeline runs once per relation content; later SQL reads
    * parquet.
    */
  def dedupExciseBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 1, s"usage: $DedupExciseName(table)")
    val table = FoldTableFunctions.stringArg(DedupExciseName, args, 0)
    cachedPlan(DedupExciseName, Seq(table)) { case Seq(docs) =>
      Dedup.exciseDuplicateChunks(docs, "doc_id", "text")
    }
  }

  /** `ppjoin_pairs(table[, tau])` — EXACT prefix-filtered Jaccard pairs
    * `(da, db, jaccard)` over a `(doc_id, text)` relation.
    */
  def ppjoinPairsBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.length <= 2, s"usage: $PpjoinPairsName(table[, tau])")
    val table = FoldTableFunctions.stringArg(PpjoinPairsName, args, 0)
    val tau = FoldTableFunctions.doubleArg(PpjoinPairsName, args, 1, 0.5)
    cachedPlan(PpjoinPairsName, Seq(table), tau) { case Seq(docs) =>
      Dedup.ppjoinPairs(docs, "doc_id", "text", n = 3, tau = tau)
    }
  }

  /** `triangles(table[, acol[, bcol]])` — per-node triangle counts and
    * local clustering coefficients `(node, deg, n_tri, cc_micro, cc)`
    * over an undirected edge relation (default columns `a`, `b`;
    * duplicates/reversals/self-loops absorbed). The degree-ordered
    * wedge-orientation plan — the same O(m^1.5) shape as the Scala path,
    * run once per (relation content, columns) through the artifact cache.
    */
  def trianglesBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.length <= 3, s"usage: $TrianglesName(table[, acol[, bcol]])")
    val table = FoldTableFunctions.stringArg(TrianglesName, args, 0)
    val aCol = if (args.length > 1) FoldTableFunctions.stringArg(TrianglesName, args, 1) else "a"
    val bCol = if (args.length > 2) FoldTableFunctions.stringArg(TrianglesName, args, 2) else "b"
    cachedPlan(TrianglesName, Seq(table), aCol, bCol) { case Seq(edges) =>
      graft.ext.Graph.triangles(edges, aCol, bCol)
    }
  }

  /** `containment_pairs(table[, tau])` — directed shingle-containment
    * pairs `(inner_id, outer_id, n_inner, n_shared, containment,
    * jaccard)` over a `(doc_id, text)` relation (3-gram shingles,
    * lossless asymmetric prefix filter). Routed through the artifact
    * cache like the other pair-graph TVFs: the shingle→prefix→verify
    * pipeline runs once per (relation content, τ); every later SQL call
    * reads the parquet copy.
    */
  def containmentPairsBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.length <= 2, s"usage: $ContainmentPairsName(table[, tau])")
    val table = FoldTableFunctions.stringArg(ContainmentPairsName, args, 0)
    val tau = FoldTableFunctions.doubleArg(ContainmentPairsName, args, 1, 0.8)
    cachedPlan(ContainmentPairsName, Seq(table), tau) { case Seq(docs) =>
      Dedup.containmentPairs(docs, "doc_id", "text", n = 3, tau = tau)
    }
  }

  /** `exact_substring_excise(table[, w])` — Lee-et-al-style exact-
    * substring dedup over a `(doc_id, text)` relation: every duplicated
    * token run ≥ w (default 8) keeps only its corpus-first occurrence;
    * rows are `(doc_id, n_spans, n_tokens_removed, clean_text)`. Routed
    * through the artifact cache (once per (relation content, w) — the
    * window-hash election is a corpus pass).
    */
  def exactSubstringBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.length <= 2, s"usage: $ExactSubstringName(table[, w])")
    val table = FoldTableFunctions.stringArg(ExactSubstringName, args, 0)
    val w = FoldTableFunctions.doubleArg(ExactSubstringName, args, 1, 8.0).toInt
    cachedPlan(ExactSubstringName, Seq(table), w) { case Seq(docs) =>
      Dedup.exciseExactSubstrings(docs, "doc_id", "text", w)
    }
  }

  /** `fuzzy_decontaminate(train_table, probe_table[, tau[, n]])` —
    * containment-based eval-set decontamination ledger: every train doc
    * with its verdict against the probe relation (C(probe→train) ≥ τ at
    * n-gram grain, default τ=0.4, n=2). Same artifact caching as the
    * other pair-graph TVFs.
    */
  def fuzzyDecontamBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 2 && args.length <= 5,
      s"usage: $FuzzyDecontamName(train_table, probe_table[, tau[, n[, maxDf]]])")
    val train = FoldTableFunctions.stringArg(FuzzyDecontamName, args, 0)
    val probe = FoldTableFunctions.stringArg(FuzzyDecontamName, args, 1)
    val tau = FoldTableFunctions.doubleArg(FuzzyDecontamName, args, 2, 0.4)
    val n = FoldTableFunctions.doubleArg(FuzzyDecontamName, args, 3, 2.0).toInt
    val maxDf = FoldTableFunctions.doubleArg(FuzzyDecontamName, args, 4, 100000.0).toInt
    cachedPlan(FuzzyDecontamName, Seq(train, probe), tau, n, maxDf) { case Seq(t, p) =>
      Dedup.fuzzyDecontamination(t, p, "doc_id", "text", n = n, tau = tau, maxDf = maxDf)
    }
  }

  /** The extension TVFs, declared once: name, usage and builder, as
    * `GraftExtensions` injects and installs them.
    */
  val functions: Seq[GraftExtensions.SqlFunction[LogicalPlan]] = Seq(
    tvf(MinhashPairsName,
      "minhash_pairs(table[, tau]) - MinHash-LSH near-dup pairs (da, db, jaccard) " +
        "over a (doc_id, text) relation; same banded pipeline as Dedup.minhashLshPairs",
      minhashPairsBuilder),
    tvf(TfidfTopKName,
      "tfidf_topk(table, k) - per-doc top-k tf-idf keywords over a (doc_id, text) " +
        "relation; fixed-point integer idf, same plan as TextAnalysis.tfidfTopK",
      tfidfTopKBuilder),
    tvf(QualityLrName,
      "quality_lr(table) - hashed-bag-of-words linear quality scores " +
        "(doc_id, n_tokens, score, keep) over a (doc_id, text) relation",
      qualityLrBuilder),
    tvf(KmvOverlapName,
      "kmv_overlap(table[, k]) - pairwise cross-source KMV token overlap " +
        "(ga, gb, jaccard_est, union_est) over a (source, text) relation",
      kmvOverlapBuilder),
    tvf(PpjoinPairsName,
      "ppjoin_pairs(table[, tau]) - EXACT prefix-filtered Jaccard pairs " +
        "(da, db, jaccard) over a (doc_id, text) relation",
      ppjoinPairsBuilder),
    tvf(DedupClustersName,
      "dedup_clusters(table[, tau]) - near-dup cluster assembly " +
        "(doc_id, canonical_id, cluster_size) over a (doc_id, text) relation",
      dedupClustersBuilder),
    tvf(DedupExciseName,
      "dedup_excise(table) - corpus-wide duplicated-span excision " +
        "(doc_id, n_chunks, n_kept, clean_text) over a (doc_id, text) relation",
      dedupExciseBuilder),
    tvf(TrianglesName,
      "triangles(table[, acol[, bcol]]) - per-node triangle counts and local " +
        "clustering coefficients (node, deg, n_tri, cc_micro, cc) over an " +
        "undirected edge relation",
      trianglesBuilder),
    tvf(ContainmentPairsName,
      "containment_pairs(table[, tau]) - directed shingle-containment pairs " +
        "(inner_id, outer_id, n_inner, n_shared, containment, jaccard) over a " +
        "(doc_id, text) relation; result is cached once per (relation content, tau)",
      containmentPairsBuilder),
    tvf(ExactSubstringName,
      "exact_substring_excise(table[, w]) - exact-substring dedup: every " +
        "duplicated token run >= w keeps only its corpus-first occurrence " +
        "(doc_id, n_spans, n_tokens_removed, clean_text); cached once per " +
        "(relation content, w)",
      exactSubstringBuilder),
    tvf(FuzzyDecontamName,
      "fuzzy_decontaminate(train_table, probe_table[, tau[, n[, maxDf]]]) - " +
        "containment-based eval-set decontamination ledger (train_id, " +
        "contaminated, n_probe_matches, best_probe_id, max_containment, action); " +
        "cached once per (relation contents, tau, n, maxDf)",
      fuzzyDecontamBuilder))

  private def tvf(name: String, usage: String, builder: Seq[Expression] => LogicalPlan) =
    GraftExtensions.declare(getClass, name, usage)(builder)
}
