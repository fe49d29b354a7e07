package graft.ext

import graft.bridge.SqlBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph centrality over an edge table — the companion to the dedup
  * pipeline's label-propagation components (`Dedup.clusters`): where LP
  * answers "which docs are the same", PageRank answers "which nodes
  * matter", the crawl-prioritization / source-authority signal of a
  * training-data pipeline (rank domains by who syndicates whom, weight
  * mixing toward authoritative sources).
  *
  * Standard distributed formulation: each iteration is ONE equi-join of
  * the rank table onto the edge list plus one partial-aggregated groupBy
  * on dst — no driver-side state, no collect; cost per round is
  * O(|edges|) shuffled by node key, the textbook Pregel-on-a-join shape
  * that scales to any edge count Spark can shuffle.
  *
  * Determinism: ranks live in integer MICRO-units (start 1e6 per node).
  * Per round, a node keeps teleport mass (1−d) = 150000 micro and ships
  * d = 850/1000 of its rank split proportionally over out-edge weights,
  * with explicit truncating division at each step —
  * `((rm · 850) DIV 1000) · w DIV ow` — so every engine computes the
  * identical integers (all operands positive: truncation == floor in
  * Spark and DuckDB alike). Mass lost to truncation and to dangling
  * nodes (no out-edges) is dropped, not redistributed — the simple PR
  * variant; ranks are comparison signals, not probabilities.
  */
object Graph {

  /** `iters` PageRank rounds over weighted directed edges
    * (srcCol, dstCol, wCol). Returns (node, rank_micro, rank) for every
    * node appearing as a source or destination.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      wCol: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters must be in [1,20], got $iters")
    val spark = edges.sparkSession
    // w >= 1 enforced: a zero/negative weight would make `DIV ow` NULL in
    // Spark (contribution silently dropped) but raise division-by-zero in
    // the SQL oracle — same edge set in both engines, guaranteed loudly.
    // CONTRACT: the filter defines the graph — a vertex whose every
    // incident edge has w < 1 is excluded from the NODE set too (no
    // teleport-only row for it). Callers needing a complete vertex table
    // should union their node list back in after ranking; ranking nodes
    // against a different edge set than the one that defined them would
    // be the worse surprise.
    val e = edges.select(
        col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"),
        col(wCol).cast("long").as("w"))
      .where(col("w") >= 1L)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val ew = e.join(outW, "src") // (src, dst, w, ow) — static across rounds
    // Lineage control (the `Dedup.clusters` flat-lineage pattern, applied
    // every K rounds instead of every round): the naive loop unrolls
    // `iters` join+groupBy layers into one plan that Catalyst re-analyzes
    // each round — fine at iters=3, seconds of driver time by iters=20.
    // But a PER-round RDD rebuild is pure overhead at small iters (no
    // eager action needs each round, unlike clusters' convergence check),
    // and each RDD boundary blocks the exchange reuse that makes the
    // unrolled plan cheap (ew/nodes subtrees dedup to ONE shuffle within
    // a single physical plan — measured 4-7x on the gate rows when every
    // round got its own boundary). So: stay unrolled within segments of
    // `rematEvery` rounds, rebuild the rank table as a fresh DataFrame
    // over its plan's RDD only at segment boundaries. The boundary RDD is
    // NOT persisted: each boundary has exactly one downstream reference
    // (round i+1's contribs join), so within the caller's single action
    // it computes exactly once anyway — a persist would only serve
    // repeated actions, which this lazy API doesn't promise, and the
    // final segment's cache would outlive the call (a session-lifetime
    // block-manager leak). A caller that DOES act repeatedly should
    // cache/checkpoint the returned frame itself.
    val rematEvery = 8
    var rank = nodes.withColumn("rm", lit(1000000L))
    for (i <- 1 to iters) {
      val contribs = ew
        .join(rank.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("(((rm * 850) DIV 1000) * w) DIV ow").as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("in_mass"))
      val next = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"), (lit(150000L) + coalesce(col("in_mass"), lit(0L))).as("rm"))
      rank = if (i % rematEvery == 0 && i < iters) {
        spark.createDataFrame(next.rdd, next.schema)
      } else next
    }
    rank.select(
      col("node"),
      col("rm").as("rank_micro"),
      (col("rm") / 1000000.0).as("rank"))
  }

  /** Per-node triangle counts and local clustering coefficients over an
    * undirected edge list — the density QA for the dedup graph: a dup
    * family that is a clique (cc ≈ 1) is safe to collapse transitively,
    * while a long chain (cc ≈ 0) is exactly where transitive-closure
    * dedup deletes non-duplicates. Same role in co-occurrence graphs
    * (community tightness vs hub spray).
    *
    * Scale shape: the textbook degree-ordered orientation. Every
    * canonical edge {a,b} is directed from the (degree, node)-smaller
    * endpoint to the larger, wedges are generated only at a vertex's
    * oriented OUT-neighbors, and a wedge (v, w) closes iff the oriented
    * edge v→w exists — each triangle is found exactly once, at its
    * lowest-rank vertex. Orientation bounds every out-degree by
    * O(√m) on any graph (a vertex with out-degree d has d neighbors of
    * degree ≥ its own, so d² ≤ 2m), which bounds total wedge rows by
    * O(m^1.5) — the hub vertex that would make naive neighbor-pairing
    * quadratic fans its wedges across its (higher-rank, low-out-degree)
    * neighbors instead. Three hash joins, no cartesian, no driver state.
    *
    * Determinism: counts are exact integers; the local clustering
    * coefficient surfaces as cc_micro = (2·t·10⁶) DIV (deg·(deg−1))
    * (truncating division, all operands non-negative) so every engine
    * computes the identical integer, plus the cc double derived from it.
    * Input edges may carry duplicates, reversals, and self-loops — the
    * canonical distinct (least, greatest) pass absorbs all three.
    *
    * The result is computed before this returns: it is a
    * `SqlBridge.persistRows` copy (a row per node), which ContextCleaner
    * releases once the frame is unreachable, so the caller has nothing to
    * release. If the computation throws, nothing stays stored.
    */
  def triangles(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    // Two intermediates are stored (`persistRows`). The canonical edge
    // list feeds the degree count (twice, via the union) and the rank
    // joins: inlined into each consumer, an edge list derived from a
    // non-trivial query (the co-purchase pair join here) re-planned and
    // re-scanned its source ~17x (948 plan nodes, 136 parquet scans of
    // `events` for ONE triangle count, plans/r15/graph_triangles_before.txt).
    // The oriented edges feed both wedge sides and the closing join; they
    // are stored hash-partitioned on `src` into the session's shuffle
    // partition count. The wedge joins then stream them in that many
    // tasks (a broadcast build side, or, when too big to broadcast, a
    // self-join on `src` with no exchange). Left to AQE, their edge-sized
    // input is coalesced into a few partitions although the wedge-sized
    // output is orders larger. Measured on `graph_triangles` at sf0.1 on
    // 4 cores, cold: 10.8 s / 30 jobs with the three intermediates cached
    // lazily, 13.4 s / 32 jobs with only `e` stored, 6.8 s / 21 jobs with
    // `e` and `oriented` stored.
    val e = SqlBridge.persistRows(edges
      .select(least(col(aCol), col(bCol)).as("a"), greatest(col(aCol), col(bCol)).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct())
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("deg"))
    // (deg, node) rank is a total order: equal-degree endpoints of one
    // edge still differ on node. src = lower rank, dst = higher.
    val ranked = e
      .join(deg.select(col("node").as("a"), col("deg").as("da_")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db_")), "b")
    val rA = struct(col("da_").as("d"), col("a").as("n"))
    val rB = struct(col("db_").as("d"), col("b").as("n"))
    val aLower = rA < rB
    val oriented = SqlBridge.persistRows(ranked
      .select(
        when(aLower, col("a")).otherwise(col("b")).as("src"),
        when(aLower, rA).otherwise(rB).as("srcR"),
        when(aLower, col("b")).otherwise(col("a")).as("dst"),
        when(aLower, rB).otherwise(rA).as("dstR"))
      .repartition(edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col("src")))
    // wedges at u: unordered out-neighbor pairs, canonicalized by
    // rank so the closing edge (if present) is oriented exactly v→w
    val w1 = oriented.select(col("src").as("u"), col("dst").as("v"), col("dstR").as("vR"))
    val w2 = oriented.select(col("src").as("u"), col("dst").as("w"), col("dstR").as("wR"))
    val wedges = w1.join(w2, Seq("u")).where(col("vR") < col("wR"))
    val tris = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")),
      Seq("v", "w"))
    val triPerNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_tri"))
    SqlBridge.persistRows(deg
      .join(triPerNode, Seq("node"), "left")
      .select(
        col("node"),
        col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        expr("CASE WHEN deg >= 2 THEN (2 * coalesce(n_tri, 0) * 1000000) DIV (deg * (deg - 1)) ELSE 0 END")
          .as("cc_micro"))
      .withColumn("cc", col("cc_micro") / 1000000.0))
  }
}
