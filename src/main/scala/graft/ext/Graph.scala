package graft.ext

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
    * The result is computed before this returns and comes back persisted
    * (one metadata-sized cache entry, a row per node): the caller
    * releases it with `.unpersist()`. The intermediates are released
    * before returning; if the computation throws, the result is too.
    */
  def triangles(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    // Multi-consumer persists (the `exciseDuplicateChunks` cache
    // contract, but SCOPED — see the release below). Without them the
    // INPUT subtree is inlined once per consumer — `e` feeds deg
    // (twice, via the union) + the two rank joins, `deg` has three
    // consumers, `oriented` three — so an edge list derived from a
    // non-trivial query (the co-purchase pair join here) re-planned and
    // re-scanned its source ~17x: the measured pre-fix plan was 948
    // nodes / 410 Exchanges / 136 parquet scans of `events` for ONE
    // triangle count (plans/r15/graph_triangles_before.txt). All three
    // cached frames are metadata-sized (edges and degrees, never
    // payloads).
    val e = edges
      .select(least(col(aCol), col(bCol)).as("a"), greatest(col(aCol), col(bCol)).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // All three persists fill LAZILY inside the ONE materializing job at
    // the end — the r15 form ran eager count() barriers on e and
    // oriented first ("parallel first-consumers race the fill"), but
    // each barrier re-runs its full stage chain as a separate job and
    // the two extra jobs measured 2.5 s of the row's 4.6 s; a racing
    // fill only duplicates work (persist blocks are deterministic,
    // first writer wins) and measured CHEAPER than the barriers
    // (4.6 s → 2.5 s on graph_triangles, 5.1 → 2.0 on
    // ext_sql_triangles, bench medians).
    try {
      // (deg, node) rank is a total order: equal-degree endpoints of one
      // edge still differ on node. src = lower rank, dst = higher.
      val ranked = e
        .join(deg.select(col("node").as("a"), col("deg").as("da_")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("db_")), "b")
      val rA = struct(col("da_").as("d"), col("a").as("n"))
      val rB = struct(col("db_").as("d"), col("b").as("n"))
      val aLower = rA < rB
      val oriented = ranked.select(
        when(aLower, col("a")).otherwise(col("b")).as("src"),
        when(aLower, rA).otherwise(rB).as("srcR"),
        when(aLower, col("b")).otherwise(col("a")).as("dst"),
        when(aLower, rB).otherwise(rA).as("dstR"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
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
        val out = deg
          .join(triPerNode, Seq("node"), "left")
          .select(
            col("node"),
            col("deg"),
            coalesce(col("n_tri"), lit(0L)).as("n_tri"),
            expr("CASE WHEN deg >= 2 THEN (2 * coalesce(n_tri, 0) * 1000000) DIV (deg * (deg - 1)) ELSE 0 END")
              .as("cc_micro"))
          .withColumn("cc", col("cc_micro") / 1000000.0)
        // Materialize the (one-row-per-node) result so all three
        // INTERMEDIATES can be RELEASED before returning: the r15 lazy
        // form left e/deg/oriented persisted for the session (repeated
        // calls with different inputs accumulate block-manager entries
        // until LRU eviction). The result is cached through the normal
        // AQE path — `localCheckpoint(eager = true)` was measured 4.96 s
        // against 0.20 s for the identical warm tail (plans/r16 probe):
        // its materialization runs through `Dataset.rdd`, outside the
        // adaptive re-planning that broadcasts/coalesces the wedge
        // joins. The returned frame keeps its cache entry (see the
        // scaladoc); a failed fill releases it too.
        val res = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try res.count()
        catch { case t: Throwable => res.unpersist(blocking = false); throw t }
        res
      } finally oriented.unpersist(blocking = false)
    } finally {
      e.unpersist(blocking = false)
      deg.unpersist(blocking = false)
    }
  }
}
