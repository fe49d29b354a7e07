package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.bridge.SqlBridge.{persistRows, persistedRowCount}
import graft.functions.GraftFunctions.cosine_sim

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (builder brief). Baseline: brute-force cosine top-k (exact, the
  * oracle). Scale path: random-hyperplane LSH bucketing so the candidate
  * join is an equi-join on bucket ids instead of an O(n²) cross join.
  *
  * All float embeddings are upcast to double before arithmetic so Spark
  * and the DuckDB oracle compute the identical IEEE sequence.
  */
object Similarity {

  /** Index-ordered dot product — same fp evaluation order on both engines. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** (id, vec: array<double>, nrm) view of an embeddings table. */
  def prepared(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    val v = col(embCol).cast("array<double>")
    df.select(col(idCol).as("id"), v.as("vec"))
      .withColumn("nrm", sqrt(dot(col("vec"), col("vec"))))
  }

  /** Exact brute-force cosine top-k: the query side is broadcast (small by
    * construction), so the "cross" join is a broadcast nested loop over
    * one pass of the corpus — embarrassingly parallel, no shuffle of the
    * big side; the per-query top-k is a bounded window.
    */
  def cosineTopK(df: DataFrame, idCol: String, embCol: String, queryPred: Column, k: Int): DataFrame = {
    val all = prepared(df, idCol, embCol)
    val q = all.where(queryPred)
      .select(col("id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    val scored = all
      .join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("cosine", cosine_sim(col("vec"), col("qvec")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** Hard-negative mining for retriever/embedding training: per query,
    * the top-k most-similar corpus vectors whose LABEL differs from the
    * query's — the near-misses a contrastive loss learns the most from
    * (positives share the label and are excluded BEFORE ranking, so the
    * k slots hold only negatives). Same scale shape as `cosineTopK`:
    * the query side broadcasts, the corpus streams once with no
    * shuffle, the per-query top-k is a bounded window.
    *
    * Labels must be NON-NULL: the `lbl =!= qlbl` predicate is
    * null-propagating, so a NULL label would silently vanish from every
    * candidate set — any NULL in `labelCol` raises at execution instead.
    */
  def hardNegatives(
      df: DataFrame,
      idCol: String,
      embCol: String,
      labelCol: String,
      queryPred: Column,
      k: Int): DataFrame = {
    // id, vec and label come out of ONE scan — the earlier
    // prepared(df) ⋈ df.select(label) shape re-read the table and paid
    // a join just to reattach a column already sitting in the row
    val all = df
      .select(
        col(idCol).as("id"),
        col(embCol).cast("array<double>").as("vec"),
        col(labelCol).cast("long").as("lbl"))
      .withColumn("lbl",
        when(col("lbl").isNotNull, col("lbl"))
          .otherwise(raise_error(concat(
            lit(s"hardNegatives: NULL $labelCol for id "), col("id").cast("string"))))
          .cast("long"))
    val q = all.where(queryPred)
      .select(col("id").as("query_id"), col("vec").as("qvec"), col("lbl").as("qlbl"))
    val scored = all
      .join(broadcast(q), col("id") =!= col("query_id") && col("lbl") =!= col("qlbl"))
      .withColumn("cosine", cosine_sim(col("vec"), col("qvec")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(
        col("query_id"), col("qlbl").as("query_label"), col("rank"),
        col("id").as("negative_id"), col("lbl").as("negative_label"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** Exact cosine near-dup pairs above τ: broadcast the corpus as a
    * primitive matrix, stream it once per partition — the all-pairs
    * analogue of a broadcast join (one shuffle-free pass over the big
    * side; ~800 MFLOP/s per core on primitive arrays vs interpreted
    * higher-order array lambdas in a 12.5M-row self-join). Exact all-pairs
    * inherently requires one side to fit in a broadcast; beyond that use
    * `lshBuckets` candidates + this as the verify kernel.
    *
    * fp note: dot products accumulate in index order and divide by the
    * norm product, the same sequence as the `dot`-based SQL oracle.
    */
  /** Hard cap on the corpus size `cosinePairs` will broadcast (~0.5 GB at
    * 64-dim doubles). Exact all-pairs beyond this must go through LSH
    * candidates; failing loudly beats a silent driver OOM at scale.
    */
  val MaxBroadcastRows: Long = 500000L

  def cosinePairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      tau: Double,
      maxBroadcastRows: Long = MaxBroadcastRows): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val prep = prepared(df, idCol, embCol)
      .select(col("id"), col("vec"), col("nrm"))
      .as[(Long, Array[Double], Double)]
    val n = prep.count()
    require(
      n <= maxBroadcastRows,
      s"cosinePairs collects and broadcasts the whole corpus ($n rows > limit $maxBroadcastRows): " +
        "exact all-pairs cosine is a small-corpus verify kernel. For large corpora use " +
        "Dedup.minhashLshPairs (near-dup pairs) or Similarity.lshTopK / ivfProbe (ANN), " +
        "then verify only the candidates.")
    val corpus = prep.collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(corpus)
    prep
      .mapPartitions { it =>
        val all = bc.value
        it.flatMap { case (ida, va, na) =>
          all.iterator
            .filter(_._1 > ida)
            .flatMap { case (idb, vb, nb) =>
              var s = 0.0
              var i = 0
              while (i < va.length) { s += va(i) * vb(i); i += 1 }
              val cos = s / (na * nb)
              if (cos >= tau) Iterator.single((ida, idb, cos)) else Iterator.empty
            }
        }
      }
      .toDF("va", "vb", "c")
      .select(col("va"), col("vb"), round(col("c"), 4).as("cosine"))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): restrict exact-cosine comparison to vectors
    * sharing an IVF coarse cell — the k-means-cluster-then-compare
    * recipe, on the engine's own deterministic spherical quantizer
    * (`buildIvfIndex`), so the index a pipeline already maintains for ANN
    * doubles as its semantic-dedup partitioner.
    *
    * Scale shape: one self-equi-join on `cell` (pair work is Σ cell²,
    * bounded by the quantizer's balance — nlist grows with the corpus
    * exactly like `lshBitsFor` grows LSH bits) and the candidate join
    * carries (cell, id, vec) rows already materialized by the index
    * build; no all-pairs stage exists anywhere. Versus `lshPairs`: cells
    * give RECALL within a semantic region even when sign-bit buckets
    * split near-identical vectors; the cost is the coarse quantizer's
    * coverage (cross-cell near-dups at the cell boundary are missed —
    * the same recall contract SemDeDup itself accepts).
    */
  /** Occupancy-aware coarse-cell count — the IVF twin of `lshBitsFor`:
    * within-cell pair cost is Σ cell², so the expected cell size must
    * stay ~constant as the corpus grows; a FIXED nlist at 10× the corpus
    * is ~100× the candidate pairs (measured on `semanticPairs` at
    * 20k vectors: 142 s with nlist=16 vs 11.6 s at the auto nlist=256,
    * same twins found — BENCH_NOTES r8). nlist =
    * 2^ceil(log2(n / targetCell)) clamped to [16, 65536], a power of two
    * so the LCG-hyperplane seeding keeps one seed region per cell id.
    * At the sf0.1 gate (n=2000) this yields exactly the pinned nlist=16,
    * so the oracle-replayed gate row IS the auto configuration there.
    */
  def ivfListsFor(n: Long, targetCell: Int = 128): Int = {
    require(targetCell >= 1, s"targetCell must be >= 1, got $targetCell")
    val want = math.max(1L, (n + targetCell - 1) / targetCell)
    val bits = math.min(16, math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(want - 1)))
    1 << bits
  }

  /** `semanticPairs` with the index built at the occupancy-aware nlist —
    * the configuration a production semantic-dedup pass actually runs
    * (the gate row pins nlist=16 because the oracle replays that exact
    * quantizer; this default keeps cell sizes ~targetCell at any corpus
    * size).
    */
  def semanticPairsAuto(df: DataFrame, idCol: String, embCol: String, tau: Double): DataFrame = {
    val n = df.count()
    semanticPairs(buildIvfIndex(df, idCol, embCol, nlist = ivfListsFor(n)), tau)
  }

  def semanticPairs(index: IvfIndex, tau: Double): DataFrame = {
    val a = index.assigned.select(col("cell"), col("id"), col("vec"), col("nrm"))
    a.as("a")
      .join(a.as("b"), col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .withColumn("cosine", dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")))
      .where(col("cosine") >= tau)
      .select(
        col("a.id").as("id_a"),
        col("b.id").as("id_b"),
        col("a.cell").cast("long").as("cell"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** Occupancy-aware hash length: LSH pair cost is Σ bucket² per table,
    * so the expected bucket size must stay ~constant as the corpus grows
    * — a FIXED nBits at 10× the corpus is 100× the candidates (measured:
    * 57 s → 9 s at 10× by moving 6 → 10 bits, BENCH_NOTES r7). Choose
    * nBits = ceil(log2(n / targetBucket)), clamped to [4, 16]; recompute
    * per index build, not per probe. Longer hashes trade marginal-τ
    * recall for candidate volume; identical vectors collide at any
    * length.
    */
  def lshBitsFor(n: Long, targetBucket: Int = 32): Int = {
    val cells = math.max(1L, (n + targetBucket - 1) / targetBucket)
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, cells - 1))
    math.max(4, math.min(16, bits))
  }

  /** Embedding near-dup pairs AT SCALE — the bucketed path the
    * `cosinePairs` guard points to: candidates come from equi-joins on
    * `nTables` independent sign-hash buckets (the OR-construction that
    * buys recall), are deduplicated per (id_a, id_b), then EXACTLY
    * verified with the index-order dot ≥ tau. All-pairs never
    * materializes — cost is Σ bucket sizes², not n² — and precision is
    * exact (false candidates die at the verify); recall is the LSH
    * OR-construction's, quantified in ExtSpec against the exact kernel.
    * True duplicates (identical vectors) hash to the same bucket in
    * EVERY table, so they are always found.
    *
    * `nBits <= 0` (the default) sizes the hash from the corpus count via
    * `lshBitsFor` — the occupancy that keeps candidate volume linear as
    * the corpus grows; the count is the one the prepared-vector
    * materialization takes. Pass an explicit value only to pin a
    * reproducible layout (e.g. for an oracle replay).
    *
    * The prepared vectors (id, unit vec, norm per row) are materialized
    * with `SqlBridge.persistRows` when the frame is built: the bucketing
    * pass and the two late-materialize vector joins share that one copy,
    * which ContextCleaner releases once the frame is unreachable.
    */
  def lshPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      tau: Double,
      dims: Int,
      nBits: Int = 0,
      nTables: Int = 8): DataFrame = {
    val prep = persistRows(prepared(df, idCol, embCol))
    val bits = if (nBits > 0) nBits else lshBitsFor(persistedRowCount(prep))
    // ONE corpus scan emits every (doc, table) bucket row (the shared
    // typed kernel — a union of per-table scans would read the corpus
    // nTables times at 100 TB); table prefix in the key keeps tables from
    // cross-matching
    val bucketed = lshBucketed(prep, dims, bits, nTables)
    // candidate generation moves IDS ONLY: candidates outnumber the
    // corpus (Σ bucket² rows before the pair dedup), so the self-join and
    // the distinct shuffle 16-byte pairs, not dims·8-byte vectors —
    // vectors late-materialize per SIDE for just the surviving pairs
    val ids = bucketed.select(col("bucket"), col("id"))
    val cand = ids
      .join(ids.withColumnRenamed("id", "id_b"), Seq("bucket"))
      .where(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"))
      .distinct()
    val vecs = prep.select(col("id"), col("vec"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("vec").as("va")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vb")), Seq("id_b"))
      .withColumn("cosine", cosine_sim(col("va"), col("vb")))
      .where(col("cosine") >= tau)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** Deterministic pseudo-random hyperplane component via an LCG over the
    * (bit, dim) index — rational arithmetic, reproducible on any engine.
    */
  private def lcg01(i: Column): Column =
    ((lit(1103515245L) * i + lit(12345L)) % lit(2147483648L)).cast("double") / lit(2147483648.0)

  /** Scalar twin of lcg01 — identical integer arithmetic. */
  private def lcg01d(i: Long): Double =
    ((1103515245L * i + 12345L) % 2147483648L).toDouble / 2147483648.0

  /** Random-hyperplane LSH bucket id (nBits sign bits). `table` offsets the
    * hyperplane stream so independent hash tables (the OR-construction that
    * buys recall) draw disjoint pseudo-random planes.
    */
  def lshBucket(vec: Column, dims: Int, nBits: Int, table: Int = 0): Column = {
    val planes = transform(
      sequence(lit(0), lit(nBits - 1)),
      k =>
        aggregate(
          zip_with(
            vec,
            transform(sequence(lit(0), lit(dims - 1)), d => lcg01((k + lit(table * nBits)) * dims + d) - 0.5),
            (x, h) => x * h),
          lit(0.0),
          (acc, x) => acc + x))
    aggregate(
      zip_with(
        planes,
        sequence(lit(0), lit(nBits - 1)),
        (p, kk) => when(p > 0, pow(lit(2.0), kk).cast("long")).otherwise(lit(0L))),
      lit(0L),
      (acc, x) => acc + x)
  }

  /** A prebuilt IVF index: the coarse centroids (tiny, broadcastable) and
    * the cell-assigned corpus. At 100 TB `assigned` is written to storage
    * partitioned/bucketed by `cell` once, offline; queries only probe it.
    * The assignment plan is lazy — re-evaluating it applies the ALREADY
    * TRAINED quantizer (a broadcast-centroid argmin pass), never a refit.
    */
  final case class IvfIndex(centroids: DataFrame, assigned: DataFrame)

  private val ivfFitCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Number of quantizer fits performed so far — lets tests assert the
    * probe path never trains.
    */
  def ivfFits: Long = ivfFitCounter.get

  /** Nearest centroid by max dot product over unit directions; `cs` is
    * sorted by cid ascending, so the first strict max wins ties — the same
    * ordering as `row_number() OVER (ORDER BY dp DESC, cid)` in the SQL
    * replay of this quantizer.
    */
  private def nearestCell(cs: Array[(Int, Array[Double])], u: Array[Double]): Int = {
    var best = -1
    var bd = Double.NegativeInfinity
    var j = 0
    while (j < cs.length) {
      val c = cs(j)._2
      var s = 0.0
      var d = 0
      while (d < u.length) { s += u(d) * c(d); d += 1 }
      if (s > bd) { bd = s; best = cs(j)._1 }
      j += 1
    }
    best
  }

  /** Offline IVF index build: a deterministic spherical Lloyd quantizer.
    *
    * The ranking metric is cosine, so the quantizer clusters DIRECTIONS
    * (unit vectors); the raw vec is kept for the exact ranking. Seeds are
    * the `nlist` docs with the smallest `md5(id)` — a deterministic
    * pseudo-random draw any engine can replay. Each Lloyd iteration
    * reassigns directions to their max-dot centroid and recomputes
    * centroids from EXACT INTEGER sums of 1e-6-quantized unit components:
    * integer addition commutes, so the fit is bit-identical at any
    * partition count, task-retry schedule, or cluster size (an fp-sum
    * KMeans is not), and the whole build+probe replays in ANSI SQL — the
    * `sim_ivf_topk` DuckDB oracle runs this exact algorithm. The centroid
    * reduce is a map-side partial aggregation to nlist×dims longs;
    * training costs iters+1 corpus passes and belongs at index-build
    * time, not per query.
    */
  def buildIvfIndex(
      df: DataFrame,
      idCol: String,
      embCol: String,
      nlist: Int = 16,
      iters: Int = 2): IvfIndex = {
    val spark = df.sparkSession
    import spark.implicits._
    ivfFitCounter.incrementAndGet()
    val nBits = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(nlist - 1L).toInt)
    val unitDs = prepared(df, idCol, embCol)
      .select(col("id"), col("vec"), col("nrm"))
      .as[(Long, Array[Double], Double)]
      .mapPartitions { it =>
        var planes: Array[Array[Double]] = null
        it.map { case (id, v, nr) =>
          val u = if (nr > 0) v.map(_ / nr) else v
          val q = u.map(x => math.floor(x * 1e6 + 0.5).toLong)
          if (planes == null)
            planes = Array.tabulate(nBits, u.length)((k, d) => lcg01d(k.toLong * u.length + d) - 0.5)
          var bucket = 0
          var k = 0
          while (k < nBits) {
            var s = 0.0
            var d = 0
            while (d < u.length) { s += u(d) * planes(k)(d); d += 1 }
            if (s > 0) bucket |= (1 << k)
            k += 1
          }
          (id, v, nr, u, q, bucket)
        }
      }
      .toDF("id", "vec", "nrm", "unit", "q", "bucket")
    unitDs.persist()
    unitDs.count() // materialize once: seeds + iters passes consume it
    // seeds: one per occupied LCG-hyperplane bucket (regions of the sphere
    // → spread-out initial centroids, the deterministic stand-in for
    // kmeans++ spreading), the doc with the smallest (md5(id), id) in it
    val wb = Window.partitionBy("bucket").orderBy(col("mk"), col("id"))
    var centroids: Array[(Int, Array[Double])] = unitDs
      .withColumn("mk", md5(col("id").cast("string")))
      .withColumn("r", row_number().over(wb))
      .where(col("r") === 1)
      .select(col("bucket"), col("unit"))
      .collect()
      .map(r => (r.getAs[Int]("bucket"), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val dims = if (centroids.nonEmpty) centroids(0)._2.length else 0
    for (_ <- 0 until iters if centroids.nonEmpty) {
      val bc = spark.sparkContext.broadcast(centroids)
      val cellSums = unitDs
        .select(col("unit"), col("q"))
        .as[(Array[Double], Array[Long])]
        .map { case (u, q) => (nearestCell(bc.value, u), q) }
        .toDF("cell", "q")
        .select(col("cell"), posexplode(col("q")).as(Seq("dim", "qv")))
        .groupBy("cell", "dim")
        .agg(sum("qv").as("s"))
        .collect() // nlist × dims rows — tiny at any corpus size
      // new centroid = unit direction of the exact integer sum vector;
      // the norm accumulates in dim order, mirroring the SQL list_sum
      centroids = cellSums
        .groupBy(_.getAs[Int]("cell"))
        .toArray
        .sortBy(_._1)
        .map { case (cid, rows) =>
          val sd = new Array[Double](dims)
          rows.foreach(r => sd(r.getAs[Int]("dim")) = r.getAs[Long]("s").toDouble)
          var n2 = 0.0
          var i = 0
          while (i < dims) { n2 += sd(i) * sd(i); i += 1 }
          val nr = math.sqrt(n2)
          (cid, if (nr > 0) sd.map(_ / nr) else sd)
        }
    }
    val centroidsDf = centroids.toIndexedSeq.toDF("cid", "cvec")
    val bc = spark.sparkContext.broadcast(centroids)
    val assigned = unitDs
      .select(col("id"), col("vec"), col("nrm"), col("unit"))
      .as[(Long, Array[Double], Double, Array[Double])]
      .map { case (id, v, nr, u) => (id, v, nr, nearestCell(bc.value, u)) }
      .toDF("id", "vec", "nrm", "cell")
    // materialize the assignment as part of the (offline) build: a probe
    // consumes `assigned` twice (query side + corpus side) and must never
    // recompute the quantizer pass per evaluation
    assigned.persist()
    assigned.count()
    unitDs.unpersist(blocking = false)
    IvfIndex(centroidsDf, assigned)
  }

  /** nprobe nearest coarse cells per query (tiny cross: queries × nlist):
    * shared probe-cell selection for `ivfProbe` and `pqProbe`. Returns
    * (query_id, qvec, qnrm, cid). Centroids live on the unit sphere
    * (spherical quantizer), so the query DIRECTION — not the raw
    * vector — picks its cells; ties break to the lowest cell id.
    */
  private def probeCells(
      assigned: DataFrame,
      centroids: DataFrame,
      queryPred: Column,
      nprobe: Int): DataFrame = {
    val q = assigned.where(queryPred)
      .select(col("id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    val wq = Window.partitionBy("query_id").orderBy(col("dist").asc, col("cid").asc)
    q.crossJoin(broadcast(centroids))
      .withColumn(
        "dist",
        aggregate(
          zip_with(
            col("qvec"), col("cvec"),
            (x, c) => (when(col("qnrm") > 0, x / col("qnrm")).otherwise(x) - c) *
              (when(col("qnrm") > 0, x / col("qnrm")).otherwise(x) - c)),
          lit(0.0), (a, x) => a + x))
      .withColumn("r", row_number().over(wq))
      .where(col("r") <= nprobe)
      .select(col("query_id"), col("qvec"), col("qnrm"), col("cid"))
  }

  /** IVF ANN top-k probe against a prebuilt index: each query searches only
    * the nprobe nearest cells. The candidate join is an equi-join on cell
    * id — a probe touches ~nprobe/nlist of the corpus. Exact cosine ranks
    * inside the probed cells. No training happens here.
    */
  def ivfProbe(index: IvfIndex, queryPred: Column, k: Int, nprobe: Int = 4): DataFrame = {
    val probes = probeCells(index.assigned, index.centroids, queryPred, nprobe)
    val wk = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id").asc)
    index.assigned
      .join(broadcast(probes), col("cell") === col("cid") && col("id") =!= col("query_id"))
      .withColumn("cosine", cosine_sim(col("vec"), col("qvec")))
      .withColumn("rank", row_number().over(wk))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** Per-label embedding centroids in EXACT integer domain: components
    * quantize to 1e-6 units (the same floor(x·1e6 + 0.5) grid as the IVF
    * builder), per-(label, dim) sums run as Long — order-independent, so
    * the result is bit-identical under any partitioning and the DuckDB
    * oracle hash-matches. The class-prototype aggregation behind
    * nearest-centroid labeling, drift monitoring, and embedding-space
    * health checks; one posexplode + one partial-aggregated shuffle.
    */
  def labelCentroids(df: DataFrame, labelCol: String, embCol: String): DataFrame =
    df.select(col(labelCol).cast("long").as("label"), posexplode(col(embCol)).as(Seq("dim", "x")))
      .select(
        col("label"), col("dim").cast("long").as("dim"),
        expr("CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)").as("q"))
      .groupBy("label", "dim")
      .agg(sum("q").as("sum_q"), count(lit(1)).as("n"))
      // + 0.0 canonicalizes IEEE −0.0 (a tiny negative mean rounds to
      // −0.0 on engines that keep the sign; the compare is textual)
      .withColumn("centroid", round(col("sum_q") / (col("n") * lit(1000000.0)), 4) + lit(0.0))

  /** Nearest-centroid classification (weak labeling): assign every
    * vector the label of its most-cosine-similar class centroid —
    * the standard cheap domain/topic classifier a curation pipeline
    * runs before mixing (label unlabeled web data by proximity to
    * seed-class prototypes). `centroids` is `labelCentroids` output;
    * its 4-dp `centroid` components are the shared reference grid, so
    * both engines rank against identical prototype vectors.
    *
    * Determinism: cosine sums run in index order in both engines
    * (`cosine_sim` / DuckDB `list_sum`), and the argmax breaks exact
    * ties toward the LOWEST label via a struct max — (cosine, −label)
    * — which is a map-side partial aggregate, not a per-id window: no
    * per-vector row_number shuffle, just one broadcast of L prototype
    * vectors and one groupBy(id) with combine. Scale cost is L
    * cosines per corpus row, the irreducible work of the operator.
    */
  def classifyNearestCentroid(
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: DataFrame): DataFrame = {
    val cvecs = centroids
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("centroid")))),
        x => x.getField("centroid")).as("cvec"))
    df.select(col(idCol).as("id"), col(embCol).cast("array<double>").as("v"))
      .crossJoin(broadcast(cvecs))
      .withColumn("cosine", cosine_sim(col("v"), col("cvec")))
      .groupBy(col("id"))
      .agg(max(struct(col("cosine"), (-col("label")).as("nl"), col("label"))).as("m"))
      .select(
        col("id"),
        col("m.label").as("pred_label"),
        round(col("m.cosine"), 4).as("cosine"))
  }

  /** Filtered ANN: IVF probe with a metadata predicate applied to the
    * CORPUS side BEFORE the cell join — pre-filtering, the shape that
    * guarantees k results from the eligible set (post-filtering a top-k
    * can return fewer than k, or none, under selective predicates; the
    * classic filtered-vector-search pitfall). `meta` is the attribute
    * table keyed by the same id as the index; at scale it joins the
    * cell-partitioned corpus on the id it is co-bucketed by, and the
    * predicate prunes before any distance math. Recall caveat: cells are
    * probed by UNFILTERED geometry; under very selective predicates
    * raise `nprobe` (the standard lever).
    */
  def ivfProbeFiltered(
      index: IvfIndex,
      meta: DataFrame,
      corpusPred: Column,
      queryPred: Column,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    val probes = probeCells(index.assigned, index.centroids, queryPred, nprobe)
    val wk = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id").asc)
    index.assigned
      .join(meta, "id")
      .where(corpusPred)
      .join(broadcast(probes), col("cell") === col("cid") && col("id") =!= col("query_id"))
      .withColumn("cosine", cosine_sim(col("vec"), col("qvec")))
      .withColumn("rank", row_number().over(wk))
      .where(col("rank") <= k)
      .select(
        col("query_id"), col("rank"), col("id").as("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** IVF-PQ index: the coarse IVF structure plus per-subspace product-
    * quantizer codebooks and per-doc codes. At 100 TB of embeddings the
    * PQ codes (m bytes/vector instead of dims·4) are what make the
    * probe's I/O tractable: the ADC scan reads codes only; raw vectors
    * are touched just for the exact re-rank of the top candidates.
    *
    * `codebooks` is tiny (m × ksub × dims/m doubles — broadcastable);
    * `coded` is the cell-assigned corpus carrying `codes: array<int>`.
    */
  final case class PqIndex(
      ivf: IvfIndex,
      books: Array[Array[Array[Double]]], // [m][ksub][subDim]
      coded: DataFrame, // (id, cell, codes [, vec, nrm when unsplit])
      m: Int,
      ksub: Int,
      // split storage (readPqIndex): raw vectors live in a SEPARATE file
      // from the codes, so the ADC scan's input file carries no vector
      // bytes at all and the refine step late-materializes from here
      vectorsSplit: Option[DataFrame] = None) {
    /** (id, vec, nrm) side for probe-cell selection, the query vectors,
      * and the exact re-rank; the in-memory build keeps them on `coded`.
      */
    def vectorSide: DataFrame = vectorsSplit.getOrElse(coded)
  }

  /** Nearest sub-centroid by L2 over the subvector, first strict minimum
    * wins ties (== `row_number() OVER (ORDER BY dist, cid)` in the SQL
    * replay). Distances accumulate in dim order.
    */
  private def nearestSub(book: Array[Array[Double]], u: Array[Double], off: Int, subDim: Int): Int = {
    var best = -1
    var bd = Double.PositiveInfinity
    var j = 0
    while (j < book.length) {
      val c = book(j)
      var s = 0.0
      var d = 0
      while (d < subDim) { val t = u(off + d) - c(d); s += t * t; d += 1 }
      if (s < bd) { bd = s; best = j }
      j += 1
    }
    best
  }

  /** unit direction + 1e-6-quantized components — the same derivation the
    * IVF build used, recomputed from (vec, nrm) so the PQ build composes
    * with a REOPENED index (readIvfIndex) without extra stored columns.
    */
  private def unitAndQ(v: Array[Double], nr: Double): (Array[Double], Array[Long]) = {
    val u = if (nr > 0) v.map(_ / nr) else v
    (u, u.map(x => math.floor(x * 1e6 + 0.5).toLong))
  }

  /** Offline PQ training + encoding on top of a built IVF index.
    *
    * Deterministic like the coarse quantizer: seeds are the `ksub` docs
    * with the smallest (md5(id), id) — their unit subvectors start every
    * subspace's codebook — and each Lloyd round reassigns subvectors to
    * their min-L2 codeword (ties → lowest cid) then recomputes codewords
    * as component MEANS from exact integer sums of the 1e-6-quantized
    * unit components: (sum/1e6)/count, one fp division per component, so
    * the fit is bit-identical at any partitioning and replays in ANSI
    * SQL (the `sim_ivfpq_topk` oracle runs this exact algorithm). A
    * subspace cell that loses all members keeps its previous codeword.
    */
  def buildPqIndex(
      df: DataFrame,
      idCol: String,
      embCol: String,
      nlist: Int = 16,
      iters: Int = 2,
      m: Int = 8,
      ksub: Int = 16,
      pqIters: Int = 2): PqIndex =
    buildPqOn(buildIvfIndex(df, idCol, embCol, nlist, iters), m, ksub, pqIters)

  /** PQ training over an ALREADY-BUILT coarse index — the composition an
    * offline pipeline uses (one IVF fit shared by the raw-vector and PQ
    * probes, or PQ added to a reopened `readIvfIndex`).
    */
  def buildPqOn(
      ivf: IvfIndex,
      m: Int = 8,
      ksub: Int = 16,
      pqIters: Int = 2): PqIndex = {
    val spark = ivf.assigned.sparkSession
    import spark.implicits._
    val base = ivf.assigned
      .select(col("id"), col("vec"), col("nrm"), col("cell"))
      .as[(Long, Array[Double], Double, Int)]
      .map { case (id, v, nr, cell) =>
        val (u, q) = unitAndQ(v, nr)
        (id, v, nr, cell, u, q)
      }
      .toDF("id", "vec", "nrm", "cell", "unit", "q")
    base.persist()
    val n = base.count() // materialize once: seeds + pqIters passes + encode
    require(n >= ksub, s"PQ needs at least ksub=$ksub vectors, got $n")
    val dims = base.select(size(col("unit"))).head.getInt(0)
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val subDim = dims / m
    // seeds: unit subvectors of the ksub smallest (md5(id), id) docs
    val seedRows = base
      .withColumn("mk", md5(col("id").cast("string")))
      .orderBy(col("mk"), col("id"))
      .limit(ksub)
      .select(col("mk"), col("id"), col("unit"))
      .collect()
      .sortBy(r => (r.getAs[String]("mk"), r.getAs[Long]("id")))
      .map(_.getSeq[Double](2).toArray)
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m, ksub)((mm, j) => seedRows(j).slice(mm * subDim, (mm + 1) * subDim))
    for (_ <- 0 until pqIters) {
      val bc = spark.sparkContext.broadcast(books)
      val sums = base
        .select(col("unit"), col("q"))
        .as[(Array[Double], Array[Long])]
        .flatMap { case (u, q) =>
          (0 until m).iterator.map { mm =>
            (mm, nearestSub(bc.value(mm), u, mm * subDim, subDim), q.slice(mm * subDim, (mm + 1) * subDim))
          }
        }
        .toDF("m", "cid", "qsub")
        .select(col("m"), col("cid"), posexplode(col("qsub")).as(Seq("dim", "qv")))
        .groupBy("m", "cid", "dim")
        .agg(sum("qv").as("s"), count(lit(1)).as("c"))
        .collect() // m × ksub × subDim rows — tiny at any corpus size
      val next = books.map(_.map(_.clone()))
      sums.foreach { r =>
        // codeword component = (exact-integer sum / 1e6) / count — the
        // identical two fp divisions as the SQL replay
        next(r.getAs[Int]("m"))(r.getAs[Int]("cid"))(r.getAs[Int]("dim")) =
          (r.getAs[Long]("s").toDouble / 1e6) / r.getAs[Long]("c")
      }
      books = next // (m, cid) pairs with no members kept their codeword
    }
    val bc = spark.sparkContext.broadcast(books)
    val coded = base
      .select(col("id"), col("vec"), col("nrm"), col("cell"), col("unit"))
      .as[(Long, Array[Double], Double, Int, Array[Double])]
      .map { case (id, v, nr, cell, u) =>
        (id, v, nr, cell, Array.tabulate(m)(mm => nearestSub(bc.value(mm), u, mm * subDim, subDim)))
      }
      .toDF("id", "vec", "nrm", "cell", "codes")
    coded.persist()
    coded.count()
    base.unpersist(blocking = false)
    PqIndex(ivf, books, coded, m, ksub)
  }

  /** Index MAINTENANCE for the PQ scale path — the codes twin of
    * `ivfAppend`: assign the delta to the FROZEN coarse centroids and
    * encode it with the FROZEN codebooks (the same argmin the builder's
    * encode pass runs), so neither quantizer refits (`ivfFits` does not
    * move) and a day's ingest costs one broadcast-argmin map pass over
    * the delta only. The appended index probes identically to one whose
    * corpus had included the delta at encode time.
    */
  def pqAppend(index: PqIndex, delta: DataFrame, idCol: String, embCol: String): PqIndex = {
    val spark = delta.sparkSession
    import spark.implicits._
    val subDim = index.books(0)(0).length
    val mSub = index.m
    val cs = index.ivf.centroids.collect()
      .map(r => (r.getAs[Int]("cid"), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val bcC = spark.sparkContext.broadcast(cs)
    val bcB = spark.sparkContext.broadcast(index.books)
    val deltaCoded = prepared(delta, idCol, embCol)
      .as[(Long, Array[Double], Double)]
      .map { case (id, v, nr) =>
        val (u, _) = unitAndQ(v, nr)
        val cell = nearestCell(bcC.value, u)
        val codes = Array.tabulate(mSub)(mm => nearestSub(bcB.value(mm), u, mm * subDim, subDim))
        (id, v, nr, cell, codes)
      }
      .toDF("id", "vec", "nrm", "cell", "codes")
    val mergedAssigned = index.ivf.assigned
      .unionByName(deltaCoded.select("id", "vec", "nrm", "cell"))
    mergedAssigned.persist()
    mergedAssigned.count()
    // the coded side mirrors the storage layout: unsplit builds carry the
    // vectors on `coded`, split storage keeps codes-only columns
    val mergedCoded =
      if (index.vectorsSplit.isEmpty) index.coded.unionByName(deltaCoded)
      else index.coded.unionByName(deltaCoded.select("id", "cell", "codes"))
    mergedCoded.persist()
    mergedCoded.count()
    PqIndex(
      IvfIndex(index.ivf.centroids, mergedAssigned), index.books, mergedCoded,
      mSub, index.ksub,
      vectorsSplit = index.vectorsSplit.map(_ => mergedAssigned))
  }

  /** IVF-PQ ANN probe: coarse cells as in `ivfProbe`, then ASYMMETRIC
    * DISTANCE (ADC) scoring — the query's exact unit subvectors dotted
    * with each candidate's CODEWORDS (sum over subspaces in index order,
    * deterministic) — keeps the top `refine` per query, and only those
    * are exactly re-ranked by true cosine for the final top-k. The scan
    * over a probed cell touches codes only; this is the I/O shape that
    * scales to 100 TB (codes ≈ m bytes/vector vs dims·4 raw).
    *
    * `refine` is the recall lever: the synthetic test embeddings are
    * uniform on the sphere (no cluster structure — ADC's worst case), and
    * measured recall vs the raw-vector IVF probe there is 0.56/0.76/0.88
    * at refine 20/60/120; clustered real-world embeddings correlate far
    * better. 60 keeps the exact re-rank bounded while clearing the 0.7
    * floor pinned in ExtSpec.
    */
  def pqProbe(index: PqIndex, queryPred: Column, k: Int, nprobe: Int = 4, refine: Int = 60): DataFrame = {
    val spark = index.coded.sparkSession
    import spark.implicits._
    val subDim = index.books(0)(0).length
    val probes = probeCells(index.vectorSide, index.ivf.centroids, queryPred, nprobe)
    val bc = spark.sparkContext.broadcast(index.books)
    val mSub = index.m
    // ADC over the probed cells: equi-join on cell, CODES-ONLY candidate
    // rows (the query side rides the broadcast) — raw vectors do not move
    // until after the refine cut
    val adcScored = index.coded
      .join(broadcast(probes), col("cell") === col("cid") && col("id") =!= col("query_id"))
      .select(col("query_id"), col("qvec"), col("qnrm"), col("id"), col("codes"))
      .as[(Long, Array[Double], Double, Long, Array[Int])]
      .mapPartitions { it =>
        it.map { case (qid, qv, qnr, id, codes) =>
          val qu = if (qnr > 0) qv.map(_ / qnr) else qv
          var adc = 0.0
          var mm = 0
          while (mm < mSub) {
            val c = bc.value(mm)(codes(mm))
            var s = 0.0
            var d = 0
            while (d < subDim) { s += qu(mm * subDim + d) * c(d); d += 1 }
            adc += s
            mm += 1
          }
          (qid, id, adc)
        }
      }
      .toDF("query_id", "id", "adc")
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("id").asc)
    val wk = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id").asc)
    // late-materialize: only the ≤ refine survivors per query fetch their
    // raw vector (join back to the vector side — a separate file under
    // split storage) and the query vector (tiny broadcast) for the exact
    // re-rank
    val queries = index.vectorSide.where(queryPred)
      .select(col("id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    adcScored
      .withColumn("ar", row_number().over(wAdc))
      .where(col("ar") <= refine)
      .join(index.vectorSide.select(col("id"), col("vec"), col("nrm")), "id")
      .join(broadcast(queries), "query_id")
      .withColumn("cosine", cosine_sim(col("vec"), col("qvec")))
      .withColumn("rank", row_number().over(wk))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** Persist an IVF index to storage: centroids as one tiny parquet, the
    * corpus PARTITIONED BY CELL — the on-disk layout that makes a probe
    * read only its nprobe cells' directories (partition pruning /
    * dynamic partition pruning through the broadcast probe join) instead
    * of the whole corpus. This is the offline index-build step at scale.
    */
  def writeIvfIndex(index: IvfIndex, path: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    index.assigned.write.partitionBy("cell").mode("overwrite").parquet(s"$path/assigned")
  }

  /** Reopen a persisted IVF index; `ivfProbe` works on it unchanged. */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex =
    IvfIndex(
      spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/assigned"))

  /** Index MAINTENANCE: append a delta of new vectors to a built index
    * WITHOUT refitting the quantizer — the operation a daily-ingest
    * pipeline runs (refitting 100 TB of vectors nightly is the
    * anti-pattern; assigning the day's delta to frozen centroids is one
    * broadcast-argmin map pass over the delta only). The frozen-centroid
    * assignment is the same `nearestCell` argmin the builder's final pass
    * uses, so an appended index is bit-identical to one whose corpus had
    * included the delta at assign time (given the same centroids), and
    * `ivfProbe`/recall reporting work on it unchanged. `ivfFits` does not
    * move — tests pin the no-refit contract.
    */
  def ivfAppend(index: IvfIndex, delta: DataFrame, idCol: String, embCol: String): IvfIndex = {
    val spark = delta.sparkSession
    import spark.implicits._
    val cs = index.centroids.collect()
      .map(r => (r.getAs[Int]("cid"), r.getSeq[Double](1).toArray))
      .sortBy(_._1) // nlist × dims doubles — tiny at any corpus size
    val bc = spark.sparkContext.broadcast(cs)
    val assignedDelta = prepared(delta, idCol, embCol)
      .as[(Long, Array[Double], Double)]
      .map { case (id, v, nr) =>
        val u = if (nr > 0) v.map(_ / nr) else v
        (id, v, nr, nearestCell(bc.value, u))
      }
      .toDF("id", "vec", "nrm", "cell")
    val merged = index.assigned.unionByName(assignedDelta)
    merged.persist()
    merged.count()
    IvfIndex(index.centroids, merged)
  }

  /** Persisted-index twin of `ivfAppend`: assign the delta to the frozen
    * centroids of the index at `path` and APPEND its rows to the
    * cell-partitioned corpus — dynamic partition overwrite semantics are
    * not needed because an append only ADDS files, and only under the
    * cell= directories the delta actually touches; untouched cells'
    * files are never rewritten. Returns the reopened merged index.
    *
    * IDEMPOTENT under replay: the delta is anti-joined against the ids
    * already in the index, so re-running the same delta (a retried batch
    * after a partial failure) appends nothing the second time. The
    * anti-join shuffles only the 8-byte id column of each side, not
    * vectors. Note files written by a PARTIALLY-failed previous append
    * count as "already present" — this gives at-most-once per id, the
    * right contract for an index (a duplicated id would double-count in
    * probes); a torn multi-file delta write should be retried with the
    * same delta, which completes the missing ids.
    */
  def appendIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      delta: DataFrame,
      idCol: String,
      embCol: String): IvfIndex = {
    val idx = readIvfIndex(spark, path)
    val existing = idx.assigned.select(col("id").as("__existing_id"))
    val fresh = delta.join(
      existing, col(idCol).cast("long") === col("__existing_id"), "left_anti")
    val onlyDelta = ivfAppend(IvfIndex(idx.centroids, idx.assigned.limit(0)), fresh, idCol, embCol)
    onlyDelta.assigned.write.partitionBy("cell").mode("append").parquet(s"$path/assigned")
    onlyDelta.assigned.unpersist(blocking = false)
    readIvfIndex(spark, path)
  }

  /** Persist an IVF-PQ index in SPLIT column groups: the IVF layout
    * (centroids + the vector-carrying `assigned` corpus, cell-
    * partitioned), codebooks (one tiny parquet), and a CODES-ONLY file
    * `(id, cell, codes)` partitioned by cell. The ADC probe scans the
    * codes file exclusively — no vector bytes in its input at all (~m
    * bytes/vector instead of dims·4) — and the exact re-rank
    * late-materializes raw vectors for the ≤ refine survivors from the
    * `assigned` file, which doubles as the vector column group instead
    * of storing the vectors a second time.
    */
  def writePqIndex(index: PqIndex, path: String): Unit = {
    writeIvfIndex(index.ivf, path)
    val spark = index.coded.sparkSession
    import spark.implicits._
    (for { mm <- 0 until index.m; j <- 0 until index.ksub }
      yield (mm, j, index.books(mm)(j).toSeq))
      .toDF("m", "cid", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    index.coded.select(col("id"), col("cell"), col("codes"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$path/codes")
  }

  /** Reopen a persisted IVF-PQ index; `pqProbe` works on it unchanged,
    * with its ADC stage reading the codes file only (the vector side is
    * the IVF `assigned` file, touched just for queries + refine).
    */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession, path: String): PqIndex = {
    val rows = spark.read.parquet(s"$path/codebooks").collect()
    val m = rows.map(_.getAs[Int]("m")).max + 1
    val ksub = rows.map(_.getAs[Int]("cid")).max + 1
    val books = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach(r => books(r.getAs[Int]("m"))(r.getAs[Int]("cid")) = r.getSeq[Double](2).toArray)
    val ivf = readIvfIndex(spark, path)
    PqIndex(
      ivf, books, spark.read.parquet(s"$path/codes"), m, ksub,
      vectorsSplit = Some(ivf.assigned))
  }

  /** One-shot convenience: build + probe. Prefer `buildIvfIndex` once +
    * `ivfProbe` per query batch in any repeated-query setting.
    */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      embCol: String,
      queryPred: Column,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      iters: Int = 2): DataFrame =
    ivfProbe(buildIvfIndex(df, idCol, embCol, nlist, iters), queryPred, k, nprobe)

  /** ONE corpus scan → one row per (doc, table) with a table-prefixed
    * bucket key (tables never cross-match). Bucketing runs in a typed
    * kernel, not Catalyst array lambdas — the nTables × nBits plane dots
    * inline into pathological generated code (the measured lambda-JIT
    * cliff, see Dedup) — with the SAME integer LCG planes, so the SQL
    * oracles replay it exactly. Shared by `lshTopK` and `lshPairs`.
    */
  private def lshBucketed(all: DataFrame, dims: Int, nBits: Int, nTables: Int): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    all
      .select(col("id"), col("vec"), col("nrm"))
      .as[(Long, Array[Double], Double)]
      .mapPartitions { it =>
        val planes = Array.tabulate(nTables, nBits, dims)((t, k, d) =>
          lcg01d((k + t * nBits).toLong * dims + d) - 0.5)
        it.flatMap { case (id, vec, nrm) =>
          (0 until nTables).iterator.map { t =>
            var bucket = 0L
            var k = 0
            while (k < nBits) {
              var s = 0.0
              var d = 0
              while (d < dims) { s += vec(d) * planes(t)(k)(d); d += 1 }
              if (s > 0) bucket |= (1L << k)
              k += 1
            }
            (id, vec, nrm, s"$t:$bucket")
          }
        }
      }
      .toDF("id", "vec", "nrm", "bucket")
  }

  /** ANN top-k: LSH-bucket the corpus into `nTables` independent hash
    * tables (OR-construction: a true neighbor is found if it collides in
    * ANY table — recall rises with nTables while each table's candidate
    * set stays an equi-join on a short bucket key). Candidates are the
    * distinct union over tables; exact cosine ranks them.
    */
  def lshTopK(
      df: DataFrame,
      idCol: String,
      embCol: String,
      queryPred: Column,
      k: Int,
      dims: Int,
      nBits: Int,
      nTables: Int = 8): DataFrame = {
    val bucketed = lshBucketed(prepared(df, idCol, embCol), dims, nBits, nTables)
    val q = bucketed.where(queryPred)
      .select(col("id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"), col("bucket"))
    val scored = bucketed
      .join(broadcast(q), Seq("bucket"))
      .where(col("id") =!= col("query_id"))
      .withColumn("cosine", cosine_sim(col("vec"), col("qvec")))
      // a pair colliding in several tables scores identically each time —
      // the distinct collapses the union of tables
      .select(col("query_id"), col("id"), col("cosine"))
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** Multi-probe LSH ANN (Lv et al. 2007, VLDB): each query probes its
    * base bucket PLUS `probes` single-bit-flip variants — the flips
    * chosen at the sign bits with the smallest |projection margin|, i.e.
    * the hyperplanes the query sits closest to, where a true neighbor
    * most likely landed on the other side. Recall rises like adding
    * tables, but the corpus side is UNCHANGED — no extra corpus rows, no
    * extra storage, just 1+probes broadcast query rows per table — the
    * right trade when the corpus dwarfs the query batch. Probe-bucket
    * derivation is replayed exactly in SQL (the projections are already
    * integer-LCG-replayable; margins are |p| on identical IEEE doubles),
    * so the gate hash-checks the probe sequence, not just the results.
    */
  def lshTopKMultiProbe(
      df: DataFrame,
      idCol: String,
      embCol: String,
      queryPred: Column,
      k: Int,
      dims: Int,
      nBits: Int,
      nTables: Int = 8,
      probes: Int = 2): DataFrame = {
    require(probes >= 0 && probes <= nBits, s"probes must be in [0, nBits], got $probes")
    val spark = df.sparkSession
    import spark.implicits._
    val all = prepared(df, idCol, embCol)
    val corpus = lshBucketed(all, dims, nBits, nTables)
    val q = all
      .where(queryPred)
      .select(col("id"), col("vec"), col("nrm"))
      .as[(Long, Array[Double], Double)]
      .mapPartitions { it =>
        val planes = Array.tabulate(nTables, nBits, dims)((t, kk, d) =>
          lcg01d((kk + t * nBits).toLong * dims + d) - 0.5)
        it.flatMap { case (id, vec, nrm) =>
          (0 until nTables).iterator.flatMap { t =>
            val proj = new Array[Double](nBits)
            var base = 0L
            var kk = 0
            while (kk < nBits) {
              var s = 0.0
              var d = 0
              while (d < dims) { s += vec(d) * planes(t)(kk)(d); d += 1 }
              proj(kk) = s
              if (s > 0) base |= (1L << kk)
              kk += 1
            }
            val flips = (0 until nBits).sortBy(b => (math.abs(proj(b)), b)).take(probes)
            (Iterator.single(base) ++ flips.iterator.map(b => base ^ (1L << b)))
              .map(bk => (id, vec, nrm, s"$t:$bk"))
          }
        }
      }
      .toDF("query_id", "qvec", "qnrm", "bucket")
    val scored = corpus
      .join(broadcast(q), Seq("bucket"))
      .where(col("id") =!= col("query_id"))
      .withColumn("cosine", cosine_sim(col("vec"), col("qvec")))
      .select(col("query_id"), col("id"), col("cosine"))
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** A prebuilt LSH index: the (table, key)-bucketed corpus — the
    * IVF-index treatment for the sign-hash family. The hyperplanes are a
    * pure function of (nBits, nTables) (the deterministic LCG stream),
    * so the only "trained" state is the PARAMETERS: freezing (dims,
    * nBits, nTables) in the stored meta freezes the whole hash family,
    * and appends need no refit — just the same kernel over the delta.
    * Re-sizing nBits for a grown corpus is the retrain: it changes every
    * key, so it is an explicit rebuild, never an implicit append-time
    * surprise. Table-0 rows double as the vector store (exactly one row
    * per id), so verify stages late-materialize vectors without keeping
    * a second corpus copy.
    */
  final case class LshIndex(
      bucketed: DataFrame,
      dims: Int,
      nBits: Int,
      nTables: Int,
      source: Option[DataFrame] = None) {
    def vectors: DataFrame =
      bucketed.where(col("table") === 0).select(col("id"), col("vec"), col("nrm"))
    /** Release the build-time cache of the prepared corpus (held so the
      * sizing count and the bucketing kernel share one scan). Call when
      * the index has been written to parquet (or is no longer probed
      * in-memory) — otherwise a full corpus copy stays pinned in the
      * block manager for the session lifetime.
      */
    def release(): Unit = source.foreach(_.unpersist(blocking = false))
  }

  /** Build the in-memory form: one corpus scan through the shared
    * `lshBucketed` kernel, bucket split into (table, key) columns.
    * `nBits <= 0` sizes from the corpus count via `lshBitsFor`.
    */
  def buildLshIndex(
      df: DataFrame,
      idCol: String,
      embCol: String,
      dims: Int,
      nBits: Int = 0,
      nTables: Int = 8): LshIndex = {
    val prep = prepared(df, idCol, embCol).persist()
    val n = prep.count()
    val bits = if (nBits > 0) nBits else lshBitsFor(n)
    val b = lshBucketed(prep, dims, bits, nTables)
      .withColumn("table", split(col("bucket"), ":").getItem(0).cast("int"))
      .withColumn("key", split(col("bucket"), ":").getItem(1).cast("long"))
      .select(col("id"), col("vec"), col("nrm"), col("table"), col("key"))
    LshIndex(b, dims, bits, nTables, source = Some(prep))
  }

  /** Persist an LSH index: meta (the frozen hash-family parameters) as
    * one tiny parquet, the bucketed corpus PARTITIONED BY TABLE (a
    * bounded nTables directories) with files repartitioned and sorted by
    * key — key-range locality makes parquet row-group stats prune probe
    * reads, without the 2^nBits-directory small-files explosion that
    * partitionBy(key) would create at auto-sized bit widths (65k dirs ×
    * tables at 16 bits). Recurring query batches read this layout
    * instead of re-bucketing the corpus per call.
    */
  def writeLshIndex(index: LshIndex, path: String): Unit = {
    val spark = index.bucketed.sparkSession
    import spark.implicits._
    Seq((index.dims, index.nBits, index.nTables))
      .toDF("dims", "n_bits", "n_tables")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    index.bucketed
      .repartition(col("table"), col("key"))
      .sortWithinPartitions(col("key"))
      .write.partitionBy("table").mode("overwrite").parquet(s"$path/bucketed")
    // the parquet layout is now the index; the build-time corpus cache
    // would otherwise stay pinned for the session
    index.release()
  }

  /** Reopen a persisted LSH index; the *On probes work on it unchanged. */
  def readLshIndex(spark: org.apache.spark.sql.SparkSession, path: String): LshIndex = {
    val m = spark.read.parquet(s"$path/meta").collect()(0)
    LshIndex(
      spark.read.parquet(s"$path/bucketed"),
      m.getAs[Int]("dims"), m.getAs[Int]("n_bits"), m.getAs[Int]("n_tables"))
  }

  /** Index MAINTENANCE, `appendIvfIndex`'s contract for LSH: bucket the
    * delta with the STORED parameters (the frozen hash family — no refit
    * exists to skip) and append only under the table= directories.
    * IDEMPOTENT under replay via the same ids-only anti-join: a retried
    * batch appends nothing the second time.
    */
  def appendLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      delta: DataFrame,
      idCol: String,
      embCol: String): LshIndex = {
    val idx = readLshIndex(spark, path)
    val existing = idx.vectors.select(col("id").as("__existing_id"))
    val fresh = delta.join(
      existing, col(idCol).cast("long") === col("__existing_id"), "left_anti")
    lshBucketed(prepared(fresh, idCol, embCol), idx.dims, idx.nBits, idx.nTables)
      .withColumn("table", split(col("bucket"), ":").getItem(0).cast("int"))
      .withColumn("key", split(col("bucket"), ":").getItem(1).cast("long"))
      .select(col("id"), col("vec"), col("nrm"), col("table"), col("key"))
      .repartition(col("table"), col("key"))
      .sortWithinPartitions(col("key"))
      .write.partitionBy("table").mode("append").parquet(s"$path/bucketed")
    readLshIndex(spark, path)
  }

  /** `lshPairs` reading a prebuilt/persisted index instead of
    * re-bucketing the corpus: identical candidates (equi-join on
    * (table, key) == the prefixed bucket string) and identical verify,
    * so the output hashes equal the in-memory path at the same
    * parameters — spec-pinned.
    */
  def lshPairsOn(index: LshIndex, tau: Double): DataFrame = {
    val ids = index.bucketed.select(col("table"), col("key"), col("id"))
    val cand = ids
      .join(ids.withColumnRenamed("id", "id_b"), Seq("table", "key"))
      .where(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"))
      .distinct()
    val vecs = index.vectors.select(col("id"), col("vec"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("vec").as("va")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vb")), Seq("id_b"))
      .withColumn("cosine", cosine_sim(col("va"), col("vb")))
      .where(col("cosine") >= tau)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** `lshTopK` on a prebuilt/persisted index — the recurring-query-batch
    * path: the corpus side is the stored bucket table; only the query
    * rows (drawn from the index's own vector store by `queryPred`) are
    * hashed per call, broadcast, and equi-joined.
    */
  def lshTopKOn(index: LshIndex, queryPred: Column, k: Int): DataFrame = {
    val q = index.bucketed.where(queryPred)
      .select(
        col("id").as("query_id"), col("vec").as("qvec"),
        col("nrm").as("qnrm"), col("table"), col("key"))
    val scored = index.bucketed
      .join(broadcast(q), Seq("table", "key"))
      .where(col("id") =!= col("query_id"))
      .withColumn("cosine", cosine_sim(col("vec"), col("qvec")))
      .select(col("query_id"), col("id"), col("cosine"))
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** Int8 scalar quantization of an embedding column — the memory-
    * bandwidth play for brute-force scans at 100 TB: 8× smaller vectors
    * (and SIMD-friendly integer dots on real hardware) at the price of a
    * small cosine error, the standard first rung below float recall and
    * above PQ compression.
    *
    * Exactness: each component first lands on the 1e-6 grid
    * (`u = ⌊v·10⁶ + ½⌋`, the same quantization as the IVF trainer), the
    * per-vector scale is the integer max-|u|, and the int8 code is
    * symmetric half-up `sign(u)·⌊(|u|·254 + s)/(2s)⌋ ∈ [−127, 127]` —
    * all-integer, so codes, dots, and squared norms replay bit-identically
    * in any engine; the one fp op is the final cosine divide.
    */
  def int8Quantize(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    val u = transform(
      col(embCol).cast("array<double>"),
      x => floor(x * 1e6 + 0.5).cast("long")) // the repo-wide 1e-6 grid (same as IVF)
    df.select(col(idCol).as("id"), u.as("_u"))
      .withColumn("scale_units", aggregate(col("_u"), lit(0L), (acc, x) => greatest(acc, abs(x))))
      // zero vectors quantize to all-zero codes (scale 1 avoids 0/0)
      .withColumn("_s", greatest(col("scale_units"), lit(1L)))
      .withColumn(
        "code",
        expr("transform(_u, x -> CAST(CAST(sign(x) AS BIGINT) * ((abs(x) * 254 + _s) DIV (_s * 2)) AS INT))"))
      .select(col("id"), col("scale_units"), col("code"))
  }

  /** Brute-force cosine top-k over int8 codes: same broadcast-query /
    * one-corpus-pass shape as `cosineTopK`, but the scan touches ONLY the
    * int8 codes (8× less IO); integer dot and integer squared norms, one
    * final fp divide. Recall vs the float path is asserted in ScalaTest.
    */
  def int8TopK(codes: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val q = codes.where(queryPred)
      .select(col("id").as("query_id"), col("code").as("qcode"))
    val idot = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")), lit(0L), (acc, x) => acc + x)
    val scored = codes
      .join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("_dot", idot(col("code"), col("qcode")))
      .withColumn("_na", idot(col("code"), col("code")))
      .withColumn("_nb", idot(col("qcode"), col("qcode")))
      .withColumn(
        "cosine_q",
        when(col("_na") > 0 && col("_nb") > 0,
          col("_dot").cast("double") / (sqrt(col("_na").cast("double")) * sqrt(col("_nb").cast("double")))))
    val w = Window.partitionBy("query_id").orderBy(col("cosine_q").desc, col("id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), round(col("cosine_q"), 4).as("cosine_q"))
  }

  /** Count-routed near-dup pairs — THE production entry point for
    * embedding near-dup, so callers stop hand-picking between the exact
    * broadcast kernel and the banded path (and stop discovering the
    * `cosinePairs` 500 k-row `require` at 100 TB): corpora that fit the
    * broadcast cap get the exact all-pairs kernel, anything larger goes
    * through `lshPairs` (banded candidates + exact verify — never
    * all-pairs). Identical vectors collide in every LSH table, so TRUE
    * duplicates are found on either route; near-but-not-identical pairs
    * on the LSH route carry its OR-construction recall (spec-pinned
    * against the exact kernel).
    *
    * Output is `(id_a, id_b, cosine)` on both routes. Pass
    * `maxExactRows = 0` to force the banded path (e.g. to gate it at a
    * scale where the exact kernel is also available to compare against).
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      tau: Double,
      dims: Int,
      maxExactRows: Long = MaxBroadcastRows): DataFrame = {
    // materialize the vectors BEFORE routing: the routing count is the
    // one that run takes, and it executes the caller's whole upstream
    // pipeline (for audio/video near-dup that is the full media decode +
    // pooling), which the chosen kernel would otherwise run a SECOND
    // time. One row per vector (id + dims doubles) — tiny next to what
    // produced it.
    val prep = persistRows(df.select(col(idCol), col(embCol)))
    routedPairs(prep, persistedRowCount(prep), idCol, embCol, tau, dims, maxExactRows)
  }

  /** The route-by-count core of [[nearDupPairs]]: `n` is the row count of
    * the already materialized `prepared` (exact-first calls it on its
    * representative table).
    */
  private def routedPairs(
      prepared: DataFrame,
      n: Long,
      idCol: String,
      embCol: String,
      tau: Double,
      dims: Int,
      maxExactRows: Long): DataFrame =
    if (n <= maxExactRows)
      cosinePairs(prepared, idCol, embCol, tau)
        .select(col("va").as("id_a"), col("vb").as("id_b"), col("cosine"))
    else
      lshPairs(prepared, idCol, embCol, tau, dims)

  /** `nearDupPairs` with the EXACT-FIRST collapse — the production order
    * for dense-duplicate corpora, where the banded route alone is
    * candidate-bound: identical vectors all land in the same bucket of
    * every table, so a class of n exact twins contributes C(n,2)
    * candidate rows PER TABLE to the Σ bucket² join (measured 13× slower
    * than the broadcast kernel at 10× dense-twin scale, BENCH_NOTES r10
    * — the `Dedup.exact`-before-`ppjoinPairs` trap in embedding space).
    * Order of operations here:
    *
    *  1. collapse identical vectors into identity classes (one exact
    *     groupBy on the vector value — md5-class analogue of
    *     `Dedup.exact`);
    *  2. run the count-routed `nearDupPairs` over REPRESENTATIVES only
    *     (buckets are now duplicate-free, Σ bucket² stays linear-ish);
    *  3. expand representative pairs back through the classes: cross
    *     pairs inherit the representative cosine (identical vectors —
    *     any member pair computes the same value), within-class pairs
    *     get the class's self-cosine. Both joins move ids, not vectors,
    *     and the expansion is output-bound — the cost of ASKING for the
    *     full pair list. (A pipeline that only needs the dup classes
    *     should stop after step 1/2; emitting C(n,2) rows per class is
    *     inherent to the pair contract, not to this algorithm.)
    *
    * Returns exactly `nearDupPairs`' `(id_a, id_b, cosine)` set — parity
    * is hash-proven at the gate (`dedup_audio_exactfirst` shares
    * `dedup_audio`'s oracle).
    */
  def nearDupPairsExactFirst(
      df: DataFrame,
      idCol: String,
      embCol: String,
      tau: Double,
      dims: Int,
      maxExactRows: Long = MaxBroadcastRows): DataFrame = {
    // materialized: the prepared vectors feed BOTH the class election
    // and the member join (different exchange children — otherwise the
    // caller's upstream pipeline, e.g. a media DECODE, runs once per
    // consumer). One row per vector, dims doubles — tiny next to what
    // produced it.
    val prep = persistRows(df.select(
      col(idCol).cast("long").as("id"),
      col(embCol).cast("array<double>").as("emb")))
    // identity classes keyed by the exact vector value (array equality);
    // materialized: the class table feeds the member join, the rep
    // pairing, and the self-cosine — tiny rows (one per DISTINCT vector)
    val classes = persistRows(prep.groupBy(col("emb"))
      .agg(min(col("id")).as("rep"), count(lit(1)).as("csz")))
    val members = prep.join(classes.select(col("emb"), col("rep")), Seq("emb"))
      .select(col("rep"), col("id"))
    val reps = classes.select(col("rep").as("id"), col("emb"))
    val repPairs = routedPairs(reps, persistedRowCount(classes), "id", "emb", tau, dims, maxExactRows)
    val cross = repPairs
      .join(members.select(col("rep").as("id_a"), col("id").as("ma")), Seq("id_a"))
      .join(members.select(col("rep").as("id_b"), col("id").as("mb")), Seq("id_b"))
      .select(
        least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"),
        col("cosine"))
    // within-class pairs: the self-cosine is computed with the SAME
    // expression sequence as the pair kernels (dot / nrm·nrm), so a
    // degenerate zero-norm class yields NaN and drops at the filter
    // exactly as it would in the all-pairs kernel
    val self = classes.where(col("csz") > 1L)
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      .withColumn("cos_raw", dot(col("emb"), col("emb")) / (col("nrm") * col("nrm")))
      .where(col("cos_raw") >= tau)
      .select(col("rep"), round(col("cos_raw"), 4).as("cosine"))
    val within = self
      .join(members.select(col("rep"), col("id").as("ma")), Seq("rep"))
      .join(members.select(col("rep"), col("id").as("mb")), Seq("rep"))
      .where(col("ma") < col("mb"))
      .select(col("ma").as("id_a"), col("mb").as("id_b"), col("cosine"))
    cross.unionByName(within)
  }

  /** IVF index health: per-cell occupancy and (base vs delta) assignment
    * drift — the report that tells an append-maintained index
    * (`ivfAppend` freezes centroids forever) when frozen centroids have
    * stopped fitting the data. All-integer output so the SQL oracle
    * replays it exactly:
    *
    *  - `n_base` / `n_delta`: rows per cell on each side of `isDelta`;
    *  - `occ_x1000`: cell occupancy as a per-mille of uniform
    *    (`1000` = exactly corpus/nlist rows) — `n·nlist·1000 DIV total`;
    *  - `mean_dot_fp_*`: mean assignment dot (unit vector · own
    *    centroid) in 4-dp fixed point, floor-divided on the +10000
    *    shifted grid so both engines floor the same non-negative sum;
    *  - `drift_fp = mean_dot_fp_base − mean_dot_fp_delta`: positive when
    *    delta rows sit FARTHER from their centroid than the base the
    *    quantizer was fit on — the drifting-distribution signal;
    *  - `hot`: occupancy above 2× uniform; `rebalance`: the documented
    *    re-balance trigger — `hot OR drift_fp > driftBoundFp` (default
    *    500 = 0.05 cosine). The re-balance ACTION is a refit: rebuild
    *    via `buildIvfIndex` over base ∪ delta (splitting only the hot
    *    cells is the cheaper variant; the refit path is the one shipped
    *    and spec-proven to restore recall).
    *
    * Scale shape: one broadcast of the nlist-row centroid table, one
    * pass over `assigned` (already materialized by the build), one
    * ≤nlist-row aggregate. Nothing grows with the corpus.
    */
  def ivfOccupancyReport(
      index: IvfIndex,
      isDelta: Column,
      driftBoundFp: Long = 500L): DataFrame = {
    val total = index.assigned.count() // already persisted by the build
    val nlist = index.centroids.count() // nlist rows — driver scalars
    require(total > 0, "ivfOccupancyReport: empty index")
    val withDp = index.assigned
      .join(broadcast(index.centroids), col("cell") === col("cid"))
      .withColumn(
        "uvec",
        when(col("nrm") > 0, transform(col("vec"), x => x / col("nrm"))).otherwise(col("vec")))
      // shifted 4-dp grid: dp ∈ [-1, 1] ⇒ dp_fp ∈ [0, 20000], so the
      // integer mean below floor-divides a non-negative sum (Spark DIV
      // truncates toward zero, DuckDB // floors — they agree only there)
      .withColumn("dp_fp",
        expr("CAST(floor(aggregate(zip_with(uvec, cvec, (x, y) -> x * y), 0D, (a, x) -> a + x) * 10000 + 0.5) AS BIGINT) + 10000"))
      .withColumn("is_delta", isDelta)
    withDp
      .groupBy(col("cell"))
      .agg(
        sum(when(!col("is_delta"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_delta"),
        sum(when(!col("is_delta"), col("dp_fp"))).as("s_base"),
        sum(when(col("is_delta"), col("dp_fp"))).as("s_delta"))
      .select(
        col("cell").cast("long").as("cell"),
        col("n_base"), col("n_delta"),
        expr(s"(n_base + n_delta) * $nlist * 1000 DIV $total").as("occ_x1000"),
        expr("CASE WHEN n_base > 0 THEN s_base DIV n_base - 10000 END").as("mean_dot_fp_base"),
        expr("CASE WHEN n_delta > 0 THEN s_delta DIV n_delta - 10000 END").as("mean_dot_fp_delta"),
        expr("CASE WHEN n_base > 0 AND n_delta > 0 THEN s_base DIV n_base - s_delta DIV n_delta END")
          .as("drift_fp"),
        expr(s"(n_base + n_delta) * $nlist > 2 * $total").as("hot"))
      .withColumn(
        "rebalance",
        col("hot") || coalesce(col("drift_fp") > driftBoundFp, lit(false)))
  }
}
