package graft

import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Extension operators: dedup, similarity search, text analysis,
  * multimodal plumbing. LSH paths are verified against their exact
  * counterparts here (the oracle-free rows-only queries).
  */
class ExtSpec extends AnyFunSuite {
  lazy val spark = Sessions.get("ext-spec")
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
    (4L, "completely different words about spark catalyst optimizer plans")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts under the min id") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("canonical_id") -> r.getAs[Long]("cnt")).toMap
    assert(out(1L) == 2L) // docs 1+2 collapse
    assert(out(3L) == 1L && out(4L) == 1L)
  }

  test("n-gram Jaccard finds exact and near duplicates with sane scores") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.3)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")) -> r.getAs[Double]("jaccard")).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) < 1.0)
    assert(!pairs.exists { case ((a, b), _) => b == 4L || a == 4L })
  }

  test("containmentPairs: directed excerpt detection, twins both ways, min-size floor, df cap") {
    val page = ((1 to 40).map(i => s"tok$i") ++ Seq("unique", "page", "tail", "words", "here")).mkString(" ")
    val quote = (5 to 20).map(i => s"tok$i").mkString(" ") // strict sub-span of page
    val cdocs = Seq(
      (1L, page), (2L, quote),
      (3L, "twin text body alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "twin text body alpha beta gamma delta epsilon zeta eta theta"),
      (5L, "tiny doc") // below minShingles
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(cdocs, "doc_id", "text", n = 3, tau = 0.8)
      .collect()
      .map(r => (r.getAs[Long]("inner_id"), r.getAs[Long]("outer_id")) ->
        ((r.getAs[Double]("containment"), r.getAs[Double]("jaccard")))).toMap
    // the quote is fully inside the page — one DIRECTED row, jaccard low
    assert(out((2L, 1L))._1 == 1.0)
    assert(out((2L, 1L))._2 < 0.8, s"excerpt must show low jaccard, got ${out((2L, 1L))}")
    assert(!out.contains((1L, 2L)), "page is not contained in its quote")
    // exact twins contain each other: both directions at 1.0, jaccard 1.0
    assert(out((3L, 4L)) == ((1.0, 1.0)) && out((4L, 3L)) == ((1.0, 1.0)))
    // the tiny doc is floored out entirely
    assert(!out.keys.exists { case (a, b) => a == 5L || b == 5L })
    // df cap: at maxDf = 2 every shingle shared 3 ways drops; the quote/
    // page pair (df 2) survives, a tripled text would not
    val tripled = Seq(
      (1L, "same body of shared text repeated across three documents"),
      (2L, "same body of shared text repeated across three documents"),
      (3L, "same body of shared text repeated across three documents"))
      .toDF("doc_id", "text")
    val capped = Dedup.containmentPairs(tripled, "doc_id", "text", n = 3, tau = 0.1, maxDf = 2)
    assert(capped.count() == 0, "df-capped shingles must not pair")
  }

  test("containmentDelta: delta-in-base direction only; delta-only shingles rank rarest yet stay lossless") {
    val page = ((1 to 40).map(i => s"tok$i")).mkString(" ")
    val base = Seq((100L, page), (101L, "stored corpus body alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    // delta 1 = quote of the base page prefixed by NOVEL tokens (delta-only
    // shingles rank df=0, ahead of every real one — losslessness must hold);
    // delta 2 = unrelated
    val quote = "novelword1 novelword2 " + (5 to 20).map(i => s"tok$i").mkString(" ")
    val delta = Seq((1L, quote), (2L, "entirely different new content nothing shared here at all today"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentDelta(base, delta, "doc_id", "text", n = 3, tau = 0.7)
      .collect().map(r => (r.getAs[Long]("delta_id"), r.getAs[Long]("base_id")) ->
        r.getAs[Double]("containment")).toMap
    assert(out.contains((1L, 100L)), s"quote must be found contained in the page: $out")
    assert(out((1L, 100L)) >= 0.7 && out((1L, 100L)) < 1.0, s"novel prefix lowers containment: $out")
    assert(!out.keys.exists(_._1 == 2L), "unrelated delta must not pair")
    // direction: base docs are never reported as contained in delta
    assert(out.keys.forall { case (d, b) => d < 100L && b >= 100L })
    // lossless vs the naive join at the same floors, on the corpus split
    val docs = Tables.documents(spark, sf)
    val got = Dedup.containmentDelta(
      docs.where(col("doc_id") >= 20), docs.where(col("doc_id") < 20),
      "doc_id", "text", n = 3, tau = 0.8)
      .collect().map(r => (r.getAs[Long]("delta_id"), r.getAs[Long]("base_id"))).toSet
    val kh = Dedup.shingleHashesAndSig(docs, "doc_id", "text", n = 3, perms = 1)
      .select(col("id"), explode(col("hs")).as("h"))
    val bk = kh.where(col("id") >= 20)
    val dk = kh.where(col("id") < 20)
    val bsz = bk.groupBy("id").agg(count(lit(1)).as("nb")).where(col("nb") >= 8)
    val dsz = dk.groupBy("id").agg(count(lit(1)).as("na")).where(col("na") >= 8)
    val ref = dk.as("d").join(bk.as("b"), col("d.h") === col("b.h"))
      .groupBy(col("d.id").as("da"), col("b.id").as("db")).agg(count(lit(1)).as("i"))
      .join(dsz.select(col("id").as("da"), col("na")), "da")
      .join(bsz.select(col("id").as("db"), col("nb")), "db")
      .where(col("i").cast("double") / col("na") >= 0.8)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    assert(got == ref, s"prefix-filtered (${got.size}) != naive (${ref.size})")
  }

  test("containmentPairs: asymmetric prefix filter is LOSSLESS — equals the naive full shingle join") {
    val corpus = Tables.documents(spark, sf)
    val got = Dedup.containmentPairs(corpus, "doc_id", "text", n = 3, tau = 0.8)
      .collect()
      .map(r => (r.getAs[Long]("inner_id"), r.getAs[Long]("outer_id")) ->
        ((r.getAs[Long]("n_inner"), r.getAs[Long]("n_shared"),
          r.getAs[Double]("containment"), r.getAs[Double]("jaccard")))).toMap
    // naive reference: full shingle-hash equi-join, no prefix filter —
    // the shape the DuckDB oracle replays
    val kh = Dedup.shingleHashesAndSig(corpus, "doc_id", "text", n = 3, perms = 1)
      .select(col("id"), explode(col("hs")).as("h"))
    val sz = kh.groupBy("id").agg(count(lit(1)).as("nk")).where(col("nk") >= 8)
    val iv = kh.as("a").join(kh.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("da"), col("b.id").as("db")).agg(count(lit(1)).as("i"))
      .join(sz.select(col("id").as("da"), col("nk").as("na")), "da")
      .join(sz.select(col("id").as("db"), col("nk").as("nb")), "db")
      .collect()
    val ref = iv.flatMap { r =>
      val (da, db, i) = (r.getAs[Long]("da"), r.getAs[Long]("db"), r.getAs[Long]("i"))
      val (na, nb) = (r.getAs[Long]("na"), r.getAs[Long]("nb"))
      def row(in: Long, out: Long, nIn: Long, nOut: Long) = {
        val c = i.toDouble / nIn
        if (c >= 0.8)
          Some((in, out) -> ((nIn, i,
            BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
            BigDecimal(i.toDouble / (nIn + nOut - i)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
        else None
      }
      row(da, db, na, nb) ++ row(db, da, nb, na)
    }.toMap
    assert(got == ref, s"prefix-filtered (${got.size}) != naive (${ref.size})")
  }

  test("ppjoin positional filter: a pair EXACTLY at tau with the tight positional bound survives") {
    // r16 positional filter boundary: A="a b c d e" and B="x b c d e"
    // have 3 distinct 3-grams each sharing exactly 2 -> J = 2/4 = 0.5,
    // exactly tau. Prefix length = 3 - ceil(1.5) + 1 = 2; the df-1 grams
    // (abc / xbc) rank first, so the pair's FIRST shared prefix token
    // sits at position 2 in BOTH docs: U = 1 + min(3-2, 3-2) = 2 = the
    // true overlap, and U/(na+nb-U) = 0.5 — the bound is TIGHT. A
    // strict-inequality (or otherwise off-by-one) positional filter
    // would drop this qualifying pair.
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x b c d e"),
      (3L, "p q r s t")).toDF("doc_id", "text")
    val got = Dedup.ppjoinPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"), r.getAs[Double]("jaccard")))
      .toSet
    assert(got == Set((1L, 2L, 0.5)), s"tight-bound pair must survive exactly: $got")
  }

  test("ppjoin: prefix filtering is LOSSLESS — output equals the exact unblocked Jaccard join") {
    val docs = Tables.documents(spark, sf)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"), r.getAs[Double]("jaccard"))).toSet
    for (tau <- Seq(0.3, 0.5, 0.7)) {
      val pp = pairSet(Dedup.ppjoinPairs(docs, "doc_id", "text", n = 3, tau = tau))
      val exact = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = tau))
      assert(pp == exact, s"tau=$tau: prefix filter must lose nothing and invent nothing")
      assert(pp.nonEmpty, s"tau=$tau: the planted dups must appear")
    }
    // the funnel actually prunes: candidates well under all-pairs
    val f = Dedup.ppjoinFunnel(docs, "doc_id", "text", n = 3, tau = 0.5)
    assert(f("candidates") < f("all_pairs") / 10, s"prefix filter barely pruned: $f")
    assert(f("verified_pairs") <= f("candidates"))
  }

  test("MinHash-LSH pairs are a subset of exact Jaccard pairs and catch the planted dups") {
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3, perms = 16, bands = 4, tau = 0.3)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.3)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((1L, 2L))) // identical docs always collide in every band
  }

  test("MinHash-LSH on the documents table: verified subset of exact pairs, full recall here") {
    val d = Tables.documents(spark, sf)
    val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.3)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    val lsh = Dedup.minhashLshPairs(d, "doc_id", "text", 3, 16, 4, 0.3)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    assert(lsh.subsetOf(exact))
    if (exact.nonEmpty) assert(lsh.nonEmpty, "LSH found none of the exact pairs")
  }

  test("clusters: connected components label every member with the component min") {
    // three components, one of them a 6-node chain (a local Seq spreads
    // its edges over several partitions, so the per-partition seeds split
    // the chain and the repair rounds have to join it)
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), // chain → canonical 1
      (10L, 11L),                                       // pair → canonical 10
      (21L, 20L), (22L, 21L), (20L, 22L)                // triangle → canonical 20
    ).toDF("da", "db")
    val out = Dedup.clusters(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("canonical_id"), r.getAs[Long]("cluster_size")))
      .toMap
    assert(out.size == 11)
    (1L to 6L).foreach(id => assert(out(id) == (1L, 6L)))
    Seq(10L, 11L).foreach(id => assert(out(id) == (10L, 2L)))
    Seq(20L, 21L, 22L).foreach(id => assert(out(id) == (20L, 3L)))
  }

  test("representatives: per-cluster argmax by quality with full tie-break") {
    val cl = Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), // cluster 1
      (10L, 10L, 2L), (11L, 10L, 2L)            // cluster 10
    ).toDF("doc_id", "canonical_id", "cluster_size")
    val q = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 4L), (11L, 4L)).toDF("doc_id", "q")
    val out = Dedup.representatives(cl, q, "doc_id", "q").collect()
      .map(r => r.getAs[Long]("canonical_id") ->
        ((r.getAs[Long]("kept_doc"), r.getAs[Long]("kept_q"), r.getAs[Long]("cluster_size")))).toMap
    assert(out(1L) == ((2L, 9L, 3L))) // quality tie 2 vs 3 → lowest id
    assert(out(10L) == ((10L, 4L, 2L)))
    // members missing from the quality frame rank last, never vanish
    val qPartial = Seq((1L, 5L)).toDF("doc_id", "q") // only doc 1 scored
    val o2 = Dedup.representatives(cl, qPartial, "doc_id", "q").collect()
      .map(r => r.getAs[Long]("canonical_id") -> r.getAs[Long]("kept_doc")).toMap
    assert(o2(1L) == 1L, "the only scored member wins")
    assert(o2(10L) == 10L, "an unscored cluster keeps its lowest id")
    // a caller-named id column works (the scaladoc's contract)
    val qNamed = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 4L), (11L, 4L)).toDF("id", "score")
    val o3 = Dedup.representatives(cl, qNamed, "id", "score").collect()
      .map(r => r.getAs[Long]("canonical_id") -> r.getAs[Long]("kept_doc")).toMap
    assert(o3 == Map(1L -> 2L, 10L -> 10L))
  }

  test("clusters on an empty pair graph returns the empty labeling (no NPE)") {
    val empty = Seq.empty[(Long, Long)].toDF("da", "db")
    assert(Dedup.clusters(empty).collect().isEmpty)
  }

  test("clustersRouted: driver union-find route equals the distributed fixpoint loop") {
    // chain + pair + triangle — spread over several partitions, the
    // chain's seeds are partial and the distributed side runs repair
    // rounds, so equality is a real fixpoint check
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L),
      (21L, 20L), (22L, 21L), (20L, 22L)
    ).toDF("da", "db")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("canonical_id"), r.getAs[Long]("cluster_size"))))
      .toMap
    val local = toMap(Dedup.clustersRouted(pairs)) // within the cap → driver route
    val dist = toMap(Dedup.clustersRouted(pairs, maxLocalEdges = 0)) // forced loop
    assert(local == dist, "the two routes must produce identical labelings")
    assert(local(6L) == ((1L, 6L)) && local(22L) == ((20L, 3L)))
    // schema parity (the query compare hashes by column name)
    assert(Dedup.clustersRouted(pairs).columns.sorted.sameElements(
      Dedup.clusters(pairs).columns.sorted))
    // empty graph short-circuits on the local route too
    assert(Dedup.clustersRouted(Seq.empty[(Long, Long)].toDF("da", "db")).collect().isEmpty)
  }

  test("clusters releases superseded per-round storage (bounded cache)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // a 9-node chain whose edges a local Seq spreads over several
    // partitions needs several repair rounds
    val pairs = (1L to 8L).map(i => (i, i + 1)).toDF("da", "db")
    Dedup.clusters(pairs).collect()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(
      added.size <= 1,
      s"expected at most the final label table to stay cached, found ${added.size} new persisted RDDs")
  }

  test("clusters over real MinHash-LSH pairs: both ends of every pair share a canonical") {
    val d = Tables.documents(spark, sf)
    val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", 3, 16, 4, 0.3)
    val cl = Dedup.clusters(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
    val ps = pairs.collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")))
    assert(ps.nonEmpty)
    ps.foreach { case (a, b) => assert(cl(a) == cl(b), s"pair ($a,$b) split across clusters") }
    cl.foreach { case (id, c) => assert(c <= id && cl(c) == c, s"canonical $c of $id not a fixpoint") }
  }

  /** Spark jobs and completed shuffle map stages while `body` ran. */
  private def jobsAndShuffleStages[T](body: => T): (T, Int, Int) = {
    import org.apache.spark.graft.SparkInternals
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val shuffleStages = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (SparkInternals.isShuffleMapStage(e.stageInfo)) shuffleStages.incrementAndGet(): Unit
    }
    SparkInternals.drainListeners(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      SparkInternals.drainListeners(sc)
      (out, jobs.get, shuffleStages.get)
    } finally sc.removeSparkListener(l)
  }

  test("minhashLshPairs is materialized once: a later query and clusters re-run no pair stage") {
    val d = Tables.documents(spark, sf)
    val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", 3, 16, 4, 0.3)
    val first = pairs.collect()
    assert(first.nonEmpty)
    // a new query over a lazy pair plan plans and runs the banding,
    // candidate and verify stages again (several jobs with shuffle
    // stages); over stored rows it is one scan
    val (again, jobs, shuffleStages) = jobsAndShuffleStages(pairs.select("da", "db").collect())
    assert(again.toSet == first.map(r => org.apache.spark.sql.Row(r.get(0), r.get(1))).toSet)
    assert(jobs == 1 && shuffleStages == 0, s"a second query over the pairs ran $jobs jobs and $shuffleStages shuffle stages")
    // the clustering reads the stored pairs too; over a lazy pair plan
    // it ran 21 jobs here (the pipeline again under its edge copy, then
    // rounds seeded with identity labels), over stored rows 10
    val (_, clusterJobs, _) = jobsAndShuffleStages(Dedup.clustersWithRounds(pairs)._1.collect())
    assert(clusterJobs <= 10, s"clustersWithRounds + collect ran $clusterJobs jobs")
  }

  test("clusters is exact at any partitioning; one edge partition converges in one round") {
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val size = nodes.groupBy(find).map { case (r, ns) => r -> ns.size.toLong }
      nodes.map(n => n -> ((find(n), size(find(n))))).toMap
    }
    val path = new scala.util.Random(11).shuffle((1L until 2000L).map(i => (i, i + 1)))
    val mixed = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L),
      (21L, 20L), (22L, 21L), (20L, 22L))
    for ((edges, name) <- Seq(path -> "path", mixed -> "chain+pair+triangle"); parts <- Seq(1, 3, 8)) {
      val (out, rounds) = Dedup.clustersWithRounds(edges.toDF("da", "db").repartition(parts))
      val got = out.collect()
        .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("canonical_id"), r.getAs[Long]("cluster_size"))))
        .toMap
      assert(got == unionFind(edges), s"$name at $parts partitions")
      // one partition: the seed pass sees every edge, so the first repair
      // round finds the fixpoint; spread over 8 the rounds still run
      if (parts == 1) assert(rounds == 1, s"$name at 1 partition ran $rounds rounds")
      if (parts == 8) assert(rounds > 1, s"$name at 8 partitions ran $rounds rounds")
    }
  }

  test("stratified sampling caps each group deterministically; other groups don't disturb picks") {
    val d = Tables.documents(spark, sf)
    val s1 = ext.Sampling.sampleStratified(d, "doc_id", "source", 10, "st7")
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"))).toSet
    val s2 = ext.Sampling.sampleStratified(d, "doc_id", "source", 10, "st7")
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"))).toSet
    assert(s1 == s2 && s1.nonEmpty)
    s1.groupBy(_._1).foreach { case (src, rows) => assert(rows.size <= 10, s"$src over cap") }
    // stability: dropping ONE group leaves every other group's picks unchanged
    val firstSrc = s1.head._1
    val without = ext.Sampling.sampleStratified(
      d.where(col("source") =!= firstSrc), "doc_id", "source", 10, "st7")
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"))).toSet
    assert(without == s1.filterNot(_._1 == firstSrc))
    // the cap is by hash rank, not doc_id order: a different salt reshuffles
    val other = ext.Sampling.sampleStratified(d, "doc_id", "source", 10, "zz9")
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"))).toSet
    assert(other != s1, "salt must drive the picks")
  }

  test("PQ index round-trips through parquet; reopened probe gives identical results") {
    val e = Tables.embeddings(spark, sf)
    val pq = Similarity.buildPqIndex(e, "vec_id", "embedding", nlist = 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("pqidx").toString
    Similarity.writePqIndex(pq, dir)
    val reopened = Similarity.readPqIndex(spark, dir)
    assert(reopened.m == pq.m && reopened.ksub == pq.ksub)
    // split column groups: the ADC scan's input file carries codes only —
    // no vector bytes can flow before the refine cut
    assert(reopened.vectorsSplit.isDefined && !reopened.coded.columns.contains("vec"),
      "split storage: ADC input must be the codes-only file")
    (0 until pq.m).foreach(mm => (0 until pq.ksub).foreach(j =>
      assert(java.util.Arrays.equals(reopened.books(mm)(j), pq.books(mm)(j)))))
    val a = Similarity.pqProbe(pq, col("id") < 5, k = 5, nprobe = 6).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"))).toSet
    val b = Similarity.pqProbe(reopened, col("id") < 5, k = 5, nprobe = 6).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("hash sampling is deterministic, id-stable, and near the target rate") {
    val d = Tables.documents(spark, sf)
    val s1 = ext.Sampling.sampleHash(d, "doc_id", 0.25, "s42").select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = ext.Sampling.sampleHash(d, "doc_id", 0.25, "s42").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "same salt+rate must select identical rows")
    val n = d.count().toDouble
    assert(math.abs(s1.size / n - 0.25) < 0.1, s"rate ${s1.size / n} far from 0.25")
    // rate monotonicity: a bigger rate strictly extends the sample (same salt)
    val s3 = ext.Sampling.sampleHash(d, "doc_id", 0.5, "s42").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1.subsetOf(s3))
  }

  test("split assignment partitions every row once with roughly the asked proportions") {
    val d = Tables.documents(spark, sf)
    val out = ext.Sampling.assignSplit(d, "doc_id", Seq(("train", 8.0), ("val", 1.0), ("test", 1.0)), "sp1")
    assert(out.count() == d.count())
    val byS = out.groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byS.keySet == Set("train", "val", "test"))
    val n = d.count().toDouble
    assert(byS("train") / n > 0.6 && byS("train") / n < 0.95)
  }

  test("cluster-aware split: no near-dup pair straddles splits; singletons equal plain assignSplit") {
    val d = Tables.documents(spark, sf)
    val pairs = ext.Dedup.minhashLshPairs(d, "doc_id", "text", n = 3, perms = 16, bands = 4, tau = 0.3)
    val clusters = ext.Dedup.clusters(pairs)
    val w = Seq(("train", 8.0), ("val", 1.0), ("test", 1.0))
    val safe = ext.Sampling.assignSplitByCluster(d, "doc_id", clusters, w, "sp1")
    assert(safe.count() == d.count(), "every doc assigned exactly once")
    // the leakage property itself: both ends of every near-dup pair get
    // the SAME split label
    val bySplit = safe.select(col("doc_id"), col("split"))
    val straddling = pairs
      .join(bySplit.select(col("doc_id").as("da"), col("split").as("sa")), "da")
      .join(bySplit.select(col("doc_id").as("db"), col("split").as("sb")), "db")
      .where(col("sa") =!= col("sb"))
      .count()
    assert(straddling == 0L, s"$straddling near-dup pairs straddle splits")
    // plain per-id splitting DOES leak on this fixture (the property is
    // not vacuous), and cluster members exist
    val plain = ext.Sampling.assignSplit(d, "doc_id", w, "sp1")
    val plainStraddling = pairs
      .join(plain.select(col("doc_id").as("da"), col("split").as("sa")), "da")
      .join(plain.select(col("doc_id").as("db"), col("split").as("sb")), "db")
      .where(col("sa") =!= col("sb"))
      .count()
    assert(plainStraddling > 0L, "fixture must exhibit leakage under plain splitting")
    // singleton docs (not in any cluster) keep their plain assignment:
    // adding dedup-safety never reshuffles the rest of the corpus
    val members = clusters.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val diff = safe.select(col("doc_id"), col("split"))
      .join(plain.select(col("doc_id"), col("split").as("plain_split")), "doc_id")
      .where(col("split") =!= col("plain_split"))
      .collect().map(_.getLong(0)).toSet
    assert(diff.subsetOf(members), "only cluster members may move splits")
  }

  test("weighted mixing: w>1 upsamples with copy indices, w=0 drops, expectation ≈ weights") {
    val d = Tables.documents(spark, sf)
    val out = ext.Sampling.mixWeighted(
      d, "doc_id", "source", Map("src0" -> 2.5, "src1" -> 0.5, "src2" -> 0.0), 1.0, "mx")
    val bySrc = out.groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySrc.contains("src2"), "weight 0 must drop the source entirely")
    val per = d.groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") >= 2 * per("src0"), "w=2.5 guarantees ≥2 copies per row")
    assert(bySrc("src1") <= per("src1"))
    // copies of one row are distinguishable by the copy index
    val copies = out.where(col("source") === "src0").groupBy("doc_id").count().collect().map(_.getLong(1))
    assert(copies.forall(c => c == 2 || c == 3))
  }

  test("PII scrub redacts emails, phones, IPs with per-class counts") {
    val rows = Seq(
      (1L, "mail bob.smith+x@corp.example.org now"),
      (2L, "server at 192.168.0.1 and 10.0.0.255 up"),
      (3L, "call 555-123-4567 re a@b.io"),
      (4L, "nothing sensitive here")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scrubPii(rows, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_emails"), r.getAs[Long]("n_phones"), r.getAs[Long]("n_ips"), r.getAs[String]("clean_text")))
      .toMap
    assert(out(1L) == ((1L, 0L, 0L, "mail <EMAIL> now")))
    assert(out(2L) == ((0L, 0L, 2L, "server at <IP> and <IP> up")))
    assert(out(3L) == ((1L, 1L, 0L, "call <PHONE> re <EMAIL>")))
    assert(out(4L) == ((0L, 0L, 0L, "nothing sensitive here")))
  }

  test("repetition metrics: hand-computed counts and ratios on known docs") {
    val rows = Seq(
      (1L, "a b a b a b"),        // n=6, distinct=2; bigrams: "a b"×3, "b a"×2 → top=3
                                  // trigrams: "a b a"×2, "b a b"×2 → all 4 positions dup
      (2L, "x y z w"),            // no repetition at all
      (3L, "q"),                  // single word: no bigrams/trigrams, ratios 0
      (4L, "t t")                 // n=2: bigram "t t"×1; no trigrams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(rows, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_words") == 6L && r1.getAs[Long]("n_distinct_words") == 2L)
    assert(r1.getAs[Long]("top_bigram_n") == 3L && r1.getAs[Long]("n_dup_trigrams") == 4L)
    assert(r1.getAs[Double]("dup_word_ratio") == 0.6667)
    assert(r1.getAs[Double]("top_bigram_ratio") == 0.6)   // 3 of 5 bigram positions
    assert(r1.getAs[Double]("dup_trigram_ratio") == 1.0)  // all 4 trigram positions dup
    val r2 = out(2L)
    assert(r2.getAs[Double]("dup_word_ratio") == 0.0 && r2.getAs[Long]("top_bigram_n") == 1L)
    assert(r2.getAs[Long]("n_dup_trigrams") == 0L)
    val r3 = out(3L)
    assert(r3.getAs[Long]("n_words") == 1L && r3.getAs[Long]("top_bigram_n") == 0L)
    assert(r3.getAs[Double]("top_bigram_ratio") == 0.0 && r3.getAs[Double]("dup_trigram_ratio") == 0.0)
    val r4 = out(4L)
    assert(r4.getAs[Double]("dup_word_ratio") == 0.5 && r4.getAs[Double]("dup_trigram_ratio") == 0.0)
  }

  test("CDC chunks tile the document, respect the boundary rule, and survive prefix edits") {
    val corpus = Tables.documents(spark, sf)
    val chunks = Dedup.cdcChunks(corpus, "doc_id", "text")
    val byDoc = chunks.groupBy("doc_id")
      .agg(sum("len").as("s"), max(col("start_pos") + col("len") - 1).as("e"),
        count(lit(1)).as("n_chunks"))
      .join(corpus.select(col("doc_id"), length(col("text")).as("n")), "doc_id")
    assert(byDoc.where(col("s") =!= col("n") || col("e") =!= col("n")).count() == 0,
      "chunks must tile each document exactly")

    // boundary invariance: a prefix edit changes only the first chunk(s);
    // later chunk HASHES reappear (that is the whole point of CDC)
    val doc = corpus.orderBy("doc_id").limit(1).collect().head
    val text = doc.getAs[String]("text")
    val edited = Seq((1L, text), (2L, "EDITED PREFIX " + text)).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(edited, "doc_id", "text").collect()
    val h1 = ch.filter(_.getLong(0) == 1L).map(_.getAs[String]("chunk_md5")).toSet
    val h2 = ch.filter(_.getLong(0) == 2L).map(_.getAs[String]("chunk_md5")).toSet
    assert((h1 intersect h2).nonEmpty,
      s"prefix edit must preserve later chunk hashes: $h1 vs $h2")

    // kernel boundary rule matches the documented arithmetic
    val pw = Dedup.cdcPowers
    def h(tx: String, i: Int): Long =
      (0 until Dedup.CdcWindow).map(k => tx.charAt(i - 1 - k).toLong * pw(k) % Dedup.CdcMod)
        .sum % Dedup.CdcMod
    val ends = ch.filter(_.getLong(0) == 1L)
      .map(r => r.getAs[Long]("start_pos") + r.getAs[Long]("len") - 1).map(_.toInt).sorted
    ends.dropRight(1).foreach { e =>
      assert(h(text, e) % Dedup.CdcMask == 0L, s"interior boundary at $e must satisfy the mask")
    }
    assert(ends.last == text.length)
  }

  test("cdcPairs: docs sharing chunked material pair up with sane containment") {
    val corpus = Tables.documents(spark, sf)
    val pairs = Dedup.cdcPairs(corpus, "doc_id", "text", minShared = 2L).collect()
    assert(pairs.nonEmpty, "the synthetic corpus plants shared chunk material")
    pairs.foreach { r =>
      assert(r.getAs[Long]("da") < r.getAs[Long]("db"))
      val c = r.getAs[Double]("containment")
      assert(c > 0.0 && c <= 1.0, s"containment out of range: $c")
      assert(r.getAs[Long]("shared_chunks") >= 2L)
    }
    // cross-check one pair against the chunk table directly
    val (da, db) = {
      val r = pairs.head; (r.getAs[Long]("da"), r.getAs[Long]("db"))
    }
    val ch = Dedup.cdcChunks(corpus.where(col("doc_id").isin(da, db)), "doc_id", "text")
      .select("doc_id", "chunk_md5").distinct().collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getString(1)).toSet }
    val shared = (ch(da) intersect ch(db)).size
    val expect = pairs.find(r => r.getAs[Long]("da") == da && r.getAs[Long]("db") == db).get
    // the pair count can be lower than the raw intersection only via the
    // frequent-chunk cap; on two docs alone the caps can't differ upward
    assert(expect.getAs[Long]("shared_chunks") <= shared)
  }

  test("cdcContamination: planted copied passage is flagged; clean docs are not") {
    val corpus = Tables.documents(spark, sf)
    // a long passage (several expected-64-char chunks) so interior CDC
    // boundaries — and hence shared chunk hashes — exist inside it
    val passage = corpus.orderBy("doc_id").limit(5).collect()
      .map(_.getAs[String]("text")).mkString(" ")
    val train = Seq(
      (100L, "unrelated words entirely " + passage + " with a long stolen middle"),
      (101L, "completely clean document about nothing shared at all here")
    ).toDF("doc_id", "text")
    val probe = Seq((1L, passage)).toDF("doc_id", "text")
    val hits = graft.ext.Dedup.cdcContamination(train, probe, "doc_id", "text", minShared = 1L)
      .collect().map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("probe_id"))).toSet
    assert(hits.contains((100L, 1L)), s"copied passage must flag: $hits")
    assert(!hits.exists(_._1 == 101L), "clean doc must not flag")
  }

  test("percentiles: hand-computed interpolation + agreement with Spark's exact percentile") {
    val rows = Seq((1L, 1.0), (1L, 2.0), (1L, 3.0), (1L, 4.0), (2L, 10.0)).toDF("k", "v")
    val out = graft.ts.TsAlgebra.percentiles(rows, "k", "v", Seq("p50" -> 0.5, "p100" -> 1.0))
      .collect().map(r => r.getAs[Long]("k") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("p50"), r.getAs[Double]("p100")))).toMap
    // k=1: n=4, p50 idx=1.5 → 2 + 0.5·(3−2) = 2.5; p100 → 4
    assert(out(1L) == ((4L, 2.5, 4.0)))
    // single-point series: every percentile is the point
    assert(out(2L) == ((1L, 10.0, 10.0)))
    // cross-check the rank formulation against Spark's built-in exact
    // percentile on real data (same interpolation definition)
    val ev = Tables.events(spark, sf).select(col("user_id"), col("value"))
    val mine = graft.ts.TsAlgebra.percentiles(ev, "user_id", "value", Seq("p90" -> 0.9))
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("p90")).toMap
    val builtin = ev.groupBy("user_id")
      .agg(expr("percentile(value, 0.9D)").as("p"))
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("p")).toMap
    mine.foreach { case (k, v) =>
      assert(math.abs(v - builtin(k)) < 1e-4, s"key $k: $v vs builtin ${builtin(k)}")
    }
  }

  test("decontamination flags n-gram overlap with the probe set; probe side broadcasts") {
    val train = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"), // shares 'alpha beta gamma','beta gamma delta' with probe 1
      (101L, "nothing in common with anything here"),
      (102L, "alpha beta gamma unrelated tail words")  // shares only 1 trigram with probe 1
    ).toDF("doc_id", "text")
    val probe = Seq((1L, "alpha beta gamma delta prime")).toDF("doc_id", "text")
    val out = Dedup.contaminationPairs(train, probe, "doc_id", "text", n = 3, minShared = 2L)
    val rows = out.collect().map(r =>
      (r.getAs[Long]("train_id"), r.getAs[Long]("probe_id"), r.getAs[Long]("shared_ngrams")))
    assert(rows.toSeq == Seq((100L, 1L, 2L)), s"got ${rows.toSeq}")
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"probe side must broadcast:\n$p")
  }

  test("surprisalFp: exact on powers of two, tracks log2 to <2^-14, monotone in cnt") {
    assert(TextAnalysis.surprisalFp(8, 1) == 3L * 65536)
    assert(TextAnalysis.surprisalFp(1024, 1) == 10L * 65536)
    assert(TextAnalysis.surprisalFp(12, 3) == 2L * 65536)
    assert(TextAnalysis.surprisalFp(7, 7) == 0L)
    // large t exercises the BigInt mantissa seed (t << 30 would overflow)
    val cases = Seq((1000L, 3L), (999999937L, 7L), (1L << 40, 3L), (Long.MaxValue / 4, 12345L))
    cases.foreach { case (t, c) =>
      val got = TextAnalysis.surprisalFp(t, c) / 65536.0
      val want = math.log(t.toDouble / c) / math.log(2.0)
      assert(math.abs(got - want) < math.pow(2, -14), s"($t,$c): $got vs $want")
    }
    // truncation only ever rounds DOWN, and more copies → less surprisal
    assert(TextAnalysis.surprisalFp(1000, 3) <= TextAnalysis.surprisalFp(1000, 2))
  }

  test("lmCrossEntropy: hand-computed unigram surprisal averages") {
    val rows = Seq((1L, "a a b"), (2L, "b")).toDF("doc_id", "text")
    // t=4; cnt(a)=2, cnt(b)=2 → surprisal exactly 1 bit each
    val out = TextAnalysis.lmCrossEntropy(rows, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("sum_xent_fp"), r.getAs[Double]("xent_bits")))).toMap
    assert(out(1L) == ((3L, 3L * 65536, 1.0)))
    assert(out(2L) == ((1L, 65536L, 1.0)))
    // rare-token doc scores strictly above the boilerplate doc
    val rows2 = Seq((1L, "x x x x x x x"), (2L, "x rareword")).toDF("doc_id", "text")
    val o2 = TextAnalysis.lmCrossEntropy(rows2, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("xent_bits")).toMap
    assert(o2(2L) > o2(1L))
  }

  test("lmBigramCrossEntropy: hand-computed transition surprisals; word-order sensitivity") {
    // corpus transitions: "a b" x2, "a c" x1, "b a" x1, "c a" x1 →
    // c(a,·)=3, c(b,·)=1, c(c,·)=1
    val rows = Seq((1L, "a b a b"), (2L, "a c a")).toDF("doc_id", "text")
    val out = TextAnalysis.lmBigramCrossEntropy(rows, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_xent2_fp")))).toMap
    val sAB = TextAnalysis.surprisalFp(3, 2) // p(b|a)=2/3
    val sBA = TextAnalysis.surprisalFp(1, 1) // p(a|b)=1
    val sAC = TextAnalysis.surprisalFp(3, 1) // p(c|a)=1/3
    val sCA = TextAnalysis.surprisalFp(1, 1)
    assert(out(1L) == ((3L, sAB * 2 + sBA)))
    assert(out(2L) == ((2L, sAC + sCA)))
    // conditional, not unigram: identical token MULTISET, different
    // order → different score (a unigram LM scores these identically)
    val pair = Seq(
      (10L, "x y x y x y x y"), // all transitions frequent
      (11L, "x x y y x y x y") // same tokens, rare x→x / y→y transitions
    ).toDF("doc_id", "text")
    val o2 = TextAnalysis.lmBigramCrossEntropy(pair, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("xent2_bits")).toMap
    assert(o2(11L) > o2(10L), s"rare transitions must score higher: $o2")
    // a single-word doc has no transitions and is absent
    val single = TextAnalysis.lmBigramCrossEntropy(
      Seq((1L, "only"), (2L, "two words")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(single == Set(2L))
  }

  test("corpusFilter: fused pass agrees with the composable operators it fuses") {
    val d = Tables.documents(spark, sf)
    val fused = TextAnalysis.corpusFilter(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Double]("stopword_ratio"),
          r.getAs[Double]("dup_trigram_ratio"), r.getAs[String]("lang_pred")))).toMap
    val q = TextAnalysis.quality(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_words").toLong, r.getAs[Double]("stopword_ratio")))).toMap
    val rep = TextAnalysis.repetition(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dup_trigram_ratio")).toMap
    val lang = TextAnalysis.langId(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    fused.foreach { case (id, (n, sr, dt, lp)) =>
      assert((n, sr) == q(id), s"quality mismatch for $id")
      assert(dt == rep(id), s"repetition mismatch for $id")
      assert(lp == lang(id), s"langid mismatch for $id")
    }
    // decision sanity: a too-short doc and a repetitive doc are dropped
    val probe = Seq((1L, "tiny doc"), (2L, ("the a of and to in is on " * 40).trim)).toDF("doc_id", "text")
    val dec = TextAnalysis.corpusFilter(probe, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(!dec(1L), "under minWords must drop")
    assert(!dec(2L), "maximally repetitive text must drop")
  }

  test("rarity: hand-computed inverse-frequency points") {
    // corpus: total 6 tokens; counts: a=3, b=2, c=1
    val rows = Seq((1L, "a b a"), (2L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.rarity(rows, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("sum_rarity_pts"), r.getAs[Double]("avg_rarity")))
      .toMap
    // pts: a = 6e6/3 = 2e6; b = 6e6/2 = 3e6; c = 6e6/1 = 6e6
    assert(out(1L) == ((3L, 2000000L + 3000000L + 2000000L, 2.3333)))
    assert(out(2L) == ((3L, 2000000L + 3000000L + 6000000L, 3.6667)))
  }

  test("normalize strips control chars, collapses spaces, trims, lowercases") {
    val rows = Seq((1L, "  A\tB  C   D  ")).toDF("doc_id", "text")
    val out = TextAnalysis.normalize(rows, "doc_id", "text").collect().head.getAs[String]("norm_text")
    assert(out == "ab c d")
  }

  test("SimHash: identical docs hash identically; banding surfaces the pair") {
    val hashes = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(hashes(1L) == hashes(2L))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 10)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"), r.getAs[Int]("hamming")))
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
  }

  test("brute-force cosine top-k ranks by similarity") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.cosineTopK(vecs, "vec_id", "embedding", col("id") === 0, k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L))
  }

  test("hardNegatives: labels always differ, ranks dense, equals the label-filtered brute-force ranking") {
    val e = Tables.embeddings(spark, sf)
    val labels = e.collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label").toLong).toMap
    val hn = Similarity.hardNegatives(e, "vec_id", "embedding", "label", col("id") < 5, k = 5).collect()
    assert(hn.nonEmpty)
    assert(hn.forall(r => r.getAs[Long]("query_label") != r.getAs[Long]("negative_label")))
    assert(hn.forall(r => labels(r.getAs[Long]("negative_id")) == r.getAs[Long]("negative_label")))
    val byQuery = hn.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.values.forall(_.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 5)))
    // equals the big-k brute-force ranking with same-label rows dropped
    val full = Similarity.cosineTopK(e, "vec_id", "embedding", col("id") < 5, k = 2000).collect()
    val expected = full.groupBy(_.getAs[Long]("query_id")).map { case (q, rows) =>
      q -> rows.sortBy(_.getAs[Int]("rank"))
        .filter(r => labels(r.getAs[Long]("neighbor_id")) != labels(q))
        .take(5).map(_.getAs[Long]("neighbor_id")).toSeq
    }
    val got = byQuery.map { case (q, rows) =>
      q -> rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("negative_id")).toSeq
    }
    assert(got == expected, "hard negatives = label-filtered brute-force order")
  }

  test("LSH top-k returns valid ranks and decent recall vs brute force on real embeddings") {
    val e = Tables.embeddings(spark, sf)
    val exact = Similarity.cosineTopK(e, "vec_id", "embedding", col("id") < 5, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.lshTopK(e, "vec_id", "embedding", col("id") < 5, k = 5, dims = 64, nBits = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(approx.nonEmpty)
    // quantified floor (same bar as the IVF test), not just a non-empty overlap
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"LSH recall too low: $recall")
  }

  test("pageRank: hand-computed micro-ranks, weight-proportional split with truncation, dangling drop") {
    import graft.ext.Graph
    // a→b, c→b: b accumulates; a,c keep only teleport; b is dangling
    val e1 = Seq(("a", "b", 1L), ("c", "b", 1L)).toDF("src", "dst", "w")
    val r2 = Graph.pageRank(e1, "src", "dst", "w", iters = 2).collect()
      .map(r => r.getAs[String]("node") -> r.getAs[Long]("rank_micro")).toMap
    // r1: b = 150000 + 2·(1000000·850)÷1000 = 1850000; a = c = 150000
    // r2: b = 150000 + 2·(150000·850)÷1000 = 405000 (b's own mass drops: dangling)
    assert(r2 == Map("a" -> 150000L, "b" -> 405000L, "c" -> 150000L))
    // weight-proportional split with per-edge truncation: d→e (w2), d→f (w1)
    val e2 = Seq(("d", "e", 2L), ("d", "f", 1L)).toDF("src", "dst", "w")
    val r1 = Graph.pageRank(e2, "src", "dst", "w", iters = 1).collect()
      .map(r => r.getAs[String]("node") -> r.getAs[Long]("rank_micro")).toMap
    assert(r1("e") == 150000L + (850000L * 2) / 3)
    assert(r1("f") == 150000L + 850000L / 3)
    assert(r1("d") == 150000L)
  }

  test("pageRank iters=20: rematerialized lineage matches a driver-side reference exactly") {
    import graft.ext.Graph
    // a 40-node ring + chords — enough structure that ranks keep moving
    // for many rounds; 20 iterations would compound 20 unrolled
    // join+groupBy layers without the per-round RDD rematerialization
    val edges = (0 until 40).flatMap { i =>
      Seq((s"n$i", s"n${(i + 1) % 40}", 2L), (s"n$i", s"n${(i + 7) % 40}", 1L))
    }
    val got = Graph.pageRank(edges.toDF("src", "dst", "w"), "src", "dst", "w", iters = 20)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Long]("rank_micro")).toMap
    // reference: the same integer recurrence computed in plain Scala
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var rank = (0 until 40).map(i => s"n$i" -> 1000000L).toMap
    for (_ <- 1 to 20) {
      val in = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      edges.foreach { case (s, d, w) =>
        in(d) += ((rank(s) * 850L) / 1000L) * w / outW(s)
      }
      rank = rank.keys.map(n => n -> (150000L + in(n))).toMap
    }
    assert(got == rank, "20-round micro-ranks must equal the reference recurrence exactly")
    // zero/negative-weight edges are excluded on BOTH engines (the oracle
    // would raise div-by-zero where Spark yields NULL): engine must drop
    // them rather than silently null out contributions
    val withBad = edges ++ Seq(("n0", "n39", 0L), ("n1", "n38", -5L))
    val got2 = Graph.pageRank(withBad.toDF("src", "dst", "w"), "src", "dst", "w", iters = 20)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Long]("rank_micro")).toMap
    assert(got2 == rank, "w<1 edges must be filtered, not NULL-propagated")
    // contract: the w>=1 filter defines the graph — a vertex incident
    // ONLY to sub-unit edges is excluded from the node set entirely (no
    // teleport-only row), same as the SQL oracle's filtered edge list
    val withOrphan = edges ++ Seq(("zzz", "n0", 0L))
    val got3 = Graph.pageRank(withOrphan.toDF("src", "dst", "w"), "src", "dst", "w", iters = 2)
      .collect().map(_.getAs[String]("node")).toSet
    assert(!got3.contains("zzz"), "a node with only w<1 edges must be absent, not teleport-ranked")
  }

  test("triangles: diamond counts, clique cc=1, path cc=0, canonicalization of dup/reversed/self edges") {
    import graft.ext.Graph
    // K4 minus {c,d}: triangles abc and abd only
    val diamond = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d")).toDF("x", "y")
    val got = Graph.triangles(diamond, "x", "y").collect()
      .map(r => r.getAs[String]("node") -> ((r.getAs[Long]("deg"), r.getAs[Long]("n_tri"), r.getAs[Long]("cc_micro")))).toMap
    assert(got == Map(
      "a" -> ((3L, 2L, 666666L)), // (2·2·1e6) DIV (3·2), truncating
      "b" -> ((3L, 2L, 666666L)),
      "c" -> ((2L, 1L, 1000000L)),
      "d" -> ((2L, 1L, 1000000L))))
    // duplicates, reversals, and self-loops canonicalize away
    val noisy = diamond
      .union(Seq(("b", "a"), ("a", "b"), ("c", "a"), ("d", "d")).toDF("x", "y"))
    val got2 = Graph.triangles(noisy, "x", "y").collect()
      .map(r => r.getAs[String]("node") -> r.getAs[Long]("n_tri")).toMap
    assert(got2 == Map("a" -> 2L, "b" -> 2L, "c" -> 1L, "d" -> 1L))
    // a path has no triangles and cc 0 everywhere
    val path = Seq(("p1", "p2"), ("p2", "p3"), ("p3", "p4")).toDF("x", "y")
    val got3 = Graph.triangles(path, "x", "y").collect()
    assert(got3.length == 4 && got3.forall(r => r.getAs[Long]("n_tri") == 0L && r.getAs[Long]("cc_micro") == 0L))
  }

  test("triangles: degree-ordered orientation matches driver brute force on a seeded random graph") {
    import graft.ext.Graph
    val rnd = new scala.util.Random(42)
    val n = 30
    val edges = (for {
      i <- 0 until n; j <- (i + 1) until n if rnd.nextDouble() < 0.2
    } yield (i.toLong, j.toLong)).toVector
    val got = Graph.triangles(edges.toDF("x", "y"), "x", "y").collect()
      .map(r => r.getAs[Long]("node") -> ((r.getAs[Long]("deg"), r.getAs[Long]("n_tri")))).toMap
    // brute force: all (i<j<k) triples over the adjacency set
    val adj = edges.toSet
    def has(a: Long, b: Long) = adj.contains((a min b, a max b))
    val triCount = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (i <- 0L until n; j <- (i + 1) until n; k <- (j + 1) until n)
      if (has(i, j) && has(j, k) && has(i, k)) { triCount(i) += 1; triCount(j) += 1; triCount(k) += 1 }
    val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == deg.map { case (v, d) => v -> ((d, triCount(v))) }.toMap)
    // plan shape: three hash joins, never a cartesian/nested-loop product.
    // The result is stored rows, so its own plan is a scan: read the plans
    // of the runs that stored them (each persistRows run is one SQL
    // execution, reported to query listeners under that name)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (f == "persistRows") plans.add(qe.executedPlan.toString): Unit
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Graph.triangles(edges.toDF("x", "y"), "x", "y")
      org.apache.spark.graft.SparkInternals.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val all = plans.toArray(Array.empty[String]).mkString("\n")
    assert("(SortMerge|BroadcastHash|ShuffledHash)Join".r.findFirstIn(all).isDefined,
      s"no join in the materializing runs' plans:\n$all")
    assert(!all.contains("CartesianProduct") && !all.contains("BroadcastNestedLoopJoin"), all)
  }

  test("triangles: a run that fails throws and leaves no cache entry behind") {
    import graft.ext.Graph
    spark.catalog.clearCache()
    // one edge raises while the result is being filled (a range, not a
    // local relation, which the optimizer would evaluate while planning)
    val edges = spark.range(1, 5).select(col("id").as("x"), (col("id") % 4 + 1).as("y"))
      .withColumn("y", expr("CASE WHEN x = 3 THEN raise_error('bad edge') ELSE y END"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[Exception](Graph.triangles(edges, "x", "y"))
    assert(ex.getMessage.contains("bad edge"), ex.getMessage)
    assert(org.apache.spark.graft.SparkInternals.cacheManagerIsEmpty(spark),
      "a failed triangles run must release every frame it persisted, the result included")
    // checked at once, with no GC: the failed run itself unpersists
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"a failed triangles run left persisted RDDs behind: $added")
  }

  test("semanticPairs: verified subset of exact pairs; within-cell recall is total; dups always pair") {
    val e = Tables.embeddings(spark, sf)
    val idx = Similarity.buildIvfIndex(e, "vec_id", "embedding")
    val sem = Similarity.semanticPairs(idx, tau = 0.4).collect()
    val semSet = sem.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val exact = Similarity.cosinePairs(e, "vec_id", "embedding", tau = 0.4)
      .collect().map(r => (r.getAs[Long]("va"), r.getAs[Long]("vb"))).toSet
    assert(sem.nonEmpty)
    assert(semSet.subsetOf(exact), "within-cell exact cosine can never invent a pair")
    // recall is exactly the within-cell restriction — recompute it from the assignment
    val cellOf = idx.assigned.select(col("id"), col("cell")).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Int]("cell")).toMap
    val expected = exact.filter { case (a, b) => cellOf(a) == cellOf(b) }
    assert(semSet == expected, "semanticPairs = exact pairs restricted to shared cells")
    // an identical-vector dup lands in the same cell at any quantizer state
    val base = e.limit(50)
    val dup = base.where(col("vec_id") === 7).select(lit(100000L).as("vec_id"), col("embedding"), col("label"))
    val idx2 = Similarity.buildIvfIndex(base.unionByName(dup), "vec_id", "embedding")
    val got = Similarity.semanticPairs(idx2, tau = 0.99)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got.contains((7L, 100000L)), "planted identical vector must pair with its twin")
  }

  test("ivfListsFor: ~constant cell occupancy, power-of-two, clamped; auto == pinned at gate scale") {
    import graft.ext.Similarity
    assert(Similarity.ivfListsFor(2000) == 16, "the sf0.1 gate corpus auto-sizes to the pinned nlist")
    assert(Similarity.ivfListsFor(20000) == 256)
    assert(Similarity.ivfListsFor(10) == 16, "floor clamp")
    assert(Similarity.ivfListsFor(100_000_000_000L) == 65536, "ceiling clamp")
    for (n <- Seq(5000L, 50000L, 500000L)) {
      val nl = Similarity.ivfListsFor(n)
      assert((nl & (nl - 1)) == 0, "power of two for LCG seed regions")
      assert(n.toDouble / nl <= 128.0 * 2 + 1, s"occupancy stays near target at n=$n")
    }
    val e = Tables.embeddings(spark, sf)
    val auto = Similarity.semanticPairsAuto(e, "vec_id", "embedding", tau = 0.4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val pinned = Similarity.semanticPairs(
        Similarity.buildIvfIndex(e, "vec_id", "embedding"), tau = 0.4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(auto == pinned, "at gate scale the auto-sized build is the pinned build")
  }

  test("multi-probe LSH: recall never below the single-probe table setup; probes=0 IS lshTopK") {
    val e = Tables.embeddings(spark, sf)
    def hits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = hits(Similarity.cosineTopK(e, "vec_id", "embedding", col("id") < 8, k = 5))
    // fewer bits per table → coarser buckets; compare single vs multi on the SAME layout
    val single = hits(Similarity.lshTopK(e, "vec_id", "embedding", col("id") < 8, k = 5, dims = 64, nBits = 8, nTables = 4))
    val multi = hits(Similarity.lshTopKMultiProbe(e, "vec_id", "embedding", col("id") < 8, k = 5, dims = 64, nBits = 8, nTables = 4, probes = 2))
    val rs = (exact intersect single).size.toDouble / exact.size
    val rm = (exact intersect multi).size.toDouble / exact.size
    assert(rm >= rs, s"multi-probe recall $rm fell below single-probe $rs")
    // deliberately coarse layout (8 bits × 4 tables over 2k vectors) so
    // the probes have misses to recover; the floor is for that layout
    assert(rm >= 0.25, s"multi-probe recall too low: $rm")
    // probes=0 degenerates to exactly the base-bucket path
    val zero = hits(Similarity.lshTopKMultiProbe(e, "vec_id", "embedding", col("id") < 8, k = 5, dims = 64, nBits = 8, nTables = 4, probes = 0))
    assert(zero == single)
  }

  test("cosinePairs refuses to broadcast a corpus over the row bound") {
    val e = Tables.embeddings(spark, sf)
    val ex = intercept[IllegalArgumentException] {
      Similarity.cosinePairs(e, "vec_id", "embedding", tau = 0.4, maxBroadcastRows = 10L).count()
    }
    assert(ex.getMessage.contains("minhashLshPairs"))
    // within the bound the exact kernel still runs
    assert(Similarity.cosinePairs(e.limit(20), "vec_id", "embedding", tau = -1.0).count() > 0)
  }

  test("persisted IVF index: probe over the cell-partitioned layout matches the in-memory probe") {
    val e = Tables.embeddings(spark, sf)
    val idx = Similarity.buildIvfIndex(e, "vec_id", "embedding", nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.writeIvfIndex(idx, dir)
    val reopened = Similarity.readIvfIndex(spark, dir)
    val mem = Similarity.ivfProbe(idx, col("id") < 5, k = 5, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"))).toSet
    val disk = Similarity.ivfProbe(reopened, col("id") < 5, k = 5, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"))).toSet
    assert(disk == mem && disk.nonEmpty)
    // the probe over the partitioned layout exposes the cell as a
    // partition column, so the cell equi-join can prune directories
    val plan = Similarity.ivfProbe(reopened, col("id") < 5, k = 5, nprobe = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("dynamicpruning"),
      s"cell-partitioned probe should be prunable:\n$plan")
  }

  test("IVF probe never refits the quantizer (index build is the only training step)") {
    val e = Tables.embeddings(spark, sf)
    val idx = Similarity.buildIvfIndex(e, "vec_id", "embedding", nlist = 8)
    val fitsAfterBuild = Similarity.ivfFits
    val r1 = Similarity.ivfProbe(idx, col("id") < 5, k = 5, nprobe = 4).collect()
    val r2 = Similarity.ivfProbe(idx, col("id") >= 5 && col("id") < 8, k = 3, nprobe = 2).collect()
    assert(r1.nonEmpty && r2.nonEmpty)
    assert(Similarity.ivfFits == fitsAfterBuild, "probe path triggered a KMeans fit")
  }

  test("token stats: whitespace words + ceil(len/4) subword estimate") {
    val out = TextAnalysis.tokenStats(Seq((1L, "aa bb cccc ddddd")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().head
    assert(out.getAs[Int]("n_words") == 4)
    assert(out.getAs[Long]("n_subtokens") == 5L) // 1+1+1+2
  }

  test("quality metrics are deterministic and bounded") {
    val out = TextAnalysis.quality(Tables.documents(spark, sf), "doc_id", "text").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val ratio = r.getAs[Double]("stopword_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
      assert(r.getAs[Double]("avg_word_len") > 0.0)
    }
  }

  test("fingerprint: md5 + min-shingle are stable and hex-shaped") {
    val out = TextAnalysis.fingerprint(docs, "doc_id", "text").collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") -> (r.getAs[String]("fp"), r.getAs[String]("shingle_min"))).toMap
    assert(byId(1L) == byId(2L)) // identical text → identical fingerprints
    assert(byId(1L)._1.matches("[0-9a-f]{32}"))
    assert(byId(1L)._2.matches("[0-9a-f]{32}"))
  }

  test("feature-extract stub: md5-derived embeddings, exploded and composable with ANN ops") {
    val md = java.security.MessageDigest.getInstance("MD5")
    val f = Multimodal.featureStub(md, "abc".getBytes, 8)
    assert(f.length == 8)
    assert(math.abs(f(0) - 0x90 / 255.0) < 1e-15) // md5("abc") = 900150...
    assert(f.forall(v => v >= 0.0 && v <= 1.0))
    val rows = Multimodal.features(
      docs.select(col("doc_id"), col("text").cast("binary").as("payload")), "doc_id", "payload")
      .collect()
    assert(rows.length == 4 * 12) // default dims == 3·grid² — one embedding space
    // identical docs get identical features (dedup-by-embedding works on them)
    val byDoc = rows.groupBy(_.getAs[Long]("id"))
      .view.mapValues(_.sortBy(_.getAs[Long]("dim")).map(_.getAs[Double]("value")).toSeq).toMap
    assert(byDoc(1L) == byDoc(2L))
    assert(byDoc(1L) != byDoc(4L))
  }

  test("pixel-grid embeddings: real decoded vectors, closed-form means, ANN-composable") {
    import spark.implicits._
    val imgs = Seq(
      (1L, Multimodal.synthImage("png", 2, 2)),
      (2L, Multimodal.synthImage("png", 2, 2)), // identical image → cosine 1.0
      (3L, Multimodal.synthImage("bmp", 16, 12)),
      (4L, Multimodal.synthImage("png", 9, 5)),
      (5L, "not an image".getBytes("US-ASCII"))) // → md5 stub path
    val f = Multimodal.features(imgs.toDF("doc_id", "payload"), "doc_id", "payload", dims = 12, grid = 2)
    val byId = f.collect().groupBy(_.getAs[Long]("id"))
      .view.mapValues(_.map(r => r.getAs[Long]("dim") -> r.getAs[Double]("value")).sortBy(_._1)).toMap
    // lossless w,h >= grid → all 12 dims present, real decoded values
    Seq(1L, 2L, 3L, 4L).foreach(id => assert(byId(id).map(_._1).toSeq == (0L until 12L).toSeq))
    // hand-computed closed form on the 2×2 png: each pixel is its own
    // cell; fill v(1,0) = 1000003 = 0x0f4243 → cell 1 means (15,66,67)/255
    val m = byId(1L).toMap
    assert(m(3L) == 0.0588 && m(4L) == 0.2588 && m(5L) == 0.2627)
    assert(byId(1L).toSeq == byId(2L).toSeq)
    // the stub row keeps the md5 seam (12 dims, [0,1])
    assert(byId(5L).length == 12 && byId(5L).forall { case (_, v) => v >= 0 && v <= 1 })
    // the vectors feed ANN ops: identical images are a cosine-1.0 pair
    val emb = f.groupBy(col("id")).agg(
      expr("transform(array_sort(collect_list(struct(dim, value))), s -> s.value)").as("vec"))
    val pairs = Similarity.cosinePairs(emb, "id", "vec", tau = 0.999)
      .collect().map(r => (r.getAs[Long]("va"), r.getAs[Long]("vb"), r.getAs[Double]("cosine")))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
  }

  test("multimodal stub decode: deterministic metadata from binary payloads") {
    val meta = Multimodal.decodeStub(7L, "abcdef".getBytes)
    assert(meta == graft.ext.MediaMeta(7L, 6L, 7, 43, 1, "png"))
    val out = Multimodal.imageMeta(
      docs.select(col("doc_id"), col("text").cast("binary").as("payload")), "doc_id", "payload")
      .collect()
    assert(out.length == 4)
    out.foreach(m => assert(m.width >= 1 && m.width <= 64 && m.n_bytes > 0))
  }

  test("real BPE: hand-computed merge order, greedy left-to-right pieces, serving counts") {
    import graft.ext.TextAnalysis
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val (merges, vocab) = TextAnalysis.bpeTrainVocab(docs, "text", nMerges = 2)
    // vocab: aaab cnt 2, ab cnt 1. Round 1 pairs: (a,a)=4 (GREEDY: 2 per
    // aaab, not 3 — overlapping occurrences don't double-count), (a,b)=3
    // → merge (a,a). Round 2: (aa,a)=2, (a,b)=3 → merge (a,b).
    assert(merges.map(m => (m._2, m._3, m._4)) == Seq(("a", "a", 4L), ("a", "b", 3L)))
    val pieces = vocab.collect().map(r => r.getAs[String]("word") -> r.getAs[String]("s").trim.split("  ").toSeq).toMap
    assert(pieces("aaab") == Seq("aa", "ab"), "greedy: ' a a a b ' → ' aa a b ' → ' aa ab '")
    assert(pieces("ab") == Seq("ab"))
    val counts = TextAnalysis.bpeTokenCounts(docs, "doc_id", "text", vocab).collect().head
    assert(counts.getAs[Long]("n_bpe_tokens") == 2 + 2 + 1, "2 pieces per aaab, 1 for ab")
    assert(counts.getAs[Long]("n_words") == 3)
    vocab.unpersist(blocking = false): Unit
  }

  test("real BPE: trainer stops cleanly when the pair vocabulary exhausts before nMerges") {
    import graft.ext.TextAnalysis
    // "ab" has one pair; after merging (a,b) no pairs remain anywhere
    val docs = Seq((1L, "ab ab"), (2L, "ab")).toDF("doc_id", "text")
    val (merges, vocab) = TextAnalysis.bpeTrainVocab(docs, "text", nMerges = 8)
    assert(merges.map(m => (m._2, m._3)) == Seq(("a", "b")), "exactly one merge is learnable")
    val pieces = vocab.collect().map(r => r.getAs[String]("word") -> r.getAs[String]("s").trim).toMap
    assert(pieces("ab") == "ab", "the last vocab survives exhaustion — never emptied")
    vocab.unpersist(blocking = false): Unit
  }

  test("real BPE: corpus repetition scales pair counts but never reorders the learned merges") {
    import graft.ext.TextAnalysis
    val base = Tables.documents(spark, sf).limit(120)
    val (m1, v1) = TextAnalysis.bpeTrainVocab(base, "text", nMerges = 4)
    val (m3, v3) = TextAnalysis.bpeTrainVocab(base.union(base).union(base), "text", nMerges = 4)
    assert(m1.map(m => (m._1, m._2, m._3)) == m3.map(m => (m._1, m._2, m._3)))
    assert(m3.map(_._4) == m1.map(_._4 * 3))
    v1.unpersist(blocking = false)
    v3.unpersist(blocking = false): Unit
  }

  test("BPE-ish tokenizer: letter/digit/punct runs with space prefixes, hand-checked counts") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "hello world"), // 2 words, 2 bpe tokens
      (2L, "don't stop-me now2day"), // don / ' / t / stop / - / me / now / 2 / day = 9
      (3L, "abc123!!"), // abc / 123 / !! = 3
      (4L, "")) // empty → 0 bpe (split gives [""] → 1 "word")
      .toDF("doc_id", "text")
    val out = graft.ext.TextAnalysis.bpeTokenStats(fixture, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> (r.getAs[Int]("n_words"), r.getAs[Int]("n_bpe_tokens"))).toMap
    assert(out(1L) == ((2, 2)))
    assert(out(2L) == ((3, 9)))
    assert(out(3L) == ((1, 3)))
    assert(out(4L) == ((1, 0)))
  }

  test("profileSketch: per-column HLL cardinality (+ linear-counting correction) tracks exact distincts") {
    val t = Tables.documents(spark, sf)
    val rows = graft.ext.Profile.profileSketch(t, Seq("doc_id", "source", "lang"), p = 8).collect()
    val m = 256.0
    // the operator emits the RAW estimate + n_zero_buckets by contract;
    // apply the standard small-range linear-counting correction here
    val corrected = rows.map { r =>
      val raw = r.getAs[Double]("est_distinct")
      val v = r.getAs[Long]("n_zero_buckets").toDouble
      val est = if (raw <= 2.5 * m && v > 0) m * math.log(m / v) else raw
      r.getAs[String]("col_name") -> est
    }.toMap
    Seq("doc_id", "source", "lang").foreach { c =>
      val exact = t.select(col(c)).where(col(c).isNotNull).distinct().count().toDouble
      val est = corrected(c)
      val rel = math.abs(est - exact) / math.max(exact, 1.0)
      assert(rel < 0.2, s"$c: corrected $est vs exact $exact (rel err $rel)")
    }
  }

  test("real audio decode: RIFF header parse recovers synthesized WAV params; text falls back to stub") {
    import spark.implicits._
    val wav = Multimodal.synthWav(44100, 2, 123)
    assert(wav.length == 44 + 123 * 2 * 2)
    val m = Multimodal.decodeAudio(5L, wav)
    assert(m == graft.ext.AudioMeta(5L, wav.length.toLong, 44100, 2, 16, 123L, "wave"), s"got $m")
    // non-audio → deterministic stub, not a throw
    val s6 = Multimodal.decodeAudio(9L, "sixchr".getBytes)
    assert(s6 == graft.ext.AudioMeta(9L, 6L, 8000, 1, 8, 6L, "raw"), s"got $s6")
    // distributed path, mixed payloads
    val out = Multimodal.audioMeta(
      Seq((1L, Multimodal.synthWav(8000, 1, 10)), (2L, "text".getBytes))
        .toDF("doc_id", "payload"), "doc_id", "payload")
      .collect().map(a => a.id -> a).toMap
    assert(out(1L).sample_rate == 8000 && out(1L).n_frames == 10L && out(1L).format == "wave")
    assert(out(2L).format == "raw" && out(2L).n_frames == 4L)
  }

  test("pixel features: decoded channel means match the closed form; undecodable rows emit nulls") {
    import spark.implicits._
    // closed-form sums for a 37x21 fill (verified against a direct
    // BufferedImage round-trip): compute expectations in-test
    val (w, h) = (37, 21)
    var er = 0L; var eg = 0L; var eb = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 1000003 + y * 4099) & 0xffffff
      er += (v >> 16) & 0xff; eg += (v >> 8) & 0xff; eb += v & 0xff
    }
    def mean(s: Long) = ((s * 20000 + w * h) / (2L * w * h)) / 10000.0
    val payloads = Seq(
      (1L, Multimodal.synthImage("png", w, h)),
      (2L, Multimodal.synthImage("bmp", w, h)),
      (3L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val out = Multimodal.imagePixelFeatures(payloads, "doc_id", "payload")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    Seq(1L, 2L).foreach { id =>
      val r = out(id)
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h)
      assert(r.getAs[Double]("mean_r") == mean(er), s"id $id r")
      assert(r.getAs[Double]("mean_g") == mean(eg), s"id $id g")
      assert(r.getAs[Double]("mean_b") == mean(eb), s"id $id b")
    }
    assert(out(3L).isNullAt(out(3L).fieldIndex("mean_r")), "undecodable → null means")
  }

  test("real image decode: header parse recovers synthesized png/gif/bmp dims; text falls back to stub") {
    import spark.implicits._
    // real encoded streams: the decoder must read dims out of the bytes
    for ((fmt, bands) <- Seq(("png", 3), ("gif", 1), ("bmp", 3))) {
      val bytes = Multimodal.synthImage(fmt, 37, 11)
      val m = Multimodal.decodeMeta(1L, bytes)
      assert(m == graft.ext.MediaMeta(1L, bytes.length.toLong, 37, 11, bands, fmt), s"$fmt: $m")
    }
    // undecodable payload → the deterministic stub, not a throw
    assert(Multimodal.decodeMeta(7L, "abcdef".getBytes) ==
      graft.ext.MediaMeta(7L, 6L, 7, 43, 1, "png"))
    assert(Multimodal.decodeMeta(8L, Array.emptyByteArray).format.nonEmpty)
    // distributed path: mixed image + text payloads in one partition
    val payloads = Seq(
      (10L, Multimodal.synthImage("png", 5, 9)),
      (11L, Multimodal.synthImage("bmp", 64, 1)),
      (12L, "plain text".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val out = Multimodal.imageMeta(payloads, "doc_id", "payload")
      .collect().map(m => m.id -> m).toMap
    assert(out(10L).width == 5 && out(10L).height == 9 && out(10L).format == "png")
    assert(out(11L).width == 64 && out(11L).height == 1 && out(11L).format == "bmp")
    assert(out(12L).width == (1 + 10 % 64) && out(12L).format == "png") // strlen 10 → stub
  }

  test("IVF top-k: valid ranks, quantified recall vs brute force (deterministic quantizer)") {
    // The test embeddings are uniform random on the 64-sphere (no planted
    // cluster structure — verified: within-label avg cosine equals the
    // across-label avg), so recall is bounded by the probed corpus
    // fraction; nprobe=6 of nlist=8 probes ~3/4 and clears 0.75. The
    // earlier MLlib-KMeans quantizer scored 0.92 at nprobe=4 only via
    // DEGENERATE cells (two singletons + a 129/500 giant — i.e. no real
    // pruning); the balance test below is the guard against regressing to
    // that.
    val e = Tables.embeddings(spark, sf)
    val exact = Similarity.cosineTopK(e, "vec_id", "embedding", col("id") < 5, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", col("id") < 5, k = 5, nlist = 8, nprobe = 6)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(ivf.nonEmpty)
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.75, s"IVF recall too low: $recall")
  }

  test("IVF cells are balanced — the quantizer actually prunes (no degenerate giant/singleton cells)") {
    val e = Tables.embeddings(spark, sf)
    val idx = Similarity.buildIvfIndex(e, "vec_id", "embedding", nlist = 8)
    val sizes = idx.assigned.groupBy("cell").count().collect().map(_.getAs[Long]("count"))
    val n = sizes.sum.toDouble
    assert(sizes.length == 8, s"expected 8 occupied cells, got ${sizes.length}")
    // a probe of nprobe cells must touch ~nprobe/nlist of the corpus, so no
    // cell may dominate: cap every cell at 2x its fair share
    assert(sizes.max <= 2 * n / 8, s"degenerate giant cell: ${sizes.mkString(",")}")
    assert(sizes.min >= n / 32, s"near-empty cell wastes a probe: ${sizes.mkString(",")}")
  }

  test("LSH near-dup pairs: exact-verified subset, true duplicates always found, quantified recall") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val exact = Similarity.cosinePairs(e, "vec_id", "embedding", tau = 0.3)
      .collect().map(r => (r.getAs[Long]("va"), r.getAs[Long]("vb"))).toSet
    val lsh = Similarity.lshPairs(e, "vec_id", "embedding", tau = 0.3, dims = 64, nBits = 6)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(lsh.nonEmpty)
    assert(lsh.subsetOf(exact), "the exact verify must kill every false candidate")
    // uniform-sphere τ=0.3 is the OR-construction's worst case (analytic
    // per-pair hit ≈ 0.3 at 8 tables × 6 bits); clustered real embeddings
    // do far better — assert a conservative floor
    val recall = (lsh intersect exact).size.toDouble / exact.size
    assert(recall >= 0.1, s"OR-construction recall too low: $recall")
    // a TRUE duplicate shares every table's bucket — must always be found
    val dup = e.where(col("vec_id") === 0).withColumn("vec_id", lit(999999L))
    // auto-sized nBits path: identical vectors collide at any hash length
    val pairs = Similarity.lshPairs(e.unionByName(dup), "vec_id", "embedding", tau = 0.99, dims = 64)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 999999L)), "identical vectors must collide in every table")
  }

  test("persisted LSH index: append == rebuild, idempotent replay, probes hash-equal in-memory") {
    val e = Tables.embeddings(spark, sf)
    val base = e.where(col("vec_id") % 5 =!= 0)
    val delta = e.where(col("vec_id") % 5 === 0)
    val path = java.nio.file.Files.createTempDirectory("lshidx").toString
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("cosine"))).toSet
    // write base, append the delta with the STORED (frozen) parameters
    Similarity.writeLshIndex(
      Similarity.buildLshIndex(base, "vec_id", "embedding", dims = 64, nBits = 6), path)
    val appended = Similarity.appendLshIndex(spark, path, delta, "vec_id", "embedding")
    assert(appended.nBits == 6 && appended.nTables == 8, "append must reuse stored meta")
    // appended index == one built over the full corpus (planes are a pure
    // function of the params, so append-vs-rebuild is exact, like IVF's
    // frozen-centroid contract)
    val inMem = Similarity.lshPairs(e, "vec_id", "embedding", tau = 0.4, dims = 64, nBits = 6)
    assert(pairSet(Similarity.lshPairsOn(appended, tau = 0.4)) == pairSet(inMem),
      "persisted+appended index must yield the exact in-memory pair set")
    // idempotent under replay: the same delta appends nothing twice
    val n1 = appended.bucketed.count()
    val again = Similarity.appendLshIndex(spark, path, delta, "vec_id", "embedding")
    assert(again.bucketed.count() == n1, "replayed append must be a no-op")
    // top-k probe on the stored layout equals the in-memory path
    def topSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))).toSet
    val want = topSet(Similarity.lshTopK(
      e, "vec_id", "embedding", col("id") < 5, k = 3, dims = 64, nBits = 6))
    assert(topSet(Similarity.lshTopKOn(again, col("id") < 5, k = 3)) == want)
  }

  test("minhash funnel diagnostics agree with the production pair path") {
    val d = Tables.documents(spark, sf)
    val f = Dedup.minhashLshFunnel(d, "doc_id", "text")
    val pairs = Dedup.minhashLshPairs(d, "doc_id", "text").count()
    assert(f("n_verified_pairs") == pairs, s"funnel drifted from minhashLshPairs: $f vs $pairs")
    assert(f("n_candidate_pairs") >= f("n_verified_pairs"))
    assert(f("n_buckets") >= f("n_buckets_multi"))
    assert(f("n_docs") == d.count())
  }

  test("maxBucketFor: auto == pinned 100 at gate scales, linear above, capped at the ceiling") {
    // floor region — every gate / unit fixture lands on the oracle-pinned
    // value, so auto == pinned where the oracle replays the layout
    assert(Dedup.maxBucketFor(0) == 100)
    assert(Dedup.maxBucketFor(500) == 100)
    assert(Dedup.maxBucketFor(5000) == 100)
    assert(Dedup.maxBucketFor(50000) == 100)
    // linear region — tracks corpus growth (≙ duplicate multiplicity
    // under replication/re-crawls): the 100× fixture (500k docs) gets 1000
    assert(Dedup.maxBucketFor(500000) == 1000)
    assert(Dedup.maxBucketFor(5000000) == 10000)
    // ceiling — mega-clusters beyond this are Dedup.exact's job
    assert(Dedup.maxBucketFor(100000000L) == 10000)
  }

  test("auto frequent-bucket cap keeps the cross-source twin clusters a pinned cap=100 drops") {
    // The graph_pagerank-at-100× trap, reproduced in miniature: twin
    // groups whose multiplicity (120) exceeds the old fixed cap sit in
    // exactly the band buckets cap=100 drops — with the pinned cap the
    // pair graph (and every cross-source edge derived from it) is EMPTY;
    // the occupancy-aware auto cap (ceil(60240·0.002) = 121 ≥ 120) keeps
    // them, and candidate volume stays output-bound (the kept buckets
    // hold only true twins).
    val m = 120
    val twins = (0 until 2).flatMap { g =>
      (0 until m).map { i =>
        (100000L + g * 1000L + i,
          s"twin group $g body alpha$g beta gamma delta epsilon zeta eta theta",
          if (i % 2 == 0) "s0" else "s1")
      }
    }.toDF("doc_id", "text", "source")
    val filler = spark.range(0, 60000).select(
      col("id").as("doc_id"),
      format_string("u%da u%db u%dc u%dd u%de", col("id"), col("id"), col("id"), col("id"), col("id")).as("text"),
      lit("s0").as("source"))
    val corpus = filler.unionByName(twins)
    def crossSource(p: org.apache.spark.sql.DataFrame): Long = p
      .join(corpus.select(col("doc_id").as("da"), col("source").as("sa")), "da")
      .join(corpus.select(col("doc_id").as("db"), col("source").as("sb")), "db")
      .where(col("sa") =!= col("sb")).count()
    val pinned = Dedup.minhashLshPairs(corpus, "doc_id", "text", maxBucket = 100)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assert(pinned.count() == 0L, "fixed cap=100 should reproduce the trap: twin buckets dropped")
    pinned.unpersist(blocking = false)
    val auto = Dedup.minhashLshPairs(corpus, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assert(auto.count() == 2L * m * (m - 1) / 2, "auto cap must keep every true twin pair")
    assert(crossSource(auto) == 2L * (m / 2) * (m / 2), "cross-source edge slice must survive the auto cap")
    auto.unpersist(blocking = false)
  }

  test("auto-sized LSH pair set: exact-verified, superset of the fixed-6-bit row at gate scale") {
    val e = Tables.embeddings(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("cosine")).toMap
    val auto = pairs(Similarity.lshPairs(e, "vec_id", "embedding", tau = 0.4, dims = 64))
    val fixed = pairs(Similarity.lshPairs(e, "vec_id", "embedding", tau = 0.4, dims = 64, nBits = 6))
    val exact = Similarity.cosinePairs(e, "vec_id", "embedding", tau = 0.4)
      .collect().map(r => (r.getAs[Long]("va"), r.getAs[Long]("vb"))).toSet
    // precision is exact either way (every candidate is cosine-verified)
    assert(auto.keySet.subsetOf(exact) && fixed.keySet.subsetOf(exact))
    // pair-set EQUALITY up to marginal-tau neighbors: the two widths may
    // only disagree on pairs barely above the threshold (different
    // hyperplane streams → different luck on weak pairs); any pair well
    // above tau collides with near-certainty at either width, so a
    // confident pair found by one and missed by the other is a bug
    val margin = 0.15
    val disagree = (auto.keySet diff fixed.keySet) ++ (fixed.keySet diff auto.keySet)
    disagree.foreach { p =>
      val c = auto.getOrElse(p, fixed(p))
      assert(c < 0.4 + margin, s"confident pair $p (cosine=$c) found at one width only")
    }
    assert(auto.nonEmpty)
  }

  test("lshBitsFor: occupancy-constant hash sizing with clamps") {
    assert(Similarity.lshBitsFor(2000) == 6) // 2000/32 = 62.5 → ceil log2 = 6
    assert(Similarity.lshBitsFor(20000) == 10) // 625 → 10
    assert(Similarity.lshBitsFor(10) == 4) // floor clamp
    assert(Similarity.lshBitsFor(100000000L) == 16) // ceiling clamp
    assert(Similarity.lshBitsFor(2048, targetBucket = 64) == 5)
  }

  test("IVF append: frozen-centroid delta assignment — no refit, consistent cells, recall floor, persisted append") {
    val e = Tables.embeddings(spark, sf)
    val base = e.where(col("vec_id") % 10 =!= 0)
    val delta = e.where(col("vec_id") % 10 === 0)
    val idx = Similarity.buildIvfIndex(base, "vec_id", "embedding", nlist = 8)
    val fits0 = Similarity.ivfFits
    val appended = Similarity.ivfAppend(idx, delta, "vec_id", "embedding")
    val hits = Similarity.ivfProbe(appended, col("id") < 5, k = 5, nprobe = 6)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(Similarity.ivfFits == fits0, "append/probe must not refit the quantizer")
    // cell consistency: re-assigning the FULL corpus to the same frozen
    // centroids reproduces exactly the cells build(base)+append(delta) chose
    val refAssign = Similarity.ivfAppend(
      Similarity.IvfIndex(idx.centroids, idx.assigned.limit(0)), e, "vec_id", "embedding")
    val a = appended.assigned.select("id", "cell").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("cell"))).toSet
    val b = refAssign.assigned.select("id", "cell").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("cell"))).toSet
    assert(a == b, "appended cells diverge from frozen-centroid reassignment")
    assert(a.size == e.count(), "merged index must cover base + delta")
    // recall floor vs brute force over the merged corpus (same setting as
    // the build-on-full test: nlist=8, nprobe=6)
    val exact = Similarity.cosineTopK(e, "vec_id", "embedding", col("id") < 5, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact intersect hits).size.toDouble / exact.size
    assert(recall >= 0.75, s"appended-index recall too low: $recall")
    // persisted path: delta files append under touched cell dirs only;
    // the reopened merged index probes identically
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
    Similarity.writeIvfIndex(idx, dir)
    val reopened = Similarity.appendIvfIndex(spark, dir, delta, "vec_id", "embedding")
    val hits2 = Similarity.ivfProbe(reopened, col("id") < 5, k = 5, nprobe = 6)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(hits2 == hits, "persisted append probe diverges from in-memory append")
  }

  test("PQ append: frozen-codebook delta encode — no refit, codes match frozen re-encode, probe parity") {
    val e = Tables.embeddings(spark, sf)
    val base = e.where(col("vec_id") % 10 =!= 0)
    val delta = e.where(col("vec_id") % 10 === 0)
    val pqBase = Similarity.buildPqIndex(base, "vec_id", "embedding", nlist = 8, iters = 2)
    val fits0 = Similarity.ivfFits
    val appended = Similarity.pqAppend(pqBase, delta, "vec_id", "embedding")
    val hits = Similarity.pqProbe(appended, col("id") < 5, k = 5, nprobe = 6)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(Similarity.ivfFits == fits0, "append/probe must not refit")
    assert(appended.coded.count() == e.count(), "merged codes must cover base + delta")
    // codebooks are the base's, untouched
    (0 until pqBase.m).foreach { mm =>
      (0 until pqBase.ksub).foreach { j =>
        assert(appended.books(mm)(j) eq pqBase.books(mm)(j), "codebooks must be frozen")
      }
    }
    // code consistency: re-encoding the FULL corpus against the same
    // frozen index reproduces exactly the codes build(base)+append(delta)
    // produced
    val refCodes = Similarity.pqAppend(
      pqBase.copy(ivf = Similarity.IvfIndex(pqBase.ivf.centroids, pqBase.ivf.assigned.limit(0)),
        coded = pqBase.coded.limit(0)),
      e, "vec_id", "embedding")
    val a = appended.coded.select("id", "cell", "codes").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("cell"), r.getSeq[Int](2))).toSet
    val b = refCodes.coded.select("id", "cell", "codes").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("cell"), r.getSeq[Int](2))).toSet
    assert(a == b, "appended codes diverge from frozen re-encode")
    assert(hits.nonEmpty)
  }

  test("IVF-PQ top-k: ADC + re-rank tracks the plain IVF probe; quantified recall") {
    val e = Tables.embeddings(spark, sf)
    val pq = Similarity.buildPqIndex(e, "vec_id", "embedding", nlist = 8, iters = 2)
    val pqHits = Similarity.pqProbe(pq, col("id") < 5, k = 5, nprobe = 6)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivfHits = Similarity.ivfProbe(pq.ivf, col("id") < 5, k = 5, nprobe = 6)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(pqHits.size == ivfHits.size && pqHits.nonEmpty)
    // PQ-vs-IVF isolates the ADC approximation (same cells probed): the
    // exact re-rank of the top-`refine` keeps most true hits
    val vsIvf = (pqHits intersect ivfHits).size.toDouble / ivfHits.size
    assert(vsIvf >= 0.7, s"PQ recall vs IVF probe $vsIvf < 0.7 (refine=60 measured 0.76 here)")
    // end-to-end floor vs brute force at the same probe fraction
    val exact = Similarity.cosineTopK(e, "vec_id", "embedding", col("id") < 5, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val vsExact = (pqHits intersect exact).size.toDouble / exact.size
    assert(vsExact >= 0.6, s"PQ recall vs brute force $vsExact < 0.6")
    // determinism: a rebuilt index and probe reproduce identical results
    val pq2 = Similarity.buildPqIndex(e, "vec_id", "embedding", nlist = 8, iters = 2)
    (0 until pq.m).foreach { mm =>
      (0 until pq.ksub).foreach { j =>
        assert(java.util.Arrays.equals(pq.books(mm)(j), pq2.books(mm)(j)),
          s"codebook ($mm,$j) not deterministic")
      }
    }
    val again = Similarity.pqProbe(pq2, col("id") < 5, k = 5, nprobe = 6)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(again == pqHits)
  }

  test("frame sampling parses a real RIFF/AVI idx1 index; offsets match synthesis closed form") {
    import spark.implicits._
    val rows = (0L until 12L).map { id =>
      val n = (1 + id % 5).toInt
      val f = (64 + (id % 3) * 32).toInt
      (id, Multimodal.synthAvi(n, f), n, f)
    }
    val df = rows.map { case (id, p, _, _) => (id, p) }.toDF("doc_id", "payload")
    val out = Multimodal.frameSample(df, "doc_id", "payload", everyN = 2)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("frame_idx")) ->
        (r.getAs[Long]("n_bytes"), r.getAs[Long]("n_frames"), r.getAs[Long]("byte_offset"))).toMap
    rows.foreach { case (id, p, n, f) =>
      (0 until n by 2).foreach { k =>
        val (nb, nf, off) = out((id, k.toLong))
        assert(nb == p.length.toLong && nb == 32L + n * (24L + f))
        assert(nf == n.toLong)
        assert(off == 32L + k * (8L + f), s"id=$id k=$k")
        // the offset really points at frame data: the chunk header 8 bytes
        // earlier must read "00dc" in the actual payload
        assert(new String(p, off.toInt - 8, 4, "US-ASCII") == "00dc")
      }
    }
    // the engine reads the INDEX, not arithmetic: perturb one idx1 entry's
    // offset field and the reported byte_offset must follow the index
    val p0 = Multimodal.synthAvi(3, 64)
    val idx1At = p0.length - 3 * 16 // entries at the tail
    val bb = java.nio.ByteBuffer.wrap(p0).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val entry2 = idx1At + 2 * 16
    bb.putInt(entry2 + 8, bb.getInt(entry2 + 8) - 72) // point frame 2 at frame 1's chunk
    val perturbed = Multimodal.frameSample(
      Seq((99L, p0)).toDF("doc_id", "payload"), "doc_id", "payload", everyN = 1)
      .collect().map(r => r.getAs[Long]("frame_idx") -> r.getAs[Long]("byte_offset")).toMap
    assert(perturbed(2L) == perturbed(1L), "byte_offset must come from the parsed index")
    // truncated/garbage payloads fall back to the stub arithmetic
    val stub = Multimodal.frameSample(
      Seq((7L, "not a container".getBytes("US-ASCII"))).toDF("doc_id", "payload"),
      "doc_id", "payload", everyN = 1).collect()
    assert(stub.forall(r => r.getAs[Long]("byte_offset") == r.getAs[Long]("frame_idx") * 256))
    // ODD frame sizes: the encoder writes the RIFF pad byte its own
    // parser's 2-byte-aligned walk assumes, so idx1 is still found and
    // offsets follow the padded stride
    val odd = Multimodal.synthAvi(3, 63)
    val oddOff = Multimodal.parseAviFrames(odd)
    assert(oddOff.isDefined, "odd-length chunks must still demux (pad byte written)")
    assert(oddOff.get.toSeq == (0 until 3).map(k => 32L + k * (8L + 63 + 1)))
    // a corrupt index entry (negative size) degrades to the stub, never a
    // bogus "real" offset
    val bad = Multimodal.synthAvi(3, 64)
    java.nio.ByteBuffer.wrap(bad).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(bad.length - 16 + 12, -8)
    assert(Multimodal.parseAviFrames(bad).isEmpty)
    // a NULL payload yields zero rows, not an NPE (mixed-batch contract)
    val withNull = Multimodal.frameSample(
      Seq((1L, Multimodal.synthAvi(2, 64)), (2L, null.asInstanceOf[Array[Byte]]))
        .toDF("doc_id", "payload"),
      "doc_id", "payload", everyN = 1).collect()
    assert(withNull.map(_.getAs[Long]("id")).distinct.toSeq == Seq(1L))
  }

  test("frame decode completes the video ANN chain: demux → pixel embeddings → twins found") {
    import spark.implicits._
    // 30 videos in 5 twin groups: same-group videos carry IDENTICAL real
    // BMP frame sequences inside the AVI container
    def framesOf(g: Int): Seq[Array[Byte]] = (0 until 2 + g % 3).map { k =>
      Multimodal.synthImage("bmp", 3 + (g * 3 + k) % 11, 3 + (g * 5 + k * 7) % 11)
    }
    val vids = (0L until 30L).map(id => (id, Multimodal.synthAviWith(framesOf((id % 5).toInt))))
    val ff = Multimodal.frameFeatures(vids.toDF("doc_id", "payload"), "doc_id", "payload", everyN = 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-frame embeddings equal pixelGridEmbedding of the standalone
    // image — the decode really runs on the sliced frame bytes
    val got = ff.collect()
      .groupBy(r => (r.getAs[Long]("id"), r.getAs[Long]("frame_idx")))
      .view.mapValues(_.map(r => r.getAs[Long]("dim") -> r.getAs[Double]("value")).sortBy(_._1)).toMap
    for (g <- 0 until 5; (frame, k) <- framesOf(g).zipWithIndex) {
      val expect = Multimodal.pixelGridEmbedding(frame, grid = 2).get.toSeq
      assert(got((g.toLong, k.toLong)) === expect.map { case (d, v) => d -> v },
        s"g=$g k=$k: frame embedding must equal the standalone image embedding")
    }
    // ANN composition: pooled fixed-point vectors + exact cosine pairs
    // recover exactly the twin groups
    val pooled = Multimodal.pooledVideoEmbedding(ff)
    val pairs = Similarity.cosinePairs(pooled, "id", "embedding", tau = 0.999)
      .collect().map(r => (r.getAs[Long]("va"), r.getAs[Long]("vb"))).toSet
    val want = (for (a <- 0L until 30L; b <- a + 1 until 30L; if a % 5 == b % 5) yield (a, b)).toSet
    assert(want.subsetOf(pairs), "every twin pair must be found at cos >= 0.999")
    assert(pairs.forall { case (a, b) => a % 5 == b % 5 },
      s"only twin groups reach 0.999 on this fixture: ${pairs.filterNot { case (a, b) => a % 5 == b % 5 }}")
    ff.unpersist(blocking = false)
    // degradation: a frame that is NOT a decodable image falls back to
    // the md5 featureStub on the frame's bytes (12 dims, stub values)
    val junkFrame = Array.tabulate[Byte](100)(i => (i * 7).toByte)
    val mixed = Multimodal.frameFeatures(
      Seq((7L, Multimodal.synthAviWith(Seq(framesOf(0).head, junkFrame))))
        .toDF("doc_id", "payload"), "doc_id", "payload", everyN = 1)
      .collect().groupBy(_.getAs[Long]("frame_idx"))
    val md = java.security.MessageDigest.getInstance("MD5")
    val stubVals = Multimodal.featureStub(md, junkFrame, 12)
    assert(mixed(1L).sortBy(_.getAs[Long]("dim")).map(_.getAs[Double]("value")).toSeq == stubVals.toSeq,
      "undecodable frame must degrade to the stub on its own bytes")
  }

  test("scene cuts: hand-verified L1 against pixelGridEmbedding; identical frames never cut") {
    import spark.implicits._
    // video 1: three distinct frames; video 2: the SAME frame three times
    // (a static shot — zero movement, zero cuts at any τ > 0)
    val f = (0 until 3).map(k => Multimodal.synthImage("bmp", 4 + k * 3, 5 + k * 2))
    val vids = Seq(
      (1L, Multimodal.synthAviWith(f)),
      (2L, Multimodal.synthAviWith(Seq(f.head, f.head, f.head))))
    val ff = Multimodal.frameFeatures(vids.toDF("doc_id", "payload"), "doc_id", "payload", everyN = 1)
    val allRows = Multimodal.sceneCuts(ff, tauFp = 0L).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("frame_idx")) -> r.getAs[Long]("l1_fp")).toMap
    // reference L1 from the standalone per-image embeddings, same 4-dp grid
    def fp(img: Array[Byte]) =
      Multimodal.pixelGridEmbedding(img, grid = 2).get.map { case (_, v) => math.floor(v * 10000 + 0.5).toLong }
    val want1 = f.sliding(2).zipWithIndex.map { case (Seq(a, b), i) =>
      (1L, (i + 1).toLong) -> fp(a).zip(fp(b)).map { case (x, y) => math.abs(x - y) }.sum
    }.toMap
    assert(allRows.filter(_._1._1 == 1L) == want1, "video 1 L1 must match the standalone-embedding reference")
    assert(allRows.filter(_._1._1 == 2L).values.forall(_ == 0L), "static shot moves zero")
    // thresholding keeps exactly the frames at/above τ; frame 0 never appears
    val tau = want1.values.min + 1
    val cuts = Multimodal.sceneCuts(ff, tauFp = tau).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("frame_idx"))).toSet
    assert(cuts == want1.filter(_._2 >= tau).keySet)
    assert(!cuts.exists(_._2 == 0L), "frame 0 has no predecessor")
  }

  test("shot segments: cuts open shots, spans partition the frames, static video is one shot") {
    import spark.implicits._
    val f = (0 until 3).map(k => Multimodal.synthImage("bmp", 4 + k * 3, 5 + k * 2))
    val vids = Seq(
      (1L, Multimodal.synthAviWith(f)),
      (2L, Multimodal.synthAviWith(Seq(f.head, f.head, f.head))))
    val ff = Multimodal.frameFeatures(vids.toDF("doc_id", "payload"), "doc_id", "payload", everyN = 1)
    def segs(tau: Long) = Multimodal.shotSegments(ff, tauFp = tau).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("shot_id"),
        r.getAs[Long]("start_frame"), r.getAs[Long]("end_frame"), r.getAs[Long]("n_frames")))
      .sortBy(t => (t._1, t._2))
    // τ=0: every transition cuts → video 1 has 3 single-frame shots
    // (frame 0 has no predecessor, so it opens shot 0 rather than cutting)
    val fine = segs(0L)
    assert(fine.filter(_._1 == 1L).toSeq == Seq((1L, 0L, 0L, 0L, 1L), (1L, 1L, 1L, 1L, 1L), (1L, 2L, 2L, 2L, 1L)))
    // static video: l1 = 0 ≥ 0 still cuts at τ=0, but at any τ ≥ 1 it is ONE shot
    val coarse = segs(Long.MaxValue)
    assert(coarse.filter(_._1 == 1L).toSeq == Seq((1L, 0L, 0L, 2L, 3L)), "τ=∞ → one shot spanning all frames")
    assert(coarse.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 0L, 2L, 3L)))
    assert(segs(1L).filter(_._1 == 2L).toSeq == Seq((2L, 0L, 0L, 2L, 3L)), "static shot never splits at τ ≥ 1")
    // spans partition the frame set at every τ
    for (s <- Seq(fine, coarse)) {
      val frames = s.flatMap { case (id, _, a, b, n) => assert(b - a + 1 == n); (a to b).map(id -> _) }
      assert(frames.toSet == Set(1L, 2L).flatMap(id => (0L to 2L).map(id -> _)))
    }
  }

  test("frame sampling explodes deterministic frame rows; resize plan preserves aspect") {
    val fs = Multimodal.frameSample(
      docs.select(col("doc_id"), col("text").cast("binary").as("payload")), "doc_id", "payload", everyN = 2)
      .collect()
    assert(fs.nonEmpty)
    fs.foreach { r =>
      assert(r.getAs[Long]("frame_idx") % 2 == 0)
      assert(r.getAs[Long]("byte_offset") == r.getAs[Long]("frame_idx") * 256)
      assert(r.getAs[Long]("frame_idx") < r.getAs[Long]("n_frames"))
    }
    val rp = Multimodal.resizePlan(
      Multimodal.imageMeta(docs.select(col("doc_id"), col("text").cast("binary").as("payload")),
        "doc_id", "payload"), maxSide = 16).collect()
    rp.foreach { r =>
      assert(r.getAs[Int]("out_width") <= 16 && r.getAs[Int]("out_height") <= 16)
      assert(r.getAs[Int]("out_width") >= 1 && r.getAs[Int]("out_height") >= 1)
    }
  }

  test("source-availability check fails fast on missing tables (S3/EP1)") {
    Tables.requireTables(sf, Seq("events", "documents")) // present: no throw
    val ex = intercept[IllegalStateException] {
      Tables.requireTables(sf, Seq("events", "no_such_table"))
    }
    assert(ex.getMessage.contains("no_such_table"))
  }

  test("cosine_sim injects via SparkSessionExtensions (config-driven registration path)") {
    import org.apache.spark.sql.SparkSession
    val base = spark // force the shared context to exist first
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      // new session object on the same context, extensions applied the way
      // spark.sql.extensions=graft.functions.GraftExtensions would
      val s2 = SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val got = s2.sql(
        "SELECT cosine_sim(array(3.0d, 4.0d), array(3.0d, 4.0d)) c").head().getDouble(0)
      assert(math.abs(got - 1.0) < 1e-15)
      val desc = s2.sql("DESCRIBE FUNCTION cosine_sim").collect().map(_.getString(0)).mkString("\n")
      assert(desc.contains("cosine_sim"))
      // the fold-detector TVFs ride the same config-driven injection
      // (view created via s2 — a fresh session owns a fresh temp catalog)
      s2.sql(
        """CREATE OR REPLACE TEMPORARY VIEW ext_tvf_probe AS
          |SELECT * FROM VALUES ('a', 10L, 1.0D), ('a', 20L, 3.0D), ('a', 30L, 2.0D)
          |AS t(seriesKey, tsMs, value)""".stripMargin)
      val folded = s2.sql("SELECT * FROM exp_avg_fold('ext_tvf_probe', 0.5)").collect()
        .map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("dev")).toMap
      // ema: 1.0, 2.0, 2.0 → dev: 0.0, 1.0, 0.0
      assert(folded == Map(10L -> 0.0, 20L -> 1.0, 30L -> 0.0))
      // hw_fold rides the same injection (first point dev 0 by seed)
      val hw = s2.sql("SELECT * FROM hw_fold('ext_tvf_probe')").collect()
        .map(r => r.getAs[Long]("tsMs") -> r.getAs[Double]("dev")).toMap
      assert(hw(10L) == 0.0 && hw.size == 3)
      // the ext TVFs (dedup/text) ride the same injection: pure-SQL
      // near-dup pairs + keywords over a (doc_id, text) view
      s2.sql(
        """CREATE OR REPLACE TEMPORARY VIEW ext_docs_probe AS
          |SELECT * FROM VALUES
          |  (1L, 'the quick brown fox jumps over the lazy dog again and again'),
          |  (2L, 'the quick brown fox jumps over the lazy dog again and again'),
          |  (3L, 'completely different words about spark catalyst optimizer plans')
          |AS t(doc_id, text)""".stripMargin)
      val mp = s2.sql("SELECT * FROM minhash_pairs('ext_docs_probe', 0.5)").collect()
        .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"), r.getAs[Double]("jaccard")))
      assert(mp.toSeq == Seq((1L, 2L, 1.0))) // the exact dup pair, nothing else
      val kw = s2.sql("SELECT doc_id, wd FROM tfidf_topk('ext_docs_probe', 1)").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(kw.keySet == Set(1L, 2L, 3L))
      assert(kw(1L) == kw(2L)) // identical docs, identical top keyword
      // round-8 TVFs ride the same injection: exact ppjoin pairs, quality
      // scores, cross-source KMV overlap
      val pp = s2.sql("SELECT * FROM ppjoin_pairs('ext_docs_probe', 0.5)").collect()
        .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"), r.getAs[Double]("jaccard")))
      assert(pp.toSeq == Seq((1L, 2L, 1.0)), "exact join finds exactly the dup pair")
      // pair-graph TVFs hit the session artifact cache on repeat calls:
      // identical rows, and the cached plan survives being referenced
      // TWICE in one query (self-join through the TVF)
      val mp2 = s2.sql("SELECT * FROM minhash_pairs('ext_docs_probe', 0.5)").collect()
        .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"), r.getAs[Double]("jaccard")))
      assert(mp2.toSeq == mp.toSeq, "cached artifact must reproduce the first call's rows")
      val selfJoined = s2.sql(
        """SELECT count(*) FROM minhash_pairs('ext_docs_probe', 0.5) a
          |JOIN minhash_pairs('ext_docs_probe', 0.5) b ON a.da = b.da AND a.db = b.db""".stripMargin)
        .head().getLong(0)
      assert(selfJoined == 1L, "self-join of the cached TVF plan must deduplicate attributes")
      val ql = s2.sql("SELECT doc_id, keep FROM quality_lr('ext_docs_probe')").collect()
        .map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
      assert(ql.keySet == Set(1L, 2L, 3L))
      assert(ql(1L) == ql(2L), "identical docs, identical keep decision")
      s2.sql(
        """CREATE OR REPLACE TEMPORARY VIEW ext_src_probe AS
          |SELECT * FROM VALUES
          |  ('s1', 'alpha beta gamma delta'), ('s2', 'alpha beta gamma delta'),
          |  ('s3', 'totally disjoint vocabulary here')
          |AS t(source, text)""".stripMargin)
      val ov = s2.sql("SELECT * FROM kmv_overlap('ext_src_probe', 64)").collect()
        .map(r => (r.getAs[String]("ga"), r.getAs[String]("gb")) -> r.getAs[Double]("jaccard_est")).toMap
      assert(ov(("s1", "s2")) == 1.0, "identical sources: exact Jaccard 1 under k")
      assert(ov(("s1", "s3")) == 0.0)
      // r10 TVF: span excision from pure SQL — the identical copy (doc 2)
      // must excise to nothing, the first occurrence keeps its text
      val ex = s2.sql("SELECT doc_id, n_kept, clean_text FROM dedup_excise('ext_docs_probe')")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      assert(ex.keySet == Set(1L, 2L, 3L), "one ledgered row per input doc")
      assert(ex(2L)._1 == 0L && ex(2L)._2.isEmpty, "identical copy excises to empty")
      assert(ex(1L)._2.nonEmpty && ex(3L)._2.nonEmpty, "first/unique occurrences keep text")
      // r12 TVFs: ESD + changepoint ride the same injection. 20 stable
      // points + one spike: ESD flags the spike; changepoint splits at
      // the shift of a step series.
      s2.sql(
        """CREATE OR REPLACE TEMPORARY VIEW ext_esd_probe AS
          |SELECT 'k' AS seriesKey, CAST(id * 1000 AS BIGINT) AS tsMs,
          |       CASE WHEN id = 21 THEN 500.0D ELSE 10.0D + (id % 5) / 10.0D END AS value
          |FROM range(1, 22)""".stripMargin)
      val esd = s2.sql("SELECT * FROM esd_outliers('ext_esd_probe')").collect()
        .map(_.getAs[Long]("tsMs"))
      assert(esd.toSeq == Seq(21000L), s"ESD TVF must flag the spike: ${esd.toSeq}")
      s2.sql(
        """CREATE OR REPLACE TEMPORARY VIEW ext_cp_probe AS
          |SELECT 'k' AS seriesKey, CAST(id * 1000 AS BIGINT) AS tsMs,
          |       CASE WHEN id <= 10 THEN 10.0D ELSE 50.0D END AS value
          |FROM range(1, 21)""".stripMargin)
      val cp = s2.sql("SELECT * FROM changepoint('ext_cp_probe')").head()
      assert(cp.getAs[Long]("split_ts_ms") == 10000L, s"changepoint TVF split: $cp")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("one registry: the extension and install register every SQL function with the same usage") {
    import graft.functions.GraftExtensions
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val base = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val injected =
      try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      finally { SparkSession.setDefaultSession(base); SparkSession.setActiveSession(base) }
    val installed = base.newSession() // a plain session: no extensions
    GraftExtensions.install(installed)
    GraftExtensions.install(installed) // idempotent
    assert(installed.experimental.extraStrategies.count(_ == graft.plans.KeyedFoldStrategy) == 1)

    // the README's SQL surface: 22 TVFs plus the scalar cosine_sim
    val readme = Set(
      "exp_avg_fold", "derivative_fold", "holt_fold", "hw_fold", "cusum_fold", "esd_outliers",
      "changepoint", "asof_join", "top_corr_pairs", "stl_decompose", "seasonal_strength",
      "minhash_pairs", "ppjoin_pairs", "tfidf_topk", "quality_lr", "kmv_overlap",
      "dedup_clusters", "dedup_excise", "containment_pairs", "triangles",
      "exact_substring_excise", "fuzzy_decontaminate")
    val tvfs = GraftExtensions.tableFunctions.map(_._1.funcName)
    assert(tvfs.size == 22 && tvfs.toSet == readme)

    def catalog(s: SparkSession) =
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.catalog
    def info(s: SparkSession, name: String) =
      if (name == "cosine_sim") catalog(s).lookupFunctionInfo(FunctionIdentifier(name))
      else catalog(s).lookupBuiltinOrTempTableFunction(name).getOrElse(fail(s"$name is not registered"))
    (tvfs :+ "cosine_sim").foreach { name =>
      val (a, b) = (info(injected, name), info(installed, name))
      assert(a.getUsage != null && a.getUsage.startsWith(s"$name("), s"$name usage: ${a.getUsage}")
      assert((a.getClassName, a.getName, a.getUsage) == (b.getClassName, b.getName, b.getUsage), name)
    }
  }

  test("native cosine_sim expression matches the lambda formulation bit-for-bit, incl. SQL form") {
    import graft.functions.GraftFunctions
    val e = Similarity.prepared(Tables.embeddings(spark, sf), "vec_id", "embedding").limit(50)
    val a = e.select(col("id"), col("vec"), col("nrm"))
    val pairs = a.as("x").crossJoin(a.as("y")).where(col("x.id") < col("y.id"))
      .withColumn("c_expr", GraftFunctions.cosine_sim(col("x.vec"), col("y.vec")))
      .withColumn("c_lambda", Similarity.dot(col("x.vec"), col("y.vec")) / (col("x.nrm") * col("y.nrm")))
    val diffs = pairs.where(col("c_expr") =!= col("c_lambda")).count()
    assert(diffs == 0, s"$diffs pairs differ between expression and lambda cosine")

    graft.functions.GraftExtensions.install(spark)
    e.select(col("vec").as("v")).createOrReplaceTempView("cosine_probe")
    val n = spark.sql("SELECT cosine_sim(a.v, b.v) c FROM cosine_probe a, cosine_probe b").count()
    assert(n == 2500)
  }

  test("filtered IVF probe: every neighbor satisfies the predicate; k results from the eligible set") {
    val emb = Tables.embeddings(spark, sf)
    val idx = Similarity.buildIvfIndex(emb, "vec_id", "embedding")
    val meta = emb.select(col("vec_id").as("id"), col("label"))
    val got = Similarity.ivfProbeFiltered(idx, meta, col("label") === 3, col("id") < 5, k = 3)
    val labels = got.join(emb.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
      .select("label").distinct().collect().map(_.getInt(0)).toSeq
    assert(labels == Seq(3), s"pre-filter must exclude other labels, got $labels")
    // k results per query from the eligible set (the pre-filter guarantee)
    val perQuery = got.groupBy("query_id").count().collect().map(_.getLong(1))
    assert(perQuery.nonEmpty && perQuery.forall(_ == 3L))
  }

  test("source MinHash similarity: identical groups estimate 1.0, disjoint estimate 0.0") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta"
    val other = "one two three four five six"
    val docs = Seq(
      (1L, "s1", text), (2L, "s2", text), // identical shingle sets
      (3L, "s3", other) // disjoint
    ).toDF("doc_id", "source", "text")
    val got = Dedup.sourceSimilarity(docs, "source", "doc_id", "text", n = 3, perms = 16)
      .collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) -> r.getAs[Double]("est_jaccard"))
      .toMap
    assert(got(("s1", "s2")) == 1.0)
    assert(got(("s1", "s3")) == 0.0 && got(("s2", "s3")) == 0.0)
  }

  test("label centroids: exact integer sums, partitioning-invariant") {
    val emb = Tables.embeddings(spark, sf)
    val a = Similarity.labelCentroids(emb.repartition(13), "label", "embedding")
      .orderBy("label", "dim").collect()
    val b = Similarity.labelCentroids(emb.repartition(2), "label", "embedding")
      .orderBy("label", "dim").collect()
    assert(a.toSeq == b.toSeq, "quantized sums must be bit-identical under any partitioning")
    assert(a.length == emb.select("label").distinct().count() * 64)
  }

  test("JSONL source: escape-heavy text round-trips losslessly; malformed lines counted, not dropped silently") {
    import spark.implicits._
    import graft.sources.Jsonl
    val dir = java.nio.file.Files.createTempDirectory("jsonl_spec").toString
    // text that exercises every JSON escape class: quotes, backslashes,
    // newlines, tabs, unicode beyond the BMP, control chars
    val tricky = Seq(
      (1L, "plain text", "en", "s0", 10L),
      (2L, "quote \" backslash \\ slash /", "en", "s0", 27L),
      (3L, "newline\nand\ttab", "de", "s1", 15L),
      (4L, "unicode é中😀 end", "fr", "s1", 14L),
      (5L, "controlchar", "es", "s2", 12L))
    Jsonl.writeDocuments(tricky.toDF("doc_id", "text", "lang", "source", "n_chars"), dir)
    val (clean, corrupt) = Jsonl.readDocuments(spark, dir)
    assert(corrupt == 0L)
    val got = clean.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    tricky.foreach { case (id, text, _, _, _) =>
      assert(got(id) == text, s"doc $id text must round-trip byte-exactly")
    }
    // a malformed line is counted and excluded — never silently dropped,
    // never poisoning the clean rows
    val mixed = java.nio.file.Files.createTempDirectory("jsonl_bad").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(mixed, "part-00000.json"),
      ("""{"doc_id": 10, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}""" + "\n" +
        """{"doc_id": 11, "text": "also ok", "lang": "en", "source": "s", "n_chars": 7}""" + "\n" +
        """{"doc_id": 12, "text": "truncated...""" + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (clean2, corrupt2) = Jsonl.readDocuments(spark, mixed)
    assert(clean2.count() == 2L && corrupt2 == 1L,
      s"expected 2 clean + 1 counted reject, got ${clean2.count()} + $corrupt2")
  }

  test("JSONL source: type-malformed rows count as rejects (full-schema accounting)") {
    import graft.sources.Jsonl
    // line 2 is syntactically valid JSON but doc_id is a string — a parse
    // that pruned doc_id away would call it clean while a full-shape
    // consumer loses it; the contract is the full-schema count
    val dir = java.nio.file.Files.createTempDirectory("jsonl_typed").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-00000.json"),
      ("""{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}""" + "\n" +
        """{"doc_id": "abc", "text": "typed wrong", "lang": "en", "source": "s", "n_chars": 11}""" + "\n" +
        """{"doc_id": 3, "text": "fine", "lang": "en", "source": "s", "n_chars": 4}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (clean, rejects) = Jsonl.readDocuments(spark, dir)
    val fullRows = clean.collect()
    assert(fullRows.map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L),
      "full-shape consumers receive exactly the fully-well-typed rows")
    assert(rejects == 1L, s"type-malformed row must be a counted reject, got $rejects")
  }

  test("JSONL source: counted read pays zero dedicated parse jobs and agrees with the eager count") {
    import graft.sources.Jsonl
    val dir = java.nio.file.Files.createTempDirectory("jsonl_counted").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-00000.json"),
      ("""{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}""" + "\n" +
        """{"doc_id": "bad", "text": "typed wrong", "lang": "en", "source": "s", "n_chars": 11}""" + "\n" +
        """not json at all""" + "\n" +
        """{"doc_id": 4, "text": "fine", "lang": "en", "source": "s", "n_chars": 4}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def jobs() = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    // AQE decides how many jobs one count() takes — measure a pure text
    // count as the baseline instead of hardcoding it
    val t0 = jobs()
    spark.read.text(dir).where(length(col("value")) > 0).count()
    val textCountJobs = jobs() - t0
    val before = jobs()
    val scan = Jsonl.readDocumentsCounted(spark, dir)
    assert(jobs() - before == textCountJobs,
      s"setup must cost exactly one text count (no parse pass), ran ${jobs() - before} vs $textCountJobs")
    // the caller's own pass — a NARROW projection: the observe metric
    // still forces the full schema, so the reject count matches the
    // eager full-schema reader
    val ids = scan.docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val afterConsume = jobs()
    assert(ids == Seq(1L, 4L))
    assert(scan.rejects == 2L, s"syntactic + type rejects both counted, got ${scan.rejects}")
    assert(jobs() - afterConsume == 0,
      s"reject accounting must ride the caller's action — zero extra jobs, ran ${jobs() - afterConsume}")
    assert(scan.rejects == Jsonl.readDocuments(spark, dir)._2,
      "counted and eager readers must agree")
  }

  test("calibrated quality gate: keep-rate near the asked per-mille; threshold replays the sketch") {
    val docs = Tables.documents(spark, sf)
    val rep = TextAnalysis.qualityCalibrated(docs, "doc_id", "text", "source", keepMille = 700)
      .collect()
    val n = rep.map(_.getAs[Long]("n_docs")).sum
    val kept = rep.map(_.getAs[Long]("n_kept")).sum
    assert(n == docs.count(), "every doc counted exactly once")
    assert(math.abs(kept.toDouble / n - 0.7) < 0.08,
      s"keep rate ${kept.toDouble / n} far from the asked 0.700 (sketch resolution is 32 units)")
    val thrs = rep.map(_.getAs[Long]("threshold_units")).distinct
    assert(thrs.length == 1, "one corpus-wide threshold")
    // driver reference of the identical integer recurrence
    val us = TextAnalysis.qualityLr(docs, "doc_id", "text")
      .select(expr("CAST(round(score * 10000, 0) AS BIGINT) + 10000").as("u"))
      .collect().map(_.getLong(0))
    val bins = us.groupBy(u => math.min(math.max(u / 32, 0L), 639L)).view.mapValues(_.size.toLong).toMap
    val total = us.length.toLong
    val target = math.max((300L * total + 999) / 1000, 1L)
    var cum = 0L
    var est = -1L
    for (b <- bins.keys.toSeq.sorted if est < 0) {
      val c = bins(b); cum += c
      if (cum >= target && cum - c < target) est = b * 32 + ((target - (cum - c)) * 32) / c
    }
    assert(thrs.head == est, s"sketch threshold ${thrs.head} != reference $est")
  }

  test("nearest-centroid classification: hand-built prototypes, exact-tie breaks to lowest label") {
    import spark.implicits._
    // two orthogonal unit prototypes
    val labeled = Seq(
      (1L, 0L, Array(1.0f, 0.0f)),
      (2L, 1L, Array(0.0f, 1.0f))).toDF("vec_id", "label", "embedding")
    val cent = Similarity.labelCentroids(labeled, "label", "embedding")
    val queries = Seq(
      (10L, Array(0.9f, 0.1f)),   // clearly label 0
      (11L, Array(0.1f, 0.9f)),   // clearly label 1
      (12L, Array(0.6f, 0.6f))).toDF("vec_id", "embedding") // exact tie → label 0
    val got = Similarity.classifyNearestCentroid(queries, "vec_id", "embedding", cent)
      .collect().map(r => r.getAs[Long]("id") -> (r.getAs[Long]("pred_label"), r.getAs[Double]("cosine"))).toMap
    assert(got(10L)._1 == 0L && got(11L)._1 == 1L)
    assert(got(12L)._1 == 0L, "equal cosines must break toward the lowest label")
    assert(math.abs(got(12L)._2 - 0.7071) < 1e-9)
    // every corpus vector classified exactly once, against its own fixture
    val emb = Tables.embeddings(spark, sf)
    val full = Similarity.classifyNearestCentroid(
      emb, "vec_id", "embedding", Similarity.labelCentroids(emb, "label", "embedding"))
    assert(full.count() == emb.count())
    assert(full.select("id").distinct().count() == emb.count())
  }

  test("PCM decode: RIFF chunk walk recovers the synthesized samples bit-exactly; non-audio is None") {
    val wav = Multimodal.synthWav(16000, 2, 100, seed = 5)
    val Some((rate, ch, samples)) = Multimodal.decodePcm16(wav)
    assert(rate == 16000 && ch == 2 && samples.length == 200)
    // closed form of the seeded fill: sample k = LE16(bytes 2k, 2k+1)
    for (k <- Seq(0, 1, 7, 123, 199)) {
      val lo = (2 * k * 37 + 5 * 101) & 0xff
      val hi = ((2 * k + 1) * 37 + 5 * 101) & 0xff
      assert(samples(k) == (lo | (hi << 8)).toShort, s"sample $k")
    }
    assert(Multimodal.decodePcm16("not audio at all".getBytes("UTF-8")).isEmpty)
    // 8-bit (non-PCM-16) audio must be rejected, not misdecoded: build a
    // WAV-shaped header claiming bits=8
    val bad = wav.clone(); bad(34) = 8 // fmt bits field
    assert(Multimodal.decodePcm16(bad).isEmpty, "PCM-16-only contract")
  }

  test("audio features: exact integer window stats match a driver fold; undecodable emits one counted marker row") {
    val payloads = Seq(
      (1L, Multimodal.synthWav(8000, 2, 40, seed = 3)), // 2 windows: 32 + 8 frames
      (2L, "just text".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val got = Multimodal.audioFeatures(payloads, "doc_id", "payload", windowFrames = 32)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), Option(r.get(4)), Option(r.get(5)), Option(r.get(6)), Option(r.get(7))))
      .toMap
    // driver reference over the decoded samples
    val Some((_, ch, samples)) = Multimodal.decodePcm16(Multimodal.synthWav(8000, 2, 40, seed = 3))
    val ref = samples.zipWithIndex
      .groupBy { case (_, k) => (k % ch, (k / ch) / 32) }
      .map { case ((c, w), vs) =>
        val xs = vs.map(_._1.toLong)
        (1L, c.toLong, w.toLong) ->
          (xs.length.toLong, Some(xs.sum: Any), Some(xs.min: Any), Some(xs.max: Any),
            Some(xs.map(x => x * x).sum: Any))
      }
    assert(got.filter(_._1._1 == 1L) == ref, "per-(channel, window) stats must match the fold")
    assert(got((2L, 0L, 0L)) == ((0L, None, None, None, None)),
      "undecodable payload must surface as one NULL-stat marker row")
    assert(got.size == ref.size + 1, "nothing else emitted")
  }

  test("audio near-dup: same-seed streams pair at cosine 1; routed LSH path finds the identical pair set") {
    val payloads = (0L until 40L).map { id =>
      val g = (id % 8).toInt // 8 twin groups of 5
      (id, Multimodal.synthWav(8000, 1 + g % 2, 30 + g, seed = g))
    }.toDF("doc_id", "payload")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(
      Multimodal.audioNearDup(payloads, "doc_id", "payload", tau = 0.999))
    // every same-g pair, nothing else
    val twins = (0L until 40L).flatMap(a => (a + 1 until 40L).filter(b => a % 8 == b % 8).map((a, _))).toSet
    assert(exact == twins, s"exact route: ${exact.size} pairs vs ${twins.size} expected")
    val banded = pairSet(
      Multimodal.audioNearDup(payloads, "doc_id", "payload", tau = 0.999, maxBroadcastRows = 0L))
    assert(banded == exact, "identical vectors collide in every LSH table: route parity")
    // the dense-dup production order: collapse -> banded over reps ->
    // expand must regenerate the identical pair set (and cosines)
    val xf = Multimodal.audioNearDup(
      payloads, "doc_id", "payload", tau = 0.999, maxBroadcastRows = 0L, exactFirst = true)
    assert(pairSet(xf) == exact, "exact-first collapse+expand: pair parity")
    assert(xf.collect().forall(_.getDouble(2) == 1.0),
      "twin pairs are identical vectors: expanded cosines must be exactly 1.0")
  }

  test("video near-dup route parity: forced-LSH pairs == exact broadcast-kernel pairs") {
    // synthetic per-frame features: 24 videos, twin groups of 3 (id % 8),
    // 4 frames x 12 dims from group arithmetic
    val ff = (0L until 24L).flatMap { id =>
      val g = id % 8
      for (f <- 0L until 4L; d <- 0L until 12L) yield {
        // QUADRATIC mix, not a linear ramp: modular-linear values make
        // every non-twin an affine shift of every other (near-parallel
        // after the shared DC), which defeats the τ=0.999 gate
        val m = g * 97 + f * 13 + d
        (id, f, d, ((m * m * 2654435761L) % 1000L).toDouble / 10.0)
      }
    }.toDF("id", "frame_idx", "dim", "value")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Multimodal.videoNearDup(ff, tau = 0.999))
    val banded = pairSet(Multimodal.videoNearDup(ff, tau = 0.999, maxBroadcastRows = 0L))
    val twins = (0L until 24L).flatMap(a => (a + 1 until 24L).filter(b => a % 8 == b % 8).map((a, _))).toSet
    assert(exact == twins, s"exact route must find exactly the twin groups: ${exact.size}")
    assert(banded == exact, "the banded path a 100 TB corpus runs must find the same set")
    val xf = pairSet(
      Multimodal.videoNearDup(ff, tau = 0.999, maxBroadcastRows = 0L, exactFirst = true))
    assert(xf == exact, "exact-first collapse+expand: pair parity for video too")
  }

  test("IVF health: shifted delta trips the re-balance trigger; refit restores assignment quality and recall") {
    // deterministic 8-dim corpus: base = 3 tight clusters, delta = a NEW
    // direction the frozen centroids never saw
    def jig(i: Long, d: Int) = (((i * 2654435761L + d * 40503L) % 1000L) - 500L).toDouble / 5000.0
    def around(axis: Int, i: Long) =
      Array.tabulate(8)(d => (if (d == axis) 1.0 else 0.0) + jig(i, d))
    val base = (0L until 300L).map(i => (i, around((i % 3).toInt, i)))
    val delta = (300L until 400L).map(i => (i, around(6, i))) // unseen axis
    val baseDf = base.toDF("vec_id", "embedding")
    val allDf = (base ++ delta).toDF("vec_id", "embedding")
    val isDelta = col("id") >= 300L

    val frozen = Similarity.ivfAppend(
      Similarity.buildIvfIndex(baseDf, "vec_id", "embedding", nlist = 8),
      delta.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val rep = Similarity.ivfOccupancyReport(frozen, isDelta).collect()
    assert(rep.map(_.getAs[Long]("n_base")).sum == 300L &&
      rep.map(_.getAs[Long]("n_delta")).sum == 100L, "every row counted once")
    val deltaCells = rep.filter(_.getAs[Long]("n_delta") > 0)
    assert(deltaCells.exists(r => r.getAs[Boolean]("rebalance") &&
      Option(r.getAs[Long]("drift_fp")).exists(_ > 500L)),
      s"an unseen delta direction must trip the drift trigger: ${deltaCells.toSeq}")

    // the documented re-balance action: refit over base ∪ delta
    val refit = Similarity.buildIvfIndex(allDf, "vec_id", "embedding", nlist = 8)
    val rep2 = Similarity.ivfOccupancyReport(refit, isDelta).collect()
    val worstDrift = rep2.flatMap(r => Option(r.getAs[Long]("drift_fp"))).maxOption.getOrElse(0L)
    assert(worstDrift <= 500L, s"refit must bring delta assignment back inside the bound: $worstDrift")

    // recall of nprobe=1 probes for delta queries vs brute force
    def recall(idx: Similarity.IvfIndex) = {
      val queries = col("id").isin(300L, 310L, 320L, 330L, 340L)
      val truth = Similarity.cosineTopK(allDf, "vec_id", "embedding", col("id").isin(300L, 310L, 320L, 330L, 340L), k = 5)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val got = Similarity.ivfProbe(idx, queries, k = 5, nprobe = 1)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val before = recall(frozen)
    val after = recall(refit)
    assert(after >= before, s"refit recall $after must not regress vs frozen $before")
    assert(after >= 0.9, s"refit must recover near-exact recall for the drifted slice, got $after")
  }

  test("Curation.ledger: one row per doc, first-failing-gate status, split only for survivors") {
    import spark.implicits._
    import graft.ext.Curation
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // doc 6 deliberately ABSENT from the quality output (zero-signal doc)
    val quality = Seq((1L, true), (2L, false), (3L, true), (4L, true), (5L, true))
      .toDF("doc_id", "keep")
    val clusters = Seq((1L, 1L), (3L, 1L)).toDF("doc_id", "canonical_id")
    val cont = Seq(4L, 4L).toDF("doc_id") // duplicated on purpose
    val out = Curation.ledger(
      docs, "doc_id", quality, clusters, cont,
      Seq(("train", 8.0), ("val", 1.0), ("test", 1.0)), salt = "sp1")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 6, "exactly one ledger row per input doc")
    def status(id: Long) = out(id).getAs[String]("status")
    assert(status(1L) == "kept" && status(2L) == "quality" && status(3L) == "duplicate"
      && status(4L) == "contaminated" && status(5L) == "kept")
    assert(status(6L) == "quality", "a doc the quality gate never scored must drop as 'quality'")
    assert(out(3L).getAs[Long]("canonical_id") == 1L && out(3L).getAs[Boolean]("is_dup"))
    assert(!out(1L).getAs[Boolean]("is_dup"), "the cluster canonical is not a duplicate")
    // split: null unless kept; kept docs follow the canonical-id hash
    Seq(2L, 3L, 4L, 6L).foreach(id => assert(out(id).isNullAt(out(id).fieldIndex("split"))))
    val expect = graft.ext.Sampling.assignSplit(
      Seq(1L, 5L).toDF("canonical_id"), "canonical_id",
      Seq(("train", 8.0), ("val", 1.0), ("test", 1.0)), "sp1")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Seq(1L, 5L).foreach(id =>
      assert(out(id).getAs[String]("split") == expect(id), s"survivor $id split"))
  }

  test("WARC source: archives round-trip escape-heavy text; damage aborts one archive tail as one counted reject") {
    import spark.implicits._
    import graft.sources.Warc
    val dir = java.nio.file.Files.createTempDirectory("warc_spec").toString
    val tricky = Seq(
      (1L, "plain text", "en", "s0", 10L),
      (2L, "quote \" backslash \\ CRLF\r\nembedded", "en", "s0", 33L),
      (3L, "WARC/1.0\r\nWARC-Record-ID: 99\r\n\r\nbody-shaped text", "de", "s1", 48L),
      (4L, "unicode é中😀 end", "fr", "s1", 14L),
      (10L, "same archive as 2 (mod 8)", "es", "s2", 25L))
    Warc.writeArchives(tricky.toDF("doc_id", "text", "lang", "source", "n_chars"), dir, nArchives = 8)
    val (clean, rejects) = Warc.readArchives(spark, dir)
    assert(rejects == 0L)
    val got = clean.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))).toMap
    tricky.foreach { case (id, text, lang, source, n) =>
      // Content-Length framing means even a BODY that looks like a WARC
      // header (doc 3) or contains bare CRLFs (doc 2) round-trips
      assert(got(id) == ((text, lang, source, n)), s"doc $id must round-trip byte-exactly")
    }

    // damage after the valid records: exactly one reject per aborted
    // tail, valid records unaffected
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "archive-1.warc"),
      Warc.encodeRecord(77L, "cut off body", "xx", "bad", 12L).dropRight(10),
      java.nio.file.StandardOpenOption.APPEND)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "archive-2.warc"),
      "garbage, not a record".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val scan2 = Warc.readArchivesCounted(spark, dir)
    val cleanIds = scan2.docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cleanIds == tricky.map(_._1).toSet, "valid records must survive planted damage")
    assert(scan2.rejects == 2L, s"each aborted tail counts once, got ${scan2.rejects}")
    assert(scan2.records == tricky.size + 2L, "records metric = clean + rejects")

    // member-gzipped twin: identical round-trip through per-record
    // members; a TRUNCATED member aborts that file's tail as one reject
    // while fully-inflated earlier members survive
    val gdir = java.nio.file.Files.createTempDirectory("warcgz_spec").toString
    Warc.writeArchivesGz(tricky.toDF("doc_id", "text", "lang", "source", "n_chars"), gdir, nArchives = 2)
    val gscan = Warc.readArchivesGzCounted(spark, gdir)
    val ggot = gscan.docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    tricky.foreach { case (id, text, _, _, _) =>
      assert(ggot(id) == text, s"gz doc $id must round-trip byte-exactly")
    }
    assert(gscan.rejects == 0L)
    // truncate the LAST member of archive-0: ids 2,4,10 are even -> a=0
    val p0 = java.nio.file.Paths.get(gdir, "archive-0.warc.gz")
    val b0 = java.nio.file.Files.readAllBytes(p0)
    java.nio.file.Files.write(p0, b0.dropRight(12))
    val gscan2 = Warc.readArchivesGzCounted(spark, gdir)
    val survivors = gscan2.docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gscan2.rejects == 1L, s"one aborted gz tail = one reject, got ${gscan2.rejects}")
    assert(tricky.map(_._1).toSet.diff(survivors).size == 1,
      s"only the truncated member's record is lost, survivors: $survivors")
  }

  test("WARC indexed gz read resolves URL-encoded sidecar paths (dir with a space)") {
    import spark.implicits._
    import graft.sources.Warc
    // input_file_name() reports a URL-encoded URI; the split table's
    // ".idx" strip must decode it before opening the data file
    val dir = java.nio.file.Files.createTempDirectory("warc idx spec").toString
    assert(dir.contains(" "), "fixture dir must exercise the encoding")
    val docs = (0L until 16L).map(i => (i, s"body $i", "en", "s0", i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Warc.writeArchivesGz(docs, dir, nArchives = 2)
    val scan = Warc.readArchivesGzIndexedCounted(spark, dir, membersPerSplit = 4)
    assert(scan.docs.count() == 16 && scan.rejects == 0L)
  }

  test("warcgz DSv2 filter pushdown: predicates reach the scan and skip non-matching bodies") {
    import spark.implicits._
    import graft.sources.Warc
    val dir = java.nio.file.Files.createTempDirectory("warcpush_spec").toString
    val docs = (0L until 48L)
      .map(i => (i, s"body $i", "en", s"s${i % 3}", i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Warc.writeArchivesGz(docs, dir, nArchives = 2)
    val base = spark.read.format("warcgz").load(dir)
    // pushed predicates are visible in the physical scan description
    val filtered = base.where(col("source") === "s1" && col("doc_id") < 30L)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(source,s1)") && plan.contains("LessThan(doc_id,30)"),
      s"pushed filters missing from the scan: $plan")
    // result parity with post-scan filtering of an unpushed read
    val got = filtered.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = (0L until 30L).filter(_ % 3 == 1).map(i => i -> s"body $i").toMap
    assert(got == expect, s"pushdown must not change results: got ${got.keySet}")
    // In / IsNotNull forms push too, and marker rows obey the conjunction
    val in = base.where(col("lang").isin("en", "fr") && col("doc_id").isNotNull)
    assert(in.queryExecution.executedPlan.toString.contains("In(lang"), "In must push")
    assert(in.count() == 48)
    // unsupported predicates (on text) stay residual and still work
    val res = base.where(col("text").endsWith("7")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(res == (0L until 48L).filter(i => i % 10 == 7).toSet)
    // string ORDER comparisons must use UTF-8 binary collation (Spark's),
    // not UTF-16: U+10000 (surrogate pair, UTF-16 code unit 0xD800)
    // sorts ABOVE U+E000 in UTF-8 — a UTF-16 compare would skip the
    // record at the scan while the residual filter keeps it
    val supp = new String(Character.toChars(0x10000))
    val sdir = java.nio.file.Files.createTempDirectory("warcpush_utf8").toString
    Seq((1L, "b", "en", supp, 1L), (2L, "b", "en", "", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.format("warcgz").mode("append").save(sdir)
    val hi = spark.read.format("warcgz").load(sdir)
      .where(col("source") > "").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hi == Set(1L), s"UTF-8 binary order: supplementary char must survive the pushed scan, got $hi")
  }

  test("warcgz DSv2 count pushdown: COUNT(*) from sidecars, filtered counts stay unpushed, truncation falls back") {
    import spark.implicits._
    import graft.sources.Warc
    val dir = java.nio.file.Files.createTempDirectory("warccnt_spec").toString
    val docs = (0L until 48L)
      .map(i => (i, s"body $i", "en", s"s${i % 3}", i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Warc.writeArchivesGz(docs, dir, nArchives = 2)
    val read = () => spark.read.format("warcgz").option("maxSplitBytes", 4096).load(dir)
    val agg = read().groupBy().count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation=[COUNT(*)]"), s"count must push to the scan: $plan")
    assert(agg.head().getLong(0) == 48L)
    // a filtered count must NOT push: this source keeps every filter
    // residual, so a post-scan Filter remains and blocks the aggregate
    val fagg = read().where(col("source") === "s1").groupBy().count()
    assert(!fagg.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      "filtered count must stay unpushed")
    assert(fagg.head().getLong(0) == 16L)
    // truncate archive-0 into its second-to-last member: the sidecar
    // count would overstate, so the damaged range must fall back to the
    // header walk and match the record scan's rows (survivors + marker)
    val p0 = java.nio.file.Paths.get(dir, "archive-0.warc.gz")
    val idx0 = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "archive-0.warc.gz.idx")),
      java.nio.charset.StandardCharsets.UTF_8).split("\n")
      .filter(l => l.nonEmpty && !l.startsWith("#"))
    val secondLastOff = idx0(idx0.length - 2).split(" ")(1).toLong
    val b0 = java.nio.file.Files.readAllBytes(p0)
    java.nio.file.Files.write(p0, b0.take(secondLastOff.toInt + 5))
    // default splits = one partition per archive, so the damaged archive
    // is exactly one fallback walk: 22 survivors + 1 marker + 24 intact
    val read1 = () => spark.read.format("warcgz").load(dir)
    val walkRows = read1().select("_ok").collect().length
    val pushedCount = read1().groupBy().count().head().getLong(0)
    assert(pushedCount == walkRows,
      s"damaged-archive pushed count must equal the walked row count: $pushedCount vs $walkRows")
    assert(pushedCount == 47L, s"two lost members collapse to one marker row, got $pushedCount")
  }

  test("warcgz COUNT pushdown trusts the sidecar on full-length archives: in-place corruption diverges (pinned)") {
    import spark.implicits._
    import graft.sources.Warc
    val dir = java.nio.file.Files.createTempDirectory("warccorrupt_spec").toString
    val docs = (0L until 24L)
      .map(i => (i, s"body $i", "en", "s0", i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Warc.writeArchivesGz(docs, dir, nArchives = 1)
    // zero a byte INSIDE a middle member's gzip payload without changing
    // the archive's length: the length check cannot see it
    val p0 = java.nio.file.Paths.get(dir, "archive-0.warc.gz")
    val idxLines = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "archive-0.warc.gz.idx")),
      java.nio.charset.StandardCharsets.UTF_8).split("\n").filter(l => l.nonEmpty && !l.startsWith("#"))
    val (mOff, mLen) = { val f = idxLines(10).split(" "); (f(1).toLong, f(2).toLong) }
    val bytes = java.nio.file.Files.readAllBytes(p0)
    java.util.Arrays.fill(bytes, mOff.toInt + 12, (mOff + mLen).toInt - 12, 0.toByte)
    java.nio.file.Files.write(p0, bytes)
    val read = () => spark.read.format("warcgz").load(dir)
    // record scan: survivors before the damage + one marker for the tail
    val walked = read().collect()
    val markers = walked.count(r => !r.getAs[Boolean]("_ok"))
    assert(markers == 1 && walked.length < 24,
      s"in-place damage must abort the walk into one marker: ${walked.length} rows, $markers markers")
    // pushed count: the documented divergence — archive length covers
    // the members, so the sidecar's word (24) is returned, NOT the
    // walk's survivors+marker. Audit damage with the record scan.
    assert(read().groupBy().count().head().getLong(0) == 24L,
      "full-length in-place corruption is invisible to the pushed count (sidecar trust contract)")
  }

  test("warcgz zone maps: #zmap sidecar line skips refuted archives; results and markers stay exact") {
    import spark.implicits._
    import graft.sources.{Warc, WarcGzSource, WarcGzFilters}
    val dir = java.nio.file.Files.createTempDirectory("warczmap_spec").toString
    // archive a = doc_id pmod 2: archive-0 holds evens (ids 0..46, lang en),
    // archive-1 holds odds (ids 1..47, lang fr)
    val docs = (0L until 48L)
      .map(i => (i, s"body $i", if (i % 2 == 0L) "en" else "fr", s"s${i % 3}", 10L + i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Warc.writeArchivesGz(docs, dir, nArchives = 2)
    // the writer committed a parseable zone map per archive
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val l0 = WarcGzSource.sidecarLines(fs, new org.apache.hadoop.fs.Path(dir, "archive-0.warc.gz"))
    val zm0 = WarcGzSource.zoneFrom(l0).get
    assert(zm0.minId == 0L && zm0.maxId == 46L && zm0.minChars == 10L && zm0.maxChars == 56L)
    assert(zm0.langs.contains(Set("en")) && zm0.sources.contains(Set("s0", "s1", "s2")), s"$zm0")
    // members still parse with the metadata line present
    assert(WarcGzSource.membersFrom(l0).length == 24)
    // refutation: a lang=fr equality refutes archive-0's zone, not its own
    import org.apache.spark.sql.sources.{EqualTo, In, GreaterThan, IsNull}
    assert(WarcGzFilters.zoneRefutes(Array(EqualTo("lang", "fr")), zm0))
    assert(WarcGzFilters.zoneRefutes(Array(GreaterThan("doc_id", java.lang.Long.valueOf(46L))), zm0))
    assert(WarcGzFilters.zoneRefutes(Array(In("n_chars", Array[Any](java.lang.Long.valueOf(2L)))), zm0))
    assert(!WarcGzFilters.zoneRefutes(Array(EqualTo("lang", "en")), zm0))
    // IsNull never refutes (markers carry nulls)
    assert(!WarcGzFilters.zoneRefutes(Array(IsNull("doc_id")), zm0))
    // end-to-end: selective scans return exactly the residual-filtered
    // rows — the skip is invisible to results
    val base = spark.read.format("warcgz").load(dir)
    assert(base.where(col("lang") === "fr").count() == 24L)
    assert(base.where(col("doc_id") > 46L).select("doc_id").head().getLong(0) == 47L)
    assert(base.where(col("lang") === "de").count() == 0L)
    // damaged archive + a filter whose zone skip covers it: identical to
    // what the residual would produce (markers fail the filter anyway)
    val p1 = java.nio.file.Paths.get(dir, "archive-1.warc.gz")
    val b1 = java.nio.file.Files.readAllBytes(p1)
    java.nio.file.Files.write(p1, b1.take(b1.length / 2))
    assert(base.where(col("lang") === "en").count() == 24L,
      "zone-skipping the damaged archive must equal residual filtering (markers fail lang='en')")
  }

  test("warcgz DSv2 write: partition-per-archive commit, roundtrip parity, overwrite truncates, no tmp orphans") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warcwrite_spec").toString
    val docs = (0L until 40L)
      .map(i => (i, s"body $i", "en", s"s${i % 2}", i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.repartition(3, col("doc_id")).write.format("warcgz").mode("append").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(files.count(_.endsWith(".warc.gz")) == 3, s"3 partitions = 3 archives, got $files")
    assert(files.count(_.endsWith(".warc.gz.idx")) == 3, "every archive commits its sidecar")
    assert(!files.exists(_.endsWith(".tmp")), s"no orphaned tmps after commit: $files")
    // read-back parity through the DSv2 reader (and the function reader)
    val got = spark.read.format("warcgz").load(dir).where(col("_ok"))
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == (0L until 40L).map(i => i -> s"body $i").toMap)
    val fn = graft.sources.Warc.readArchivesGzCounted(spark, dir)
    assert(fn.docs.count() == 40 && fn.rejects == 0L)
    // overwrite truncates the previous write entirely
    docs.where(col("doc_id") < 5L).repartition(1)
      .write.format("warcgz").mode("overwrite").save(dir)
    val after = spark.read.format("warcgz").load(dir).where(col("_ok"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after == (0L until 5L).toSet, s"overwrite must truncate, got $after")
    // input missing a document column fails loudly at planning
    val err = intercept[Exception] {
      docs.drop("lang").write.format("warcgz").mode("overwrite").save(dir)
    }
    assert(err.getMessage.contains("lang"), err.getMessage)
  }

  test("warcgz DSv2 write emits the same #zmap sidecar line as the function writer: reads skip refuted archives") {
    import spark.implicits._
    import graft.sources.{WarcGzSource, WarcGzFilters}
    val dir = java.nio.file.Files.createTempDirectory("warczmap_w_spec").toString
    // range partitioning gives each archive a disjoint doc_id zone and a
    // single-lang dictionary — the layout real corpora get from
    // crawl-date/source partitioning
    val docs = (0L until 48L)
      .map(i => (i, s"body $i", if (i < 24L) "en" else "fr", s"s${i % 3}", 10L + i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.repartitionByRange(2, col("doc_id")).sortWithinPartitions("doc_id")
      .write.format("warcgz").mode("overwrite").save(dir)
    // both write surfaces run the shared ZoneMapBuilder — the DSv2
    // sidecar must carry the identical parseable #zmap line shape
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val l1 = WarcGzSource.sidecarLines(fs, new org.apache.hadoop.fs.Path(dir, "part-1.warc.gz"))
    val zm1 = WarcGzSource.zoneFrom(l1).getOrElse(
      fail("DSv2-written sidecar must carry a parseable #zmap line"))
    assert(zm1.minId == 24L && zm1.maxId == 47L && zm1.minChars == 34L && zm1.maxChars == 57L, s"$zm1")
    assert(zm1.langs.contains(Set("fr")), s"$zm1")
    assert(WarcGzSource.membersFrom(l1).length == 24, "members parse with the zone line present")
    // a selective range predicate refutes part-1 from its zone alone
    import org.apache.spark.sql.sources.LessThan
    assert(WarcGzFilters.zoneRefutes(Array(LessThan("doc_id", java.lang.Long.valueOf(24L))), zm1))
    // byte-level proof the refuted archive is never position-read: the
    // pushed selective scan vs the same predicate arithmetically
    // defeated (abs() is unpushable) — local[n] keeps all readers in
    // this JVM, so the "file"-scheme global statistics sum their reads
    def fsBytesRead(): Long = {
      var b = 0L
      val it = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator()
      while (it.hasNext) {
        val st = it.next()
        if (st.getScheme == "file") b = st.getLong("bytesRead")
      }
      b
    }
    val read = spark.read.format("warcgz").load(dir)
    val b0 = fsBytesRead()
    val selective = read.where(col("doc_id") < 24L).select("doc_id").collect().map(_.getLong(0)).toSet
    val b1 = fsBytesRead()
    val defeated = read.where(abs(col("doc_id")) < 24L).select("doc_id").collect().map(_.getLong(0)).toSet
    val b2 = fsBytesRead()
    assert(selective == (0L until 24L).toSet && defeated == selective,
      "zone skip must be invisible to results")
    // both scans read every sidecar (the zone check lives there); the
    // selective scan must save at least the refuted archive's data bytes
    val a1Size = fs.getFileStatus(new org.apache.hadoop.fs.Path(dir, "part-1.warc.gz")).getLen
    assert((b2 - b1) - (b1 - b0) >= a1Size / 2,
      s"refuted archive must not be position-read: selective ${b1 - b0}B vs defeated ${b2 - b1}B, " +
        s"archive-1 is ${a1Size}B")
  }

  test("WARC indexed gz read: splits follow the record count; rows match the whole-file reader; split-tail damage = one reject") {
    import spark.implicits._
    import graft.sources.Warc
    val dir = java.nio.file.Files.createTempDirectory("warcidx_spec").toString
    val docs = (0L until 64L)
      .map(i => (i, s"body $i " + ("x" * (i % 7).toInt), "en", s"s${i % 3}", i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Warc.writeArchivesGz(docs, dir, nArchives = 2)
    // the writer's sidecar is a faithful member map: offsets+lengths
    // tile the archive exactly
    for (a <- 0 to 1) {
      val f = new java.io.File(dir, s"archive-$a.warc.gz")
      val lines = scala.io.Source.fromFile(new java.io.File(dir, s"archive-$a.warc.gz.idx"))
        .getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split(" ").map(_.toLong)).toVector
      assert(lines.length == 32, s"one index line per member, got ${lines.length}")
      assert(lines.map(_(2)).sum == f.length(), "member lengths must tile the file")
      assert(lines.map(l => l(1) + l(2)).max == f.length(), "last member ends at EOF")
    }
    // parallelism IS the split count: 2 archives x ceil(32/4) = 16 work
    // units — the one-file-one-task straggler is gone
    val splits = Warc.gzMemberSplits(spark, dir, membersPerSplit = 4).collect()
    assert(splits.length == 16, s"expected 16 record-granular splits, got ${splits.length}")
    // the byte budget also breaks splits: with a ~1-member budget every
    // member becomes its own split (fat records can't grow a span past
    // the single-buffer limit), and the read still hash-matches
    val fine = Warc.gzMemberSplits(spark, dir, membersPerSplit = 64, maxSplitBytes = 1L)
    assert(fine.count() == 64, "a 1-byte budget isolates every member")
    assert(fine.agg(max(col("span"))).head().getLong(0) < 200L, "every span is one member")
    val fineScan = Warc.readArchivesGzIndexedCounted(spark, dir, membersPerSplit = 64)
    assert(fineScan.docs.count() == 64)
    // rows: hash-identical to the whole-file gz reader
    val idxScan = Warc.readArchivesGzIndexedCounted(spark, dir, membersPerSplit = 4)
    val whole = Warc.readArchivesGzCounted(spark, dir)
    val a = idxScan.docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSet
    val b = whole.docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSet
    assert(a == b && a.size == 64, "indexed and whole-file reads must agree exactly")
    assert(idxScan.rejects == 0L)
    // truncate the tail of archive-0: only the LAST split of that
    // archive is damaged — its cleanly-inflated earlier members survive,
    // the shortfall is ONE counted reject, all other splits untouched
    val p0 = java.nio.file.Paths.get(dir, "archive-0.warc.gz")
    java.nio.file.Files.write(p0, java.nio.file.Files.readAllBytes(p0).dropRight(12))
    val damaged = Warc.readArchivesGzIndexedCounted(spark, dir, membersPerSplit = 4)
    val survivors = damaged.docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(damaged.rejects == 1L, s"one damaged split tail = one reject, got ${damaged.rejects}")
    assert((0L until 64L).toSet.diff(survivors) == Set(62L),
      s"only the truncated final member's record is lost, missing: ${(0L until 64L).toSet.diff(survivors)}")
  }

  test("warcgz DSv2: byte-range partitions tile members exactly; pruning skips the body; damage = one marker") {
    import spark.implicits._
    import graft.sources.Warc
    val dir = java.nio.file.Files.createTempDirectory("warcdsv2_spec").toString
    val docs = (0L until 48L)
      .map(i => (i, s"body $i " + ("y" * (i % 11).toInt), "en", s"s${i % 2}", i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Warc.writeArchivesGz(docs, dir, nArchives = 2)
    // tiny ranges: many partitions per archive, every member owned once
    val df = spark.read.format("warcgz").option("maxSplitBytes", 256).load(dir)
    assert(df.rdd.getNumPartitions > 2,
      s"byte ranges must out-parallelize the 2 archives, got ${df.rdd.getNumPartitions}")
    val got = df.where(col("_ok")).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == (0L until 48L).toSet, "every member read exactly once across ranges")
    assert(got(7L) == "body 7 " + ("y" * 7))
    // parity with the function-API reader
    val fn = Warc.readArchivesGzCounted(spark, dir).docs
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == fn)
    // column pruning reaches the scan: no text in ReadSchema
    val pruned = spark.read.format("warcgz").load(dir).select("doc_id", "n_chars")
    val plan = pruned.queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse(plan)
    assert(!readSchema.contains("text"), s"pruned scan must not read text: $readSchema")
    assert(pruned.collect().length == 48)
    // damage: truncate one archive's tail -> exactly one marker row
    val p0 = java.nio.file.Paths.get(dir, "archive-0.warc.gz")
    java.nio.file.Files.write(p0, java.nio.file.Files.readAllBytes(p0).dropRight(10))
    val damaged = spark.read.format("warcgz").load(dir)
    assert(damaged.where(!col("_ok")).count() == 1L, "one aborted tail = one marker")
    assert(damaged.where(col("_ok")).count() == 47L, "cleanly inflated members survive")
    // a span the file can no longer serve AT ALL (shrunk between
    // planning and read): one marker row, never a crash — the shared
    // kernel's degraded branch
    val hp = new org.apache.hadoop.fs.Path(dir, "archive-1.warc.gz")
    val hfs = hp.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val gone = Warc.readGzSpanTuples(hfs, hp, Long.MaxValue / 2, 1024L)
    assert(gone.length == 1 && !gone.head._6 && gone.head._7 == Long.MaxValue / 2,
      s"unservable span = one marker carrying its start offset, got $gone")
  }

  test("span corruption: splicing targets back at the sentinels reconstructs every original document") {
    val docs = Tables.documents(spark, sf)
    val out = TextAnalysis.spanCorruption(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("corrupted"), r.getAs[String]("targets"),
          r.getAs[Long]("n_spans"), r.getAs[Long]("n_masked"), r.getAs[Long]("n_tokens")))).toMap
    val orig = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == orig.keySet)
    var spans = 0L
    var masked = 0L
    var tokens = 0L
    out.foreach { case (id, (corrupted, targets, nSpans, nMasked, nTokens)) =>
      // parse targets into sentinel -> span tokens
      val spanMap = if (nSpans == 0) Map.empty[String, Seq[String]] else {
        val parts = targets.split("(?=<extra_id_\\d+>)").filter(_.nonEmpty)
        parts.map { p =>
          val ws = p.stripSuffix(" ").split(" ", -1)
          ws.head -> ws.tail.toSeq
        }.toMap
      }
      assert(spanMap.keys.toSeq.sorted == (0L until nSpans).map(k => s"<extra_id_$k>").sorted,
        s"doc $id sentinel indices must be 0..${nSpans - 1}")
      val rebuilt = corrupted.split(" ", -1).flatMap { t =>
        if (t.startsWith("<extra_id_")) spanMap(t) else Seq(t)
      }.mkString(" ")
      assert(rebuilt == orig(id), s"doc $id must reconstruct exactly")
      spans += nSpans; masked += nMasked; tokens += nTokens
    }
    // expected corruption rate 150/1000 * 3/10 = 4.5% of tokens
    val rate = masked.toDouble / tokens
    assert(spans > 0 && rate > 0.02 && rate < 0.08, s"corruption rate $rate far from ~4.5%")
  }

  /** Runs `body`, drops what it built, and GCs until ContextCleaner has
    * released every RDD it persisted (60 s deadline). Then no persisted
    * RDD may be left beside those present before, and the CacheManager
    * must be empty.
    */
  private def assertReleased(body: => Unit): Unit = {
    import org.apache.spark.graft.SparkInternals
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    body
    def added = sc.getPersistentRDDs.keySet -- before
    def released = SparkInternals.cacheManagerIsEmpty(spark) && added.isEmpty
    val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
    while (!released && System.nanoTime < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(SparkInternals.cacheManagerIsEmpty(spark), "a Dataset.persist was never released")
    assert(added.isEmpty, s"persisted RDDs outlived their frames: $added")
  }

  test("qualityCalibrated and the pair kernels leave nothing pinned once unreachable") {
    assertReleased {
      val docs = Tables.documents(spark, sf)
      val rep = TextAnalysis.qualityCalibrated(docs, "doc_id", "text", "source", keepMille = 700)
      assert(rep.count() > 0)
      assert(Dedup.ppjoinPairs(docs, "doc_id", "text", n = 3, tau = 0.5).count() > 0)
      assert(Dedup.cdcPairs(docs, "doc_id", "text", minShared = 2L).count() > 0)
      assert(Dedup.containmentPairs(docs, "doc_id", "text", n = 3, tau = 0.8).count() > 0)
      // the ANN family: the outer prep copy and the banded route's
      // internal vector copy (forced via maxExactRows = 0)
      val embs = Tables.embeddings(spark, sf)
      assert(Similarity.lshPairs(embs, "vec_id", "embedding", tau = 0.4, dims = 64, nBits = 6).count() > 0)
      assert(Similarity.nearDupPairs(embs, "vec_id", "embedding", tau = 0.4, dims = 64, maxExactRows = 0L).count() > 0)
      assert(Similarity.nearDupPairsExactFirst(
        embs, "vec_id", "embedding", tau = 0.4, dims = 64, maxExactRows = 0L).count() > 0)
    }
  }

  test("corpus dedup path (minhash, clusters, ppjoin, funnels) pins nothing once unreachable") {
    assertReleased {
      val docs = Tables.documents(spark, sf)
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3, tau = 0.3)
      assert(pairs.collect().nonEmpty)
      val (members, rounds) = Dedup.clustersWithRounds(pairs)
      assert(members.collect().nonEmpty && rounds > 0)
      assert(Dedup.ppjoinPairs(docs, "doc_id", "text", 3, 0.5).collect().nonEmpty)
      assert(Dedup.ppjoinFunnel(docs, "doc_id", "text", 3, 0.5)("verified_pairs") > 0)
      assert(Dedup.minhashLshFunnel(docs, "doc_id", "text", n = 3, tau = 0.3)("n_verified_pairs") > 0)
    }
  }

  test("the index builders, triangles and BPE training pin nothing once unreachable") {
    assertReleased {
      val embs = Tables.embeddings(spark, sf)
      val delta = embs.where(col("vec_id") % 10 === 0)
      val ivf = Similarity.buildIvfIndex(embs, "vec_id", "embedding", nlist = 8)
      assert(Similarity.ivfProbe(ivf, col("id") < 5, k = 5).count() > 0)
      assert(Similarity.ivfTopK(embs, "vec_id", "embedding", col("id") < 5, k = 5).count() > 0)
      assert(Similarity.semanticPairsAuto(embs, "vec_id", "embedding", tau = 0.4).count() > 0)
      val pq = Similarity.buildPqIndex(embs, "vec_id", "embedding", nlist = 8)
      assert(Similarity.pqProbe(pq, col("id") < 5, k = 5).count() > 0)
      assert(Similarity.ivfAppend(ivf, delta, "vec_id", "embedding").assigned.count() > 0)
      assert(Similarity.pqAppend(pq, delta, "vec_id", "embedding").coded.count() > 0)
      val lsh = Similarity.buildLshIndex(embs, "vec_id", "embedding", dims = 64, nBits = 6)
      assert(Similarity.lshTopKOn(lsh, col("id") < 5, k = 5).count() > 0)
      val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("x", "y")
      assert(graft.ext.Graph.triangles(edges, "x", "y").count() == 4L)
      val (merges, vocab) = TextAnalysis.bpeTrainVocab(Tables.documents(spark, sf), "text", nMerges = 3)
      assert(merges.nonEmpty && vocab.count() > 0)
    }
  }

  /** Twelve 30-token documents; each (a, b) in `dups` makes b a copy of a
    * with its last token changed (3-shingle Jaccard 27/29).
    */
  private def plantedCorpus(seed: Int, dups: Seq[(Long, Long)]): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val base = (1L to 12L).map(id => id -> Seq.fill(30)(s"w${rnd.nextInt(5000)}")).toMap
    val copied = dups.map { case (a, b) => b -> (base(a).init :+ s"edit$b") }.toMap
    (1L to 12L).map(id => id -> copied.getOrElse(id, base(id)).mkString(" "))
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"), r.getAs[Double]("jaccard"))).toSet

  test("minhash_pairs over a replaced view returns the new corpus's pairs") {
    graft.functions.GraftExtensions.install(spark)
    val first = plantedCorpus(1, Seq(1L -> 2L)).toDF("doc_id", "text")
    first.createOrReplaceTempView("graft_stale_docs")
    val before = pairSet(spark.sql("SELECT * FROM minhash_pairs('graft_stale_docs')"))
    assert(before.map(p => (p._1, p._2)) == Set((1L, 2L)))
    val second = plantedCorpus(2, Seq(3L -> 4L, 5L -> 9L)).toDF("doc_id", "text")
    second.createOrReplaceTempView("graft_stale_docs")
    val after = pairSet(spark.sql("SELECT * FROM minhash_pairs('graft_stale_docs')"))
    assert(after == pairSet(Dedup.minhashLshPairs(second, "doc_id", "text", tau = 0.5)))
    assert(after.map(p => (p._1, p._2)) == Set((3L, 4L), (5L, 9L)))
  }

  test("artifacts of sibling dirs with equal String hashes stay apart; reuse builds nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft-artifacts").toString
    val (dirA, dirB) = (s"$root/Aa", s"$root/BB")
    assert(dirA.hashCode == dirB.hashCode)
    plantedCorpus(3, Seq(1L -> 2L)).toDF("doc_id", "text").write.parquet(s"$dirA/documents.parquet")
    plantedCorpus(4, Seq(6L -> 7L)).toDF("doc_id", "text").write.parquet(s"$dirB/documents.parquet")
    val query = SparkEntry.queries("dedup_minhash_lsh")
    // build both artifacts before reading either: a shared file name
    // would let the second build overwrite the first's output
    val (builtA, builtB) = (query(spark, dirA), query(spark, dirB))
    val (gotA, gotB) = (pairSet(builtA), pairSet(builtB))
    def fresh(dir: String) = pairSet(Dedup.minhashLshPairs(
      Tables.documents(spark, dir), "doc_id", "text", n = 3, perms = 16, bands = 4, tau = 0.3))
    assert(gotA == fresh(dirA) && gotA.map(p => (p._1, p._2)) == Set((1L, 2L)))
    assert(gotB == fresh(dirB) && gotB.map(p => (p._1, p._2)) == Set((6L, 7L)))
    val builds = Artifacts.buildCount
    assert(pairSet(query(spark, dirA)) == gotA && pairSet(query(spark, dirB)) == gotB)
    assert(Artifacts.buildCount == builds, "a repeat call on an unchanged dir rebuilt its artifact")
  }

  test("imageBlockhash: words match the fill arithmetic; twins pair at 0; markers counted, never paired") {
    import spark.implicits._
    // independent model straight from the synthesis fill — no shared
    // code with the kernel (which walks DECODED pixels via ImageIO)
    def modelWords(w: Int, h: Int, salt: Int): Array[Long] = {
      val sums = new Array[Long](64); val counts = new Array[Long](64)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 1000003 + y * 4099 + salt * 7919) & 0xffffff
        val cell = (y * 8 / h) * 8 + x * 8 / w
        sums(cell) += ((v >> 16) & 0xff) + ((v >> 8) & 0xff) + (v & 0xff)
        counts(cell) += 1
      }
      val fp = Array.tabulate(64)(i => (sums(i) * 20000 + counts(i)) / (2 * counts(i)))
      val thr = fp.sorted.apply(32)
      val words = new Array[Long](4)
      for (k <- 0 until 64) if (fp(k) > thr) words(k / 16) |= 1L << (k % 16)
      words
    }
    val payloads = Seq(
      (0L, Multimodal.synthImage("png", 24, 16)),
      (1L, Multimodal.synthImage("png", 24, 16, salt = 1)),
      (2L, "not an image".getBytes("UTF-8")),
      (3L, Multimodal.synthImage("bmp", 24, 16)),
      (4L, Multimodal.synthImage("png", 4, 4))).toDF("doc_id", "payload")
    val out = Multimodal.imageBlockhash(payloads, "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(0L, 1L, 3L)) {
      val salt = if (id == 1L) 1 else 0
      val exp = modelWords(24, 16, salt)
      assert(out(id).getBoolean(1), s"id $id must decode")
      assert((0 until 4).forall(j => out(id).getLong(2 + j) == exp(j)),
        s"id $id words must match the fill model")
    }
    assert(!out(2L).getBoolean(1) && out(2L).isNullAt(2), "text payload: counted marker row")
    assert(!out(4L).getBoolean(1), "sub-grid raster: marker row, not a partial hash")

    // pair set == brute force over the model hashes, markers excluded
    val hs = Map(0L -> modelWords(24, 16, 0), 1L -> modelWords(24, 16, 1), 3L -> modelWords(24, 16, 0))
    val brute = (for {
      a <- hs.keys; b <- hs.keys if a < b
      d = (0 until 4).map(j => java.lang.Long.bitCount(hs(a)(j) ^ hs(b)(j))).sum
      if d <= 3
    } yield (a, b, d.toLong)).toSet
    val pairs = Multimodal.imagePhashPairs(payloads, "doc_id", "payload", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == brute, s"banded pairs must equal brute force: $pairs vs $brute")
    assert(pairs.exists(p => p._1 == 0L && p._2 == 3L && p._3 == 0L),
      "png/bmp encodes of the same raster are perceptual twins at Hamming 0")
    val xf = Multimodal.imagePhashPairs(payloads, "doc_id", "payload", maxDist = 3, exactFirst = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(xf == pairs, s"exact-first collapse+expand: pair parity, $xf vs $pairs")
  }

  test("exciseDuplicateChunks: keep-first excision matches an independent election over the chunk table") {
    import spark.implicits._
    val corpus = Tables.documents(spark, sf)
    val base = corpus.orderBy("doc_id").limit(12).collect().map(_.getAs[String]("text"))
    // a passage long enough (several expected-64-char chunks) that
    // interior CDC boundaries exist inside it
    val passage = base.take(6).mkString(" ")
    // doc 0: original; doc 1: byte-identical copy; doc 2: the same
    // passage embedded behind an edited prefix (CDC must still excise
    // the interior chunks); doc 3: unrelated; doc 4: empty
    val docs = Seq(
      (0L, passage),
      (1L, passage),
      (2L, "EDITED PREFIX " + passage + " EDITED SUFFIX"),
      (3L, base.drop(6).mkString(" ")),
      (4L, "")).toDF("doc_id", "text")
    val out = Dedup.exciseDuplicateChunks(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap

    // independent election: replay keep-first over the raw chunk table
    val ch = Dedup.cdcChunks(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("start_pos"), r.getAs[Long]("len"), r.getAs[String]("chunk_md5")))
    val owner = ch.groupBy(_._5).map { case (h, occ) => h -> occ.map(o => (o._1, o._2)).min }
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (id <- texts.keys) {
      val mine = ch.filter(_._1 == id).sortBy(_._2)
      val expectKept = mine.filter(c => owner(c._5) == ((c._1, c._2)))
      val expectClean = expectKept
        .map(c => texts(id).substring(c._3.toInt - 1, (c._3 + c._4 - 1).toInt)).mkString
      val (nChunks, nKept, clean) = out(id)
      assert(nChunks == mine.length.toLong, s"doc $id n_chunks")
      assert(nKept == expectKept.length.toLong, s"doc $id n_kept")
      assert(clean == expectClean, s"doc $id clean_text mismatch")
    }
    // the identical copy must excise to nothing; the original keeps at
    // least its first chunk; empty doc passes through with zero chunks
    assert(out(1L)._3.isEmpty && out(1L)._2 == 0L, "identical copy must vanish")
    assert(out(0L)._2 >= 1L && out(0L)._3.nonEmpty, "first occurrence keeps content")
    assert(out(4L) == ((0L, 0L, "")), "empty doc: zero chunks, empty clean_text")
    // doc 2 shares interior chunks with doc 0 ⇒ some excised, some kept
    assert(out(2L)._2 < out(2L)._1, "embedded copy must lose its interior duplicated chunks")
    assert(out(2L)._3.nonEmpty, "edited prefix/suffix must survive")
  }

  test("typedJson reject flag: malformed, missing field, JSON null, wrong type all flag; clean rows pass") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      (1L, """{"k": 7, "s": "x"}"""), // clean
      (2L, """{"k": 7}"""), // s missing
      (3L, """{"k": null, "s": "x"}"""), // JSON null
      (4L, """not json at all"""), // malformed
      (5L, """{"k": "abc", "s": "x"}""") // k not castable to BIGINT
    ).toDF("id", "props")
    val out = graft.ext.SemiStructured.typedJson(rows, "props", "k BIGINT, s STRING")
      .select(col("id"), col("_json_ok"), col("_parsed.k"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.get(2))))).toMap
    assert(out(1L) == ((true, Some(7L))))
    assert(out(2L)._1 == false && out(2L)._2 == Some(7L), "missing field flags but keeps parsed k")
    assert(out(3L)._1 == false)
    assert(out(4L) == ((false, None)))
    assert(out(5L)._1 == false && out(5L)._2 == None, "uncastable value nulls the field and flags")
  }

  test("jsonKeyProfile: key histogram with integer/numeric/null votes; nested values vote string") {
    val rows = Seq(
      """{"a": 1, "b": "x"}""",
      """{"a": -22, "b": 2.5}""",
      """{"a": 3.0, "c": null}""",
      """{"a": 4, "d": {"nested": 1}}""",
      """garbage""" // malformed: contributes to no key
    ).toDF("props")
    val out = graft.ext.SemiStructured.jsonKeyProfile(rows, "props")
      .collect()
      .map(r => r.getAs[String]("key") ->
        ((r.getAs[Long]("n_present"), r.getAs[Long]("n_int"), r.getAs[Long]("n_num"), r.getAs[Long]("n_null"))))
      .toMap
    assert(out("a") == ((4L, 3L, 4L, 0L))) // -22 is int; 3.0 numeric-only
    assert(out("b") == ((2L, 0L, 1L, 0L)))
    assert(out("c") == ((1L, 0L, 0L, 1L)))
    assert(out("d")._1 == 1L && out("d")._2 == 0L, "nested object votes non-numeric")
  }
}
