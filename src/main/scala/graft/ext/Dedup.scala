package graft.ext

import graft.bridge.SqlBridge.{persistRows, persistedRowCount, releaseRows}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Deduplication operators for LLM-training-data pipelines (builder brief).
  *
  * Scale design (100 TB): exact dedup is a hash groupBy (one shuffle,
  * partial-aggregated). Near-dup goes through CANDIDATE GENERATION
  * (MinHash-LSH banding or SimHash banding — equi-joins on short keys,
  * never an O(n²) cross join) followed by pairwise VERIFICATION only on
  * candidates. The exact all-pairs n-gram Jaccard here doubles as the
  * small-scale oracle for those candidate paths.
  *
  * All hashing is md5-based (identical on Spark and DuckDB) so every stage
  * can be oracle-checked in SQL.
  *
  * Intermediates: a table that several branches of a kernel's plan read
  * (the shingle-hash sets, the signature table, the chunk table), or that
  * callers read again (the MinHash pair table), is materialized once with
  * `SqlBridge.persistRows` while the frame is built. Nothing enters the
  * CacheManager; ContextCleaner releases the rows once the returned frame
  * is unreachable, and a lost block recomputes from lineage. So every function here returns a plain
  * frame: there is no scope to enter and nothing to unpersist.
  */
object Dedup {

  /** Exact dedup by content: canonical (minimum) id + multiplicity.
    * Groups by the 128-bit md5 of the text, not the text itself: the
    * shuffle then moves a 16-byte key per row instead of the document
    * body — at 100 TB that is the difference between exchanging hashes
    * and exchanging the corpus. 128-bit collision odds are negligible
    * (~n²/2¹²⁸); the result is identical to grouping by the raw text.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("_k"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("cnt"))
      .select("canonical_id", "cnt")

  /** Distinct word n-gram shingles per document, as an array column.
    * Documents shorter than `n` words yield an EMPTY array — without the
    * guard, sequence(0, size−n) runs DESCENDING for short docs and the
    * transform evaluates slice(words, 0, n), which throws at runtime
    * (the typed kernels already emit zero shingles for short docs; this
    * keeps the Catalyst path consistent).
    */
  def shingleArray(text: Column, n: Int): Column = {
    val w = split(text, " ")
    when(
      size(w) >= n,
      array_distinct(
        transform(sequence(lit(0), size(w) - n), i => concat_ws(" ", slice(w, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exploded (id, shingle) pairs. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), explode(shingleArray(col(textCol), n)).as("g"))

  /** Exact n-gram Jaccard near-dup pairs (threshold τ): intersection via
    * shingle equi-join + per-doc set sizes. Deterministic, SQL-oracle-able.
    *
    * All-pairs exact Jaccard is inherently quadratic in shared shingles;
    * the two scale levers are `blockCol` (pairwise compare only within a
    * blocking key — the standard blocked-dedup pattern; the shingle join
    * gains the block equi-key) and `minhashLshPairs` (probabilistic
    * candidates, then exact verify).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      tau: Double,
      blockCol: Option[String] = None): DataFrame = {
    // Shingle + hash in a typed mapPartitions and join on the 32-bit md5
    // hash: lighter shuffle than strings, and — measured — the nested
    // array-lambda Catalyst formulation (split re-evaluated per lambda
    // element, generated code too large to stay JIT-compiled) runs 10-30×
    // slower and degrades further within a long-lived JVM.
    val spark = df.sparkSession
    import spark.implicits._
    val blk = blockCol.map(c => col(c).cast("string")).getOrElse(lit(""))
    val hashed = df
      .select(col(idCol).cast("long").as("id"), blk.as("blk"), col(textCol).as("text"))
      // a small corpus arrives as one parquet split; fan out so hashing,
      // the probe side, and the pair aggregation parallelize. HASH by id,
      // not round-robin (r16, every kernel fan-out in this file): a
      // keyless repartition sorts its input per map task first
      // (spark.sql.execution.sortBeforeRepartition, needed for retry
      // determinism of round-robin) — on a single-split corpus that is a
      // SERIAL sort of the full document text (measured as one ~10 s
      // CPU-bound task at the 100x probe, the whole anti-scaling wall of
      // corpus_source_sim); unique-id hash needs no sort and is
      // deterministic under task retries outright (guide §2.5 /
      // SPARK-38388).
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, b, text) =>
          // byte-range kernel: sorted is a superset of the old unsorted
          // contract (downstream is explode + size, order-free)
          (id, b, sortedDistinctShingleHash32(md, tokenBytes(text), n))
        }
      }
      .toDF("id", "blk", "hs")
    val sh = hashed.select(col("id"), col("blk"), explode(col("hs")).as("h"))
    val sizes = hashed.select(col("id"), size(col("hs")).as("n"))
    val inter = sh.as("a")
      .join(
        sh.as("b"),
        col("a.blk") === col("b.blk") && col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("da"), col("b.id").as("db"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("id").as("db"), col("n").as("nb")), "db")
      .withColumn("jaccard", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .where(col("jaccard") >= tau)
      .select(col("da"), col("db"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Directed shingle-containment pairs: C(A→B) = |S(A)∩S(B)| / |S(A)|,
    * the ASYMMETRIC companion to Jaccard. Jaccard misses the excerpt
    * case — a 50-shingle quote inside a 5000-shingle page scores
    * J ≈ 0.01 but C(quote→page) = 1.0 — which is exactly the sub-document
    * duplication (syndicated snippets, quoted passages, subset pages) a
    * training pipeline must catch to avoid double-counting content that
    * survives symmetric dedup. Rows are DIRECTED: (inner_id, outer_id)
    * means inner's shingle set lies (fraction ≥ τ) inside outer's; both
    * directions are emitted independently, so full twins appear twice at
    * 1.0 while true excerpts appear once. `jaccard` rides along — a row
    * with high containment and low jaccard IS the excerpt signal.
    *
    * Scale levers, mirrored exactly in the SQL oracle: a document-
    * frequency cap (shingles in > maxDf docs are boilerplate — no
    * containment signal, and the quadratic join blow-up at corpus
    * scale), and a minShingles floor (containment over a 2-shingle set
    * is noise). Intersections count 32-bit md5 shingle HASHES on both
    * engines (same collision behavior), computed once per unordered
    * pair and fanned to the two directed rows.
    *
    * The shingle-hash table, which the result plan reads from several
    * branches, is materialized when the frame is built (the object's
    * intermediates rule).
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      tau: Double,
      minShingles: Int = 8,
      maxDf: Int = 100000): DataFrame =
    containmentStages(df, idCol, textCol, n, tau, minShingles, maxDf).out

  /** Candidate-funnel counts for `containmentPairs` — the pruning
    * evidence (kept shingle rows vs prefix rows vs candidates vs
    * verified directed rows), sharing the exact production pipeline so
    * the funnel can never drift from it (the ppjoinFunnel pattern).
    */
  def containmentFunnel(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      tau: Double,
      minShingles: Int = 8,
      maxDf: Int = 100000): Map[String, Long] = {
    val st = containmentStages(df, idCol, textCol, n, tau, minShingles, maxDf)
    val docs = persistedRowCount(st.hashed)
    Map(
      "docs" -> docs,
      "all_pairs" -> docs * (docs - 1) / 2,
      "kept_shingle_rows" -> st.khf.count(),
      "prefix_rows" -> st.prefix.count(),
      "candidates" -> st.cand.count(),
      "verified_rows" -> st.out.count())
  }

  /** Fuzzy (containment-based) eval-set decontamination — the near-dup
    * counterpart of [[contaminationPairs]]. Exact n-gram decontamination
    * misses PARAPHRASED contamination: edit every third token of an eval
    * answer and no trigram survives verbatim, yet most of its BIGRAMS
    * still appear in the training copy. This kernel scores each train
    * doc by directed shingle containment FROM the probe — C(probe→train)
    * = |S(probe)∩S(train)| / |S(probe)| — so a short eval item buried in
    * a long train doc scores 1.0 where symmetric Jaccard sees ~0 (the
    * Dolma/FineWeb-style decontamination rule: drop the train doc when a
    * large fraction of the eval item's content appears in it).
    *
    * Output is a per-TRAIN-doc LEDGER (every train doc, one row, the
    * curation_ledger convention): contamination verdict, match count,
    * the best-matching probe (highest containment, min probe id on
    * ties) and its score, and the pipeline action ('drop'/'keep').
    *
    * Scale shape (the asymmetric prefix filter, same argument as
    * `containmentPairs`): document frequency is counted over the UNION
    * of both sides (boilerplate lives in both) and capped at `maxDf`;
    * only the probe's rarest (1−τ) prefix enters the candidate join
    * against the train side's kept shingles — LOSSLESS for C ≥ τ — and
    * exact intersections run in-row on sorted hash arrays for surviving
    * candidates only. The probe side is the small side by construction
    * (eval suites are thousands of items against billions of train
    * docs), so the prefix join broadcasts it at scale.
    */
  def fuzzyDecontamination(
      train: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      tau: Double,
      minShingles: Int = 4,
      maxDf: Int = 100000): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0,1], got $tau")
    require(minShingles >= 1, s"minShingles must be >= 1, got $minShingles")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    // materialized once each: the md5 shingle kernel feeds the df-count
    // union, both kept sides, the prefix and both verify arrays — ~7
    // consumers that would each re-tokenize the corpus
    val ht = persistRows(shingledSets(train, idCol, textCol, n))
    val hp = persistRows(shingledSets(probe, idCol, textCol, n))
    val shT = ht.select(col("id"), explode(col("hs")).as("h"))
    val shP = hp.select(col("id"), explode(col("hs")).as("h"))
    // boilerplate cap over BOTH sides: a navigation shingle common to
    // train pages and eval scrapes carries no contamination signal
    val dfh = shT.unionByName(shP).groupBy(col("h")).agg(count(lit(1)).as("dfreq"))
    val keptT = shT.join(dfh.where(col("dfreq") <= maxDf), "h")
    val keptP = shP.join(dfh.where(col("dfreq") <= maxDf), "h")
    val sizesP = keptP.groupBy(col("id")).agg(count(lit(1)).as("na"))
      .where(col("na") >= minShingles)
    val sizesT = keptT.groupBy(col("id")).agg(count(lit(1)).as("nb"))
    // probe-side rarest-first prefix: missing all of the first
    // na − ⌈τ·na⌉ + 1 shingles bounds the intersection below ⌈τ·na⌉.
    // The ceil runs on (na·τ − 1e-9): when the true product sits on an
    // integer k, fp noise in na*τ can land a hair ABOVE k and a bare
    // ceil would demand k+1 — pruning a pair the exact verify accepts.
    // Subtracting the epsilon only ever LOWERS the bound (more
    // candidates), so losslessness is unconditional.
    val tauBound = s"CAST(ceil(na * $tau - 1e-9) AS BIGINT)"
    val byRarity = Window.partitionBy(col("id")).orderBy(col("dfreq"), col("h"))
    val prefixP = keptP.join(sizesP, "id")
      .withColumn("rn", row_number().over(byRarity))
      .where(col("rn") <= col("na") - expr(tauBound) + 1)
      .select(col("id").as("probe_id"), col("h"), col("na"))
    val cand = prefixP
      .join(keptT.select(col("id").as("train_id"), col("h")), "h")
      .join(sizesT.select(col("id").as("train_id"), col("nb")), "train_id")
      .where(col("nb") >= expr(tauBound))
      .select(col("probe_id"), col("train_id"))
      .distinct()
    val arrP = keptP.groupBy(col("id"))
      .agg(sort_array(collect_list(col("h"))).as("hsp"), count(lit(1)).as("na"))
    val arrT = keptT.groupBy(col("id"))
      .agg(sort_array(collect_list(col("h"))).as("hst"))
    // verify on the RAW ratio (the containmentPairs convention): the
    // rounded form would accept i just below τ·na that the lossless
    // candidate bound correctly prunes — round(4) is for REPORTING only
    val hits = cand
      .join(arrP.select(col("id").as("probe_id"), col("hsp"), col("na")), "probe_id")
      .join(arrT.select(col("id").as("train_id"), col("hst")), "train_id")
      .withColumn("i", size(array_intersect(col("hsp"), col("hst"))).cast("long"))
      .withColumn("c_raw", col("i").cast("double") / col("na"))
      .where(col("c_raw") >= tau)
      .withColumn("containment", round(col("c_raw"), 4))
    // ledger: every train doc, best match by (containment desc, probe asc)
    val best = hits
      .groupBy(col("train_id"))
      .agg(
        count(lit(1)).as("n_probe_matches"),
        max(struct(col("containment"), (-col("probe_id")).as("neg_probe"))).as("_b"))
      .select(
        col("train_id"),
        col("n_probe_matches"),
        (-col("_b.neg_probe")).as("best_probe_id"),
        col("_b.containment").as("max_containment"))
    train.select(col(idCol).cast("long").as("train_id")).distinct()
      .join(best, Seq("train_id"), "left")
      .select(
        col("train_id"),
        col("n_probe_matches").isNotNull.as("contaminated"),
        coalesce(col("n_probe_matches"), lit(0L)).as("n_probe_matches"),
        col("best_probe_id"),
        col("max_containment"),
        when(col("n_probe_matches").isNotNull, lit("drop")).otherwise(lit("keep")).as("action"))
  }

  /** Per-doc distinct sorted 32-bit shingle-hash arrays — the shared
    * front end of the containment kernels (md5 kernel, set semantics).
    */
  private def shingledSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      // fan out before hashing (the sibling shingle kernels' rule): a
      // small corpus arriving as one parquet split would otherwise
      // tokenize+md5 on a single core for all downstream consumers
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val words = text.split(" ", -1)
          val hs = (0 to words.length - n).iterator
            .map(i => words.slice(i, i + n).mkString(" "))
            .toSet[String]
            .map(g => shingleHash32(md, g))
            .toArray
          java.util.Arrays.sort(hs)
          (id, hs)
        }
      }
      .toDF("id", "hs")
  }

  private final case class ContainmentStages(
      hashed: DataFrame,
      khf: DataFrame,
      prefix: DataFrame,
      cand: DataFrame,
      out: DataFrame)

  /** The containment pipeline, shared by `containmentPairs` and
    * `containmentFunnel`. Candidate generation uses the ASYMMETRIC
    * prefix filter — the PPJoin argument adapted to containment: if
    * C(A→B) = i/na ≥ τ then i ≥ ⌈τ·na⌉, so A∩B must touch A's
    * rarest-first prefix of length na − ⌈τ·na⌉ + 1 (missing all of it
    * bounds i ≤ ⌈τ·na⌉ − 1). LOSSLESS, so the oracle stays the naive
    * full shingle join; only A's ~(1−τ) rarest shingles enter the join
    * (the B side joins its full set — containment has no symmetric
    * shrink), plus the length bound nb ≥ ⌈τ·na⌉. Exact intersections are
    * in-row sorted-array intersects on the surviving candidates, never a
    * token-level pair explosion.
    */
  private def containmentStages(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      tau: Double,
      minShingles: Int,
      maxDf: Int): ContainmentStages = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0,1], got $tau")
    require(minShingles >= 1, s"minShingles must be >= 1, got $minShingles")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    val spark = df.sparkSession
    import spark.implicits._
    // materialized once: the md5 kernel feeds the df-count, prefix,
    // candidate and both verify branches (the ppjoinStages pattern)
    val hashed = persistRows(df
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          (id, sortedDistinctShingleHash32(md, tokenBytes(text), n))
        }
      }
      .toDF("id", "hs"))
    val sh = hashed.select(col("id"), explode(col("hs")).as("h"))
    // document frequency drives BOTH the boilerplate cap and the
    // rarest-first prefix ordering
    val dfh = sh.groupBy(col("h")).agg(count(lit(1)).as("dfreq"))
    val kh = sh.join(dfh.where(col("dfreq") <= maxDf), "h")
    // per-doc KEPT size is the containment denominator: a doc whose text
    // is pure boilerplate (all shingles capped away) exits here rather
    // than scoring 0/0; the floor also keeps 2-shingle noise out
    val sizes = kh.groupBy(col("id")).agg(count(lit(1)).as("nk"))
      .where(col("nk") >= minShingles)
    val khf = kh.join(sizes, "id")
    val byRarity = Window.partitionBy(col("id")).orderBy(col("dfreq"), col("h"))
    val prefix = khf
      .withColumn("rn", row_number().over(byRarity))
      .where(col("rn") <= col("nk") - expr(s"CAST(ceil(nk * $tau) AS BIGINT)") + 1)
      .select(col("id").as("ia"), col("h"), col("nk").as("na"))
    val cand = prefix
      .join(khf.select(col("id").as("ib"), col("h"), col("nk").as("nb")), "h")
      .where(col("ia") =!= col("ib") && col("nb") >= expr(s"CAST(ceil(na * $tau) AS BIGINT)"))
      .select(least(col("ia"), col("ib")).as("da"), greatest(col("ia"), col("ib")).as("db"))
      .distinct()
    // verify on per-doc KEPT sorted arrays (late materialization)
    val khArr = khf.groupBy(col("id"))
      .agg(sort_array(collect_list(col("h"))).as("khs"), first(col("nk")).as("nk"))
    val ws = cand
      .join(khArr.select(col("id").as("da"), col("khs").as("hsa"), col("nk").as("na")), "da")
      .join(khArr.select(col("id").as("db"), col("khs").as("hsb"), col("nk").as("nb")), "db")
      .withColumn("i", size(array_intersect(col("hsa"), col("hsb"))).cast("long"))
      .select(col("da"), col("db"), col("i"), col("na"), col("nb"))
    val directed = ws.select(
        col("da").as("inner_id"), col("db").as("outer_id"),
        col("i"), col("na").as("n_inner"), col("nb").as("n_outer"))
      .union(ws.select(col("db"), col("da"), col("i"), col("nb"), col("na")))
    val out = directed
      .withColumn("c_raw", col("i").cast("double") / col("n_inner"))
      .where(col("c_raw") >= tau)
      .select(
        col("inner_id"),
        col("outer_id"),
        col("n_inner"),
        col("i").as("n_shared"),
        round(col("c_raw"), 4).as("containment"),
        round(col("i").cast("double") / (col("n_inner") + col("n_outer") - col("i")), 4)
          .as("jaccard"))
    ContainmentStages(hashed, khf, prefix, cand, out)
  }

  /** Incremental (delta-vs-base) containment: for each NEW document, is
    * it already contained (fraction ≥ τ of its shingles) in some stored
    * document — the ingest-time gate that keeps excerpts/quotes of
    * already-held pages from re-entering the corpus, without ever
    * re-pairing the base against itself. Directed one way only:
    * inner = delta, outer = base.
    *
    * Scale shape: the base side contributes its kept (id, shingle-hash)
    * table and its df stats — the STORED INDEX an ingest pipeline
    * maintains across batches; only the (small) delta is hashed fresh.
    * Candidates come from the delta-side rarest-first prefix (ranked by
    * BASE document frequency; delta-only shingles rank df = 0). The
    * prefix filter stays lossless whatever the ranking: A∩B misses at
    * most na − ⌈τ·na⌉ of A's shingles, so it must touch the
    * (na − ⌈τ·na⌉ + 1)-element prefix. Df cap semantics: BASE df only
    * (the index's stats; a boilerplate shingle is one the corpus has
    * seen > maxDf times). Verification is in-row sorted-array
    * intersection on surviving candidate pairs.
    */
  def containmentDelta(
      base: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      tau: Double,
      minShingles: Int = 8,
      maxDf: Int = 100000): DataFrame =
    containmentDeltaOn(
      containmentShingles(base, idCol, textCol, n),
      delta, idCol, textCol, n, tau, minShingles, maxDf)

  /** The stored-index side of [[containmentDeltaOn]]: the distinct
    * (id, h) 32-bit shingle-hash table of a corpus — what an ingest
    * pipeline persists once and reads every batch. Kept separate from
    * the delta pass so the base kernel is NEVER re-run per ingest: the
    * inline [[containmentDelta]] plan references the base table from
    * four branches (df stats, candidate side, size floor, verify
    * arrays), which means four md5-kernel executions of the FULL corpus
    * when fed raw text instead of this artifact.
    */
  def containmentShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          // byte-range kernel; dedupe on the FULL 128-bit digest, not
          // the emitted 32-bit value: this kernel's contract is
          // distinct GRAMS (two distinct grams colliding in the 32-bit
          // prefix must still emit two rows, as the string-set
          // formulation did) — distinct md5 ≡ distinct gram text, the
          // repo's excision-key equivalence
          val tb = tokenBytes(text)
          val nW = tb.nTok - n + 1
          if (nW <= 0) Iterator.empty
          else {
            val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
            var i = 0
            while (i < nW) {
              md.reset()
              md.update(tb.bytes, tb.starts(i), tb.ends(i + n - 1) - tb.starts(i))
              val d = md.digest()
              var h1 = 0L
              var h2 = 0L
              var j = 0
              while (j < 8) { h1 = (h1 << 8) | (d(j) & 0xffL); j += 1 }
              while (j < 16) { h2 = (h2 << 8) | (d(j) & 0xffL); j += 1 }
              if (seen.add((h1, h2))) out += ((id, h1 >>> 32))
              i += 1
            }
            out.iterator
          }
        }
      }
      .toDF("id", "h")
  }

  /** [[containmentDelta]] over a PRECOMPUTED base shingle table
    * (`baseSh` = (id, h), from [[containmentShingles]] — typically a
    * parquet artifact maintained across ingests, the
    * `incrementalPairsOn` pattern).
    */
  def containmentDeltaOn(
      baseSh: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      tau: Double,
      minShingles: Int = 8,
      maxDf: Int = 100000): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0,1], got $tau")
    require(minShingles >= 1 && maxDf >= 2, s"bad floors: $minShingles/$maxDf")
    val bSh = baseSh.select(col("id"), col("h"))
    val dSh = containmentShingles(delta, idCol, textCol, n)
    val bDf = bSh.groupBy(col("h")).agg(count(lit(1)).as("dfreq"))
    // NOT persisted (measured, r15 optimization round: persist+eager
    // count measured 2.38 s -> 3.41 s — InMemoryRelation write+read
    // loses to recompute here). RESTRUCTURED instead (r16, guide §2.4):
    // the old shape consumed the kept-shingle row tables through FOUR
    // separate id-keyed operators per side (size agg, size join, prefix
    // window, verify-array agg), re-planning the kernel+df-join subtree
    // under each — 170 plan nodes / 32 scans for one ingest check, with
    // runtime reuse resting entirely on ReuseExchange matching the
    // repeats. Now each side is aggregated ONCE per doc id — the delta
    // side into a rarity-sorted (dfreq, h) struct array, the base side
    // into its sorted hash array — and the size floor, the rarest-first
    // prefix (a `slice` of the rarity order), the candidate join side
    // (an `explode`), and the verify arrays all DERIVE from that one
    // aggregate: one exchange per side where the old plan asked for
    // four, robust to however AQE re-plans at scale.
    val bK = bSh.join(bDf.where(col("dfreq") <= maxDf).select(col("h")), Seq("h"))
    val dK = dSh.join(bDf, Seq("h"), "left")
      .where(coalesce(col("dfreq"), lit(0L)) <= maxDf)
      .select(col("id"), col("h"), coalesce(col("dfreq"), lit(0L)).as("dfreq"))
    // rh = the doc's kept shingles in GLOBAL rarity order (dfreq asc,
    // h asc — the old window's exact orderBy; equal (dfreq, h) rows are
    // interchangeable, so the multiset slice is order-stable)
    val dA = dK.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("dfreq"), col("h")))).as("rh"))
      .withColumn("na", size(col("rh")).cast("long"))
      .where(col("na") >= minShingles)
    val bA = bK.groupBy(col("id"))
      .agg(sort_array(collect_list(col("h"))).as("bh"))
      .withColumn("nb", size(col("bh")).cast("long"))
      .where(col("nb") >= minShingles)
    val prefix = dA
      .select(
        col("id").as("da"), col("na"),
        explode(expr(s"slice(rh, 1, CAST(na - CAST(ceil(na * $tau) AS BIGINT) + 1 AS INT))"))
          .as("p"))
      .select(col("da"), col("p.h").as("h"), col("na"))
    val cand = prefix
      .join(bA.select(col("id").as("db"), explode(col("bh")).as("h"), col("nb")), "h")
      // a doc id present in BOTH the stored base index and the delta
      // batch (a re-ingest) must not self-pair at containment 1.0
      .where(col("da") =!= col("db") &&
        col("nb") >= expr(s"CAST(ceil(na * $tau) AS BIGINT)"))
      .select(col("da"), col("db")).distinct()
    cand
      .join(
        dA.select(
          col("id").as("da"),
          expr("array_sort(transform(rh, x -> x.h))").as("ah"), col("na")),
        "da")
      .join(bA.select(col("id").as("db"), col("bh"), col("nb")), "db")
      .withColumn("i", size(array_intersect(col("ah"), col("bh"))).cast("long"))
      .withColumn("c_raw", col("i").cast("double") / col("na"))
      .where(col("c_raw") >= tau)
      .select(
        col("da").as("delta_id"),
        col("db").as("base_id"),
        col("na").as("n_delta"),
        col("i").as("n_shared"),
        round(col("c_raw"), 4).as("containment"),
        round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 4).as("jaccard"))
  }

  /** Exact set-similarity self-join by PREFIX FILTERING (the PPJoin
    * family, Xiao et al. 2008): order every document's shingle set by
    * global rarity (document frequency asc, hash asc) and compare only
    * pairs sharing a token inside both documents' first
    * n − ⌈τ·n⌉ + 1 tokens. The filter is LOSSLESS for Jaccard ≥ τ —
    * |A∩B| ≥ τ·|A∪B| ≥ ⌈τ·n⌉ on each side, so a qualifying pair that
    * shared no prefix token would need more overlap than its non-prefix
    * suffix holds — which makes this the candidate generator to reach
    * for when LSH's probabilistic recall loss is not acceptable: banding
    * cost without banding misses. Candidates also pass the length bound
    * min(na,nb) ≥ ⌈τ·max(na,nb)⌉ before verification.
    *
    * Scale shape: one df-count aggregation, a per-document (not global)
    * rank window, a prefix-token equi-join whose volume is driven by
    * RARE tokens (the rarest-first ordering is what keeps bucket sizes
    * small — boilerplate tokens land outside prefixes), and exact
    * verification only for surviving candidates. Output is IDENTICAL to
    * `ngramJaccardPairs` unblocked at the same τ (spec-pinned): same
    * pairs, same scores.
    */
  /** The shared PPJoin pipeline stages: the materialized sorted-hash-set
    * table, the rarest-first prefix rows, the length-filtered candidate
    * pairs and the verified pairs — ONE definition consumed by both
    * `ppjoinPairs` and `ppjoinFunnel` so the funnel's counts can never
    * drift from the production path (the MinHash twin is
    * `MinhashStages`).
    */
  private final case class PpjoinStages(hashed: DataFrame, prefix: DataFrame, cand: DataFrame, out: DataFrame)

  private def ppjoinStages(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      tau: Double): PpjoinStages = {
    require(tau > 0.0 && tau < 1.0, s"tau must be in (0,1), got $tau")
    val spark = df.sparkSession
    import spark.implicits._
    // materialized once: the hash pass feeds four consumers (df counts,
    // prefix build, and both verify sides) — otherwise the md5 kernel
    // recomputes per branch
    val hashed = persistRows(df
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          (id, sortedDistinctShingleHash32(md, tokenBytes(text), n))
        }
      }
      .toDF("id", "hs"))
    val sh = hashed.select(col("id"), explode(col("hs")).as("h"))
    val dfh = sh.groupBy(col("h")).agg(count(lit(1)).as("dfh"))
    val byRarity = Window.partitionBy(col("id")).orderBy(col("dfh"), col("h"))
    val prefix = sh
      .join(dfh, "h")
      .withColumn("rn", row_number().over(byRarity))
      .join(hashed.select(col("id"), size(col("hs")).cast("long").as("n")), "id")
      .where(col("rn") <= col("n") - expr(s"CAST(ceil(n * $tau) AS BIGINT)") + 1)
      .select(col("id"), col("h"), col("n"), col("rn"))
    // POSITIONAL filter (Xiao et al. §4, r16): every doc's set is sorted
    // by the same GLOBAL (dfh, h) total order, so for a pair the shared
    // prefix token with min rn in a has min rn in b too, and — because a
    // shared token globally smaller than it would itself sit inside both
    // prefixes (its per-doc position precedes a prefix position) — it is
    // the pair's globally FIRST shared token overall. Overlap is then
    // bounded by U = 1 + min(na − i, nb − j) at that token's positions
    // (i, j): nothing is shared before it, and at most min of the two
    // suffixes after it. LOSSLESS: true overlap o ≤ U and
    // o/(na+nb−o) is monotone in o — in IEEE doubles too (division is
    // monotone on positive operands), and the filter reuses the verify's
    // own o/(na+nb−o) ≥ τ form, so any pair verify would keep survives.
    // The groupBy replaces the old distinct() — same exchange, same
    // dedup — and the min() aggregates ride it for free; measured on the
    // sf0.1 funnel: candidates 310,161 → see plans/r16/
    // ppjoin_funnel_after.txt, verified_pairs unchanged.
    val posU = lit(1L) + least(col("na") - col("ra"), col("nb") - col("rb"))
    val cand = prefix.as("a")
      .join(prefix.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(
        col("a.id").as("da"), col("b.id").as("db"),
        col("a.n").as("na"), col("b.n").as("nb"),
        col("a.rn").as("ra"), col("b.rn").as("rb"))
      .where(expr(s"least(na, nb) >= CAST(ceil(greatest(na, nb) * $tau) AS BIGINT)"))
      .groupBy(col("da"), col("db"), col("na"), col("nb"))
      .agg(min(col("ra")).as("ra"), min(col("rb")).as("rb"))
      .where(posU.cast("double") / (col("na") + col("nb") - posU) >= tau)
      .select(col("da"), col("db"), col("na"), col("nb"))
    // verify = in-row sorted-array intersection on the surviving
    // candidates (late materialization of the hash sets; no token-level
    // join explosion)
    val out = cand
      .join(hashed.select(col("id").as("da"), col("hs").as("hsa")), "da")
      .join(hashed.select(col("id").as("db"), col("hs").as("hsb")), "db")
      .withColumn("i", size(array_intersect(col("hsa"), col("hsb"))).cast("long"))
      .withColumn("jaccard", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .where(col("jaccard") >= tau)
      .select(col("da"), col("db"), round(col("jaccard"), 4).as("jaccard"))
    PpjoinStages(hashed, prefix, cand, out)
  }

  /** The hash-set table is materialized when the frame is built (the
    * object's intermediates rule); the rest of the plan runs at the
    * caller's first action.
    */
  def ppjoinPairs(df: DataFrame, idCol: String, textCol: String, n: Int, tau: Double): DataFrame =
    ppjoinStages(df, idCol, textCol, n, tau).out

  /** Candidate-funnel counts for `ppjoinPairs` — the pruning evidence
    * BENCH_NOTES tables are built from (all-pairs vs prefix candidates
    * vs verified). Shares the exact candidate pipeline with the
    * production path via `ppjoinStages`.
    */
  def ppjoinFunnel(df: DataFrame, idCol: String, textCol: String, n: Int, tau: Double): Map[String, Long] = {
    // one candidate build feeds every count, and its materializing run
    // counts the documents
    val st = ppjoinStages(df, idCol, textCol, n, tau)
    val docs = persistedRowCount(st.hashed)
    Map(
      "docs" -> docs,
      "all_pairs" -> docs * (docs - 1) / 2,
      "prefix_rows" -> st.prefix.count(),
      "candidates" -> st.cand.count(),
      "verified_pairs" -> st.out.count())
  }

  private val HashP = 2147483647L // 2^31 − 1

  /** 32-bit shingle hash: first 4 bytes of md5, big-endian unsigned —
    * equals DuckDB's `('0x' || substr(md5(g),1,8))::BIGINT` for SQL
    * cross-checks.
    */
  def shingleHash32(md: java.security.MessageDigest, g: String): Long = {
    val d = md.digest(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** One UTF-8 encoding of a doc plus the byte offsets of its
    * single-space tokens: token i spans [starts(i), ends(i)). Because
    * `split(" ", -1)` splits on single spaces, any n-gram
    * `words.slice(i, i+n).mkString(" ")` is exactly the byte range
    * [starts(i), ends(i+n−1)) — UTF-8 is context-free and the space
    * byte never occurs inside a multi-byte sequence — so shingle
    * kernels can md5 byte ranges directly instead of re-allocating and
    * re-encoding every token n times per window (guide §1.2 per-task
    * work; the same device as the excision kernel).
    */
  private[ext] final class TokenBytes(val bytes: Array[Byte], val starts: Array[Int], val ends: Array[Int]) {
    def nTok: Int = starts.length
  }

  private[ext] def tokenBytes(text: String): TokenBytes = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var nTok = 1
    var p = 0
    while (p < bytes.length) { if (bytes(p) == ' '.toByte) nTok += 1; p += 1 }
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var t = 0
    starts(0) = 0
    p = 0
    while (p < bytes.length) {
      if (bytes(p) == ' '.toByte) { ends(t) = p; t += 1; starts(t) = p + 1 }
      p += 1
    }
    ends(t) = bytes.length
    new TokenBytes(bytes, starts, ends)
  }

  /** SORTED DISTINCT 32-bit hashes of a doc's n-gram shingles — the
    * byte-range formulation of `.toSet[String].map(shingleHash32)`
    * (distinct strings mapped to 32-bit hashes IS the distinct set of
    * 32-bit values, so deduping on the hash is exact, not approximate).
    * Sort-then-dedupe instead of a hash set: no boxing, and both
    * consumers (ppjoin, MinHash signatures) want the sorted array
    * anyway.
    */
  private[ext] def sortedDistinctShingleHash32(
      md: java.security.MessageDigest, tb: TokenBytes, n: Int): Array[Long] = {
    val nW = tb.nTok - n + 1
    if (nW <= 0) Array.emptyLongArray
    else {
      val hs = new Array[Long](nW)
      var i = 0
      while (i < nW) {
        md.reset()
        md.update(tb.bytes, tb.starts(i), tb.ends(i + n - 1) - tb.starts(i))
        val d = md.digest()
        hs(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        i += 1
      }
      java.util.Arrays.sort(hs)
      var w = 0
      var r = 0
      while (r < nW) {
        if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
        r += 1
      }
      if (w == nW) hs else java.util.Arrays.copyOf(hs, w)
    }
  }

  /** One typed pass per document: distinct md5 shingle hashes + the
    * MinHash signature over them. Signatures are `perms` universal-hash
    * permutations h_k(x) = (a_k·x + b_k) mod (2³¹−1). Typed mapPartitions
    * rather than Catalyst array lambdas: row-local either way, but the
    * lambda formulation re-evaluates split() per element, inlines the md5
    * subtree per permutation per join side, and its generated code drops
    * out of JIT compilation — measured 10–100× slower.
    */
  def shingleHashesAndSig(df: DataFrame, idCol: String, textCol: String, n: Int, perms: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val xs = sortedDistinctShingleHash32(md, tokenBytes(text), n)
          val sig = new Array[Long](perms)
          if (xs.nonEmpty) {
            var k = 0
            while (k < perms) {
              var m = Long.MaxValue
              var j = 0
              while (j < xs.length) {
                val v = (xs(j) * (k * 2 + 3) + (k * 5 + 7)) % HashP
                if (v < m) m = v
                j += 1
              }
              sig(k) = m
              k += 1
            }
          }
          (id, xs, sig)
        }
      }
      .toDF("id", "hs", "sig")
  }

  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, n: Int, perms: Int): DataFrame =
    shingleHashesAndSig(df, idCol, textCol, n, perms).select("id", "sig")

  /** Exploded (id, band, key) LSH band keys from a signature table — the
    * ONE definition of the band-key layout, shared by the symmetric
    * (`minhashLshPairs`) and incremental (`incrementalPairs`) paths so
    * the two can never drift apart (the shared DuckDB signature CTE
    * replays exactly this).
    */
  private def bandedKeys(docs: DataFrame, bands: Int, rows: Int): DataFrame =
    docs
      .withColumn(
        "bandKeys",
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => concat_ws("-", slice(col("sig"), b * rows + 1, lit(rows)))))
      .select(col("id"), posexplode(col("bandKeys")).as(Seq("band", "key")))

  /** Eval-set decontamination: flag training documents that share ≥
    * `minShared` distinct word n-grams with any probe (benchmark/eval)
    * document — the overlap check every pretraining pipeline runs before
    * training so test sets don't leak into the corpus.
    *
    * Plan shape at 100 TB: the probe side (an eval suite — thousands of
    * docs, not billions) shingles into a small table that BROADCASTS; the
    * training corpus streams through one shingle kernel pass and a
    * broadcast hash join — no corpus shuffle at all until the tiny
    * per-(train, probe) count aggregation of matching pairs. Shingles are
    * compared by their 32-bit md5 hash (same hash as the MinHash
    * pipeline, so the DuckDB oracle replays it verbatim).
    */
  def contaminationPairs(
      train: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minShared: Long): DataFrame = {
    // perms = 0: shingle hashes only — no MinHash signature is computed
    // for work that would be discarded (Catalyst cannot prune inside a
    // typed kernel, so the skip has to happen at the kernel parameter)
    val th = shingleHashesAndSig(train, idCol, textCol, n, perms = 0)
      .select(col("id").as("train_id"), explode(col("hs")).as("h"))
    val ph = shingleHashesAndSig(probe, idCol, textCol, n, perms = 0)
      .select(col("id").as("probe_id"), explode(col("hs")).as("h"))
    th.join(broadcast(ph), "h")
      .groupBy("train_id", "probe_id")
      .agg(count(lit(1)).as("shared_ngrams"))
      .where(col("shared_ngrams") >= minShared)
  }

  /** Occupancy-aware frequent-bucket cap — the companion sizing rule to
    * `Similarity.lshBitsFor` / `ivfListsFor`, closing the last fixed
    * scale parameter in the dedup family. A FIXED cap is a
    * correctness-at-scale trap, not just a perf one: under corpus
    * replication / re-crawls, TRUE duplicate-cluster multiplicity grows
    * linearly with the corpus, so a fixed `maxBucket=100` silently drops
    * exactly the band buckets holding the real cross-source twins once
    * multiplicity passes 100 (measured: the 100× funnel's 919 capped
    * buckets zeroed `graph_pagerank`'s whole edge slice, BENCH_NOTES r8).
    *
    * Rule: a bucket is a boilerplate/collision artifact only if it holds
    * more than `frac` (0.2%) of the corpus — below that it is plausibly a
    * genuine duplicate cluster and must survive. cap =
    * clamp(ceil(n·frac), floor, ceilCap). The floor keeps every gate /
    * unit fixture (n ≤ 50k) at the oracle-pinned 100, so auto == pinned
    * where the oracle replays it; the ceiling bounds single-bucket pair
    * enumeration (cap²/2) — a cluster past `ceilCap` duplicates is
    * `Dedup.exact`'s job (identical text) or a representative-sampling
    * problem, not pair enumeration.
    */
  def maxBucketFor(
      n: Long,
      frac: Double = 0.002,
      floor: Int = 100,
      ceilCap: Int = 10000): Int = {
    require(n >= 0 && frac > 0 && floor >= 1 && ceilCap >= floor)
    math.min(ceilCap.toLong, math.max(floor.toLong, math.ceil(n * frac).toLong)).toInt
  }

  /** The shared MinHash-LSH pipeline stages: the materialized signature
    * table, the frequent-bucket cap, the band-bucket sizes, the capped
    * candidate pairs and the materialized verified pairs — ONE definition
    * consumed by both `minhashLshPairs` and `minhashLshFunnel`, so the
    * funnel's counts can never drift from the production path (the
    * PPJoin twin is `PpjoinStages`).
    */
  private final case class MinhashStages(docs: DataFrame, cap: Int, sizes: DataFrame, cand: DataFrame, out: DataFrame)

  private def minhashStages(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      perms: Int,
      bands: Int,
      tau: Double,
      maxBucket: Int): MinhashStages = {
    val spark = df.sparkSession
    val rows = perms / bands
    // the signature table (id + hashes + sig, ~1 KB/doc at any scale) is
    // consumed four times below (bucket sizes, both candidate sides, the
    // verify sets) — materialize it once, the standard minhash practice,
    // and before the fan-out: otherwise the four consumers race to compute
    // the same partitions concurrently (observed as "Block rdd_* already
    // exists" churn and a >10× wall-time blowup)
    val docs = persistRows(shingleHashesAndSig(
      df.repartition(spark.sparkContext.defaultParallelism, col(idCol)), idCol, textCol, n, perms))
    val cap = if (maxBucket > 0) maxBucket else maxBucketFor(persistedRowCount(docs))
    val banded = bandedKeys(docs, bands, rows)
    // frequent-bucket skip: a band bucket holding > maxBucket docs is a
    // collision artifact and would contribute O(bucket²) candidate pairs —
    // dropping such buckets bounds the candidate join at ANY corpus size
    // (standard LSH fan-out protection; exact duplicates that large are
    // `exact` dedup's job).
    val sizes = banded.groupBy("band", "key").agg(count(lit(1)).as("_c"))
    val smallBuckets = sizes.where(col("_c") <= cap && col("_c") > 1).select("band", "key")
    val kept = banded.join(smallBuckets, Seq("band", "key"), "left_semi")
    val cand = kept.as("a")
      .join(kept.as("b"), col("a.band") === col("b.band") && col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("da"), col("b.id").as("db"))
      .distinct()
    // verify candidates with exact Jaccard over the (sorted) shingle-hash
    // sets; the verified pairs are materialized too, so the caller's
    // action and a `clusters` over them read one copy instead of each
    // re-running the banding, candidate and verify stages
    val sets = docs.select(col("id"), col("hs"))
    val out = persistRows(cand
      .join(sets.select(col("id").as("da"), col("hs").as("sha")), "da")
      .join(sets.select(col("id").as("db"), col("hs").as("shb")), "db")
      .withColumn("i", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("i").cast("double") / (size(col("sha")) + size(col("shb")) - col("i")))
      .where(col("jaccard") >= tau)
      .select(col("da"), col("db"), round(col("jaccard"), 4).as("jaccard")))
    MinhashStages(docs, cap, sizes, cand, out)
  }

  /** MinHash-LSH near-dup pairs: band signatures (bands × rowsPerBand =
    * perms), equi-join per band for candidates, then EXACT Jaccard
    * verification on the candidate pairs only. This is the 100 TB path:
    * the only joins are on short band keys.
    *
    * `maxBucket <= 0` (the default) sizes the frequent-bucket cap from
    * the corpus count via `maxBucketFor` — the production config. Pass an
    * explicit value only to pin a reproducible layout (oracle replays).
    *
    * The whole pipeline runs while the frame is built: the signature
    * table and the verified pairs are both materialized with
    * `persistRows`, so the returned frame is a read of stored rows. Every
    * action on it, and a `clusters` over it, reads that one copy; nothing
    * re-runs the banding, candidate or verify stages.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      perms: Int = 16,
      bands: Int = 4,
      tau: Double = 0.5,
      maxBucket: Int = 0): DataFrame =
    minhashStages(df, idCol, textCol, n, perms, bands, tau, maxBucket).out

  /** Candidate-funnel diagnostics for the MinHash-LSH path: the counts a
    * scale probe needs to VERIFY (not infer from wall time) that the
    * banding stays bounded as the corpus grows — banded rows, colliding
    * buckets, buckets dropped by the frequent-bucket cap, distinct
    * candidate pairs after the cap, and exact-verified pairs. Shares the
    * pipeline with `minhashLshPairs` via `minhashStages`; the document and
    * verified-pair counts are the row counts of its materialized tables,
    * the bucket counts one aggregate and the candidates one count.
    */
  def minhashLshFunnel(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      perms: Int = 16,
      bands: Int = 4,
      tau: Double = 0.5,
      maxBucket: Int = 0): Map[String, Long] = {
    val st = minhashStages(df, idCol, textCol, n, perms, bands, tau, maxBucket)
    val b = st.sizes
      .agg(count(lit(1)), count(when(col("_c") > 1, 1)), count(when(col("_c") > st.cap, 1)))
      .head()
    Map(
      "n_docs" -> persistedRowCount(st.docs),
      "max_bucket" -> st.cap.toLong,
      "n_buckets" -> b.getLong(0),
      "n_buckets_multi" -> b.getLong(1),
      "n_buckets_capped" -> b.getLong(2),
      "n_candidate_pairs" -> st.cand.count(),
      "n_verified_pairs" -> persistedRowCount(st.out))
  }

  /** Duplicate-cluster assembly: connected components over an undirected
    * near-dup pair graph (the output of `minhashLshPairs` / `simhashPairs`
    * / `ngramJaccardPairs`), labeling every member with the cluster's
    * minimum doc id — the canonical document a dedup pipeline keeps.
    *
    * Algorithm: two-phase, after Kiveris et al., "Connected Components in
    * MapReduce and Beyond" (SoCC 2014).
    *  (1) Seed: one typed pass over the symmetric edge table runs
    *     union-find inside each partition and emits (node, minimum id of
    *     its partition-local component); the per-node minimum of those
    *     seeds is the starting label table. A component whose edges all
    *     sit in one partition is already labelled exactly here.
    *  (2) Repair: rounds of min-label propagation with a path-halving
    *     shortcut (each node takes the min of its own label, its
    *     neighbors' labels, and its label's label) until the label sum
    *     stops changing. These rounds only join up components that span
    *     partitions, so the round count measures that spread, not the
    *     component diameter: with one edge partition the first round
    *     already finds the fixpoint.
    * Everything is an equi-join shuffle on the pair list — never
    * adjacency materialization beyond the input edges. Labels only
    * decrease and a local component minimum does not depend on row
    * order, so the fixpoint (and hence the result) is deterministic at
    * any partitioning, retry schedule, or cluster size. Each round
    * materializes its label table and drops the previous one: lineage
    * stays O(1) deep.
    *
    * Returns (doc_id, canonical_id, cluster_size) for every doc that
    * appears in a pair (singletons are trivially their own canonical and
    * are omitted, matching reference-style dedup output).
    */
  def clusters(
      pairs: DataFrame,
      aCol: String = "da",
      bCol: String = "db",
      maxIter: Int = 25): DataFrame =
    clustersWithRounds(pairs, aCol, bCol, maxIter)._1

  /** `clusters` plus the number of repair rounds it ran — the loop is
    * eager (each round's label table is materialized), so the count is
    * exact at return. It counts the rounds the partition-seeded labels
    * needed to reach the fixpoint: 1 when no component spans partitions,
    * more as components spread across them.
    */
  def clustersWithRounds(
      pairs: DataFrame,
      aCol: String = "da",
      bCol: String = "db",
      maxIter: Int = 25): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // Truncate lineage at every materialization point: a persist() alone
    // keeps the FULL logical plan (the whole pair pipeline under `pairs`,
    // plus one join-tree layer per round), and Catalyst re-analyzes and
    // re-optimizes that ever-deeper tree each round — measured seconds of
    // driver time per round on a 500-node graph. `persistRows` gives every
    // iteration a flat plan over the rows it materialized. On a real
    // cluster swap it for reliable checkpoint() to the cluster FS — same
    // shape. The symmetric edge table is built in one read of `pairs`
    // (both directions of a pair from the same row, so they share a
    // partition); `minhashLshPairs` output is itself stored rows.
    val edges = persistRows(pairs.select(inline(array(
      struct(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")),
      struct(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst"))))))
    // exact decimal sum of labels, observed on the run that materializes
    // the label table: labels only ever DECREASE, so an unchanged sum ⇔ a
    // fixpoint — convergence costs no job of its own. sum() over zero rows
    // is SQL NULL (an empty pair graph — no near-dups found upstream);
    // it reads as 0 so that case converges to the empty result.
    def withLabelSum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val obs = org.apache.spark.sql.Observation()
      val m = persistRows(df.observe(obs, sum(col("label").cast("decimal(38,0)")).as("s")))
      (m, Option(obs.get("s")).fold(java.math.BigDecimal.ZERO)(_.asInstanceOf[java.math.BigDecimal]))
    }
    // seed: partition-local union-find, then the per-node minimum over
    // the partitions a node's edges fall in
    val seeds = edges.as[(Long, Long)]
      .mapPartitions(it => componentMins(it).asScala.iterator)
      .toDF("id", "label")
    var (labels, prevSum) = withLabelSum(seeds.groupBy("id").agg(min("label").as("label")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // neighbor minimum: each node offers its label to its neighbors
      val offered = edges.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("label"))
      // materialize BEFORE the self-join: flat lineage, and both join
      // sides read the same partitions instead of recomputing the
      // aggregation twice
      val viaNeighbors = persistRows(
        labels.select("id", "label").union(offered)
          .groupBy("id").agg(min("label").as("label")))
      // path halving: follow one's label to ITS label (labels are node
      // ids, so this is a self-join; the target's label is always ≤, and
      // chains collapse exponentially)
      val next = viaNeighbors.as("x")
        .join(
          viaNeighbors.select(col("id").as("lid"), col("label").as("llabel")).as("y"),
          col("x.label") === col("lid"),
          "left")
        .select(col("x.id").as("id"), coalesce(col("llabel"), col("x.label")).as("label"))
      val (nextM, s) = withLabelSum(next)
      // the new round is materialized — release the storage of the
      // rounds it supersedes now (a long loop would otherwise hold ~2
      // copies per round until ContextCleaner's next pass)
      releaseRows(viaNeighbors)
      releaseRows(labels)
      labels = nextM
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      i += 1
    }
    // the result depends only on the final label table; the edge table
    // was a round-loop input
    releaseRows(edges)
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"Dedup.clusters exhausted maxIter=$maxIter before the label fixpoint: " +
          "members of one component may carry different canonical ids; raise maxIter")
    (labels
      .withColumn("cluster_size", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("label")))
      .select(col("id").as("doc_id"), col("label").as("canonical_id"), col("cluster_size")),
      i)
  }

  /** Incremental cluster maintenance — the daily-ingest path for the
    * cluster table: fold a new batch's pair edges into an EXISTING label
    * table without re-walking the historical pair graph. Each base
    * cluster collapses to STAR edges (member → canonical id), which
    * preserve exactly the base connectivity, so label propagation over
    * (star edges ∪ delta edges) converges to the same canonical
    * min-labels as a full recompute over every pair ever seen — the spec
    * and the driver oracle pin that equality — while iterating over a
    * graph of #members + #delta edges, independent of the historical
    * pair count. Delta edges may merge existing clusters or introduce
    * new nodes; both resolve to the global min id as usual.
    */
  def incrementalClusters(
      baseClusters: DataFrame, // (doc_id, canonical_id[, cluster_size]) — `clusters` output
      deltaPairs: DataFrame,
      aCol: String = "da",
      bCol: String = "db",
      maxIter: Int = 25): DataFrame =
    // count-routed: the fold-in graph (star edges + delta edges) is
    // usually tiny relative to the historical pair count — that is the
    // premise of incremental maintenance — so the driver union-find
    // route typically wins; the distributed fixpoint loop remains the
    // 100 TB path when the member count alone exceeds the cap
    clustersRouted(
      baseClusters
        .select(col("doc_id").cast("long").as("da"), col("canonical_id").cast("long").as("db"))
        .unionByName(
          deltaPairs.select(col(aCol).cast("long").as("da"), col(bCol).cast("long").as("db"))),
      maxIter = maxIter)

  /** Union-find over an edge stream: every node of `edges` → the minimum
    * id of its connected component. A union links the larger root under
    * the smaller, so every root IS its component's minimum and the result
    * does not depend on edge order; path compression keeps finds short.
    * The one implementation behind `clustersWithRounds`' per-partition
    * seed pass and `clustersRouted`' driver route.
    */
  private def componentMins(edges: Iterator[(Long, Long)]): java.util.HashMap[Long, Long] = {
    val parent = new java.util.HashMap[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    // resolve every node to its root; replacing a value is no structural
    // change, so the iteration stays valid while find compresses paths
    val it = parent.entrySet.iterator
    while (it.hasNext) { val e = it.next(); e.setValue(find(e.getKey)) }
    parent
  }

  /** Edge-count cap for the driver union-find route. Honest budget at
    * the cap: the typed collect lands specialized (Long, Long) tuples
    * (~32 B/edge ≈ 8 MB) but the boxed HashMap union-find costs
    * ~50 B/node over ≤2·edges nodes ≈ 25 MB — ~35 MB transient total,
    * inside the same driver budget class as
    * `Similarity.MaxBroadcastRows`' vector collect. The incremental
    * fold-in graphs this route exists for are thousands of edges.
    */
  val MaxLocalClusterEdges: Int = 250000

  /** Count-routed [[clusters]]: an edge list within `maxLocalEdges`
    * collapses via in-memory union-find on the driver — ONE collect job
    * (with an early-terminating limit probe, so the route decision and
    * the edge fetch share a pass) instead of 3–5 rounds of
    * join/materialize/aggregate job scheduling, which at local[32]
    * costs more than the work itself on a tiny graph (the
    * qualityCalibrated driver-math lesson). Anything larger runs the
    * distributed fixpoint loop unchanged. Identical output by
    * construction: both label every member of a connected component
    * with the component's minimum doc id and its exact size.
    */
  def clustersRouted(
      pairs: DataFrame,
      aCol: String = "da",
      bCol: String = "db",
      maxLocalEdges: Int = MaxLocalClusterEdges,
      maxIter: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    // limit(cap + 1): if more rows exist we only learn "too many" (and
    // fall back to the distributed loop, re-reading the input); within
    // the cap the probe IS the edge fetch — no second pass. Typed
    // collect: specialized (Long, Long) tuples, not GenericRow wrappers
    // (~4x the heap at the cap)
    val probe = p.as[(Long, Long)].limit(maxLocalEdges + 1).collect()
    if (probe.length > maxLocalEdges) clusters(pairs, aCol, bCol, maxIter)
    else {
      // the canonical min id comes straight from the union-find; the
      // exact component size is counted from it
      val minOf = componentMins(probe.iterator).asScala
      val sizeOf = minOf.values.groupMapReduce(identity)(_ => 1L)(_ + _)
      minOf.toSeq.map { case (n, m) => (n, m, sizeOf(m)) }.toDF("doc_id", "canonical_id", "cluster_size")
    }
  }

  /** Cluster-representative selection — the "keep best, drop rest" step
    * a dedup pipeline runs after `clusters`: per duplicate cluster, keep
    * the member maximizing (quality, lowest id). Canonical-by-min-id
    * keeps an ARBITRARY member; real pipelines keep the best one (longest
    * / highest quality score) — this makes that choice explicit and
    * deterministic (full tie-break).
    *
    * `quality` is any (idCol, qCol) frame — word counts, LM cross-entropy,
    * a composite. Members with no quality row rank LAST (never silently
    * dropped): a cluster keeps its best scored member, or its lowest id
    * when none are scored. One window over the (small) cluster table:
    * the corpus itself never reshuffles.
    */
  def representatives(
      clusters: DataFrame, // (doc_id, canonical_id, cluster_size)
      quality: DataFrame, // (idCol, qCol)
      idCol: String,
      qCol: String): DataFrame = {
    val q = quality.select(col(idCol).as("_qid"), col(qCol).as("_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("canonical_id").orderBy(col("_q").desc_nulls_last, col("doc_id").asc)
    clusters.join(q, col("doc_id") === col("_qid"), "left")
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select(col("canonical_id"), col("doc_id").as("kept_doc"), col("_q").as("kept_q"), col("cluster_size"))
  }

  /** 60-bit token hash: first 15 hex chars of md5 — equals Spark SQL's
    * `conv(substring(md5(w), 1, 15), 16, 10)` for cross-checks.
    */
  def tokenHash60(md: java.security.MessageDigest, w: String): Long = {
    val d = md.digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // 15 hex digits = first 7 bytes + high nibble of byte 8
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** 60-bit SimHash over the token stream (md5-hashed tokens with
    * multiplicity; majority vote per bit). 60 bits keep the value inside
    * a signed Long without unsigned tricks on any engine. Typed
    * mapPartitions for the same reason as minhashSignatures: a
    * Catalyst-lambda formulation gets its 60-iteration tree inlined per
    * join side downstream.
    */
  /** One document's 60-bit SimHash — the per-row kernel `simhash` maps
    * with, exposed so the streaming ingest filter
    * (`streaming.NearDupStream`) computes the identical signature
    * in-stream. `counts` is caller-provided scratch (length 60) so a
    * partition iterator allocates once.
    */
  def simhash60(md: java.security.MessageDigest, counts: Array[Int], text: String): Long = {
    java.util.Arrays.fill(counts, 0)
    val words = text.split(" ", -1)
    words.foreach { w =>
      val h = tokenHash60(md, w)
      var b = 0
      while (b < 60) { if (((h >> b) & 1L) == 1L) counts(b) += 1; b += 1 }
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (2 * counts(b) >= words.length) sig |= (1L << b); b += 1 }
    sig
  }

  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val counts = new Array[Int](60)
        it.map { case (id, text) => (id, simhash60(md, counts, text)) }
      }
      .toDF("id", "simhash")
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, via banded
    * candidate generation (4 bands × 15 bits; ≤ maxDist < 4·15 bit flips
    * must leave at least one band intact for maxDist ≤ 3 per band — for
    * the general bound we verify candidates exactly, accepting banding
    * recall semantics like every production LSH dedup).
    */
  /** Content-defined chunking (CDC): split each document at positions
    * where a w-char windowed polynomial hash hits a mask — the Rabin/
    * rsync boundary trick. Unlike fixed-size chunking, an insertion early
    * in a document shifts at most one chunk's boundaries, so cross-doc
    * CHUNK-level dedup (group by chunk hash) survives edits — the
    * sub-document dedup a long-document corpus needs where whole-doc
    * hashing and even shingle Jaccard are too coarse.
    *
    * Boundary rule (identical arithmetic in the DuckDB oracle): at char
    * position i (1-based, i ≥ w), let
    *   h(i) = Σ_{k=0..w-1} ascii(c_{i−k}) · B^k  mod M
    * with B = 257, M = 1e9+7, all in exact integer domain; i is a
    * boundary iff h(i) % 64 == 0 (expected chunk ≈ 64 chars). The doc end
    * is always a boundary. Zero shuffle: a per-row typed kernel emits
    * (chunk_idx, start, len, md5) rows; corpus-level dedup is then one
    * partial-agg shuffle on the chunk hash.
    */
  val CdcWindow = 8
  val CdcBase = 257L
  val CdcMod = 1000000007L
  val CdcMask = 64L

  /** B^k mod M for k = 0..w−1 (shared with the SQL oracle literal). */
  def cdcPowers: Array[Long] =
    Iterator.iterate(1L)(p => p * CdcBase % CdcMod).take(CdcWindow).toArray

  /** Positions are UTF-16 code units on the Spark side and codepoints in
    * the DuckDB oracle — identical for the ASCII corpus; non-BMP input
    * would shift them (documented restriction, like the single-space
    * tokenizer).
    */
  /** Chunk-end positions (1-based, inclusive) for one document: every
    * mask-satisfying rolling-hash position plus the forced doc end. Pure —
    * property-tested against the direct windowed-sum definition.
    */
  def cdcBoundaries(text: String): IndexedSeq[Int] = {
    val pw = cdcPowers
    val pwTop = pw(CdcWindow - 1)
    val n = text.length
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Int]
    if (n >= CdcWindow) {
      // seed h(w) with the windowed sum, then roll:
      // h(i+1) = (B·(h(i) − c(i−w+1)·B^{w−1}) + c(i+1)) mod M
      var h = 0L
      var k = 0
      while (k < CdcWindow) {
        h = (h + text.charAt(CdcWindow - 1 - k).toLong * pw(k)) % CdcMod
        k += 1
      }
      if (h % CdcMask == 0L) bounds += CdcWindow
      var i = CdcWindow + 1
      while (i <= n) {
        val outgoing = text.charAt(i - 1 - CdcWindow).toLong * pwTop % CdcMod
        h = ((h - outgoing + CdcMod) * CdcBase + text.charAt(i - 1).toLong) % CdcMod
        if (h % CdcMask == 0L) bounds += i
        i += 1
      }
    }
    if (n > 0 && (bounds.isEmpty || bounds.last != n)) bounds += n
    bounds.toIndexedSeq
  }

  def cdcChunks(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val hexDigits = "0123456789abcdef".toCharArray
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def hex(bytes: Array[Byte]): String = {
          val sb = new java.lang.StringBuilder(32)
          bytes.foreach { b =>
            sb.append(hexDigits((b >> 4) & 0xf)); sb.append(hexDigits(b & 0xf))
          }
          sb.toString
        }
        it.flatMap { case (id, text) =>
          val bounds = cdcBoundaries(text)
          var start = 1
          val out = Vector.newBuilder[(Long, Long, Long, Long, String)]
          bounds.iterator.zipWithIndex.foreach { case (e, idx) =>
            val chunk = text.substring(start - 1, e)
            out += ((id, idx.toLong, start.toLong, (e - start + 1).toLong,
              hex(md.digest(chunk.getBytes("UTF-8")))))
            start = e + 1
          }
          out.result()
        }
      }
      .toDF(idCol, "chunk_idx", "start_pos", "len", "chunk_md5")
  }

  /** Sub-document eval-set decontamination: training docs sharing ≥
    * `minShared` distinct CDC chunk hashes with any probe (eval) doc —
    * the chunk-level upgrade of `contaminationPairs`: where n-gram
    * shingles catch verbatim short spans, CDC chunks catch whole copied
    * PASSAGES even after surrounding edits shift their position.
    *
    * Same 100 TB shape as the shingle variant: the probe side (an eval
    * suite) chunks into a small table that BROADCASTS; the corpus
    * streams through the zero-shuffle chunk kernel and a broadcast hash
    * join — no corpus shuffle until the tiny per-pair count.
    */
  def cdcContamination(
      train: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      minShared: Long): DataFrame = {
    // no .distinct() on the train side — that would hash-shuffle the
    // whole corpus's chunk stream before the broadcast join; instead the
    // per-pair aggregate counts DISTINCT chunk hashes, deduplicating
    // only the (tiny) matched rows after the broadcast join
    val th = cdcChunks(train, idCol, textCol)
      .select(col(idCol).as("train_id"), col("chunk_md5"))
    val ph = cdcChunks(probe, idCol, textCol)
      .select(col(idCol).as("probe_id"), col("chunk_md5")).distinct()
    th.join(broadcast(ph), "chunk_md5")
      .groupBy("train_id", "probe_id")
      .agg(countDistinct("chunk_md5").as("shared_chunks"))
      .where(col("shared_chunks") >= minShared)
  }

  /** CDC-chunk document similarity: near-dup PAIRS of documents that share
    * ≥ `minShared` distinct CDC chunk hashes, scored by containment
    * (shared / smaller doc's chunk count). Completes the sub-document
    * story: `cdcChunks` finds shared material, this maps it back to doc
    * pairs — catching template reuse and partial copies that whole-doc
    * hashing misses and shingle Jaccard under-scores.
    *
    * Scale shape (100 TB): everything is an equi-join on the 128-bit
    * chunk hash. A chunk held by > `maxChunkDocs` docs is boilerplate
    * (contributing O(docs²) candidate pairs and no dup signal) and is
    * dropped — the same frequent-bucket cap as MinHash-LSH banding, so
    * the candidate join stays bounded at any corpus size.
    *
    * The distinct (id, chunk_md5) table feeds FOUR subtrees (sizes,
    * keep, both self-join sides); unmaterialized, Spark would re-run the
    * Rabin rolling-hash kernel over the full text once per subtree (~5
    * corpus passes), so it is materialized when the frame is built (the
    * object's intermediates rule) — ONE CDC-kernel execution.
    */
  def cdcPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minShared: Long = 2L,
      maxChunkDocs: Int = 100): DataFrame = {
    // distinct (doc, chunk): a chunk repeated WITHIN a doc counts once
    val chunks = persistRows(cdcChunks(df, idCol, textCol)
      .select(col(idCol).as("id"), col("chunk_md5"))
      .distinct())
    val sizes = chunks.groupBy("id").agg(count(lit(1)).as("n"))
    val keep = chunks
      .groupBy("chunk_md5")
      .agg(count(lit(1)).as("_c"))
      .where(col("_c") > 1 && col("_c") <= maxChunkDocs)
      .select("chunk_md5")
    val kept = chunks.join(keep, Seq("chunk_md5"), "left_semi")
    kept.as("a")
      .join(kept.as("b"), col("a.chunk_md5") === col("b.chunk_md5") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("da"), col("b.id").as("db"))
      .agg(count(lit(1)).as("shared_chunks"))
      .where(col("shared_chunks") >= minShared)
      .join(sizes.select(col("id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("id").as("db"), col("n").as("nb")), "db")
      .select(
        col("da"), col("db"), col("shared_chunks"),
        round(col("shared_chunks").cast("double") / least(col("na"), col("nb")), 4).as("containment"))
  }

  /** Incremental (delta-vs-base) near-dup screen — the daily-ingest path:
    * check a new batch against the EXISTING corpus without re-pairing the
    * corpus with itself. The base side's banded signature table is the
    * reusable index (in production it is persisted once and appended to);
    * the delta streams through one signature kernel pass and an equi-join
    * on (band, bucket) against it, then exact-Jaccard verification of the
    * candidates only. The frequent-bucket cap applies to BASE buckets
    * (boilerplate protection — a base bucket holding > maxBucket docs
    * contributes no dup signal and O(bucket) candidates per delta doc).
    * Emits (delta_id, base_id, jaccard ≥ tau); a delta doc with any row
    * here is a re-crawl/duplicate to drop or link.
    */
  def incrementalPairs(
      base: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      perms: Int = 16,
      bands: Int = 4,
      tau: Double = 0.5,
      maxBucket: Int = 0): DataFrame = {
    // the base signature table is multi-consumer (banding + verify sets):
    // materialize before the fan-out, as in minhashLshPairs
    val bdocs = persistRows(shingleHashesAndSig(base, idCol, textCol, n, perms))
    incrementalPairsOn(bdocs, delta, idCol, textCol, n, perms, bands, tau, maxBucket)
  }

  /** Stored-index form of `incrementalPairs`: `baseSig` is the output of
    * `shingleHashesAndSig` over the base corpus, read back from storage —
    * the artifact a daily pipeline maintains (and appends each ingest's
    * delta signatures to), so a run pays one signature kernel pass over
    * the DELTA only, never re-signaturing the 100 TB base.
    */
  def incrementalPairsOn(
      baseSig: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      perms: Int = 16,
      bands: Int = 4,
      tau: Double = 0.5,
      maxBucket: Int = 0): DataFrame = {
    val rows = perms / bands
    val bdocs = baseSig
    // auto cap sizes from the BASE corpus (the side whose buckets are
    // capped); one count over the stored signature index
    val cap = if (maxBucket > 0) maxBucket else maxBucketFor(bdocs.count())
    val ddocs = persistRows(shingleHashesAndSig(delta, idCol, textCol, n, perms))
    val bb = bandedKeys(bdocs, bands, rows)
    val capped = bb.join(
      bb.groupBy("band", "key").agg(count(lit(1)).as("_c"))
        .where(col("_c") <= cap).select("band", "key"),
      Seq("band", "key"), "left_semi")
    val candidates = bandedKeys(ddocs, bands, rows)
      .select(col("id").as("delta_id"), col("band"), col("key"))
      .join(capped.select(col("id").as("base_id"), col("band"), col("key")), Seq("band", "key"))
      .select("delta_id", "base_id")
      .distinct()
    candidates
      .join(ddocs.select(col("id").as("delta_id"), col("hs").as("sha")), "delta_id")
      .join(bdocs.select(col("id").as("base_id"), col("hs").as("shb")), "base_id")
      .withColumn("i", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("i").cast("double") / (size(col("sha")) + size(col("shb")) - col("i")))
      .where(col("jaccard") >= tau)
      .select(col("delta_id"), col("base_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Corpus-level source similarity: pairwise MinHash-estimated Jaccard
    * between the shingle SETS of whole groups (sources/domains/slices) —
    * the observability query behind "which scrapes overlap" and mixture
    * dedup planning. A group's signature is the element-wise min of its
    * documents' MinHash signatures (min-of-mins == min over the union,
    * the defining MinHash property), so the per-doc kernel output rolls
    * up with ONE partial-aggregated groupBy — no group-level reshingle,
    * no quadratic shingle join. The pair comparison runs on the
    * (groups × perms) signature table, which is group-cardinality-sized
    * regardless of corpus size. Documents with no shingles are excluded
    * (their kernel sig is the empty-set placeholder, not a real min).
    */
  def sourceSimilarity(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      textCol: String,
      n: Int,
      perms: Int): DataFrame = {
    val sigs = shingleHashesAndSig(df, idCol, textCol, n, perms)
      .where(size(col("hs")) > 0)
      .select(col("id"), posexplode(col("sig")).as(Seq("k", "v")))
    val src = df.select(col(idCol).cast("long").as("id"), col(groupCol).as("grp"))
    // groups × perms rows — materialize so the self-join's two sides
    // don't each re-run the corpus signature kernel
    val kv = persistRows(sigs.join(src, "id")
      .groupBy(col("grp"), col("k"))
      .agg(min(col("v")).as("v")))
    kv.as("a")
      .join(kv.as("b"), col("a.k") === col("b.k") && col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("src_a"), col("b.grp").as("src_b"))
      .agg(sum(when(col("a.v") === col("b.v"), 1L).otherwise(0L)).as("matches"))
      .withColumn("est_jaccard", round(col("matches") / lit(perms.toDouble), 4))
  }

  /** The `k` Bloom bit positions of a shingle: disjoint 32-bit words of
    * its md5, each reduced mod `mBits` — the same arithmetic DuckDB
    * replays as `('0x' || substr(md5(g), 1+8j, 8))::BIGINT % m`.
    */
  def bloomPositions(md: java.security.MessageDigest, g: String, mBits: Int, k: Int): Array[Long] = {
    val d = md.digest(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Array.tabulate(k) { j =>
      val o = 4 * j
      val w = ((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) |
        ((d(o + 2) & 0xffL) << 8) | (d(o + 3) & 0xffL)
      w % mBits
    }
  }

  /** Bloom-filter eval-set decontamination: the CONSTANT-SIZE variant of
    * `contaminationPairs` for when even the probe shingle table is too
    * big to broadcast raw. The probe side compiles into an `mBits`-bit
    * Bloom bitset (mBits/8 bytes — 128 KiB at the default, independent
    * of probe size); the corpus streams through one typed kernel pass
    * counting, per document, the distinct shingles whose `k` positions
    * are ALL set. Zero shuffles on the corpus side, zero joins — the
    * cheapest possible 100 TB contamination screen. Bloom semantics:
    * `n_bloom_hits` over-counts with false-positive rate
    * ≈ (1−e^(−k·n/m))^k (tune mBits to the probe size); zero hits is an
    * exact clean certificate. The DuckDB oracle replays the identical
    * md5 positions, so both engines see the same false positives.
    */
  def bloomContamination(
      train: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      mBits: Int = 1 << 20,
      k: Int = 3): DataFrame = {
    require(k >= 1 && k <= 4, s"k must be in [1,4] (md5 has 4 disjoint 32-bit words), got $k")
    require(mBits >= 64 && mBits <= (1 << 26), s"mBits out of sane range: $mBits")
    val spark = train.sparkSession
    import spark.implicits._
    // probe bitset built by AGGREGATION: shingle → k positions → per-word
    // bit_or — the collect is the word table, mBits/64 longs (8 MiB at
    // the 2^26 cap), independent of probe corpus size. Collecting raw
    // positions instead would be bounded by mBits POSITIONS (512 MiB of
    // longs at the cap) — the aggregation keeps the driver payload at
    // the bitset's own size, the whole point of the Bloom variant.
    val words = shingles(probe, idCol, textCol, n)
      .select(col("g")).distinct()
      .as[String]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap(g => bloomPositions(md, g, mBits, k))
      }
      .toDF("pos")
      .groupBy(expr("CAST(pos DIV 64 AS INT)").as("w"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))").as("bits"))
      .collect()
    val bits = new Array[Long]((mBits + 63) / 64)
    words.foreach(r => bits(r.getAs[Int]("w")) = r.getAs[Long]("bits"))
    val bc = spark.sparkContext.broadcast(bits)
    train
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val b = bc.value
        it.map { case (id, text) =>
          val words = text.split(" ", -1)
          val gs = (0 to words.length - n).iterator
            .map(i => words.slice(i, i + n).mkString(" ")).toSet
          val hits = gs.count { g =>
            bloomPositions(md, g, mBits, k)
              .forall(p => (b(p.toInt >> 6) & (1L << (p.toInt & 63))) != 0)
          }
          (id, gs.size.toLong, hits.toLong)
        }
      }
      .toDF(idCol, "n_shingles", "n_bloom_hits")
  }

  /** Duplicated-passage detection (exact substring dedup, Lee et al.
    * 2022 shape, word-window-bounded): find maximal runs of `w`-token
    * windows whose content occurs more than once in the corpus — within
    * OR across documents. Emits per-document spans `[span_start,
    * span_end]` (token indices, inclusive) with the window count, the
    * actionable unit for cut-the-span dedup (as opposed to drop-the-doc).
    *
    * Plan: one typed kernel pass emits (doc, pos, 32-bit window hash) —
    * position preserved, NOT distinct; one partial-agg shuffle finds
    * hashes with total count > 1; a semi-join flags positions; the
    * classic lag/cumsum run-length idiom merges adjacent flagged
    * positions into spans (one window exchange on the doc key). Nothing
    * is quadratic: cost is linear in corpus tokens + one shuffle of the
    * (much smaller) flagged set. The suffix-array formulation finds
    * arbitrary-length duplicates; fixed `w` windows find every duplicate
    * of ≥ w tokens (the practical filter), with span merging recovering
    * the full extent.
    */
  def duplicatePassages(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    val spark = df.sparkSession
    import spark.implicits._
    val wins = df
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          // byte-range window hashing (one encode per doc, the
          // excision-kernel device)
          val tb = tokenBytes(text)
          (0 to tb.nTok - w).iterator.map { i =>
            md.reset()
            md.update(tb.bytes, tb.starts(i), tb.ends(i + w - 1) - tb.starts(i))
            val d = md.digest()
            val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
              ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
            (id, i.toLong, h)
          }
        }
      }
      .toDF(idCol, "pos", "h")
    // UNPERSISTED two-consumer kernel + SHUFFLE_HASH dup side — the
    // exciseExactSubstringsCascade shape, same measured reasoning: the
    // kernel runs twice (the dup side's exchange child carries a
    // partial agg — not reusable) but each pass pipelines into its
    // shuffle write; two cheap passes beat materializing every window
    // row through the block manager plus an eager count job.
    // Two contract notes (r15 advice): (1) the two kernel passes must
    // agree — DETERMINISTIC input required; a nondeterministic source
    // (sampling, monotonically_increasing_id, shuffle-order-dependent
    // ids) can make the dup stats and the flag join disagree — persist
    // upstream in that case. (2) SHUFFLE_HASH builds the dup/owner side
    // as an in-memory per-partition hash map that cannot spill; the
    // build side here is the AGGREGATED duplicated-hash table (one row
    // per duplicated value), orders of magnitude smaller than the
    // window table — if a corpus ever inverts that (virtually all
    // windows duplicated under distinct hashes), drop the hint and let
    // sort-merge degrade gracefully.
    val dup = wins.groupBy("h").agg(count(lit(1)).as("_c")).where(col("_c") > 1).select("h")
    val flagged = wins.join(dup.hint("SHUFFLE_HASH"), Seq("h"), "left_semi")
    val win = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol)).orderBy(col("pos"))
    flagged
      .withColumn("_new", when(lag(col("pos"), 1).over(win).isNull
        || col("pos") - lag(col("pos"), 1).over(win) > 1, 1L).otherwise(0L))
      .withColumn("_grp", sum("_new").over(
        win.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("_grp"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(w - 1).cast("long")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .drop("_grp")
  }

  /** Corpus-wide EXACT-SUBSTRING excision at token grain (the Lee et
    * al. 2022 "Deduplicating Training Data Makes Language Models
    * Better" exact-substring mode, re-expressed as a distributed
    * window-hash election instead of a single-node suffix array): every
    * duplicated token run of length ≥ w keeps exactly its corpus-FIRST
    * occurrence; every other occurrence is excised from the text.
    *
    * Equivalence to the suffix-array formulation: a duplicated
    * substring of length L ≥ w is covered by exactly its L − w + 1
    * duplicated w-token windows, so marking every non-first duplicated
    * window occurrence and merging overlapping [pos, pos+w−1] ranges
    * removes precisely the duplicated run (up to the w-grain edge the
    * paper also has). Keep-first = lexicographic min (id, pos) per
    * window hash, the [[exciseDuplicateChunks]] election, computed by a
    * partial-aggregating groupBy — never a per-hash row_number sort, so
    * a boilerplate window duplicated 10⁸ times costs one combined row
    * per task (the same skew argument as the chunk excision). The kept
    * occurrences' token ranges SHIELD their tokens from neighboring
    * duplicates' removal ranges — otherwise two distinct duplicated
    * runs abutting an owner window could excise the corpus-first copy
    * itself and the content would survive nowhere (the keep-first
    * guarantee is per TOKEN, not just per marked window).
    *
    * vs the siblings: [[duplicatePassages]] REPORTS duplicated spans
    * (no keep-first, no rewrite); [[exciseDuplicateChunks]] excises at
    * CDC chunk grain (edit-shift robust, coarser); this excises at
    * token grain with the exact ≥ w semantics used on real pretraining
    * corpora. 100 TB shape: one tokenize+hash kernel pass (persisted),
    * one hash-grain partial agg, one semi-join-shaped ownership join,
    * interval merge as a per-doc window over removal ranges (range
    * count ≤ duplicated-window count, output-bound), and reconstruction
    * that moves (start, end) token spans — document bodies travel only
    * in the final join back to the source, exactly once.
    *
    * DETERMINISTIC-INPUT requirement (the repo's "recomputes
    * deterministically" contract): the unpersisted window kernel is
    * evaluated independently for the election side and the ownership
    * join side, so `df` must produce the same rows on re-evaluation —
    * a nondeterministic source (sampling, monotonically_increasing_id,
    * shuffle-order-dependent ids) can make the two passes disagree and
    * the election elect a row the join never sees. Persist upstream
    * when feeding such a source.
    */
  def exciseExactSubstrings(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int): DataFrame =
    exciseExactSubstringsCascade(df, idCol, textCol, Seq(w))

  /** Sorted-span element for the excision kernel: token range [s, e].
    * `private[ext]` not `private`: encoder codegen (Janino) needs
    * bytecode-public classes to new them in generated projections.
    * INT positions (r16, guide §2.3 narrower types): token indices are
    * bounded by a document's token count, far under 2³¹ for any real
    * document. Measured cost-neutral on the bench rows (UnsafeRow's
    * 8-byte field slots keep shuffle rows the same size); kept as the
    * honest type — the narrowing pays wherever spans land columnar.
    */
  private[ext] final case class XsubSpan(s: Int, e: Int)

  /** Per-doc excision input: source text + UNMERGED removal ranges +
    * (possibly overlapping) owner shield ranges, both sorted by (s, e);
    * the kernel merges both linearly.
    */
  private[ext] final case class XsubDoc(
      id: Long,
      text: String,
      rem: Seq[XsubSpan],
      sh: Seq[XsubSpan])

  /** Merge sorted-by-(s,e) ranges into disjoint intervals, chaining
    * adjacent ones (s ≤ prev_e + 1). Linear in the range count.
    */
  private def mergeSortedSpans(xs: Seq[XsubSpan]): Array[Int] = {
    // flat (s0, e0, s1, e1, ...) array — no per-interval allocation
    if (xs == null || xs.isEmpty) Array.emptyIntArray
    else {
      val out = scala.collection.mutable.ArrayBuilder.make[Int]
      var cs = xs.head.s
      var ce = xs.head.e
      xs.iterator.drop(1).foreach { sp =>
        if (sp.s <= ce + 1) { if (sp.e > ce) ce = sp.e }
        else { out += cs; out += ce; cs = sp.s; ce = sp.e }
      }
      out += cs; out += ce
      out.result()
    }
  }

  /** Multi-window exact-substring excision — the cascade approximation
    * of Lee et al. 2022's suffix-array mode (maximal duplicates of any
    * length ≥ min(ws), with true extents). All window sizes share ONE
    * tokenize+md5 kernel pass; per grain (w, hash) the corpus-first
    * occurrence (min (id, pos)) is elected owner; removal ranges from
    * every grain are unioned before the interval merge, and owner
    * ranges from every grain are unioned into the shields.
    *
    * Why more than one w: a duplicated w_min-window's removal set is a
    * superset of every coarser grain's (a duplicated 64-run contains
    * only duplicated 8-windows), so the EXCISION frontier is set by
    * w_min alone — but OWNERSHIP is not. With w=8 only, a long
    * duplicate's corpus-first copy can be shredded at the 8-gram grain
    * when one of its sub-windows is boilerplate owned by an unrelated
    * earlier doc: the long copy is nobody's owner there and its tokens
    * have no shield. The coarser grains give the long duplicate's first
    * occurrence its own ownership (and thus shields over its full
    * extent), so maximal duplicates keep their first copy INTACT — the
    * suffix-array semantics: each maximal duplicate's first occurrence
    * survives whole, later occurrences are excised, and overlapping
    * maximal duplicates each protect their own first copy.
    *
    * Destructive rewrites key on the FULL 128-bit md5 of the window
    * (packed as two fixed-width longs — flat shuffle rows, word-sized
    * comparisons), the [[exciseDuplicateChunks]] precedent: 32-bit
    * truncation expects ~n²/2³³ colliding window pairs (≈100 corrupted
    * spans at 10⁶ windows), each silently excising unique text. Only
    * non-destructive reporting kernels may use [[shingleHash32]].
    *
    * `n_spans` counts CANDIDATE removal spans (merged, pre-shield): a
    * doc whose ranges are fully shielded reports n_spans > 0 with
    * n_tokens_removed = 0 and unchanged text. Gate downstream drop
    * decisions on `n_tokens_removed`, which is post-shield and
    * authoritative for "did the rewrite change anything".
    *
    * Reconstruction is a typed kernel pass, O(tokens + spans) per doc:
    * removal and shield ranges arrive as sorted lists, the kernel
    * merges each linearly (adjacency-chained) and a single cursor walk
    * over the tokens advances both — a boilerplate-saturated doc with
    * thousands of disjoint spans stays linear (the Catalyst
    * `exists(spans, …)`-per-token formulation it replaces was
    * O(tokens × spans) and re-evaluated `split()` per element).
    *
    * 100 TB shape: one persisted tokenize+hash pass; per-hash
    * partial-agg election (map-side combine absorbs a window duplicated
    * 10⁸ times); ONE ownership join whose output feeds ONE per-doc
    * aggregation collecting removal and shield ranges together
    * (collect_list sizes are output-bound — ≤ the doc's own window
    * count); the interval merge runs in the kernel, not as window
    * functions, so the whole post-election tail is a single shuffle by
    * doc id; document bodies move exactly once in the final join.
    */
  def exciseExactSubstringsCascade(
      df: DataFrame,
      idCol: String,
      textCol: String,
      ws: Seq[Int]): DataFrame = {
    require(ws.nonEmpty, "at least one window size required")
    ws.foreach(w => require(w >= 2, s"window must be >= 2 tokens, got $w"))
    val grains = ws.distinct.sorted
    val spark = df.sparkSession
    import spark.implicits._
    val wins = df
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          // windows are hashed as BYTE RANGES of the one UTF-8 encoding
          // of the doc (`tokenBytes`): `split(" ", -1)` splits on single
          // spaces, so `words.slice(i, i+w).mkString(" ")` is exactly
          // the byte range [starts(i), ends(i+w−1)) — UTF-8 is
          // context-free and the space byte never occurs inside a
          // multi-byte sequence. One encode per doc; the previous
          // slice+mkString+getBytes per window re-allocated and
          // re-encoded every token w times per grain (guide §1.2
          // per-task work; measured on the bench row below).
          val tb = tokenBytes(text)
          val nTok = tb.nTok
          grains.iterator.flatMap { w =>
            (0 to nTok - w).iterator.map { i =>
              md.reset()
              md.update(tb.bytes, tb.starts(i), tb.ends(i + w - 1) - tb.starts(i))
              val d = md.digest()
              // the 128 bits packed as TWO fixed-width longs, not a
              // 16-byte binary: fixed-width group/join keys keep the
              // rows flat (no var-length field per row) and the
              // comparisons word-sized — a binary key measured 5x on
              // the bench row for identical semantics. The grain needs
              // no key column: distinct w ⇒ distinct window text ⇒
              // distinct md5 (collision odds are the 128-bit ones).
              // pos/e are INT (guide §2.3 narrower types) — measured
              // COST-NEUTRAL here (1.24/2.22 s INT vs 1.30/2.34 s LONG,
              // same session): UnsafeRow stores every fixed-width field
              // in an 8-byte slot, so the in-flight shuffle rows do not
              // shrink; the narrowing still pays wherever the spans land
              // columnar (cache, parquet artifacts) and is kept as the
              // honest type for a token index.
              var h1 = 0L
              var h2 = 0L
              var j = 0
              while (j < 8) { h1 = (h1 << 8) | (d(j) & 0xffL); j += 1 }
              while (j < 16) { h2 = (h2 << 8) | (d(j) & 0xffL); j += 1 }
              (id, i, i + w - 1, h1, h2)
            }
          }
        }
      }
      .toDF("id", "pos", "e", "h1", "h2")
    val owners = wins
      .groupBy(col("h1"), col("h2"))
      .agg(
        count(lit(1)).as("_c"),
        min(struct(col("id").as("oid"), col("pos").as("opos"))).as("owner"))
      .where(col("_c") > 1)
    // ONE ownership join; each occurrence of a duplicated window is
    // either the corpus-first owner (its range SHIELDS its tokens) or a
    // later copy (its range is a removal candidate). Without shields,
    // removal ranges from NEIGHBORING duplicated windows could eat the
    // corpus-first copy's own tokens and the duplicated run would
    // survive nowhere (doc1="a b c", doc2="a b z b c", doc3="q b z q"
    // at w=2 — doc2 owns "b z" but its flanking "a b"/"b c" removals
    // cover the owner's tokens). A token is excised iff a removal range
    // covers it AND no owner range does. (w, id, pos) is unique in
    // `wins`, so no distinct is needed on either branch; collect_list
    // drops the other branch's nulls.
    val kept = col("id") === col("owner.oid") && col("pos") === col("owner.opos")
    // No persist of `wins` + SHUFFLE_HASH on the (aggregated, smaller)
    // owners side (r15 optimization round, measured). The old shape
    // persisted the whole window table (4x-corpus rows through the
    // block manager, plus an eager count job) so its two consumers
    // shared one kernel pass; unpersisted, the tokenize+md5 kernel runs
    // TWICE (the election's exchange child carries a partial agg, the
    // join side's doesn't — not reusable), but each pass PIPELINES
    // straight into its shuffle write without ever materializing window
    // rows, and the byte-range kernel is cheap enough that two passes
    // beat one pass + corpus-scale cache write+read: 1.07/2.47 s
    // (persist) → 0.88/1.67 s (this shape) on the two bench rows, 10x
    // probe band unchanged. SHUFFLE_HASH (not broadcast) keeps the join
    // partitioned by (h1, h2) with no sort — measured 2.14 s → 1.67 s on
    // the cascade row vs the broadcast plan, and at 100 TB the
    // duplicated-hash table outgrows a broadcast anyway.
    val perDoc = wins.join(owners.hint("SHUFFLE_HASH"), Seq("h1", "h2"))
      .groupBy(col("id"))
      .agg(
        sort_array(collect_list(when(!kept, struct(col("pos").as("s"), col("e"))))).as("rem"),
        sort_array(collect_list(when(kept, struct(col("pos").as("s"), col("e"))))).as("sh"))
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("text"), col("rem"), col("sh"))
      .as[XsubDoc]
      .map { d =>
        if (d.rem == null || d.rem.isEmpty) (d.id, 0L, 0L, d.text)
        else {
          val tokens = d.text.split(" ", -1)
          val rem = mergeSortedSpans(d.rem)
          val shm = mergeSortedSpans(d.sh)
          // single cursor walk: the merged ranges are disjoint sorted
          // intervals and i is monotone, so both pointers advance
          // amortized O(1) — O(tokens + spans) per document
          var si = 0
          var hi = 0
          var removedCount = 0L
          val sb = new java.lang.StringBuilder(d.text.length)
          var first = true
          var i = 0
          while (i < tokens.length) {
            while (si < rem.length && rem(si + 1) < i) si += 2
            while (hi < shm.length && shm(hi + 1) < i) hi += 2
            val gone = si < rem.length && rem(si) <= i &&
              !(hi < shm.length && shm(hi) <= i)
            if (gone) removedCount += 1
            else {
              if (!first) sb.append(' ')
              sb.append(tokens(i))
              first = false
            }
            i += 1
          }
          (d.id, rem.length / 2L, removedCount, sb.toString)
        }
      }
      .toDF(idCol, "n_spans", "n_tokens_removed", "clean_text")
  }

  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxDist: Int): DataFrame = {
    val sh = simhash(df, idCol, textCol)
    val banded = sh.select(
      col("id"), col("simhash"),
      posexplode(
        expr("transform(sequence(0, 3), b -> (shiftright(simhash, b * 15) & 32767))"))
        .as(Seq("band", "key")))
    banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") && col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("da"), col("b.id").as("db"), col("a.simhash").as("ha"), col("b.simhash").as("hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .where(col("hamming") <= maxDist)
      .select("da", "db", "hamming")
  }

  /** Corpus-wide duplicated-span EXCISION: rewrite every document with
    * all but the first occurrence of each repeated span removed — the
    * substring-level dedup a training pipeline actually ships (whole-doc
    * dedup keeps boilerplate that repeats INSIDE otherwise-distinct
    * pages; this removes the repeated passage and keeps the page).
    *
    * Spans are the content-defined chunks of [[cdcChunks]], so a copied
    * passage excises even when edits around it shift its byte position —
    * fixed windows would mis-align. Keep-first policy: the occurrence
    * with the lexicographically least (id, chunk_idx) owns the chunk
    * hash; every other occurrence corpus-wide is dropped. Output is one
    * row per input document: the reconstructed `clean_text` (retained
    * chunks concatenated in document order) plus chunk accounting.
    *
    * 100 TB shape: chunking is the zero-shuffle [[cdcChunks]] kernel;
    * first-owner election is a partial-aggregating `groupBy(chunk_md5)
    * .agg(min(struct(id, idx)))` — map-side combine makes a
    * boilerplate chunk duplicated 10⁸ times cost one combined row per
    * task, where a `row_number` window over the hash partition would
    * single-reducer-sort those 10⁸ rows (the skew trap). Reconstruction
    * moves (idx, start, len) triples, never chunk bodies; the only
    * document-body transfer is the final join back to the source text,
    * keyed on the id the corpus is usually already partitioned by.
    */
  def exciseDuplicateChunks(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // two consumers with different exchange children (the election
    // groupBy and the ownership join) — unmaterialized, the CDC chunk
    // kernel would re-run the corpus once per consumer (the CTE
    // double-inlining trap). Position triples only, tiny rows.
    val chunks = persistRows(cdcChunks(df, idCol, textCol))
    val firstOwner = chunks
      .groupBy(col("chunk_md5"))
      .agg(min(struct(col(idCol).as("oid"), col("chunk_idx").as("oidx"))).as("owner"))
    val marked = chunks
      .join(firstOwner, Seq("chunk_md5"))
      .withColumn(
        "kept",
        col(idCol) === col("owner.oid") && col("chunk_idx") === col("owner.oidx"))
    val perDoc = marked
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops the nulls the `when` leaves for excised
        // chunks; array_sort restores document order (chunk_idx leads
        // the struct, so lexicographic struct order IS position order)
        array_sort(collect_list(when(
          col("kept"),
          struct(col("chunk_idx"), col("start_pos"), col("len"))))).as("spans"))
    df.select(col(idCol), col(textCol).as("_text"))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        when(col("spans").isNull, lit(""))
          .otherwise(concat_ws("", expr(
            "transform(spans, s -> substring(_text, CAST(s.start_pos AS INT), CAST(s.len AS INT)))")))
          .as("clean_text"))
  }
}
