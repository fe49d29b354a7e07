package graft.ext

import graft.bridge.SqlBridge
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-training-data pipelines (builder brief;
  * BASELINE.json north-star). All pure `functions._` expressions — no UDFs —
  * so the whole stage stays inside whole-stage codegen and scales linearly
  * with no shuffle at all (per-row map over the corpus).
  *
  * Tokenization convention shared with the DuckDB oracles: single-space
  * word split (the corpus is space-separated), so both engines see the
  * identical token stream.
  */
object TextAnalysis {

  /** Stopword lists per language for the n-gram/stopword language-ID
    * heuristic. Must stay in sync with the SQL literals in ExtQueries.
    */
  val StopwordsEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "on")
  val StopwordsDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "zu", "ein")
  val StopwordsFr: Seq[String] = Seq("le", "la", "les", "et", "est", "un", "une")
  val StopwordsEs: Seq[String] = Seq("el", "los", "las", "y", "es", "un", "una")

  def words(text: Column): Column = split(text, " ")

  /** Global top-k with ranks, scale-safe: orderBy+limit (TakeOrdered-
    * AndProject's per-partition heaps — never a single-partition sort of
    * the whole scored table, which grows with the corpus) and ranks
    * attached to the ≤k survivors via a triangular broadcast self-join
    * (k² bounded by the parameter, not the data). `sortKey` must be a
    * TOTAL order — struct() of the sort fields with numeric descending
    * fields negated.
    */
  private def rankedTopK(df: DataFrame, k: Int, sortKey: Column): DataFrame = {
    val top = df.withColumn("_sk", sortKey).orderBy(col("_sk")).limit(k)
    val sks = top.select(col("_sk"))
    val ranks = sks.as("a")
      .join(broadcast(sks.as("b")), col("b._sk") < col("a._sk"), "left")
      .groupBy(col("a._sk").as("_sk"))
      .agg((count(col("b._sk")) + 1).as("rank"))
    top.join(broadcast(ranks), "_sk").drop("_sk")
  }

  /** Token counting: whitespace words + a BPE-ish subword estimate
    * (ceil(len/4) pieces per word — the ~4-chars-per-token rule).
    */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = words(col(textCol))
    df.select(
      col(idCol),
      size(w).as("n_words"),
      aggregate(transform(w, t => ceil(length(t) / 4.0)), lit(0L), (acc, x) => acc + x)
        .as("n_subtokens"))
  }

  /** GPT-2-style pre-tokenizer regex, restricted to constructs whose
    * semantics are identical in Java regex and RE2 (so the SQL oracle
    * replays it): a token is an optionally-space-prefixed letter run,
    * digit run, or punctuation run. Whitespace is spelled as the explicit
    * class `[ \t\n\f\r]` rather than `\s` because the engines disagree on
    * `\s` itself (Java includes vertical tab \x0B, RE2 does not); with the
    * explicit class, VT counts as punctuation in BOTH engines. The real BPE merge table is a model
    * artifact; the PRE-tokenization is what decides token-count scaling,
    * and this is the deterministic core of it.
    */
  val BpeIshPattern = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \\t\\n\\f\\r]+"

  /** Token counting with the BPE-ish regex next to the whitespace count —
    * the pair a budgeted pretraining pipeline needs (budgets are in model
    * tokens, filters reason in words). Pure per-row map, zero shuffle.
    */
  def bpeTokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      size(words(col(textCol))).as("n_words"),
      size(regexp_extract_all(col(textCol), lit(BpeIshPattern), lit(0))).as("n_bpe_tokens"))

  /** Quality scoring: length / word stats / stopword density — the
    * standard cheap quality filters for pretraining corpora.
    */
  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = words(col(textCol))
    val nWords = size(w)
    val sumLen = aggregate(transform(w, t => length(t).cast("long")), lit(0L), (acc, x) => acc + x)
    val stopHits = size(filter(w, t => t.isInCollection(StopwordsEn)))
    df.select(
      col(idCol),
      length(col(textCol)).as("n_chars"),
      nWords.as("n_words"),
      round(sumLen.cast("double") / nWords, 4).as("avg_word_len"),
      round(stopHits.cast("double") / nWords, 4).as("stopword_ratio"))
  }

  /** Language ID by stopword-profile voting with a fixed priority order on
    * ties (en > de > fr > es). A real deployment would use character
    * n-gram profiles; the fixed-vocabulary corpus makes stopword votes the
    * honest deterministic variant of the same heuristic.
    */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = words(col(textCol))
    def hits(stop: Seq[String]) = size(filter(w, t => t.isInCollection(stop)))
    val (en, de, fr, es) = (hits(StopwordsEn), hits(StopwordsDe), hits(StopwordsFr), hits(StopwordsEs))
    val pred = when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
    df.select(col(idCol), en.as("s_en"), de.as("s_de"), fr.as("s_fr"), es.as("s_es"), pred.as("lang_pred"))
  }

  /** PII patterns for scrubbing. Conservative ASCII regexes restricted to
    * syntax with identical semantics in Java regex (Spark) and RE2
    * (DuckDB, re oracles): character classes, bounded repetition, \b word
    * boundaries — no backrefs, no lookaround.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** PII scrubbing: redact emails, IPv4 addresses, and phone-shaped
    * numbers to typed placeholder tokens, and count each redaction class
    * per document (the audit trail a compliance pipeline keeps). Pure
    * regexp expressions — codegen'd, shuffle-free, one corpus pass.
    * Order matters: emails first (an email can contain digits), then
    * phones, then IPs.
    */
  def scrubPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
      regexp_replace(
        regexp_replace(
          regexp_replace(t, EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"),
        Ipv4Re, "<IP>").as("clean_text"))
  }

  /** Text normalization: trim, collapse runs of whitespace to single
    * spaces, strip ASCII control characters, lowercase — the canonical
    * pre-dedup normalization pass. Pure expressions.
    */
  def normalize(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      lower(trim(regexp_replace(regexp_replace(col(textCol), "[\\x00-\\x1F]", ""), " +", " ")))
        .as("norm_text"))

  /** Repetition metrics (the Gopher/MassiveText-style quality filters for
    * machine-generated or boilerplate text), adapted to a newline-free
    * token stream:
    *   - dup_word_ratio: 1 − distinct words / words
    *   - top_bigram_ratio: occurrences of the most frequent adjacent
    *     bigram / bigram positions (n−1)
    *   - dup_trigram_ratio: trigram positions whose trigram occurs ≥2
    *     times / trigram positions (n−2)
    * Exact integer numerators are emitted alongside the rounded ratios so
    * the oracle compare is anchored on integers. One-pass typed kernel per
    * document (HashMap counting) rather than Catalyst array lambdas — the
    * nested-lambda formulation re-evaluates the split per element and
    * falls out of JIT (see Dedup.ngramJaccardPairs) — so this is a
    * zero-shuffle narrow map: per-doc state only, linear in corpus size,
    * unchanged at 100 TB.
    */
  def repetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ints = df
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val ws = text.split(" ", -1)
          val n = ws.length
          val distinct = new java.util.HashSet[String]()
          var i = 0
          while (i < n) { distinct.add(ws(i)); i += 1 }
          val bigrams = new java.util.HashMap[String, Int]()
          i = 0
          while (i < n - 1) {
            bigrams.merge(ws(i) + " " + ws(i + 1), 1, Integer.sum)
            i += 1
          }
          var topBigram = 0
          bigrams.values.forEach(c => if (c > topBigram) topBigram = c)
          val trigrams = new java.util.HashMap[String, Int]()
          i = 0
          while (i < n - 2) {
            trigrams.merge(ws(i) + " " + ws(i + 1) + " " + ws(i + 2), 1, Integer.sum)
            i += 1
          }
          var dupTri = 0L
          trigrams.values.forEach(c => if (c > 1) dupTri += c)
          (id, n.toLong, distinct.size.toLong, topBigram.toLong, dupTri)
        }
      }
      .toDF(idCol, "n_words", "n_distinct_words", "top_bigram_n", "n_dup_trigrams")
    ints.select(
      col(idCol),
      col("n_words"),
      col("n_distinct_words"),
      col("top_bigram_n"),
      col("n_dup_trigrams"),
      round(lit(1.0) - col("n_distinct_words") / col("n_words").cast("double"), 4)
        .as("dup_word_ratio"),
      when(col("n_words") > 1,
        round(col("top_bigram_n") / (col("n_words") - 1).cast("double"), 4))
        .otherwise(0.0).as("top_bigram_ratio"),
      when(col("n_words") > 2,
        round(col("n_dup_trigrams") / (col("n_words") - 2).cast("double"), 4))
        .otherwise(0.0).as("dup_trigram_ratio"))
  }

  /** Corpus-rarity quality score (the cheap stand-in for unigram-LM
    * cross-entropy filtering): average inverse corpus frequency of a
    * document's tokens. Documents of common boilerplate score low; rare-
    * token documents score high. Two passes over the corpus:
    *   1. global token counts (partial-aggregated shuffle, vocab-bounded);
    *   2. tokens broadcast-joined to counts, per-doc integer sum.
    * Rarity is computed in EXACT integer domain — pts(w) = (total·10⁶)
    * div count(w) — so the per-doc sum is order-independent and the
    * DuckDB oracle hash-matches without fp ceremony; only the final
    * avg division is floating-point, on the round(4) grid.
    *
    * Scale: the broadcast of the counts table assumes a bounded vocab —
    * at open-vocabulary 100 TB you'd cap to the top-K tokens (OOV tokens
    * score as the K-th count) before broadcasting; the plan shape is
    * unchanged.
    */
  def rarity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(words(col(textCol))).as("wd"))
    val counts = toks.groupBy("wd").agg(count(lit(1)).as("cnt"))
    // total token count derived from the (tiny) counts table, NOT from a
    // second corpus pass — the corpus is tokenized exactly twice (counts
    // pass + probe pass), the two-pass minimum for a global statistic
    val total = counts.agg(sum("cnt").as("t"))
    toks
      .join(broadcast(counts), "wd")
      .crossJoin(broadcast(total))
      // the ×10⁶ scale-up runs in decimal so the INTERMEDIATE product
      // cannot overflow Long past ~9.2e12 total tokens. The per-token
      // quotient pts = t·10⁶/cnt is Long and itself overflows for a
      // hapax (cnt=1) once t > ~9.2e12 — at that corpus size cap the
      // vocab to top-K tokens first (the documented scale lever above),
      // which also floors cnt at the K-th count and keeps pts in range
      .withColumn("pts", expr("(CAST(t AS DECIMAL(38,0)) * 1000000) DIV cnt"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_words"),
        sum("pts").as("sum_rarity_pts"))
      // mean rarity rounded half-up to 4 decimals in the INTEGER domain
      // (avg = sum/(10⁶·n); r = ⌊sum/(100·n) + ½⌋): the true mean lands
      // exactly on the half-way point often enough (sf0.1 doc 3040:
      // 30.01245) that rounding the fp quotient diverges between engines
      .select(
        col(idCol), col("n_words"), col("sum_rarity_pts"),
        (expr("(CAST(sum_rarity_pts AS DECIMAL(38,0)) * 2 + 100 * n_words) DIV (200 * n_words)")
          / 10000.0).as("avg_rarity"))
  }

  /** Fixed-point log2(t/cnt) in 2⁻¹⁶-bit units, floor-truncating — the
    * deterministic surprisal kernel for `lmCrossEntropy`. Integer part
    * E = floor(log2(t div cnt)) (exact: floor(log2(t/cnt)) equals
    * floor(log2(floor(t/cnt))) for t ≥ cnt ≥ 1); fractional bits by 16
    * rounds of the classic squaring algorithm over a 30-fractional-bit
    * fixed-point mantissa — every op is integer multiply/shift, so any
    * engine replays the identical value (the DuckDB oracle runs the same
    * 16 rounds as a recursive CTE). Truncation error < 2⁻¹⁵ bits, far
    * inside the round(4) output grid. BigInt only seeds the mantissa
    * (one division per VOCAB word, not per token), removing any bound on
    * the corpus token count t.
    */
  def surprisalFp(t: Long, cnt: Long): Long = {
    require(t >= cnt && cnt > 0, s"surprisalFp needs t >= cnt > 0, got t=$t cnt=$cnt")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(t / cnt)
    var z = ((BigInt(t) << 30) / (BigInt(cnt) << e)).toLong // mantissa in [2^30, 2^31)
    var frac = 0L
    var i = 0
    while (i < 16) {
      z = (z * z) >> 30
      if (z >= (1L << 31)) { frac = frac * 2 + 1; z >>= 1 }
      else frac *= 2
      i += 1
    }
    e.toLong * 65536 + frac
  }

  /** Unigram-LM cross-entropy quality score (the CCNet/Gopher-family
    * model-based pretraining filter): per document, the average surprisal
    * −log2 p(w) of its tokens under the corpus unigram LM
    * p(w) = cnt(w)/t. Boilerplate of common tokens scores low;
    * rare-token documents score high — the model-based upgrade of
    * `rarity`, and the same two-pass plan shape: (1) global token counts
    * (partial-aggregated, vocab-bounded); (2) tokens broadcast-joined to
    * the scored vocab, per-doc INTEGER sums. Surprisal is fixed-point
    * (`surprisalFp`), so the per-doc sum is order-independent and exact
    * on any engine; only the final averaging division is fp, on the
    * round(4) grid.
    *
    * Scale: like `rarity`, the broadcast assumes a bounded vocab — at
    * open-vocabulary 100 TB, cap to top-K tokens (OOV scores as the K-th
    * count) before broadcasting; plan shape unchanged. Training the LM
    * on a held-out corpus instead of self-scoring is the same plan with
    * `counts` read from the reference corpus.
    */
  def lmCrossEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(col(idCol), explode(words(col(textCol))).as("wd"))
    val counts = toks.groupBy("wd").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("t"))
    // surprisal per VOCAB word (tiny), then broadcast to the token stream
    val vocab = counts.crossJoin(broadcast(total))
      .select(col("wd"), col("cnt"), col("t"))
      .as[(String, Long, Long)]
      .map { case (wd, cnt, t) => (wd, surprisalFp(t, cnt)) }
      .toDF("wd", "sfp")
    toks
      .join(broadcast(vocab), "wd")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_words"),
        sum("sfp").as("sum_xent_fp"))
      // 4-decimal half-up in integer domain (avg = s/(65536·n)) — see
      // `rarity` for why fp-quotient rounding diverges between engines
      .select(
        col(idCol), col("n_words"), col("sum_xent_fp"),
        (expr("(CAST(sum_xent_fp AS DECIMAL(38,0)) * 20000 + 65536 * n_words) DIV (131072 * n_words)")
          / 10000.0).as("xent_bits"))
  }

  /** Bigram-LM conditional cross-entropy: per document, the average
    * surprisal −log2 p(w_i | w_{i−1}) of its adjacent-token transitions
    * under the corpus bigram LM, p(w2|w1) = c(w1,w2) / c(w1,·) with
    * c(w1,·) the count of transitions LEAVING w1. The conditional
    * upgrade of `lmCrossEntropy`: a document of common words in an
    * UNUSUAL order (shuffled/garbled text slips past unigram filters)
    * scores high here. Same integer fixed-point surprisal
    * (`surprisalFp(c1, c2)`), same two-pass plan: transition counts
    * (vocab-bounded partial-agg shuffle), then a broadcast join back to
    * the transition stream and per-doc INTEGER sums. Documents with
    * fewer than two tokens have no transitions and are absent from the
    * result (both engines agree).
    */
  def lmBigramCrossEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // typed kernel, not a Catalyst array lambda: the struct-per-position
    // formulation re-evaluates split() per element and falls out of JIT
    // (the measured cliff documented at Dedup.ngramJaccardPairs) —
    // measured 4.3s → sub-second on the sf0.1 bench for this query
    val bg = df
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val ws = text.split(" ", -1)
          (0 until ws.length - 1).iterator.map(i => (id, ws(i), ws(i + 1)))
        }
      }
      .toDF(idCol, "w1", "w2")
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    // left-context totals derived from the (tiny) transition table, not a
    // third corpus pass
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    val vocab = c2.join(c1, "w1")
      .select(col("w1"), col("w2"), col("c1"), col("c2"))
      .as[(String, String, Long, Long)]
      .map { case (w1, w2, t, c) => (w1, w2, surprisalFp(t, c)) }
      .toDF("w1", "w2", "sfp")
    bg.join(broadcast(vocab), Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum("sfp").as("sum_xent2_fp"))
      .select(
        col(idCol), col("n_bigrams"), col("sum_xent2_fp"),
        (expr("(CAST(sum_xent2_fp AS DECIMAL(38,0)) * 20000 + 65536 * n_bigrams) DIV (131072 * n_bigrams)")
          / 10000.0).as("xent2_bits"))
  }

  /** Per-group top-k n-grams (heavy hitters): the corpus-observability
    * query behind vocabulary reports, boilerplate discovery, and
    * contamination triage. Exact counts via one partial-aggregated
    * shuffle on (group, ngram), then a bounded per-group top-k window —
    * the window input is already the aggregated (group, ngram) table,
    * orders of magnitude smaller than the corpus. Ties break by ngram
    * ascending so results are deterministic across partitionings.
    */
  def topNgrams(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      n: Int,
      k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val grams = df
      .select(col(groupCol).cast("string").as("grp"), col(textCol).as("text"))
      .as[(String, String)]
      .flatMap { case (g, t) =>
        val w = t.split(" ", -1)
        (0 to w.length - n).iterator.map(i => (g, w.slice(i, i + n).mkString(" ")))
      }
      .toDF(groupCol, "ngram")
    val counts = grams.groupBy(col(groupCol), col("ngram")).agg(count(lit(1)).as("cnt"))
    counts
      .withColumn(
        "rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(groupCol)
            .orderBy(col("cnt").desc, col("ngram"))).cast("long"))
      .where(col("rank") <= k)
  }

  /** Fused one-pass corpus filter: the end-to-end keep/drop decision a
    * pretraining pipeline applies per document — length band, stopword
    * density, repetition, language — computed in a SINGLE typed kernel
    * pass (one corpus scan, zero joins, zero shuffle). The individual
    * operators (`quality`, `repetition`, `langId`) remain the
    * composable/introspectable forms; this is their fused production
    * shape: at 100 TB, three scans + two joins for a per-row decision
    * is three scans too many. The keep decision uses the ROUNDED ratio
    * columns so both engines decide from identical values.
    */
  def corpusFilter(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Long = 5L,
      maxWords: Long = 5000L,
      minStopRatio: Double = 0.05,
      maxDupTrigramRatio: Double = 0.5): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ints = df
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val en = StopwordsEn.toSet
        val de = StopwordsDe.toSet
        val fr = StopwordsFr.toSet
        val es = StopwordsEs.toSet
        it.map { case (id, text) =>
          val ws = text.split(" ", -1)
          val n = ws.length
          var sEn = 0L; var sDe = 0L; var sFr = 0L; var sEs = 0L
          var i = 0
          while (i < n) {
            val w = ws(i)
            if (en(w)) sEn += 1
            if (de(w)) sDe += 1
            if (fr(w)) sFr += 1
            if (es(w)) sEs += 1
            i += 1
          }
          val trigrams = new java.util.HashMap[String, Int]()
          i = 0
          while (i < n - 2) {
            trigrams.merge(ws(i) + " " + ws(i + 1) + " " + ws(i + 2), 1, Integer.sum)
            i += 1
          }
          var dupTri = 0L
          trigrams.values.forEach(c => if (c > 1) dupTri += c)
          (id, n.toLong, sEn, sDe, sFr, sEs, dupTri)
        }
      }
      .toDF(idCol, "n_words", "s_en", "s_de", "s_fr", "s_es", "n_dup_trigrams")
    val pred = when(
      col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") && col("s_en") >= col("s_es"), "en")
      .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es"), "de")
      .when(col("s_fr") >= col("s_es"), "fr")
      .otherwise("es")
    ints
      .withColumn("stopword_ratio", round(col("s_en").cast("double") / col("n_words"), 4))
      .withColumn(
        "dup_trigram_ratio",
        when(col("n_words") > 2,
          round(col("n_dup_trigrams") / (col("n_words") - 2).cast("double"), 4)).otherwise(0.0))
      .withColumn("lang_pred", pred)
      .withColumn(
        "keep",
        col("n_words").between(minWords, maxWords) &&
          col("stopword_ratio") >= minStopRatio &&
          col("dup_trigram_ratio") <= maxDupTrigramRatio &&
          col("lang_pred") === "en")
      .select(idCol, "n_words", "stopword_ratio", "dup_trigram_ratio", "lang_pred", "keep")
  }

  /** Overlapping fixed-window chunking — the step that turns documents
    * into trainable ≤`size`-token pieces with `overlap`-token context
    * carry-over (the standard long-document treatment before packing;
    * `Packing.packGreedy` consumes the output). Contract: one chunk for
    * docs of ≤ `size` tokens; otherwise starts at 0, stride, 2·stride, …
    * while a FULL window still fits strictly inside, plus a final
    * full-size chunk flush against the end (so every chunk except a
    * short doc's is exactly `size` tokens — no ragged tails to pad).
    * Pure per-row arithmetic: zero shuffles, and every boundary is
    * integer, so the DuckDB oracle replays chunk starts and md5s
    * verbatim.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String, size: Int, overlap: Int): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val stride = size - overlap
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val words = text.split(" ", -1)
          val n = words.length
          val starts =
            if (n <= size) Seq(0)
            else {
              val nMid = (n - size + stride - 1) / stride
              (0 until nMid).map(_ * stride) :+ (n - size)
            }
          starts.iterator.zipWithIndex.map { case (st, idx) =>
            val piece = words.slice(st, st + size).mkString(" ")
            val d = md.digest(piece.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val hex = d.map(b => f"$b%02x").mkString
            (id, idx.toLong, st.toLong, math.min(size, n - st).toLong, hex)
          }
        }
      }
      .toDF(idCol, "chunk_idx", "start_tok", "n_toks", "chunk_md5")
  }

  /** Per-document top-k keywords by tf·idf — the corpus-observability
    * companion to `rarity`/`lmCrossEntropy`: which terms CHARACTERIZE each
    * document against the corpus. idf is the fixed-point integer
    * log2(N/df_w) (`surprisalFp(N, df_w)` — exact on both engines), tf the
    * raw in-doc count, so score_fp = tf·idf_fp is a pure-integer rank key:
    * no fp, no engine divergence, deterministic ties (score desc, term
    * asc).
    *
    * Plan shape: one partial-agg shuffle on (doc, term) for tf; document
    * frequency derives from THAT table (no second corpus pass); the scored
    * vocab (tiny) broadcasts back; per-doc top-k is a bounded window over
    * the already-aggregated tf table. Same bounded-vocab broadcast caveat
    * as `rarity` at open-vocabulary scale (cap to top-K terms first).
    */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val tf = df
      .select(col(idCol), explode(words(col(textCol))).as("wd"))
      .groupBy(col(idCol), col("wd"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("wd").agg(count(lit(1)).as("dfw"))
    val ndocs = df.agg(count(lit(1)).as("nd"))
    val idf = dfreq.crossJoin(broadcast(ndocs))
      .select(col("wd"), col("dfw"), col("nd"))
      .as[(String, Long, Long)]
      .map { case (wd, dfw, nd) => (wd, dfw, surprisalFp(nd, dfw)) }
      .toDF("wd", "dfw", "idf_fp")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score_fp").desc, col("wd"))
    tf.join(broadcast(idf), "wd")
      .withColumn("score_fp", col("tf") * col("idf_fp"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("wd"), col("tf"), col("score_fp"))
  }

  /** BM25 lexical retrieval: score every document against a fixed bag of
    * query terms — the sparse/lexical complement to the dense ANN search
    * in `Similarity` (real retrieval stacks run both and fuse). Entirely
    * INTEGER arithmetic so the rank order is engine-exact:
    *
    *   idf_fp(t)  = surprisalFp(2·D+2, 2·df_t+1)       — fixed-point log2 of
    *                the Robertson idf (D−df+0.5)/(df+0.5)+1 = (2D+2)/(2df+1)
    *   tf-part    = tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with k1=6/5,
    *                b=3/4, avgdl=A/D (A = corpus tokens, D = docs); clearing
    *                denominators: 22·A·tf / (10·A·tf + 3·A + 9·dl·D)
    *   score_fp   = Σ_t idf_fp(t)·22·A·tf DIV (10·A·tf + 3·A + 9·dl·D)
    *
    * The per-term quotient runs in DECIMAL(38,0) before the integral
    * divide, so the A·tf·idf product cannot overflow Long at any corpus
    * size. Per-doc sums of integers are order-independent → the DuckDB
    * oracle hash-matches.
    *
    * Plan shape: doc lengths in one partial-agg pass; the term-filtered tf
    * table is tiny (pushdown: `wd IN (…)` reaches the scan side of the
    * explode); corpus constants (A, D) and per-term idf broadcast. No
    * per-query corpus shuffle — the shape an inverted-index-less scan
    * retrieval takes at scale.
    */
  def bm25TopK(
      df: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms, "terms must be non-empty and distinct")
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(col(idCol), explode(words(col(textCol))).as("wd"))
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val tot = dl.agg(sum("dl").as("A"), count(lit(1)).as("D"))
    val tf = toks
      .where(col("wd").isin(terms: _*))
      .groupBy(col(idCol), col("wd"))
      .agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy("wd").agg(count(lit(1)).as("dfw"))
      .crossJoin(broadcast(tot.select(col("D").as("_d"))))
      .as[(String, Long, Long)]
      .map { case (wd, dfw, d) => (wd, surprisalFp(2 * d + 2, 2 * dfw + 1)) }
      .toDF("wd", "idf_fp")
    val scored = tf.join(dl, idCol)
      .join(broadcast(idf), "wd")
      .crossJoin(broadcast(tot))
      .withColumn(
        "term_fp",
        expr("""CAST((CAST(idf_fp AS DECIMAL(38,0)) * 22 * A * tf)
               |     DIV (CAST(A AS DECIMAL(38,0)) * 10 * tf + 3*A + 9*dl*D) AS BIGINT)""".stripMargin))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"), sum("term_fp").as("score_fp"))
    rankedTopK(scored, k, struct((-col("score_fp")).as("s"), col(idCol).as("i")))
      .select(col(idCol), col("rank"), col("n_hits"), col("score_fp"))
  }

  /** Top-k collocations by pointwise mutual information: adjacent token
    * pairs whose co-occurrence beats independence — the corpus-linguistics
    * query behind multiword-expression vocab entries and tokenizer merge
    * candidates. PMI = log2(c12·N / (c1·c2R)) with c1 the left-context
    * count, c2R the right-context count, N total bigrams — all from ONE
    * bigram-count table (one partial-agg shuffle of the corpus, then
    * vocab-sized arithmetic). The log runs in `surprisalFp` fixed point
    * with an explicit sign (ratio < 1 → negative PMI), so ranking is
    * integer-exact. `minCount` filters the classic PMI
    * rare-pair artifact. Long-domain bound: c12·N and c1·c2R must fit a
    * signed 64-bit lane — past ~3e9 bigrams, downscale counts by a
    * common factor first (PMI is scale-invariant up to the shared
    * factor).
    */
  def collocations(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minCount: Long,
      k: Int): DataFrame = {
    require(minCount >= 1 && k > 0, "minCount and k must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val bg = df
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (_, text) =>
          val ws = text.split(" ", -1)
          (0 until ws.length - 1).iterator.map(i => (ws(i), ws(i + 1)))
        }
      }
      .toDF("w1", "w2")
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    val c2r = c12.groupBy("w2").agg(sum("c12").as("c2r"))
    val n = c12.agg(sum("c12").as("nn"))
    val scored = c12.where(col("c12") >= minCount)
      .join(c1, "w1").join(c2r, "w2").crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2r"), col("nn"))
      .as[(String, String, Long, Long, Long, Long)]
      .map { case (w1, w2, cc, a, b, nn) =>
        val lhs = cc * nn
        val rhs = a * b
        val pmi =
          if (lhs >= rhs) surprisalFp(lhs, rhs)
          else -surprisalFp(rhs, lhs)
        (w1, w2, cc, pmi)
      }
      .toDF("w1", "w2", "c12", "pmi_fp")
    rankedTopK(scored, k, struct((-col("pmi_fp")).as("s"), col("w1").as("a"), col("w2").as("b")))
      .select(col("w1"), col("w2"), col("c12"), col("pmi_fp"), col("rank"))
  }

  /** Corpus drift report: the tokens whose probability moved most
    * between two corpus snapshots — the distribution-shift monitor a
    * recurring ingest pipeline runs before a new snapshot is allowed to
    * train. Per token, the signed fixed-point log-ratio
    * d = log2( (c_new+1)/(T_new+V) ÷ (c_old+1)/(T_old+V) )
    * (add-one smoothing over the union vocab V, so appearing and
    * vanishing tokens score instead of dividing by zero), weighted by
    * the smoothed new-snapshot count — (c_new+1)·|d| ranks by how much MASS moved,
    * not just the ratio. Two count passes (one per snapshot, both
    * partial-aggregated) + vocab-sized arithmetic; all products integer
    * (same Long-domain bound as `collocations` — past ~3e9 tokens,
    * downscale counts by a shared factor).
    */
  def drift(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = oldDf.sparkSession
    import spark.implicits._
    def counts(df: DataFrame) = df
      .select(explode(words(col(textCol))).as("wd"))
      .groupBy("wd").agg(count(lit(1)).as("c"))
    val ca = counts(oldDf).select(col("wd"), col("c").as("ca"))
    val cb = counts(newDf).select(col("wd"), col("c").as("cb"))
    val joined = ca.join(cb, Seq("wd"), "full_outer")
      .select(col("wd"), coalesce(col("ca"), lit(0L)).as("ca"), coalesce(col("cb"), lit(0L)).as("cb"))
    val tot = joined.agg(
      sum("ca").as("ta"), sum("cb").as("tb"), count(lit(1)).as("v"))
    val scored = joined.crossJoin(broadcast(tot))
      .as[(String, Long, Long, Long, Long, Long)]
      .map { case (wd, a, b, ta, tb, v) =>
        val lhs = (b + 1) * (ta + v)
        val rhs = (a + 1) * (tb + v)
        val d = if (lhs >= rhs) surprisalFp(lhs, rhs) else -surprisalFp(rhs, lhs)
        (wd, a, b, d, (b + 1) * math.abs(d))
      }
      .toDF("wd", "ca", "cb", "d_fp", "moved_fp")
    rankedTopK(scored, k, struct((-col("moved_fp")).as("s"), col("wd").as("w")))
      .select(col("wd"), col("ca"), col("cb"), col("d_fp"), col("moved_fp"), col("rank"))
  }

  /** Robust per-group score normalization: median/MAD z-score of a
    * numeric column within each group — the outlier-resistant way to
    * compare quality metrics ACROSS sources whose scales differ (mean/
    * stddev normalization is exactly what a heavy-tailed crawl breaks).
    * Entirely integer: "median" is the lower-median order statistic
    * (rank (n+1) DIV 2, deterministic ties by id), MAD the same
    * statistic over |x − med|, and the z-score is scaled to 1e-4 units
    * via integer division (both engines truncate toward zero). No fp
    * anywhere, so the oracle hash-matches.
    *
    * Plan (audited with .explain): the OUTPUT path is exchange-free —
    * Catalyst prunes the rank windows off it entirely once `_r`/`_n`
    * drop, leaving scan + two BROADCAST joins; only the side-statistic
    * derivations shuffle the corpus (once for med, twice for mad, which
    * re-derives dev), and each aggregates to a group-cardinality-sized
    * table before broadcasting. Three corpus shuffles is the honest
    * price of EXACT grouped medians; at extreme scale persist the dev
    * lineage or sample the statistics (Spark's own quantile machinery
    * samples).
    */
  def robustNorm(df: DataFrame, idCol: String, groupCol: String, valueCol: String): DataFrame = {
    val grpW = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val wv = grpW.orderBy(col(valueCol), col(idCol))
    val ranked = df.select(col(idCol), col(groupCol), col(valueCol))
      .withColumn("_r", row_number().over(wv).cast("long"))
      .withColumn("_n", count(lit(1)).over(grpW))
    val med = ranked
      .where(col("_r") === expr("(_n + 1) DIV 2"))
      .select(col(groupCol), col(valueCol).as("med"))
    val dv = ranked.drop("_r", "_n")
      .join(broadcast(med), groupCol)
      .withColumn("dev", abs(col(valueCol) - col("med")))
    val wd = grpW.orderBy(col("dev"), col(idCol))
    val mad = dv
      .withColumn("_r", row_number().over(wd).cast("long"))
      .withColumn("_n", count(lit(1)).over(grpW))
      .where(col("_r") === expr("(_n + 1) DIV 2"))
      .select(col(groupCol), col("dev").as("mad"))
    dv.join(broadcast(mad), groupCol)
      .select(
        col(idCol), col(groupCol), col(valueCol), col("med"), col("mad"),
        expr(s"(($valueCol - med) * 10000) DIV greatest(mad, 1)").as("z_pts"))
  }

  /** Document fingerprinting: a whole-text content hash plus the minimum
    * word-5-gram hash (a 1-perm MinHash — robust to suffix edits). md5 on
    * both engines → identical hex, lexicographic min.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = words(col(textCol))
    val shingleMin = array_min(
      transform(
        sequence(lit(0), size(w) - 5),
        i => md5(concat_ws(" ", slice(w, i + 1, lit(5))))))
    df.select(
      col(idCol),
      md5(col(textCol)).as("fp"),
      when(size(w) >= 5, shingleMin).otherwise(md5(col(textCol))).as("shingle_min"))
  }

  /** Inverted-index build: token → flat postings (doc, term frequency,
    * ordered 0-based positions) plus the token's document frequency — the
    * offline artifact behind `bm25TopK`-style retrieval, materialized once
    * and range-partitioned by token at serving time.
    *
    * Scale shape: posexplode → ONE partial-aggregated shuffle on
    * (token, doc) builds the postings; df comes from a window PARTITIONED
    * by token over the postings table (≤ docs-containing-token rows per
    * frame, never a global sort). Positions are compacted to a CSV string
    * (sort_array first — explode order is not contractual), keeping the
    * row flat for storage and for the SQL oracle.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String, minDf: Int = 1): DataFrame = {
    val posting = df
      .select(col(idCol), posexplode(words(col(textCol))).as(Seq("pos", "token")))
      .where(col("token") =!= "")
      .groupBy(col("token"), col(idCol))
      .agg(
        count(lit(1)).as("tf"),
        concat_ws(",", sort_array(collect_list(col("pos")))).as("positions"))
    posting
      .withColumn(
        "df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("token"))).cast("long"))
      .where(col("df") >= minDf)
      .select(col("token"), col("df"), col(idCol), col("tf"), col("positions"))
  }

  /** Real byte-pair-encoding training, vocabulary-table formulation: the
    * corpus collapses to (word, count) ONCE, and every merge round runs
    * over that vocabulary weighted by frequency — the standard trainer
    * shape (Sennrich et al. 2016), and the reason BPE training scales:
    * rounds cost O(|vocab|), not O(corpus), and the per-round reduction
    * is one partial-aggregated groupBy + a 1-row argmax collect (the
    * merge decision is inherently sequential — that one row per round is
    * the entire driver traffic).
    *
    * Word pieces live in the DOUBLED-SPACE string form ` c  h  a  r `:
    * adjacent-pair merge is then ONE non-overlapping left-to-right
    * `replace(' l  r ', ' lr ')` — each match consumes only its own
    * boundary spaces, so consecutive occurrences still match, which makes
    * the greedy merge semantics identical in Spark and the SQL oracle by
    * construction.
    *
    * Returns the merge table rows and the final vocabulary
    * (word, cnt, s) with `s` still in doubled-space form. Each round's
    * vocabulary is a `SqlBridge.persistRows` copy and the round that
    * supersedes it frees it; the returned vocabulary is the last copy,
    * which ContextCleaner releases once it is unreachable.
    */
  def bpeTrainVocab(
      df: DataFrame,
      textCol: String,
      nMerges: Int): (Seq[(Long, String, String, Long)], DataFrame) = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    var vocab = SqlBridge.persistRows(df
      .select(explode(words(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .withColumn(
        "s",
        expr("' ' || array_join(transform(sequence(1, length(word)), i -> substr(word, i, 1)), '  ') || ' '")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val top = vocab
        .select(col("cnt"), split(trim(col("s")), "  ").as("t"))
        .where(size(col("t")) >= 2) // sequence(1,0) would count down — and 1-piece words have no pairs
        .select(
          col("cnt"),
          explode(expr(
            "transform(sequence(1, size(t) - 1), i -> struct(element_at(t, i) AS l, element_at(t, i + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getAs[String]("l")
        val r = top(0).getAs[String]("r")
        merges += ((rank.toLong, l, r, top(0).getAs[Long]("pc")))
        val next = SqlBridge.persistRows(
          vocab.withColumn("s", replace(col("s"), lit(s" $l  $r "), lit(s" $l$r "))))
        SqlBridge.releaseRows(vocab)
        vocab = next
        rank += 1
      }
    }
    (merges.toSeq, vocab)
  }

  /** The learned merge table of `bpeTrainVocab` as a DataFrame:
    * (merge_rank, lhs, rhs, cnt) in training order.
    */
  def bpeMergeTable(spark: org.apache.spark.sql.SparkSession, merges: Seq[(Long, String, String, Long)]): DataFrame = {
    import spark.implicits._
    merges.toDF("merge_rank", "lhs", "rhs", "cnt")
  }

  /** Tokenize-by-vocabulary: per-document REAL BPE token counts from the
    * trained vocabulary — the serving half of BPE (words join the
    * broadcast vocab→pieces map; no per-document merge loop ever runs).
    */
  def bpeTokenCounts(df: DataFrame, idCol: String, textCol: String, vocab: DataFrame): DataFrame = {
    val np = vocab.select(col("word"), size(split(trim(col("s")), "  ")).cast("long").as("np"))
    df.select(col(idCol), explode(words(col(textCol))).as("wd"))
      .where(col("wd") =!= "")
      .join(broadcast(np), col("wd") === col("word"))
      .groupBy(col(idCol))
      .agg(sum(col("np")).as("n_bpe_tokens"), count(lit(1)).as("n_words"))
  }

  /** The frozen weight vector of `qualityLr`: one milli-unit integer
    * weight per hash bucket, derived deterministically from md5 of the
    * bucket id (range [−1000, 1000]). A stand-in for trained fasttext-
    * style weights with the same storage/serving shape: `buckets` rows,
    * broadcastable at any real model size (2^20 buckets ≈ 8 MB).
    */
  def qualityLrWeights(spark: org.apache.spark.sql.SparkSession, buckets: Int): DataFrame =
    spark
      .range(buckets)
      .select(
        col("id").as("bucket"),
        (Sketches.hash60(concat(lit("w#"), col("id").cast("string"))) % 2001 - 1000).as("w_milli"))

  /** Model-based quality scoring: a fasttext-shaped LINEAR classifier
    * over hashed bag-of-words features — tokens hash into 2^b buckets
    * (hashing trick: no vocabulary, collisions are part of the model),
    * the bucket→weight table broadcast-joins onto the token stream, and
    * the document score is the mean bucket weight. This is the serving
    * plumbing of every learned quality filter (fasttext, logistic-reg
    * over hashed n-grams): ONE broadcast hash join + one partial-agg
    * groupBy per document — no shuffle grows with the model.
    *
    * Determinism: weights and sums are milli-unit BIGINTs; `keep`
    * thresholds on the integer sum (sign of the mean = sign of the sum),
    * and the mean surfaces on a FLOOR fixed-point grid
    * (⌊mean·10⁴⌋/10⁴) — `round()` on a half-way milli-grid value
    * string-rounds differently across engines, floor of one IEEE divide
    * does not. The sigmoid is deliberately omitted — it is monotone, so
    * thresholding on the raw score is equivalent and stays engine-exact.
    */
  def qualityLr(df: DataFrame, idCol: String, textCol: String, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val weights = qualityLrWeights(df.sparkSession, buckets)
    df.select(col(idCol), explode(words(col(textCol))).as("tok"))
      .withColumn("bucket", Sketches.hash60(col("tok")) % buckets)
      .join(broadcast(weights), "bucket")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w_milli")).as("score_milli"))
      .select(
        col(idCol),
        col("n_tokens"),
        (floor(col("score_milli").cast("double") * 10.0 / col("n_tokens")) / 10000.0).as("score"),
        (col("score_milli") > 0).as("keep"))
  }

  /** T5-style span-corruption example builder — the denoising-objective
    * transform that turns a clean corpus into (corrupted, targets)
    * training pairs: token positions partition into fixed `blockTokens`
    * blocks, a block is selected with probability `rateMille`‰ by an
    * md5 hash of (doc_id, block) — deterministic, so the SAME pairs
    * regenerate on any cluster/retry/partitioning, no RNG state — and a
    * selected block's first `spanTokens` tokens are replaced by one
    * `<extra_id_k>` sentinel in the corrupted stream and emitted after
    * that sentinel in the target stream (k = the span's ordinal within
    * the doc). Fixed-block selection keeps spans non-overlapping by
    * construction AND makes the whole transform replayable in SQL — the
    * greedy sequential masking of the original recipe is neither.
    * Expected corruption rate ≈ rateMille/1000 · spanTokens/blockTokens
    * (15% · 3/10 at the defaults ⇒ ~4.5% of tokens masked, ~1.5 spans
    * per 100 tokens).
    *
    * One typed kernel pass per document, zero shuffles — the same scale
    * shape as the other per-doc text kernels.
    */
  def spanCorruption(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockTokens: Int = 10,
      spanTokens: Int = 3,
      rateMille: Int = 150): DataFrame = {
    require(blockTokens >= 1 && spanTokens >= 1 && spanTokens <= blockTokens,
      s"need 1 <= spanTokens <= blockTokens, got $spanTokens/$blockTokens")
    require(rateMille >= 1 && rateMille <= 999, s"rateMille out of (0,1000): $rateMille")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val ws = text.split(" ", -1)
          val nBlocks = (ws.length + blockTokens - 1) / blockTokens
          val corrupted = new StringBuilder
          val targets = new StringBuilder
          var spans = 0L
          var masked = 0L
          var b = 0
          while (b < nBlocks) {
            val start = b * blockTokens
            val end = math.min(start + blockTokens, ws.length)
            val isMasked = (graft.ext.Dedup.tokenHash60(md, s"$id#$b") % 1000L) < rateMille
            var i = start
            if (isMasked) {
              val mEnd = math.min(start + spanTokens, end)
              if (corrupted.nonEmpty) corrupted.append(' ')
              corrupted.append("<extra_id_").append(spans).append('>')
              if (targets.nonEmpty) targets.append(' ')
              targets.append("<extra_id_").append(spans).append('>')
              while (i < mEnd) { targets.append(' ').append(ws(i)); i += 1 }
              masked += mEnd - start
              spans += 1
            }
            while (i < end) {
              if (corrupted.nonEmpty) corrupted.append(' ')
              corrupted.append(ws(i)); i += 1
            }
            b += 1
          }
          (id, ws.length.toLong, spans, masked, corrupted.toString, targets.toString)
        }
      }
      .toDF(idCol, "n_tokens", "n_spans", "n_masked", "corrupted", "targets")
  }

  /** Driver-collect cap for `qualityCalibrated`'s (group, score-unit)
    * cell table: 250 groups at the full 20001-point grid, with headroom
    * (the grid bound means a group contributes at MOST 20001 cells, so
    * the cap admits every bounded report dimension — source/lang/shard).
    * The cap exists to make a per-document grouping fail loudly instead
    * of OOMing the driver.
    */
  val QualityCalibratedMaxCells: Int = 5000250

  /** Budget-calibrated quality gate: instead of a hand-picked score
    * threshold, the caller names a KEEP RATE (`keepMille` per-mille of
    * the corpus) and the threshold is derived from the corpus's own
    * score distribution via the histogram quantile sketch — the way a
    * token-budgeted pipeline actually runs its quality filter ("keep the
    * best 70%", not "keep score > 0.3", because the budget is fixed and
    * the score scale drifts with the corpus). Fixed-point: per-token
    * scores land on the 4-dp floor grid, shift by +10000 into [0, 20000]
    * units, bin at 32 units × 640 bins; the cut is the sketch's
    * interpolated (1000−keepMille)‰ quantile in integer units, so both
    * engines keep the identical doc set. The kept fraction is
    * approximately keepMille — sketch-resolution exact, replayed by the
    * oracle.
    *
    * Scale shape: ONE Spark job — the scoring pass (broadcast model join
    * + per-doc partial agg) collapsing straight into a
    * (group, score-unit) → n table that is collected. The table is
    * BOUNDED BY THE SCORE GRID, not the corpus: u lives on the integer
    * lattice [0, 20000], so it has at most groups × 20001 rows at any
    * input size (the centroid/codebook "bounded small side" contract).
    * The ≤640-bin histogram, the interpolated quantile threshold, and
    * the per-group keep report are then pure integer arithmetic on the
    * driver — the r10 shape spent 3× the scoring pass's wall time on
    * per-job scheduling overhead for those three tiny distributed steps.
    * The driver math replays `histogramCells`/`histogramQuantiles`
    * bit-for-bit (same bin clamp, same ceil-rank, same integer
    * interpolation), so the SQL oracle is unchanged.
    */
  def qualityCalibrated(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      keepMille: Int,
      buckets: Int = 4096): DataFrame = {
    require(keepMille >= 1 && keepMille <= 999, s"keepMille out of (0,1000): $keepMille")
    val weights = qualityLrWeights(df.sparkSession, buckets)
    // u = floor(score_milli·10 / n_tokens) + 10000 — the same 4-dp floor
    // grid as qualityLr's score, kept in integer units end to end (the
    // oracle's `uu` CTE is exactly this expression); the group column
    // rides the scoring aggregation key (functionally dependent on the
    // doc id — same shuffle cardinality, no second join onto the corpus)
    val grpU = df
      .select(col(idCol), col(groupCol).as("grp"), explode(words(col(textCol))).as("tok"))
      .withColumn("bucket", Sketches.hash60(col("tok")) % buckets)
      .join(broadcast(weights), "bucket")
      .groupBy(col(idCol), col("grp"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w_milli")).as("score_milli"))
      .select(
        col("grp"),
        expr("CAST(floor(CAST(score_milli AS DOUBLE) * 10.0 / n_tokens) AS BIGINT) + 10000").as("u"))
      .groupBy(col("grp"), col("u"))
      .agg(count(lit(1)).as("n"))
      // ≤ groups × 20001 rows by the u-grid bound — small for a report
      // dimension (source/lang/shard). take(N+1) instead of collect():
      // a doc-cardinality groupCol would otherwise pull ~one row per
      // document to the driver; the cap turns that mistake into a loud
      // error instead of a driver OOM
      .take(QualityCalibratedMaxCells + 1)
    require(grpU.length <= QualityCalibratedMaxCells,
      s"qualityCalibrated collected more than $QualityCalibratedMaxCells (group, score) cells — " +
        s"'$groupCol' looks like a per-document column, not a bounded report dimension; " +
        "group by source/lang/shard or pre-bucket the column")
    // threshold: histogramCells + histogramQuantiles integer math on the
    // pre-aggregated counts (bin clamp → cumulative rank → interpolation)
    val binCnt = new java.util.TreeMap[Long, Long]()
    var total = 0L
    grpU.foreach { r =>
      val bin = math.min(math.max(r.getLong(1) / 32L, 0L), 639L)
      binCnt.merge(bin, r.getLong(2), (a, b) => a + b)
      total += r.getLong(2)
    }
    val target = math.max(((1000L - keepMille) * total + 999L) / 1000L, 1L)
    var cum = 0L
    var thr = 0L
    var found = false
    binCnt.forEach { (bin, cnt) =>
      if (!found) {
        cum += cnt
        if (cum >= target && cum - cnt < target) {
          thr = bin * 32L + ((target - (cum - cnt)) * 32L) / cnt
          found = true
        }
      }
    }
    // per-group gate report: sum the pre-aggregated counts above the cut
    val agg = scala.collection.mutable.LinkedHashMap.empty[Any, (Long, Long)]
    grpU.foreach { r =>
      val (nd, nk) = agg.getOrElse(r.get(0), (0L, 0L))
      agg(r.get(0)) = (nd + r.getLong(2), nk + (if (r.getLong(1) >= thr) r.getLong(2) else 0L))
    }
    val out = agg.toSeq.map { case (g, (nd, nk)) =>
      org.apache.spark.sql.Row(g, nd, nk, thr)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("grp", df.schema(groupCol).dataType),
      org.apache.spark.sql.types.StructField("n_docs", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_kept", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("threshold_units", org.apache.spark.sql.types.LongType, nullable = false)))
    df.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }
}
