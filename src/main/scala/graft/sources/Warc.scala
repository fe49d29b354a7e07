package graft.sources

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** WARC-flavored web-archive source/sink — the container format crawl
  * corpora ship in (Common Crawl et al.): many independent archive
  * files, each a concatenation of length-prefixed records. Spark has no
  * built-in reader for record-concatenated binary containers; this one
  * follows the format's own scale contract instead of fighting it:
  *
  * - **Parallelism is per-FILE for plain archives, per-MEMBER-GROUP for
  *   indexed gzipped ones.** A plain WARC record's boundary is only
  *   discoverable by walking headers (Content-Length), so mid-file
  *   splits cannot resync reliably; real archives are kept at ~1 GiB
  *   precisely so that file-granular parallelism is enough there. The
  *   member-gzipped form (`.warc.gz`, one gzip member per record — the
  *   shipping convention) DOES permit record-granular splits, and the
  *   writer emits a tiny offset index sidecar per archive (the role the
  *   cdx index plays for real crawls); [[readArchivesGzIndexedCounted]]
  *   turns it into range-read splits of `membersPerSplit` records, so
  *   one fat archive is many tasks, not one straggler.
  * - **Malformed records are counted, not silently dropped, not
  *   poison.** A record that fails its header walk emits a marker row
  *   (null doc_id, the archive path, the byte offset) and ABORTS that
  *   archive's remaining bytes — without a trustworthy Content-Length
  *   there is no safe resync point, and guessing one would mis-attribute
  *   bytes across records. The abort is visible in the count; the other
  *   archives are unaffected (the blast radius of one truncated upload
  *   is one file, the format's own failure unit).
  * - **Reject accounting is single-pass** via `observe()` metrics on the
  *   frame the caller consumes, like [[Jsonl.readDocumentsCounted]].
  *
  * Record layout written/parsed (WARC/1.0-shaped, deterministic):
  * {{{
  * WARC/1.0\r\n
  * WARC-Record-ID: <doc_id>\r\n
  * WARC-Type: resource\r\n
  * X-Graft-Lang: <lang>\r\n
  * X-Graft-Source: <source>\r\n
  * X-Graft-NChars: <n_chars>\r\n
  * Content-Length: <byte length of body>\r\n
  * \r\n
  * <body bytes (UTF-8 text)>\r\n\r\n
  * }}}
  */
object Warc {

  private val Magic = "WARC/1.0"
  private val Crlf = "\r\n"

  /** The SESSION's Hadoop conf (spark.hadoop.* — object-store
    * credentials, fs overrides) flattened to serializable props, so
    * executor-side code can rebuild it: a bare `new Configuration()` in
    * a task ignores session overrides and breaks any credentialed
    * scheme (the bug class fixed for the DSv2 path in r11; every
    * function-API reader/writer now threads this through).
    */
  def sessionHadoopProps(spark: SparkSession): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    spark.sessionState.newHadoopConf().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  /** Rebuild a Configuration from [[sessionHadoopProps]] in a task. */
  def hadoopConfFrom(props: Map[String, String]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Resolve a path string that may be a URL-encoded URI
    * (`input_file_name()` returns one): decode through java.net.URI so
    * directories with spaces/%-escapable characters reach the
    * FileSystem as real paths; plain path strings pass through.
    */
  def resolvePath(s: String): org.apache.hadoop.fs.Path =
    try {
      val u = new java.net.URI(s)
      if (u.getScheme != null) new org.apache.hadoop.fs.Path(u)
      else new org.apache.hadoop.fs.Path(s)
    } catch {
      case _: java.net.URISyntaxException => new org.apache.hadoop.fs.Path(s)
    }

  /** Serialize one document record. */
  def encodeRecord(docId: Long, text: String, lang: String, source: String, nChars: Long): Array[Byte] = {
    val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val header = new StringBuilder()
      .append(Magic).append(Crlf)
      .append("WARC-Record-ID: ").append(docId).append(Crlf)
      .append("WARC-Type: resource").append(Crlf)
      .append("X-Graft-Lang: ").append(lang).append(Crlf)
      .append("X-Graft-Source: ").append(source).append(Crlf)
      .append("X-Graft-NChars: ").append(nChars).append(Crlf)
      .append("Content-Length: ").append(body.length).append(Crlf)
      .append(Crlf)
      .toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Byte](header.length + body.length + 4)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(body, 0, out, header.length, body.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** Write a document table as `nArchives` archive files under `dir`
    * (`archive-<k>.warc`, k = doc_id mod nArchives, records in doc_id
    * order — deterministic bytes for a deterministic input). Each
    * archive is written by the executor that owns its rows through the
    * Hadoop FileSystem API (so `dir` may be any supported scheme);
    * hash-partitioning on the archive key means an archive never has
    * two writers. `nArchives` is the write-side parallelism AND the
    * read-side parallelism — size it like real crawls do (~1 GiB per
    * archive), not to the cluster's core count.
    */
  def writeArchives(docs: DataFrame, dir: String, nArchives: Int): Unit =
    writeArchivesImpl(docs, dir, nArchives, gz = false)

  private def writeArchivesImpl(docs: DataFrame, dir: String, nArchives: Int, gz: Boolean): Unit = {
    require(nArchives >= 1, s"nArchives must be >= 1, got $nArchives")
    val spark = docs.sparkSession
    import spark.implicits._
    val hprops = sessionHadoopProps(spark)
    docs
      .select(
        pmod(col("doc_id"), lit(nArchives.toLong)).as("_a"),
        col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .repartition(nArchives, col("_a"))
      .sortWithinPartitions("_a", "doc_id")
      .as[(Long, Long, String, String, String, Long)]
      .foreachPartition { (rows: Iterator[(Long, Long, String, String, String, Long)]) =>
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(hadoopConfFrom(hprops))
        // archives are integrity-checked by their own record framing
        // (Content-Length + trailer); local-FS .crc sidecars would only
        // shadow the format's own damage accounting
        fs.setWriteChecksum(false)
        // task-attempt-unique temp names + rename-on-commit: a
        // speculative or retried attempt writing the same archive must
        // never interleave bytes into the final file — each final name
        // is one atomic rename of one attempt's COMPLETE output (the
        // delete absorbs a prior failed attempt's committed file; with
        // two live attempts the last complete rename wins, which is the
        // standard last-committer-wins file-commit contract)
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        def commit(tmp: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit = {
          fs.delete(dst, false)
          if (!fs.rename(tmp, dst))
            throw new java.io.IOException(s"commit rename failed: $tmp -> $dst")
        }
        var current = -1L
        var out: java.io.OutputStream = null
        var tmp: org.apache.hadoop.fs.Path = null
        var dst: org.apache.hadoop.fs.Path = null
        // member index sidecar (gz only): "<ordinal> <offset> <length>"
        // per member — the cdx role: record-granular read splits — plus
        // the per-archive #zmap zone-map line (selective-scan skips)
        val idx = new StringBuilder
        val zone = new WarcGzSource.ZoneMapBuilder
        var memberOrd = 0L
        var memberOff = 0L
        def closeAndCommit(): Unit = if (out != null) {
          out.close(); out = null
          commit(tmp, dst)
          if (gz) {
            val idst = dst.suffix(".idx")
            val itmp = new org.apache.hadoop.fs.Path(
              idst.getParent, s".${idst.getName}.$attempt.tmp")
            try {
              val w = fs.create(itmp, true)
              w.write((zone.line + idx.toString)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              w.close()
              commit(itmp, idst)
            } catch {
              // retries use a NEW attempt id, so an orphaned hidden tmp
              // would sit in the output dir forever — best-effort delete
              // before rethrowing (the data-file tmp path does the same).
              // Also undo the already-committed ARCHIVE: an archive
              // without its sidecar poisons DSv2 planning of the whole
              // dir and is silently skipped by the indexed readers —
              // commit both or neither, a retry rewrites the pair
              case e: Throwable =>
                try { fs.delete(itmp, false); () } catch { case _: java.io.IOException => () }
                try { fs.delete(dst, false); () } catch { case _: java.io.IOException => () }
                throw e
            }
          }
        }
        try {
          rows.foreach { case (a, id, text, lang, source, nChars) =>
            if (a != current) {
              closeAndCommit()
              val name = if (gz) s"archive-$a.warc.gz" else s"archive-$a.warc"
              dst = new org.apache.hadoop.fs.Path(dir, name)
              tmp = new org.apache.hadoop.fs.Path(dir, s".$name.$attempt.tmp")
              out = fs.create(tmp, true)
              idx.setLength(0); zone.reset(); memberOrd = 0L; memberOff = 0L
              current = a
            }
            val rec = encodeRecord(id, text, lang, source, nChars)
            val bytes = if (gz) gzipMember(rec) else rec
            out.write(bytes)
            if (gz) {
              idx.append(memberOrd).append(' ').append(memberOff)
                .append(' ').append(bytes.length).append('\n')
              zone.add(id, lang, source, nChars)
              memberOrd += 1L; memberOff += bytes.length
            }
          }
          closeAndCommit()
        } finally if (out != null) {
          // failure path (success leaves out == null): close, then
          // best-effort delete the uncommitted tmp — retries get a new
          // attempt id and would otherwise accumulate orphaned hidden
          // files in the output directory indefinitely
          out.close()
          try { fs.delete(tmp, false); () } catch { case _: java.io.IOException => () }
        }
      }
  }

  /** Header-level record predicate: (doc_id, lang, source, n_chars) →
    * keep? Runs BETWEEN the header walk and the body decode, so a
    * pushed-down filter skips both the UTF-8 decode and the row
    * emission for non-matching records.
    */
  type HeaderKeep = (Long, String, String, Long) => Boolean

  val KeepAll: HeaderKeep = (_, _, _, _) => true

  /** Walk one archive's bytes into parsed rows. Emits
    * `(docId, text, lang, source, nChars, ok, offset)`; on the first
    * malformed record emits one `ok = false` marker carrying the byte
    * offset and stops (see object doc for why there is no resync).
    * Records failing `keep` are stepped over via Content-Length — no
    * body decode, no row (the DSv2 filter-pushdown path); malformed
    * records still emit their marker regardless of `keep`.
    */
  def parseArchive(
      path: String,
      bytes: Array[Byte],
      decodeBody: Boolean = true,
      keep: HeaderKeep = KeepAll): Iterator[(Option[Long], String, String, String, Option[Long], Boolean, Long)] =
    new Iterator[(Option[Long], String, String, String, Option[Long], Boolean, Long)] {
      private var pos = 0
      private var dead = false
      private var pending: (Option[Long], String, String, String, Option[Long], Boolean, Long) = _
      // lookahead: a filtered-out record advances pos but yields nothing,
      // so hasNext must walk ahead until a row, a marker, or clean EOF
      private def fill(): Unit =
        while (pending == null && !dead && pos < bytes.length) {
          val start = pos
          parseOne() match {
            case Some(row) => pending = row // Some(null) = filtered: loop on
            case None =>
              dead = true
              pending = (None, null, null, null, None, false, start.toLong)
          }
        }
      def hasNext: Boolean = { fill(); pending != null }
      def next(): (Option[Long], String, String, String, Option[Long], Boolean, Long) = {
        fill()
        if (pending == null) throw new NoSuchElementException("next on exhausted archive walk")
        val r = pending
        pending = null
        r
      }
      // None = malformed (abort), Some(null) = filtered out (skip),
      // Some(row) = emit
      private def parseOne(): Option[(Option[Long], String, String, String, Option[Long], Boolean, Long)] = {
        val start = pos
        // header block ends at the first \r\n\r\n
        var hEnd = -1
        var i = start
        while (hEnd < 0 && i + 3 < bytes.length) {
          if (bytes(i) == '\r' && bytes(i + 1) == '\n' && bytes(i + 2) == '\r' && bytes(i + 3) == '\n')
            hEnd = i
          i += 1
        }
        if (hEnd < 0) return None
        val header = new String(bytes, start, hEnd - start, java.nio.charset.StandardCharsets.UTF_8)
        val lines = header.split("\r\n", -1)
        if (lines.isEmpty || lines(0) != Magic) return None
        val kv = lines.iterator.drop(1).flatMap { l =>
          val c = l.indexOf(": ")
          if (c < 0) None else Some(l.substring(0, c) -> l.substring(c + 2))
        }.toMap
        val parsed = for {
          id <- kv.get("WARC-Record-ID").flatMap(_.toLongOption)
          len <- kv.get("Content-Length").flatMap(_.toIntOption).filter(_ >= 0)
          lang <- kv.get("X-Graft-Lang")
          source <- kv.get("X-Graft-Source")
          nChars <- kv.get("X-Graft-NChars").flatMap(_.toLongOption)
          bodyStart = hEnd + 4
          bodyEnd = bodyStart + len
          // body must fit AND be followed by the record trailer
          if bodyEnd + 4 <= bytes.length &&
            bytes(bodyEnd) == '\r' && bytes(bodyEnd + 1) == '\n' &&
            bytes(bodyEnd + 2) == '\r' && bytes(bodyEnd + 3) == '\n'
        } yield {
          pos = bodyEnd + 4
          if (!keep(id, lang, source, nChars)) null
          else {
            // Content-Length framing means a pruned scan (doc ids /
            // metadata only) skips the body DECODE entirely — the DSv2
            // column-pruning path
            val body =
              if (decodeBody) new String(bytes, bodyStart, len, java.nio.charset.StandardCharsets.UTF_8)
              else null
            (Some(id), body, lang, source, Some(nChars), true, start.toLong)
          }
        }
        parsed
      }
    }

  /** Single-pass read: `docs` in the `documents` shape plus deferred
    * reject accounting riding the caller's own first action (the
    * [[Jsonl.JsonlScan]] contract). `rejects` is the count of marker
    * rows: malformed/truncated records, one per aborted archive tail.
    *
    * Marker `_offset` coordinates, per reader:
    *  - whole-archive readers ([[readArchivesCounted]],
    *    [[readArchivesGzCounted]], the streams): the INFLATED byte
    *    offset within the walked archive where the failed record (or
    *    the damage-aborted tail) begins;
    *  - span readers ([[readArchivesGzIndexedCounted]], the `warcgz`
    *    DSv2 source, the indexed stream): span-level damage (short
    *    read / inflate abort / unservable span) reports the
    *    archive-relative COMPRESSED span start — locatable via the
    *    `.idx` sidecar; a record that fails its header walk reports the
    *    inflated offset within that span's buffer.
    */
  final case class WarcScan(docs: DataFrame, observation: Observation) {
    def records: Long = observation.get("records").asInstanceOf[Long]
    def rejects: Long = observation.get("rejects").asInstanceOf[Long]
  }

  def readArchivesCounted(spark: SparkSession, dir: String): WarcScan = {
    import spark.implicits._
    val obs = Observation()
    val parsed = spark.read.format("binaryFile")
      .load(new org.apache.hadoop.fs.Path(dir, "*.warc").toString)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) => parseArchive(path, bytes) }
      .toDF("doc_id", "text", "lang", "source", "n_chars", "_ok", "_offset")
      .observe(obs,
        count(lit(1)).as("records"),
        count(when(!col("_ok"), lit(1))).as("rejects"))
    WarcScan(
      parsed.where(col("_ok"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")),
      obs)
  }

  /** One gzip MEMBER per record — the compressed form crawl archives
    * actually ship (`.warc.gz`): each record is independently
    * deflated, members are concatenated per file, so real deployments
    * can range-request/recover at member boundaries. Java's
    * GZIPOutputStream writes a fixed zero-MTIME header — the bytes are
    * a pure function of the record.
    */
  def gzipMember(record: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(record); gz.finish(); gz.close()
    bos.toByteArray
  }

  /** Decompress a concatenation of gzip members (GZIPInputStream handles
    * member boundaries natively). Returns (decompressed prefix, damaged):
    * a corrupt/truncated member yields everything cleanly inflated
    * before it plus `damaged = true` — the caller charges the aborted
    * tail as ONE reject, same blast radius as the uncompressed reader.
    */
  def gunzipMembers(bytes: Array[Byte]): (Array[Byte], Boolean) = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](65536)
    try {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
      var n = in.read(buf)
      while (n >= 0) {
        // inflated-size guard: text inflates 3-8x, so a ~1 GiB archive
        // can exceed the JVM's single-array limit — fail LOUDLY with the
        // remediation instead of dying on an uncatchable OutOfMemoryError
        // from ByteArrayOutputStream.grow
        if (out.size().toLong + n > Int.MaxValue - 16L)
          throw new IllegalStateException(
            "inflated gz stream exceeds the single-buffer limit — read this archive " +
              "through the record-granular indexed reader (readArchivesGzIndexedCounted " +
              "or format(\"warcgz\")) with a smaller maxSplitBytes")
        out.write(buf, 0, n); n = in.read(buf)
      }
      (out.toByteArray, false)
    } catch {
      case _: java.io.IOException => (out.toByteArray, true)
    }
  }

  /** Whole-archive gz record walk shared by the batch reader and the
    * streaming ingest: inflate the member concatenation, walk records,
    * charge a damaged/truncated tail as exactly ONE marker row (unless
    * the parse already charged it — a partially-inflated final member
    * fails its own header walk).
    */
  def gzArchiveTuples(
      path: String,
      bytes: Array[Byte],
      decodeBody: Boolean = true): Vector[(Option[Long], String, String, String, Option[Long], Boolean, Long)] = {
    val (plain, damaged) = gunzipMembers(bytes)
    val rows = parseArchive(path, plain, decodeBody).toVector
    if (!damaged) rows
    else if (rows.lastOption.exists(!_._6)) rows
    else rows :+ ((Option.empty[Long], null: String, null: String, null: String,
      Option.empty[Long], false, plain.length.toLong))
  }

  /** Positioned-read gz span walk — ONE implementation of the
    * record-granular damage contract, shared by the function-API indexed
    * reader and the DSv2 `warcgz` partitions: read exactly the indexed
    * byte span (or whatever of it the file still serves — a file
    * truncated after indexing loses only this span's tail as one counted
    * marker), inflate, walk, tail-marker dedup as above.
    */
  def readGzSpanTuples(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      start: Long,
      span: Long,
      decodeBody: Boolean = true,
      keep: HeaderKeep = KeepAll): Vector[(Option[Long], String, String, String, Option[Long], Boolean, Long)] = {
    // one member larger than the buffer limit cannot be range-read in
    // one piece — fail loudly naming the span rather than let toInt wrap
    // into a negative allocation or a silent short read
    require(span <= Int.MaxValue - 16L,
      s"gz member span $span bytes at $p:$start exceeds the single-buffer limit; " +
        "lower maxSplitBytes or repack the archive (one record per member)")
    val avail = math.min(span, math.max(0L, fs.getFileStatus(p).getLen - start))
    if (avail <= 0L)
      Vector((Option.empty[Long], null: String, null: String, null: String,
        Option.empty[Long], false, start))
    else {
      val in = fs.open(p)
      val buf = new Array[Byte](avail.toInt)
      try in.readFully(start, buf)
      finally in.close()
      val (plain, damaged) = gunzipMembers(buf)
      val rows = parseArchive(p.toString, plain, decodeBody, keep).toVector
      if (!damaged && avail == span) rows
      else if (rows.lastOption.exists(!_._6)) rows
      // span-level damage (inflate abort / short read): report the
      // archive-relative COMPRESSED span start — the same coordinate as
      // the unservable branch above, locatable via the sidecar. (A
      // parse-level marker from parseArchive instead carries the
      // inflated offset within this span's walked buffer.)
      else rows :+ ((Option.empty[Long], null: String, null: String, null: String,
        Option.empty[Long], false, start))
    }
  }

  /** [[writeArchives]] with per-record gzip members (`archive-<k>.warc.gz`). */
  def writeArchivesGz(docs: DataFrame, dir: String, nArchives: Int): Unit =
    writeArchivesImpl(docs, dir, nArchives, gz = true)

  /** [[readArchivesCounted]] over member-gzipped archives: decompress
    * the member concatenation per file, then the same record walk. A
    * damaged member aborts that archive's remaining bytes as exactly
    * one counted reject (records cleanly inflated before it survive) —
    * the same failure-unit contract as the plain reader.
    */
  def readArchivesGzCounted(spark: SparkSession, dir: String): WarcScan = {
    import spark.implicits._
    val obs = Observation()
    val parsed = spark.read.format("binaryFile")
      .load(new org.apache.hadoop.fs.Path(dir, "*.warc.gz").toString)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) => gzArchiveTuples(path, bytes) }
      .toDF("doc_id", "text", "lang", "source", "n_chars", "_ok", "_offset")
      .observe(obs,
        count(lit(1)).as("records"),
        count(when(!col("_ok"), lit(1))).as("rejects"))
    WarcScan(
      parsed.where(col("_ok"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")),
      obs)
  }

  /** Record-granular member-gzipped read: parallelism follows the RECORD
    * count, not the archive count. The writer's `.warc.gz.idx` sidecars
    * (one `"ordinal offset length"` line per gzip member — the cdx-index
    * role for real crawls) are read as a tiny distributed table, grouped
    * into contiguous runs of `membersPerSplit` members, and each split
    * positioned-READS exactly its byte span and inflates only its own
    * members — one 1 GiB straggler archive becomes ~`members/split`
    * independent tasks, and no task ever holds a whole archive.
    *
    * Contract: members must be record-aligned (one record per member —
    * the shipping convention, and what [[writeArchivesGz]] produces), so
    * every split boundary is a record boundary. Damage accounting keeps
    * the one-marker-per-aborted-tail contract with a SMALLER blast
    * radius: a damaged member (or a span the file can no longer serve —
    * truncated after indexing) aborts its split's remaining bytes only.
    * Archives without sidecars are the foreign-archive case — read them
    * with [[readArchivesGzCounted]].
    */
  /** The indexed reader's work breakdown: one row per positioned-read
    * split `(path, start, span)`, folded from the `.warc.gz.idx`
    * sidecars (contiguous runs of `membersPerSplit` members — ordinals
    * are dense per archive, so `ord DIV membersPerSplit` groups
    * neighbors and the span is the length sum above the minimum
    * offset). Public so scale probes and specs can assert the split
    * count directly — it IS the read parallelism.
    */
  def gzMemberSplits(
      spark: SparkSession,
      dir: String,
      membersPerSplit: Int,
      maxSplitBytes: Long = 256L << 20): DataFrame = {
    require(membersPerSplit >= 1, s"membersPerSplit must be >= 1, got $membersPerSplit")
    require(maxSplitBytes >= 1, s"maxSplitBytes must be >= 1, got $maxSplitBytes")
    // index lines -> one row per member, grouped by the raw sidecar path
    // (the ".idx" strip runs AFTER aggregation, on ≤splits rows, not per
    // member line); the groupBy's hash partitioning already spreads
    // splits across tasks — no extra repartition exchange. Splits break
    // on BOTH a member-count and a byte budget: fat records would
    // otherwise grow a 4096-member span past the 2 GiB single-buffer
    // limit (and past any sane task size). Both group keys are monotone
    // in the member ordinal, so groups stay contiguous; a group's span is
    // ≤ maxSplitBytes + one member.
    val W = org.apache.spark.sql.expressions.Window
    val byFile = W.partitionBy(col("idx_path")).orderBy(col("ord"))
      .rowsBetween(W.unboundedPreceding, -1)
    spark.read.textFile(new org.apache.hadoop.fs.Path(dir, "*.warc.gz.idx").toString)
      // '#' lines are sidecar metadata (#zmap zone maps), not members
      .where(!col("value").startsWith("#"))
      .select(input_file_name().as("idx_path"), split(col("value"), " ").as("f"))
      .select(
        col("idx_path"),
        col("f").getItem(0).cast("long").as("ord"),
        col("f").getItem(1).cast("long").as("off"),
        col("f").getItem(2).cast("long").as("len"))
      .withColumn("cumb", coalesce(sum(col("len")).over(byFile), lit(0L)))
      .groupBy(
        col("idx_path"),
        expr(s"ord DIV $membersPerSplit").as("gc"),
        expr(s"cumb DIV $maxSplitBytes").as("gb"))
      .agg(min(col("off")).as("start"), sum(col("len")).as("span"))
      // NOTE: `path` is the URL-ENCODED URI input_file_name() reports
      // (".idx" is ASCII, so stripping it off the encoded form is safe);
      // consumers must resolve it with [[resolvePath]], not Path(String)
      .select(
        expr("substring(idx_path, 1, length(idx_path) - 4)").as("path"),
        col("start"), col("span"))
  }

  /** Driver/task-local twin of [[gzMemberSplits]]' grouping: fold one
    * sidecar's `(ord, off, len)` lines (ordinal order) into positioned
    * `(start, span)` read bounds — contiguous runs of `membersPerSplit`
    * members, broken early when the byte budget fills. Same group keys
    * as the SQL form (`ord DIV membersPerSplit`, cumulative-bytes `DIV
    * maxSplitBytes` over the PRECEDING members), so the two produce
    * identical spans; the streaming ingest uses this per landing
    * sidecar, where a distributed window over a 100-line index would be
    * all scheduling.
    */
  def gzSpanBounds(
      members: Iterator[(Long, Long, Long)],
      membersPerSplit: Int,
      maxSplitBytes: Long): Vector[(Long, Long)] = {
    require(membersPerSplit >= 1, s"membersPerSplit must be >= 1, got $membersPerSplit")
    require(maxSplitBytes >= 1, s"maxSplitBytes must be >= 1, got $maxSplitBytes")
    val out = Vector.newBuilder[(Long, Long)]
    var curKey: (Long, Long) = null
    var start = 0L
    var span = 0L
    var cum = 0L
    members.foreach { case (ord, off, len) =>
      val key = (ord / membersPerSplit, cum / maxSplitBytes)
      if (key != curKey) {
        if (curKey != null) out += ((start, span))
        curKey = key; start = off; span = 0L
      }
      span += len
      cum += len
    }
    if (curKey != null) out += ((start, span))
    out.result()
  }

  def readArchivesGzIndexedCounted(
      spark: SparkSession,
      dir: String,
      membersPerSplit: Int = 4096): WarcScan = {
    import spark.implicits._
    val obs = Observation()
    val hprops = sessionHadoopProps(spark)
    val parsed = gzMemberSplits(spark, dir, membersPerSplit)
      // EXPLICIT partition count: the split table is a few KB, so AQE's
      // small-partition coalescing would collapse the whole expansion
      // stage into ONE task (measured 32x parallelism loss) — an explicit
      // numPartitions round-robin is exempt from coalescing and spreads
      // splits evenly; with more splits than slots each task drains
      // several sequentially
      // keyless, unlike Dedup's hash-by-id fan-outs (r16): sorting a few-KB table is free
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        val conf = hadoopConfFrom(hprops)
        it.flatMap { case (path, start, span) =>
          // a file truncated/replaced AFTER indexing serves fewer bytes
          // than the sidecar promises: readGzSpanTuples reads what IS
          // there — cleanly inflated members survive, the shortfall
          // surfaces as this split's damaged tail (one counted reject),
          // and the other splits are untouched. resolvePath: the split
          // table's path is the URL-encoded URI input_file_name() gave
          // the sidecar — decode it or dirs with spaces fail the read
          val p = resolvePath(path)
          readGzSpanTuples(p.getFileSystem(conf), p, start, span)
        }
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars", "_ok", "_offset")
      .observe(obs,
        count(lit(1)).as("records"),
        count(when(!col("_ok"), lit(1))).as("rejects"))
    WarcScan(
      parsed.where(col("_ok"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")),
      obs)
  }

  /** Streaming WARC ingest: archives LANDING in `dir` become a live
    * document stream — the crawl-ingest front door. Each completed
    * archive file is one atomic unit of arrival (matching the write
    * side's temp-file+rename commit: a half-written archive is never
    * visible under the glob), and Spark's file-stream source tracks seen
    * paths in the checkpoint, so each archive is parsed exactly once
    * across restarts. Parallelism is per-archive within a micro-batch
    * (`maxFilesPerTrigger` bounds batch size); the indexed
    * record-granular path needs a sidecar listing pass and is the
    * batch/backfill reader — at ~1 GiB archive sizing, per-file is the
    * right streaming granularity.
    *
    * Damage accounting is IN-STREAM: streaming has no Observation
    * contract, so malformed records stay in the frame as marker rows
    * (`_ok = false`, `_offset` = damage offset) — filter `_ok` for clean
    * docs, count markers for the reject ledger; same accounting as the
    * batch readers, stream-shaped.
    */
  def readArchivesStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 16): DataFrame =
    archivesStreamImpl(spark, dir, maxFilesPerTrigger, gz = false)

  /** [[readArchivesStream]] over member-gzipped archives (`*.warc.gz`,
    * the shipping convention): each landing archive's member
    * concatenation is inflated then record-walked, with the whole-file
    * gz reader's damage contract (a damaged member = one in-stream
    * marker for that file's tail). The sidecar-indexed record-granular
    * split path needs a listing pass and is the batch/backfill reader;
    * per-landing-file is the streaming granularity.
    */
  def readArchivesGzStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 16): DataFrame =
    archivesStreamImpl(spark, dir, maxFilesPerTrigger, gz = true)

  /** Record-granular streaming ingest — the batch straggler fix
    * ([[readArchivesGzIndexedCounted]]) applied to the stream: the
    * file-stream source tracks the `.warc.gz.idx` SIDECARS (the writer
    * commits the archive before its sidecar, so a visible sidecar ⇒ a
    * complete archive — the sidecar IS the arrival event, exactly once
    * per archive across restarts), each landing sidecar folds into
    * `(start, span)` read bounds via [[gzSpanBounds]], the spans
    * round-robin across the cluster, and each task positioned-reads and
    * inflates only its own members. A fat landing archive becomes
    * many tasks WITHIN its micro-batch instead of one per-batch
    * straggler. Damage contract unchanged (in-stream `_ok = false`
    * markers, [[readArchivesStream]]'s accounting); the whole-file
    * streams remain the foreign-archive (no-sidecar) path.
    */
  def readArchivesGzIndexedStream(
      spark: SparkSession,
      dir: String,
      membersPerSplit: Int = 4096,
      maxFilesPerTrigger: Int = 16,
      maxSplitBytes: Long = 256L << 20): DataFrame = {
    import spark.implicits._
    val hprops = sessionHadoopProps(spark)
    spark.readStream.format("binaryFile")
      .schema(BinaryFileSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(new org.apache.hadoop.fs.Path(dir, "*.warc.gz.idx").toString)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (idxPath, content) =>
        val members = new String(content, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").iterator.filter(l => l.nonEmpty && !l.startsWith("#"))
          .map { l => val f = l.split(" "); (f(0).toLong, f(1).toLong, f(2).toLong) }
        gzSpanBounds(members, membersPerSplit, maxSplitBytes)
          .iterator.map { case (start, span) => (idxPath, start, span) }
      }
      // spread the micro-batch's spans across the cluster (the
      // explicit-numPartitions form is exempt from AQE coalescing, the
      // batch reader's lesson); with fewer spans than slots the
      // round-robin still lands each on its own task
      // keyless, unlike Dedup's hash-by-id fan-outs (r16): sorting a few-KB table is free
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val conf = hadoopConfFrom(hprops)
        it.flatMap { case (idxPath, start, span) =>
          val ip = resolvePath(idxPath)
          val dp = new org.apache.hadoop.fs.Path(ip.getParent, ip.getName.stripSuffix(".idx"))
          readGzSpanTuples(dp.getFileSystem(conf), dp, start, span)
        }
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars", "_ok", "_offset")
  }

  /** binaryFile's fixed schema — streaming sources must declare it up
    * front.
    */
  private val BinaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))

  private def archivesStreamImpl(
      spark: SparkSession, dir: String, maxFilesPerTrigger: Int, gz: Boolean): DataFrame = {
    import spark.implicits._
    val glob = if (gz) "*.warc.gz" else "*.warc"
    spark.readStream.format("binaryFile")
      .schema(BinaryFileSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(new org.apache.hadoop.fs.Path(dir, glob).toString)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        if (!gz) parseArchive(path, bytes) else gzArchiveTuples(path, bytes)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars", "_ok", "_offset")
  }

  /** Eager convenience form: (clean docs, reject count) — the counting
    * action runs here, so the caller's own consumption re-parses the
    * archives once more (two walks total, the [[Jsonl.readDocuments]]
    * contract — no persist is taken out on the caller's behalf, so
    * nothing is left pinned in the block manager). A single-scan ingest
    * should use [[readArchivesCounted]].
    */
  def readArchives(spark: SparkSession, dir: String): (DataFrame, Long) = {
    val scan = readArchivesCounted(spark, dir)
    scan.docs.count()
    (scan.docs, scan.rejects)
  }
}
