package graft.ext

import graft.bridge.SqlBridge.persistRows
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One decoded media record. */
final case class MediaMeta(
    id: Long,
    n_bytes: Long,
    width: Int,
    height: Int,
    channels: Int,
    format: String)

/** One decoded audio record. */
final case class AudioMeta(
    id: Long,
    n_bytes: Long,
    sample_rate: Int,
    channels: Int,
    bits: Int,
    n_frames: Long,
    format: String)

/** Multimodal-column plumbing (builder brief): media as opaque BINARY
  * columns with typed metadata, batch-decoded executor-side.
  *
  * The container has no image/audio codecs, so `decodeStub` is a
  * clearly-marked DETERMINISTIC FAKE of the decode step; everything
  * Spark-side — binary column handling, mapPartitions batch shape,
  * typed output schema, partition parallelism — is the real pipeline a
  * codec-backed decoder would drop into (swap `decodeStub` for the real
  * library call; one decoder instance per partition, streaming batches,
  * no per-row init cost).
  */
object Multimodal {

  // ImageIO wraps InputStreams in a DISK-backed cache by default — one
  // temp file created/written/deleted in java.io.tmpdir PER DECODE.
  // Every payload here is already an in-memory byte array, so that file
  // is pure IO tax, and a measured source of 3× wall flapping on the
  // decode family whenever tmp-dir IO state is dirty (r12 bench
  // investigation). Memory-backed caching is strictly better for this
  // access pattern. JVM-global; runs once per executor at object init.
  javax.imageio.ImageIO.setUseCache(false)

  /** Real image-header decode via `javax.imageio` (ships in the JDK — no
    * new dependency): sniffs the container by magic bytes, then reads
    * dimensions and band count from the HEADER only — `setInput(…,
    * seekForwardOnly, ignoreMetadata)` + `getWidth/getImageTypes` never
    * touch pixel data, the right cost when the payload column is TBs of
    * media. Payloads no registered reader recognizes (or that fail to
    * parse) fall back to `decodeStub`, so a mixed/corrupt 100 TB batch
    * degrades per-row instead of failing the job.
    *
    * JDK readers cover png/gif/bmp/jpeg/wbmp/tiff; band counts are what
    * the reader's first `ImageTypeSpecifier` reports (3 for rgb png/bmp,
    * 1 for palette gif).
    */
  def decodeMeta(id: Long, payload: Array[Byte]): MediaMeta =
    decodeMetaReal(id, payload).getOrElse(decodeStub(id, payload))

  /** The real-header-parse half of `decodeMeta`: `Some(meta)` when a
    * registered reader recognized AND parsed the payload, `None`
    * otherwise. Exposed separately so callers that must distinguish
    * "really decoded" from "stub arithmetic" (e.g. `imagePixelFeatures`)
    * pay exactly one ImageInputStream per row.
    */
  def decodeMetaReal(id: Long, payload: Array[Byte]): Option[MediaMeta] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    if (iis == null) return None
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis, true, true)
          val types = r.getImageTypes(0)
          Some(MediaMeta(
            id = id,
            n_bytes = payload.length.toLong,
            width = r.getWidth(0),
            height = r.getHeight(0),
            channels = if (types.hasNext) types.next().getNumBands else 0,
            format = r.getFormatName.toLowerCase))
        } finally r.dispose()
      }
    } catch { case _: Exception => None }
    finally iis.close()
  }

  /** Deterministic fixture encoder: a REAL png/gif/bmp byte stream of the
    * given dimensions (JDK `ImageIO` writers, fixed pixel fill) — lets the
    * decode path be oracle-checked end-to-end: the oracle predicts the
    * dimensions from the id arithmetic that chose them, the engine must
    * recover them from the actual encoded bytes.
    */
  def synthImage(format: String, width: Int, height: Int, salt: Int = 0): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    // the fill spreads across all 24 bits so pixel-domain features have
    // non-degenerate channels; lossless formats round-trip it exactly.
    // salt shifts every pixel by a constant — a "re-export with slightly
    // different levels" twin whose perceptual hash stays NEAR the
    // unsalted image (default 0 keeps every pre-existing fixture
    // byte-identical)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        img.setRGB(x, y, (x * 1000003 + y * 4099 + salt * 7919) & 0xffffff); x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, format, bos), s"no ImageIO writer for $format")
    bos.toByteArray
  }

  /** STUB fallback for payloads that are not decodable images — stands in
    * for e.g. a sidecar-metadata parse. Pure function of the payload so
    * tests and the SQL oracle can reproduce it exactly.
    */
  def decodeStub(id: Long, payload: Array[Byte]): MediaMeta = {
    val n = payload.length.toLong
    MediaMeta(
      id = id,
      n_bytes = n,
      width = (1 + n % 64).toInt,
      height = (1 + (n * 7) % 64).toInt,
      channels = (1 + n % 3).toInt,
      format = if (n % 2 == 0) "png" else "jpeg")
  }

  /** Batch decode over a binary payload column: one decoder per
    * partition via mapPartitions (the real-codec batch shape). Image
    * payloads get a real `javax.imageio` header parse; everything else
    * falls back to the deterministic stub.
    */
  def imageMeta(df: DataFrame, idCol: String, payloadCol: String): Dataset[MediaMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // ImageIO's reader registry is JVM-global (one scan per executor);
        // a non-JDK codec's per-partition handle would init here
        rows.map { case (id, payload) => decodeMeta(id, payload) }
      }
  }

  /** Real audio-header decode via `javax.sound.sampled` (JDK built-in):
    * `getAudioFileFormat` reads ONLY the container header (RIFF/AIFF/AU
    * chunks) — no sample data is decoded, the right cost when the payload
    * column is TBs of audio. Unrecognized payloads fall back to
    * `audioStub` per-row, like `decodeMeta`.
    */
  def decodeAudio(id: Long, payload: Array[Byte]): AudioMeta =
    try {
      val f = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(payload))
      val fmt = f.getFormat
      AudioMeta(
        id = id,
        n_bytes = payload.length.toLong,
        sample_rate = fmt.getSampleRate.toInt,
        channels = fmt.getChannels,
        bits = fmt.getSampleSizeInBits,
        n_frames = f.getFrameLength.toLong,
        format = f.getType.toString.toLowerCase)
    } catch { case _: Exception => audioStub(id, payload) }

  /** STUB fallback for non-audio payloads — deterministic arithmetic on
    * the byte length so the SQL oracle replays it exactly.
    */
  def audioStub(id: Long, payload: Array[Byte]): AudioMeta = {
    val n = payload.length.toLong
    AudioMeta(
      id = id,
      n_bytes = n,
      sample_rate = (8000 + (n % 3) * 4000).toInt,
      channels = (1 + n % 2).toInt,
      bits = 8,
      n_frames = n,
      format = "raw")
  }

  /** Deterministic fixture encoder: a canonical 16-bit little-endian PCM
    * WAV (hand-built RIFF header + fmt + data chunks — byte-deterministic,
    * unlike a codec encoder) with a fixed sample fill. Total size is
    * exactly 44 + nFrames·channels·2 bytes, so the oracle can predict
    * `n_bytes` too. `seed` offsets the sample fill (byte i of data =
    * `(i·37 + seed·101) & 0xff`) so fixtures can plant groups of
    * IDENTICAL streams (same seed) among decorrelated ones — seed 0
    * reproduces the original fill byte-exactly.
    */
  def synthWav(sampleRate: Int, channels: Int, nFrames: Int, seed: Int = 0): Array[Byte] = {
    val bits = 16
    val blockAlign = channels * bits / 8
    val dataLen = nFrames * blockAlign
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen).put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort) // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * blockAlign)
      .putShort(blockAlign.toShort)
      .putShort(bits.toShort)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < dataLen) { bb.put(((i * 37 + seed * 101) & 0xff).toByte); i += 1 }
    bb.array()
  }

  /** Batch audio decode over a binary payload column — the audio twin of
    * `imageMeta`, same mapPartitions batch shape.
    */
  def audioMeta(df: DataFrame, idCol: String, payloadCol: String): Dataset[AudioMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.map { case (id, payload) => decodeAudio(id, payload) })
  }

  /** REAL waveform decode: walk the RIFF chunk tree (same contract as
    * `parseAviFrameSpans` — headers only until the data chunk), locate
    * "fmt " and "data", and return `(sampleRate, channels, interleaved
    * 16-bit samples)` for canonical PCM-16 WAV payloads; `None` for
    * anything else (caller degrades per-row, never fails the batch).
    * This is the step past `audioMeta`'s header parse that lets audio
    * feed the same features→embedding→ANN chain as image
    * (`imagePixelFeatures`) and video (`frameFeatures`).
    */
  def decodePcm16(payload: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    if (payload.length < 12) return None
    val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(at: Int) = new String(payload, at, 4, "US-ASCII")
    if (fourcc(0) != "RIFF" || fourcc(8) != "WAVE") return None
    val riffEnd = math.min(payload.length.toLong, 8L + bb.getInt(4))
    var pos = 12L
    var rate = -1
    var channels = -1
    var dataAt = -1L
    var dataLen = 0L
    while (pos + 8 <= riffEnd && (rate < 0 || dataAt < 0)) {
      val id = fourcc(pos.toInt)
      val len = bb.getInt(pos.toInt + 4)
      if (len < 0 || pos + 8 + len > riffEnd) return None
      if (id == "fmt " && len >= 16) {
        val audioFormat = bb.getShort(pos.toInt + 8)
        val bits = bb.getShort(pos.toInt + 22)
        if (audioFormat != 1 || bits != 16) return None // PCM-16 only
        channels = bb.getShort(pos.toInt + 10).toInt
        rate = bb.getInt(pos.toInt + 12)
      } else if (id == "data") { dataAt = pos + 8; dataLen = len.toLong }
      pos += 8 + len + (len & 1) // RIFF word alignment
    }
    if (rate < 0 || channels < 1 || dataAt < 0) return None
    val n = (dataLen / 2).toInt
    val out = new Array[Short](n)
    var k = 0
    while (k < n) { out(k) = bb.getShort((dataAt + 2L * k).toInt); k += 1 }
    Some((rate, channels, out))
  }

  /** Per-(channel, window) waveform statistics — the audio twin of the
    * video path's per-frame features: decode each payload's PCM samples
    * and emit count / sum / min / max / sum-of-squares per channel per
    * `windowFrames`-frame window, ALL in exact integer domain (16-bit
    * samples; sums bounded by frames·2¹⁵, squares by frames·2³⁰ — far
    * inside Long), so the SQL oracle replays every value bit-exactly.
    * Undecodable payloads emit ONE marker row (`n_samples = 0`, NULL
    * stats) — counted, never silently dropped, the `imagePixelFeatures`
    * degradation contract.
    *
    * Scale shape: embarrassingly parallel mapPartitions, no shuffle —
    * each payload's cost is its own decode; downstream aggregation is
    * the caller's.
    */
  def audioFeatures(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      windowFrames: Int = 32): DataFrame = {
    require(windowFrames >= 1, s"windowFrames must be >= 1, got $windowFrames")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          (if (payload == null) None else decodePcm16(payload)) match {
            case Some((_, ch, samples)) =>
              val nFrames = samples.length / ch
              val nWin = (nFrames + windowFrames - 1) / windowFrames
              val cells = nWin * ch
              val n = new Array[Long](cells)
              val s = new Array[Long](cells)
              val mn = Array.fill(cells)(Long.MaxValue)
              val mx = Array.fill(cells)(Long.MinValue)
              val sq = new Array[Long](cells)
              var k = 0
              while (k < nFrames * ch) { // trailing odd half-frame bytes ignored
                val c = k % ch
                val w = (k / ch) / windowFrames
                val i = w * ch + c
                val v = samples(k).toLong
                n(i) += 1; s(i) += v
                if (v < mn(i)) mn(i) = v
                if (v > mx(i)) mx(i) = v
                sq(i) += v * v
                k += 1
              }
              Iterator.range(0, cells).map { i =>
                (id, (i % ch).toLong, (i / ch).toLong, n(i),
                  Option(s(i)), Option(mn(i)), Option(mx(i)), Option(sq(i)))
              }
            case None =>
              Iterator.single((id, 0L, 0L, 0L,
                Option.empty[Long], Option.empty[Long], Option.empty[Long], Option.empty[Long]))
          }
        }
      }
      .toDF("id", "channel", "win", "n_samples", "sum_s", "min_s", "max_s", "sum_sq")
  }

  /** Pool each decodable audio stream into one fixed-`dims` integer
    * vector: `vec[d] = Σ samples[k] for k ≡ d (mod dims)` over the raw
    * interleaved stream — exact Long sums cast to double (≪ 2⁵³), so
    * identical streams pool to identical vectors and the SQL oracle
    * replays the arithmetic. The embedding that plugs audio into the
    * same near-dup/ANN chain as `pooledVideoEmbedding` does for video.
    * Undecodable payloads are omitted (near-dup is defined over decoded
    * audio; `audioFeatures` is where they are counted).
    */
  def pooledAudioEmbedding(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      dims: Int = 12): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          (if (payload == null) None else decodePcm16(payload)) match {
            case Some((_, _, samples)) if samples.length >= dims =>
              val v = new Array[Long](dims)
              var k = 0
              while (k < samples.length) { v(k % dims) += samples(k); k += 1 }
              Iterator.single((id, v.map(_.toDouble)))
            case _ => Iterator.empty
          }
        }
      }
      .toDF("id", "embedding")
  }

  /** Audio-level near-dup — the embedding→ANN composition for the audio
    * modality: pool each stream (`pooledAudioEmbedding`) and route the
    * pooled vectors through `Similarity.nearDupPairs` (exact broadcast
    * kernel within the cap, banded LSH beyond it — the same routed path
    * as `videoNearDup`). Returns `(id_a, id_b, cosine)` pairs ≥ τ.
    */
  def audioNearDup(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      tau: Double,
      dims: Int = 12,
      maxBroadcastRows: Long = Similarity.MaxBroadcastRows,
      exactFirst: Boolean = false): DataFrame = {
    val pooled = pooledAudioEmbedding(df, idCol, payloadCol, dims)
    // exactFirst: collapse identical pooled vectors before the banded
    // route — the production order for dense-dup audio (re-encoded
    // re-uploads of the same master collapse to one representative);
    // see Similarity.nearDupPairsExactFirst for the measured why
    if (exactFirst)
      Similarity.nearDupPairsExactFirst(pooled, "id", "embedding", tau, dims, maxBroadcastRows)
    else
      Similarity.nearDupPairs(pooled, "id", "embedding", tau, dims, maxBroadcastRows)
  }

  /** Deterministic fixture encoder: a minimal RIFF/AVI-shaped container
    * (hand-built like `synthWav` — byte-deterministic, no codec):
    *
    * {{{
    * RIFF <len> "AVI "                       bytes  0..11
    *   LIST <len> "movi"                     bytes 12..23 ("movi" at 20)
    *     n × ("00dc" <frameBytes> data pad?) chunk k header at 24+k·S
    *   "idx1" <16·n>  n × entry              after the movi LIST
    * }}}
    *
    * where S = 8 + F + (F & 1) is the padded chunk stride (RIFF word
    * alignment: an odd-length chunk carries one trailing pad byte), and
    * each idx1 entry is the real AVI shape — fourcc "00dc", flags
    * 0x10 (keyframe), OFFSET RELATIVE TO THE "movi" FOURCC of the
    * chunk header, chunk size. Frame k's data therefore sits at absolute
    * offset 32 + k·S, and the whole payload is 32 + n·(S + 16) bytes —
    * both closed-form in (n, F), so the oracle predicts what the engine
    * must recover by parsing the index chunk.
    */
  def synthAvi(nFrames: Int, frameBytes: Int): Array[Byte] = {
    // RIFF word alignment: an odd-length chunk is followed by one pad
    // byte (the stride the parser's `len + (len & 1)` walk assumes) —
    // pads count toward the enclosing LIST length but not the chunk's own
    val chunk = 8 + frameBytes + (frameBytes & 1)
    val moviLen = 4 + nFrames * chunk // "movi" fourcc + padded chunks
    val idxLen = 16 * nFrames
    val total = 12 + 8 + moviLen + 8 + idxLen
    val bb = java.nio.ByteBuffer.allocate(total).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(total - 8).put("AVI ".getBytes("US-ASCII"))
    bb.put("LIST".getBytes("US-ASCII")).putInt(moviLen).put("movi".getBytes("US-ASCII"))
    var k = 0
    while (k < nFrames) {
      bb.put("00dc".getBytes("US-ASCII")).putInt(frameBytes)
      var i = 0
      while (i < frameBytes) { bb.put((((k * 131) + i * 37) & 0xff).toByte); i += 1 }
      if ((frameBytes & 1) == 1) bb.put(0.toByte): Unit
      k += 1
    }
    bb.put("idx1".getBytes("US-ASCII")).putInt(idxLen)
    k = 0
    while (k < nFrames) {
      bb.put("00dc".getBytes("US-ASCII"))
        .putInt(0x10)            // AVIIF_KEYFRAME
        .putInt(4 + k * chunk)   // chunk header, relative to "movi" fourcc
        .putInt(frameBytes)
      k += 1
    }
    bb.array()
  }

  /** REAL container-index parse: walk the RIFF chunk tree, locate the
    * "movi" LIST (for the offset base) and the "idx1" chunk, and return
    * the ABSOLUTE data offset of each indexed frame — `Some(offsets)`
    * only when the payload is a well-formed RIFF/AVI with a usable
    * index; `None` otherwise (caller falls back to the stub). Touches
    * only chunk headers and the 16-byte index entries — never frame
    * data — the right cost when the payload column is TBs of video.
    */
  def parseAviFrames(payload: Array[Byte]): Option[Array[Long]] =
    parseAviFrameSpans(payload).map(_.map(_._1))

  /** `parseAviFrames` with sizes: (absolute data offset, data length) per
    * indexed frame — the span a frame DECODER needs (offset alone only
    * feeds seek planning). Same walk, same well-formedness contract.
    */
  def parseAviFrameSpans(payload: Array[Byte]): Option[Array[(Long, Long)]] = {
    if (payload.length < 24) return None
    val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(at: Int) = new String(payload, at, 4, "US-ASCII")
    if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return None
    val riffEnd = math.min(payload.length.toLong, 8L + bb.getInt(4))
    var pos = 12L
    var moviFourccPos = -1L
    var idx1Pos = -1L
    var idx1Len = 0
    // top-level chunk walk (chunks are 2-byte aligned per RIFF)
    while (pos + 8 <= riffEnd && (moviFourccPos < 0 || idx1Pos < 0)) {
      val id = fourcc(pos.toInt)
      val len = bb.getInt(pos.toInt + 4)
      if (len < 0 || pos + 8 + len > riffEnd) return None
      if (id == "LIST" && len >= 4 && fourcc(pos.toInt + 8) == "movi")
        moviFourccPos = pos + 8
      else if (id == "idx1") { idx1Pos = pos + 8; idx1Len = len }
      pos += 8 + len + (len & 1)
    }
    if (moviFourccPos < 0 || idx1Pos < 0 || idx1Len % 16 != 0) return None
    val n = idx1Len / 16
    val out = new Array[(Long, Long)](n)
    var k = 0
    while (k < n) {
      val e = (idx1Pos + 16L * k).toInt
      val rel = bb.getInt(e + 8).toLong // chunk header, relative to "movi"
      val size = bb.getInt(e + 12).toLong
      val dataAt = moviFourccPos + rel + 8
      // corrupt index entries (negative offset/size, data before the movi
      // body or past RIFF end) → None, the documented stub fallback —
      // never a negative or out-of-range "real" offset
      if (rel < 0 || size < 0 || dataAt < moviFourccPos + 4 || dataAt + size > riffEnd) return None
      out(k) = (dataAt, size)
      k += 1
    }
    Some(out)
  }

  /** Video frame sampling: every `everyN`-th frame, one row per sampled
    * frame — the 1→N row shape a frame extractor needs; downstream
    * per-frame decode batches with `imageMeta`.
    *
    * Payloads that parse as RIFF/AVI get REAL offsets: `parseAviFrames`
    * reads the container's idx1 index and emits the actual byte position
    * of each frame's data (a real demuxer's seek table). Unparseable
    * payloads fall back to the deterministic stub (frame count =
    * 1 + n_bytes/256, 256-byte strides) so a mixed/corrupt batch
    * degrades per-row instead of failing the job — the `decodeMeta`
    * contract applied to video.
    */
  def frameSample(df: DataFrame, idCol: String, payloadCol: String, everyN: Int): DataFrame = {
    require(everyN >= 1, s"everyN must be >= 1, got $everyN")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          if (payload == null) Iterator.empty // NULL payload → zero rows, not an NPE
          else {
            val nBytes = payload.length.toLong
            parseAviFrames(payload) match {
              case Some(offsets) =>
                Iterator.range(0, offsets.length, everyN)
                  .map(k => (id, nBytes, offsets.length.toLong, k.toLong, offsets(k)))
              case None =>
                val nFrames = 1L + nBytes / 256L
                (0L until nFrames by everyN.toLong).iterator
                  .map(k => (id, nBytes, nFrames, k, k * 256L))
            }
          }
        }
      }
      .toDF("id", "n_bytes", "n_frames", "frame_idx", "byte_offset")
  }

  /** `synthAvi` generalized to ARBITRARY frame payloads: the same
    * RIFF/AVI container (movi LIST + idx1 index, pad-byte aligned), but
    * each "00dc" chunk carries a caller-provided byte stream — e.g. a
    * real `synthImage("bmp", …)` raster, making a fixture whose frames
    * are genuinely DECODABLE images (the shape of an MJPEG-style AVI).
    * Offsets stay closed-form: chunk k's data starts at
    * 32 + Σ_{j<k} (8 + len_j + (len_j & 1)).
    */
  def synthAviWith(frames: Seq[Array[Byte]]): Array[Byte] = {
    val chunkLens = frames.map(f => 8 + f.length + (f.length & 1))
    val moviLen = 4 + chunkLens.sum
    val idxLen = 16 * frames.length
    val total = 12 + 8 + moviLen + 8 + idxLen
    val bb = java.nio.ByteBuffer.allocate(total).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(total - 8).put("AVI ".getBytes("US-ASCII"))
    bb.put("LIST".getBytes("US-ASCII")).putInt(moviLen).put("movi".getBytes("US-ASCII"))
    for (f <- frames) {
      bb.put("00dc".getBytes("US-ASCII")).putInt(f.length).put(f)
      if ((f.length & 1) == 1) bb.put(0.toByte): Unit
    }
    bb.put("idx1".getBytes("US-ASCII")).putInt(idxLen)
    var rel = 4
    for (f <- frames) {
      bb.put("00dc".getBytes("US-ASCII")).putInt(0x10).putInt(rel).putInt(f.length)
      rel += 8 + f.length + (f.length & 1)
    }
    bb.array()
  }

  /** Per-frame feature extraction — the step that completes the VIDEO
    * modality's media→embedding→ANN chain (image completed it via
    * `pixelGridEmbedding`): demux each payload's frames through the REAL
    * `idx1` index (`parseAviFrameSpans`), then DECODE every `everyN`-th
    * frame's payload and emit its pixel-grid embedding — one row per
    * (id, frame_idx, dim). Frames that are losslessly-decodable images
    * (png/bmp — e.g. MJPEG-style containers) get the real 3·grid²-dim
    * per-cell channel-mean embedding from actual decoded pixels; frames
    * whose decode is unavailable or non-reproducible fall back to the md5
    * `featureStub` on the frame's bytes (the honest model-inference
    * seam), and non-AVI payloads degrade to the `frameSample` stub
    * geometry (256-byte strides) so a mixed/corrupt batch never fails
    * the job.
    *
    * Scale shape: embarrassingly parallel mapPartitions — no shuffle at
    * all; each row's cost is its own demux + per-sampled-frame decode.
    * Downstream: pool per (id, dim) and feed `Similarity` for
    * video-level near-dup / ANN.
    */
  def frameFeatures(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      everyN: Int,
      grid: Int = 2,
      dims: Int = 12): DataFrame = {
    require(everyN >= 1, s"everyN must be >= 1, got $everyN")
    require(dims == 3 * grid * grid, s"dims must equal 3*grid^2 (${3 * grid * grid}), got $dims")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def stubRow(id: Long, k: Long, slice: Array[Byte]) =
          featureStub(md, slice, dims).iterator.zipWithIndex
            .map { case (v, i) => (id, k, i.toLong, v) }
        rows.flatMap { case (id, payload) =>
          if (payload == null) Iterator.empty
          else parseAviFrameSpans(payload) match {
            case Some(spans) =>
              Iterator.range(0, spans.length, everyN).flatMap { k =>
                val (off, len) = spans(k)
                val slice = java.util.Arrays.copyOfRange(
                  payload, off.toInt, (off + len).toInt)
                pixelGridEmbedding(slice, grid) match {
                  case Some(vals) => vals.iterator.map { case (dim, v) => (id, k.toLong, dim, v) }
                  case None => stubRow(id, k.toLong, slice)
                }
              }
            case None =>
              val nBytes = payload.length.toLong
              val nFrames = 1L + nBytes / 256L
              (0L until nFrames by everyN.toLong).iterator.flatMap { k =>
                val slice = java.util.Arrays.copyOfRange(
                  payload, (k * 256L).toInt, math.min(nBytes, k * 256L + 256L).toInt)
                stubRow(id, k, slice)
              }
          }
        }
      }
      .toDF("id", "frame_idx", "dim", "value")
  }

  /** Deterministic video-fixture payload for a (id, text) document row:
    * %3==2 rows keep their raw text bytes (the degradation path), every
    * other row becomes a g=id%16-group AVI of 1+g%4 real BMP frames with
    * dims (2+(g·3+k)%23, 2+(g·5+k·7)%23) — the arithmetic the mm_* /
    * dedup_video oracles predict in closed form. ONE definition, so the
    * gate queries and the scale probes are guaranteed to measure the
    * same corpus shape.
    */
  def synthAviFixture(id: Long, text: String): Array[Byte] =
    if (id % 3 == 2) text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    else {
      val g = (id % 16).toInt
      synthAviWith((0 until 1 + g % 4).map(k =>
        synthImage("bmp", 2 + (g * 3 + k) % 23, 2 + (g * 5 + k * 7) % 23)))
    }

  /** Pool a per-frame feature table into ONE fixed-point vector per
    * video: per-dim sums of 4-dp micro values across all sampled frames
    * — exact integer arithmetic, so every engine (and the dedup_video
    * oracle) pools identically. The video-level embedding the ANN/near-
    * dup machinery consumes.
    */
  def pooledVideoEmbedding(frameFeatures: DataFrame, idCol: String = "id"): DataFrame =
    frameFeatures
      .withColumn("vm", expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)"))
      .groupBy(col(idCol), col("dim")).agg(sum("vm").as("sm"))
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("sm")))),
        x => x.getField("sm").cast("double")).as("embedding"))

  /** Video-level near-dup — the scale-routed composition over decoded
    * frames: pool per-frame grid embeddings (`pooledVideoEmbedding`) and
    * hand the pooled vectors to `Similarity.nearDupPairs` — the exact
    * broadcast kernel while the video count fits the cap, the banded
    * `lshPairs` path beyond it (a 100 TB video corpus must never meet
    * `cosinePairs`' driver collect). Identical twin videos collide in
    * every LSH table, so the duplicate set is route-invariant; pass
    * `maxBroadcastRows = 0` to force the banded path (the
    * `dedup_video_lsh` gate row does, proving route parity at a scale
    * where both are runnable).
    */
  def videoNearDup(
      frameFeatures: DataFrame,
      tau: Double,
      idCol: String = "id",
      dims: Int = 12,
      maxBroadcastRows: Long = Similarity.MaxBroadcastRows,
      exactFirst: Boolean = false): DataFrame = {
    val pooled = pooledVideoEmbedding(frameFeatures, idCol)
    // exactFirst: collapse identical pooled vectors before the banded
    // route — re-encodes/re-uploads of the same master are the dense
    // case (measured ~10x banded-candidate tax at 10x twin density,
    // BENCH_NOTES r10); see Similarity.nearDupPairsExactFirst
    if (exactFirst)
      Similarity.nearDupPairsExactFirst(pooled, idCol, "embedding", tau, dims, maxBroadcastRows)
    else
      Similarity.nearDupPairs(pooled, idCol, "embedding", tau, dims, maxBroadcastRows)
  }

  /** Shot-boundary (scene-cut) detection over a per-frame feature table
    * (`frameFeatures` output: id, frame_idx, dim, value): a frame is a
    * cut when its feature vector moved at least `tauFp` from the
    * previous SAMPLED frame, by L1 distance in 4-dp fixed point —
    * integer arithmetic end-to-end, so both engines agree exactly. The
    * keyframe-selection primitive of a video training pipeline: cuts
    * segment a clip into shots, and one representative frame per shot
    * replaces N near-identical ones (the temporal analogue of near-dup
    * dedup).
    *
    * Returns (id, frame_idx, l1_fp) for cut frames only. Frame 0 is
    * never a cut (no predecessor); single-frame videos emit nothing.
    *
    * Scale shape: one groupBy shuffle on (id, frame_idx) to assemble
    * per-frame vectors (dims → one array row), then a lag window
    * partitioned by video id — state is one previous vector per
    * partition stream, and a video's cost is its own frame count. No
    * joins, no pair enumeration.
    */
  def sceneCuts(
      frameFeatures: DataFrame,
      tauFp: Long,
      idCol: String = "id"): DataFrame = {
    require(tauFp >= 0, s"tauFp must be >= 0, got $tauFp")
    val perFrame = frameFeatures
      .withColumn("vm", expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)"))
      .groupBy(col(idCol), col("frame_idx"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("vm")))),
        x => x.getField("vm")).as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("frame_idx"))
    perFrame
      .withColumn("pv", lag(col("v"), 1).over(w))
      .where(col("pv").isNotNull)
      .select(
        col(idCol), col("frame_idx"),
        aggregate(
          zip_with(col("v"), col("pv"), (a, b) => abs(a - b)),
          lit(0L), (acc, x) => acc + x).as("l1_fp"))
      .where(col("l1_fp") >= tauFp)
  }

  /** Shot segmentation: group each video's sampled frames into shots
    * delimited by `sceneCuts` boundaries (frame 0 opens shot 0; every
    * cut frame opens a new shot). Returns one row per shot —
    * (id, shot_id, start_frame, end_frame, n_frames) — the table a
    * keyframe-selection pass consumes: keep `start_frame` (or any
    * per-shot representative) and drop the near-identical rest, the
    * temporal analogue of cluster-then-keep-best dedup.
    *
    * Scale shape: `sceneCuts`' groupBy + lag window, one more running
    * `sum(is_cut)` window over the same per-video partitioning (no new
    * shuffle — same key), and a final (id, shot_id) partial-agg groupBy.
    * All counts, no pair enumeration; a video's cost is its frame count.
    */
  def shotSegments(
      frameFeatures: DataFrame,
      tauFp: Long,
      idCol: String = "id"): DataFrame = {
    val cuts = sceneCuts(frameFeatures, tauFp, idCol)
      .select(col(idCol), col("frame_idx"), lit(1).as("is_cut"))
    val frames = frameFeatures.select(col(idCol), col("frame_idx")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("frame_idx"))
    frames
      .join(cuts, Seq(idCol, "frame_idx"), "left")
      .withColumn("shot_id", sum(coalesce(col("is_cut"), lit(0))).over(w).cast("long"))
      .groupBy(col(idCol), col("shot_id"))
      .agg(
        min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"))
  }

  /** Formats whose decode is bit-exact and decoder-independent — the only
    * ones `imagePixelFeatures` computes means for.
    */
  private val LosslessFormats = Set("png", "bmp")

  /** REAL pixel-domain feature extraction: full `ImageIO.read` decode
    * (unlike `decodeMeta`'s header-only parse — this is the path that
    * pays for pixels) and per-channel mean intensity over the raster.
    * Means are computed ONLY for lossless formats (png/bmp), whose
    * decoded pixels are bit-exact on any decoder — so the oracle can
    * predict them in closed form from a synthesized fill. Lossy or
    * palette formats (jpeg quantization and gif palettes are
    * decoder-dependent) report their header dimensions with NULL means
    * rather than silently emitting non-reproducible numbers;
    * undecodable payloads report 0×0 and NULL means. One decoder pass
    * per row inside mapPartitions — the same batch seam a model encoder
    * drops into.
    */
  def imagePixelFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          // one header parse per row; the Option distinguishes a real
          // container (header dims) from undecodable (0x0) without a
          // second ImageInputStream
          decodeMetaReal(id, payload) match {
            case None => (id, 0, 0, 0L, 0L, 0L, false)
            case Some(meta) if !LosslessFormats.contains(meta.format) =>
              (id, meta.width, meta.height, 0L, 0L, 0L, false)
            case Some(_) =>
              val img =
                try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
                catch { case _: Exception => null }
              if (img == null) (id, 0, 0, 0L, 0L, 0L, false)
              else {
                val w = img.getWidth
                val h = img.getHeight
                var sr = 0L; var sg = 0L; var sb = 0L
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) {
                    val rgb = img.getRGB(x, y)
                    sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
                    x += 1
                  }
                  y += 1
                }
                (id, w, h, sr, sg, sb, true)
              }
          }
        }
      }
      .toDF("id", "width", "height", "_sr", "_sg", "_sb", "_ok")
      .select(
        col("id"), col("width"), col("height"),
        meanExpr("_sr").as("mean_r"), meanExpr("_sg").as("mean_g"), meanExpr("_sb").as("mean_b"))
  }

  /** 4-decimal half-up channel mean in the integer domain (sums and
    * pixel counts are non-negative) — the engine-divergence-free form of
    * round(sum/npix, 4).
    */
  private def meanExpr(sumCol: String): org.apache.spark.sql.Column =
    // dimensions widen to BIGINT before multiplying: a gigapixel raster's
    // 2·w·h overflows 32-bit arithmetic (ANSI failure or silent wrap)
    when(
      col("_ok"),
      expr(s"""(CAST($sumCol AS DECIMAL(38,0)) * 20000 + CAST(width AS BIGINT) * height)
              | DIV (2 * CAST(width AS BIGINT) * height)""".stripMargin) / 10000.0)

  /** Blockhash-style PERCEPTUAL image hash: the decoded raster is binned
    * into a `grid`×`grid` cell map, each cell's mean luminance (r+g+b,
    * integer) is compared against the corpus-free per-IMAGE median cell
    * value, and the resulting grid²-bit signature is packed into
    * grid²/16 16-bit words. All arithmetic is integer fixed-point
    * (4-dp half-up cell means, rank-based threshold = the sorted cell
    * value at index grid²/2), so a SQL oracle predicts every word in
    * closed form from a synthesized fill — no float medians, no
    * DCT-rounding divergence (the reason this is blockhash, not pHash's
    * DCT: bit-exactness across engines is the contract here).
    *
    * Near-identical images (re-exports, small level shifts) move a few
    * cells across the median → small Hamming distance; the word split
    * exists for [[imagePhashPairs]]' banded join. One row per input:
    * lossless decodable rasters at least grid×grid get `ok = true` and
    * the words; everything else (undecodable, lossy, too small) is a
    * counted `ok = false` marker row — never silently dropped.
    *
    * 100 TB shape: the whole hash is computed inside one decode
    * `mapPartitions` pass — per-image local state only, zero shuffle,
    * 5 small columns out per image.
    */
  def imageBlockhash(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      grid: Int = 8): DataFrame = {
    require(grid >= 4 && grid % 4 == 0, s"grid must be a positive multiple of 4, got $grid")
    val spark = df.sparkSession
    import spark.implicits._
    val nCells = grid * grid
    val nWords = nCells / 16
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val okMeta = decodeMetaReal(id, payload)
            .filter(m => LosslessFormats.contains(m.format))
          val img = okMeta.flatMap { _ =>
            try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
            catch { case _: Exception => None }
          }.filter(i => i.getWidth >= grid && i.getHeight >= grid)
          img match {
            case None => (id, false, null.asInstanceOf[Array[Long]])
            case Some(im) =>
              val w = im.getWidth
              val h = im.getHeight
              val sums = new Array[Long](nCells)
              val counts = new Array[Long](nCells)
              var y = 0
              while (y < h) {
                val cy = y.toLong * grid / h
                var x = 0
                while (x < w) {
                  val cell = (cy * grid + x.toLong * grid / w).toInt
                  val rgb = im.getRGB(x, y)
                  sums(cell) += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
                  counts(cell) += 1
                  x += 1
                }
                y += 1
              }
              // 4-dp half-up fixed-point cell mean; every cell of a
              // >= grid×grid raster receives >= 1 pixel
              val fp = Array.tabulate(nCells)(i => (sums(i) * 20000 + counts(i)) / (2 * counts(i)))
              val thresh = fp.sorted.apply(nCells / 2)
              val words = new Array[Long](nWords)
              var k = 0
              while (k < nCells) {
                if (fp(k) > thresh) words(k / 16) |= 1L << (k % 16)
                k += 1
              }
              (id, true, words)
          }
        }
      }
      .toDF("id", "ok", "words")
      .select(
        Seq(col("id"), col("ok")) ++
          (0 until nWords).map(j => col("words").getItem(j).as(s"w$j")): _*)
  }

  /** Near-duplicate image pairs by perceptual-hash Hamming distance ≤
    * `maxDist`, banded exactly like [[graft.ext.Dedup.simhashPairs]]:
    * Hamming ≤ maxDist < nWords forces at least one of the 16-bit words
    * equal (pigeonhole), so candidates come from an EQUI-join on
    * (word index, word value) — never an all-pairs scan — and the exact
    * Hamming check runs on candidates only. Marker rows (`ok = false`)
    * never pair.
    */
  def imagePhashPairs(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      maxDist: Int = 3,
      grid: Int = 8,
      exactFirst: Boolean = false): DataFrame = {
    val nWords = grid * grid / 16
    require(maxDist >= 0 && maxDist < nWords,
      s"banding guarantees candidates only for maxDist < $nWords, got $maxDist")
    val hashesRaw = imageBlockhash(df, idCol, payloadCol, grid).where(col("ok"))
    if (!exactFirst) phashBandedPairs(hashesRaw, nWords, maxDist)
    else {
      // materialize the hash table (`SqlBridge.persistRows`): it feeds
      // BOTH the class election and the member join (different exchange
      // children — otherwise the image DECODE would run once per
      // consumer). One 6-column row per image.
      val hashes = persistRows(hashesRaw)
      // the dense-dup production order (the nearDupPairsExactFirst
      // story in hash space): byte-identical re-uploads share one hash,
      // and identical hashes collide in EVERY band — a class of n twins
      // pays C(n,2) candidate rows per band. Collapse to one
      // representative per DISTINCT hash, band over the duplicate-free
      // class table, expand pairs back through the classes (cross pairs
      // inherit the representative Hamming — identical hashes, same
      // distance; within-class pairs are Hamming 0 by definition).
      val wcols = (0 until nWords).map(j => col(s"w$j"))
      val classes = persistRows(hashes.groupBy(wcols: _*)
        .agg(min(col("id")).as("rep"), count(lit(1)).as("csz")))
      val members = hashes.join(classes.select(wcols :+ col("rep"): _*), (0 until nWords).map(j => s"w$j"))
        .select(col("rep"), col("id"))
      val reps = classes.select(col("rep").as("id") +: wcols: _*)
      val repPairs = phashBandedPairs(reps, nWords, maxDist)
      val cross = repPairs
        .join(members.select(col("rep").as("da"), col("id").as("ma")), Seq("da"))
        .join(members.select(col("rep").as("db"), col("id").as("mb")), Seq("db"))
        .select(
          least(col("ma"), col("mb")).as("da"),
          greatest(col("ma"), col("mb")).as("db"),
          col("hamming"))
      val within = classes.where(col("csz") > 1L)
        .join(members, Seq("rep"))
        .select(col("rep"), col("id").as("ma"))
        .join(members.select(col("rep"), col("id").as("mb")), Seq("rep"))
        .where(col("ma") < col("mb"))
        .select(col("ma").as("da"), col("mb").as("db"), lit(0L).as("hamming"))
      cross.unionByName(within)
    }
  }

  private def phashBandedPairs(hashes: DataFrame, nWords: Int, maxDist: Int): DataFrame = {
    val wcols = (0 until nWords).map(j => col(s"w$j"))
    val banded = hashes.select(
      col("id") +: wcols :+
        posexplode(array(wcols: _*)).as(Seq("band", "key")): _*)
    val ham = (0 until nWords)
      .map(j => bit_count(col(s"a.w$j").bitwiseXOR(col(s"b.w$j"))))
      .reduce(_ + _)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("da"), col("b.id").as("db"), ham.cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxDist)
  }

  /** STUB feature extraction: a `dims`-dim "embedding" derived from the
    * payload's md5 bytes, scaled to [0, 1]. Stands in for model inference;
    * a real encoder drops into the same mapPartitions seam (one model
    * handle per partition, batched forward passes). Pure function of the
    * payload so the SQL oracle reproduces it exactly.
    */
  def featureStub(md: java.security.MessageDigest, payload: Array[Byte], dims: Int): Array[Double] = {
    val d = md.digest(payload)
    Array.tabulate(dims)(i => (d(i % d.length) & 0xff) / 255.0)
  }

  /** REAL pixel-derived embedding: a `grid`×`grid` downsampled map of
    * per-cell channel means over the decoded raster (the
    * `imagePixelFeatures` walk, binned). Pixel (x, y) lands in cell
    * (x·grid/w, y·grid/h); dim index = (cy·grid + cx)·3 + channel; the
    * value is mean/255 ∈ [0, 1] in 4-decimal fixed point — the same
    * integer-exact rounding as `imagePixelFeatures`, so the oracle
    * predicts every component in closed form from a synthesized fill.
    * Only defined (Some) for lossless formats whose decode is bit-exact
    * (png/bmp); cells that receive no pixels (w or h < grid) emit no
    * entry. Sums fit a Long to ~2^41 pixels per cell — beyond any real
    * frame.
    */
  def pixelGridEmbedding(payload: Array[Byte], grid: Int): Option[Array[(Long, Double)]] = {
    require(grid >= 1, s"grid must be >= 1, got $grid")
    val meta = decodeMetaReal(0L, payload).getOrElse(return None)
    if (!LosslessFormats.contains(meta.format)) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null) return None
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Long](grid * grid * 3)
    val cnts = new Array[Long](grid * grid)
    var y = 0
    while (y < h) {
      val cy = y * grid / h
      var x = 0
      while (x < w) {
        val cell = cy * grid + x * grid / w
        val rgb = img.getRGB(x, y)
        sums(cell * 3) += (rgb >> 16) & 0xff
        sums(cell * 3 + 1) += (rgb >> 8) & 0xff
        sums(cell * 3 + 2) += rgb & 0xff
        cnts(cell) += 1
        x += 1
      }
      y += 1
    }
    Some((0 until grid * grid * 3).iterator.collect {
      case dim if cnts(dim / 3) > 0 =>
        val n = cnts(dim / 3)
        // 4-dp half-up of sum/(n·255) in pure integer arithmetic
        (dim.toLong, ((sums(dim) * 20000L + n * 255L) / (2L * n * 255L)) / 10000.0)
    }.toArray)
  }

  /** Batch feature extraction over a binary payload column → one row per
    * (id, dim, value): the media→embedding step of a multimodal pipeline.
    * The array form for Similarity ops is a `collect_list` over dim away;
    * the exploded form keeps the oracle on scalar columns.
    *
    * Losslessly-decodable payloads get a REAL embedding — the
    * `pixelGridEmbedding` grid of per-cell channel means (3·grid² dims)
    * computed from actual decoded pixels. Everything else falls back to
    * the md5 `featureStub` (`dims` components): the model-inference seam
    * stays honest for payloads whose decode is not bit-reproducible,
    * and a mixed batch degrades per-row.
    */
  def features(df: DataFrame, idCol: String, payloadCol: String, dims: Int = 12, grid: Int = 2): DataFrame = {
    // one embedding space for the whole output: the stub must emit the
    // same dimensionality the pixel-grid path produces, or a mixed batch
    // yields vectors downstream cosine silently truncates
    require(dims == 3 * grid * grid, s"dims must equal 3*grid^2 (${3 * grid * grid}), got $dims")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition model handle would init here
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, payload) =>
          pixelGridEmbedding(payload, grid) match {
            case Some(vals) => vals.iterator.map { case (dim, v) => (id, dim, v) }
            case None =>
              featureStub(md, payload, dims).iterator.zipWithIndex
                .map { case (v, i) => (id, i.toLong, v) }
          }
        }
      }
      .toDF("id", "dim", "value")
  }

  /** "Resize" metadata transform (STUB: aspect-preserving target fit —
    * the arithmetic a real resize plans with; the pixel op would run in
    * the imageMeta decode seam).
    */
  def resizePlan(meta: Dataset[MediaMeta], maxSide: Int): DataFrame = {
    val spark = meta.sparkSession
    import spark.implicits._
    meta.map { m =>
      val scale = math.min(1.0, maxSide.toDouble / math.max(m.width, m.height))
      (m.id, m.width, m.height,
        math.max(1, math.round(m.width * scale).toInt),
        math.max(1, math.round(m.height * scale).toInt))
    }.toDF("id", "width", "height", "out_width", "out_height")
  }
}
