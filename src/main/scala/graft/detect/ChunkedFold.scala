package graft.detect

import graft.bridge.SqlBridge
import graft.model.TsSample
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Skew escape for ONE series too large to fold sequentially.
  *
  * KeyedFold's parallelism is across series keys: a single gigantic key
  * folds on one task (documented bound, KeyedFold.scala). For the EMA
  * family that bound is removable, because the recurrence
  * `e_i = α·v_i + β·e_{i−1}` is LINEAR: over a chunk of m points it
  * composes to `e_out = β^m·e_in + B` with a chunk-local B. That yields
  * the classic parallel linear-recurrence (scan) schedule:
  *
  *   1. per (series, time-chunk): one parallel pass computing the chunk
  *      summary (m, B) — chunks of the SAME key land on different tasks;
  *   2. per series: a sequential fold over the chunk summaries (one row
  *      per chunk — thousands of rows where the raw series had billions)
  *      producing each chunk's entering EMA;
  *   3. per (series, chunk): a second parallel pass re-running the true
  *      point recurrence seeded with the entering EMA.
  *
  * Only step 2 is sequential and it touches #chunks rows, so a series of
  * any length folds with cluster-wide parallelism. The composed seed
  * `β^m·e_in + B` re-associates fp ops, so scores match the sequential
  * kernel to ulp-level (property-tested at 1e-9), not bit-for-bit.
  */
object ChunkedEma {

  final case class ChunkPoint(seriesKey: String, chunk: Long, tsMs: Long, value: Double)
  final case class ChunkSummary(seriesKey: String, chunk: Long, m: Long, bPure: Double, bSeeded: Double)
  final case class ChunkSeed(seriesKey: String, chunk: Long, eIn: Double, isFirst: Boolean)
  final case class SeededPoint(
      seriesKey: String, chunk: Long, tsMs: Long, value: Double, eIn: Double, isFirst: Boolean)

  /** Pass-1 kernel: fold one chunk into (m, B_pure, B_seeded). B_pure is
    * the recurrence contribution with e_in = 0 (later chunks); B_seeded is
    * the from-scratch fold (first chunk, where e_0 = v_0).
    */
  private final class SummaryKernel(alpha: Double) extends StreamKernel[ChunkPoint, ChunkSummary] {
    private var key: String = _
    private var chunk = 0L
    private var m = 0L
    private var bPure = 0.0
    private var bSeeded = 0.0
    private var first = true

    override def feed(p: ChunkPoint): Iterator[ChunkSummary] = {
      key = p.seriesKey; chunk = p.chunk
      bPure = alpha * p.value + (1 - alpha) * bPure
      bSeeded = if (first) { first = false; p.value } else alpha * p.value + (1 - alpha) * bSeeded
      m += 1
      Iterator.empty
    }
    override def flush(): Iterator[ChunkSummary] = {
      val out = Iterator.single(ChunkSummary(key, chunk, m, bPure, bSeeded))
      m = 0L; bPure = 0.0; bSeeded = 0.0; first = true
      out
    }
  }

  /** Pass-2 kernel (sequential, #chunks rows): entering EMA per chunk. */
  private final class ComposeKernel(alpha: Double) extends StreamKernel[ChunkSummary, ChunkSeed] {
    private var e = 0.0
    private var first = true

    override def feed(s: ChunkSummary): Iterator[ChunkSeed] = {
      val out = ChunkSeed(s.seriesKey, s.chunk, e, first)
      e = if (first) { first = false; s.bSeeded }
      else math.pow(1 - alpha, s.m.toDouble) * e + s.bPure
      Iterator.single(out)
    }
    override def flush(): Iterator[ChunkSeed] = { e = 0.0; first = true; Iterator.empty }
  }

  /** Pass-3 kernel: the true point recurrence, seeded with the chunk's
    * entering EMA (or from scratch in the series' first chunk).
    */
  private final class SeededEmaKernel(alpha: Double) extends StreamKernel[SeededPoint, RawScored] {
    private var e = 0.0
    private var begun = false

    override def feed(p: SeededPoint): Iterator[RawScored] = {
      e =
        if (!begun) { begun = true; if (p.isFirst) p.value else alpha * p.value + (1 - alpha) * p.eIn }
        else alpha * p.value + (1 - alpha) * e
      Iterator.single(RawScored(p.seriesKey, p.tsMs, p.value, p.value - e))
    }
    override def flush(): Iterator[RawScored] = { begun = false; Iterator.empty }
  }

  /** EMA deviations (same contract as KeyedFold.fold + ExpAvgKernel) with
    * cross-chunk parallelism inside each series. `chunkMs` is the time
    * width of a chunk — size it so one chunk's points fit a task
    * comfortably; parallelism is then #chunks regardless of key skew.
    */
  def scores(points: Dataset[TsSample], alpha: Double, chunkMs: Long): Dataset[RawScored] = {
    val spark = points.sparkSession
    import spark.implicits._
    require(chunkMs > 0, "chunkMs must be positive")

    // consumed by pass 1 AND pass 3 — materialize once or both recompute
    // the whole upstream scan/guard pipeline
    val chunked = SqlBridge.persistRows(
      points.toDF().select(
        col("seriesKey"), floor(col("tsMs") / chunkMs).cast("long").as("chunk"),
        col("tsMs"), col("value")))
      .as[ChunkPoint]

    // pass 1 — parallel across (series, chunk)
    val summaries = chunked
      .repartition(col("seriesKey"), col("chunk"))
      .sortWithinPartitions(col("seriesKey"), col("chunk"), col("tsMs"))
      .mapPartitions(it =>
        KeyedFold.run[ChunkPoint, ChunkSummary, (String, Long)](
          it, p => (p.seriesKey, p.chunk), () => new SummaryKernel(alpha)))

    // pass 2 — sequential per series over #chunks summary rows only
    val seeds = KeyedFold.foldOn[ChunkSummary, ChunkSeed, String](
      summaries, "seriesKey", "chunk", _.seriesKey)(() => new ComposeKernel(alpha))

    // pass 3 — parallel across (series, chunk), true recurrence from seed
    chunked
      .join(seeds, Seq("seriesKey", "chunk"))
      .select(col("seriesKey"), col("chunk"), col("tsMs"), col("value"), col("eIn"), col("isFirst"))
      .as[SeededPoint]
      .repartition(col("seriesKey"), col("chunk"))
      .sortWithinPartitions(col("seriesKey"), col("chunk"), col("tsMs"))
      .mapPartitions(it =>
        KeyedFold.run[SeededPoint, RawScored, (String, Long)](
          it, p => (p.seriesKey, p.chunk), () => new SeededEmaKernel(alpha)))
  }
}
