package graft.streaming

import graft.config.Constants
import graft.detect.StatPoint
import graft.model.{Anomaly, TsSample}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** Carried EMA state per series key. */
final case class EmaState(ema: Double, lastTsMs: Long, lastValue: Double, n: Long)

/** One streaming score record. */
final case class StreamScore(seriesKey: String, tsMs: Long, value: Double, ema: Double, dev: Double)

/** Carried arrival-ordinal state per series key (O(1)) — the phase
  * continuation counter of the seasonal-residual monitor.
  */
final case class OrdState(n: Long, lastTsMs: Long)

/** One ordinal-stamped sample: `idx` = 0-based arrival position within
  * the key (post late/dup guard).
  */
final case class OrdSample(seriesKey: String, tsMs: Long, value: Double, idx: Long)

/** Carried open-window state for streaming sessionization (O(1)). */
final case class OpenWindow(startTsMs: Long, endTsMs: Long, peak: Double, exactTsMs: Long)

/** Carried two-sided CUSUM accumulators per series key (O(1)). */
final case class CusumState(sp: Double, sn: Double, lastTsMs: Long)

/** One streaming CUSUM record: both accumulator sides + their max. */
final case class CusumScore(
    seriesKey: String, tsMs: Long, value: Double, sp: Double, sn: Double, score: Double)

/** Carried Holt-Winters state per series key: level, trend, the m
  * seasonal slots, the 1-based point counter (selects the phase slot),
  * and the dup/late guard — O(m), bounded like every streaming state here.
  */
final case class HwState(l: Double, b: Double, s: Seq[Double], i: Long, lastTsMs: Long)

/** Carried control-rule state per series key: the trailing ≤7 packed
  * zone codes (((sgn+1) << 2) | b2 << 1 | b1) plus the dup/late guard —
  * O(1), the run rules never need more than the last 7 points.
  */
final case class CtrlState(hist: Seq[Int], lastTsMs: Long)

/** One streaming control-rule record: the four Western Electric flags. */
final case class CtrlFlags(
    seriesKey: String, tsMs: Long, value: Double,
    r1_beyond3: Boolean, r2_2of3_2sigma: Boolean, r3_4of5_1sigma: Boolean, r4_run8: Boolean)

/** Sample enriched with the integer control-chart calibration stats (n, S, D). */
final case class CtrlPoint(seriesKey: String, tsMs: Long, value: Double, n: Long, s: Long, d: Long)

/** Structured-Streaming upgrade of the reference's polling `monitor()`
  * loop (/root/reference/potoos/client.py:113-139, polled per
  * /root/reference/README.md:126-129; BASELINE.json sanctions
  * "Structured Streaming + MLlib").
  *
  * The reference re-fetches a range and re-scores it on every poll; here
  * the series arrives as an unbounded stream, scoring state (the EMA
  * recurrence) lives per key in the state store, and event-time windows +
  * watermarks replace re-fetching — each point is scored exactly once.
  *
  * Scale: state is O(1) per series key (one EmaState), partitioned by key
  * across executors by the streaming aggregation — the same
  * parallelism-by-key design as the batch KeyedFold.
  */
object MonitorStream {

  /** Sliding-window bucketed aggregation with watermark — the streaming
    * form of the A1–A12 bucketed aggregators (processing-time polling →
    * event-time windows with late-data handling).
    */
  def windowedAgg(
      events: DataFrame, // (seriesKey, ts timestamp, value)
      bucket: String = "1 minute",
      slide: String = "1 minute",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), bucket, slide), col("seriesKey"))
      .agg(
        avg("value").as("avg_value"),
        count(lit(1)).as("n"),
        min("value").as("min_value"),
        max("value").as("max_value"))

  /** Streaming twin of the batch gap sessionizer (graft.ext.Sessionize):
    * Structured Streaming's native session_window aggregation — state is
    * per OPEN session (merged as events arrive), closed sessions emit in
    * append mode once the watermark passes their end. Contract vs batch:
    * `session_start` equals the batch rollup's; session_window's `end` is
    * lastEvent + gap, so `session_end` here subtracts the gap back and
    * `duration_ms`/`n_events` match the batch stats exactly for any
    * session the watermark has closed.
    */
  def sessionStats(
      events: DataFrame, // (seriesKey, ts timestamp, ...)
      gapMs: Long,
      watermark: String = "10 minutes"): DataFrame = {
    // batch keeps events together when diff <= gap; session_window merges
    // when diff < gap — widen by 1ms so both close sessions identically
    val g = gapMs + 1
    events
      .withWatermark("ts", watermark)
      .groupBy(col("seriesKey"), session_window(col("ts"), s"$g milliseconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("seriesKey"),
        unix_millis(col("session_window.start")).as("session_start"),
        (unix_millis(col("session_window.end")) - g).as("session_end"),
        (unix_millis(col("session_window.end")) - g -
          unix_millis(col("session_window.start"))).as("duration_ms"),
        col("n_events"))
  }

  /** The one event-time state loop every per-key monitor below runs on.
    * `points` gains the watermarked `eventTime` column (`enrich` then
    * joins calibration stats onto the watermarked rows) and is grouped
    * by series key into per-key state with an EVENT-TIME TTL. At
    * unbounded key cardinality dead series must leave the state store —
    * each batch re-arms a timeout `stateTtlMs` past the key's newest
    * accepted event; when the watermark passes it, `expire` emits what
    * the state still owes and the state is dropped (a returning key
    * re-seeds from scratch). Within each micro-batch the group's rows
    * are sorted by (tsMs, `tieBreak`) and a point at or before the key's
    * last accepted ts is dropped as late or duplicate (so the smaller
    * tie-break wins a duplicated ts). The last accepted ts starts at the
    * state's `lastTsMs` and advances on every accepted point, whether or
    * not `step` keeps state for it; `step` folds one accepted point into
    * the state (`None` removes it) and emits at most one record.
    */
  private def eventTimeLoop[
      P <: Product : TypeTag : ClassTag, S <: Product : TypeTag, O <: Product : TypeTag](
      points: Dataset[_],
      watermarkDelay: String,
      stateTtlMs: Long,
      key: P => String,
      tsMs: P => Long,
      tieBreak: P => Double,
      lastTsMs: S => Long,
      enrich: DataFrame => DataFrame = (df: DataFrame) => df,
      expire: (String, S) => Option[O] = (_: String, _: S) => None)(
      step: (Option[S], P) => (Option[S], Option[O])): Dataset[O] = {
    val spark = points.sparkSession
    import spark.implicits._
    enrich(
      points.toDF()
        .withColumn("eventTime", timestamp_millis(col("tsMs")))
        .withWatermark("eventTime", watermarkDelay))
      .as[P]
      .groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: String, rows: Iterator[P], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            val tail = state.getOption.flatMap(expire(k, _))
            state.remove() // dead series: free the state store slot
            tail.iterator
          } else {
            var st = state.getOption
            var lastTs = st.map(lastTsMs).getOrElse(Long.MinValue)
            val out = Vector.newBuilder[O]
            rows.toArray.sortBy(p => (tsMs(p), tieBreak(p))).foreach { p =>
              if (tsMs(p) > lastTs) { // drop late/dup events
                lastTs = tsMs(p)
                val (next, o) = step(st, p)
                st = next
                out ++= o
              }
            }
            st match {
              case Some(s) => state.update(s)
              case None => if (state.exists) state.remove()
            }
            // must stay ahead of the watermark or Spark rejects the arm
            state.setTimeoutTimestamp(math.max(lastTs + stateTtlMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** A loop step for the monitors that always carry state and score every
    * accepted point: an absent state starts at `init`.
    */
  private def seeded[S, P, O](init: S)(f: (S, P) => (S, O)): (Option[S], P) => (Option[S], Option[O]) =
    (st, p) => {
      val (next, out) = f(st.getOrElse(init), p)
      (Some(next), Some(out))
    }

  /** Per-key streaming EMA scoring: the streaming twin of ExpAvgKernel.
    * The EMA carries across batches in the state store and expires
    * `stateTtlMs` of event time after the series goes quiet. Emits
    * |v − ema| as the raw deviation; thresholding uses an absolute
    * `score_threshold` (the percent-of-max form needs the whole series —
    * documented batch/stream divergence, SURVEY.md §7.5).
    */
  def emaScores(
      points: Dataset[TsSample],
      alpha: Double = Constants.DefaultSmoothingFactor,
      watermarkDelay: String = "10 minutes",
      stateTtlMs: Long = Constants.DefaultStreamStateTtlMs): Dataset[StreamScore] =
    eventTimeLoop[TsSample, EmaState, StreamScore](
      points, watermarkDelay, stateTtlMs, _.seriesKey, _.tsMs, _.value, _.lastTsMs)(
      seeded(EmaState(0.0, Long.MinValue, 0.0, 0L)) { (st, p) =>
        val ema = if (st.n == 0L) p.value else alpha * p.value + (1 - alpha) * st.ema
        (EmaState(ema, p.tsMs, p.value, st.n + 1),
          StreamScore(p.seriesKey, p.tsMs, p.value, ema, math.abs(p.value - ema)))
      })

  /** Streaming derivative scoring: carries (prev point, derivative EMA)
    * per key across micro-batches — the streaming twin of
    * DerivativeKernel, with the same state-expiry hygiene as emaScores.
    * Emits the raw |d − ema(d)| deviation (the batch path's stddev
    * normalization needs the whole series; streaming users threshold the
    * raw dev absolutely).
    */
  def derivativeScores(
      points: Dataset[TsSample],
      alpha: Double = Constants.DefaultSmoothingFactor,
      watermarkDelay: String = "10 minutes",
      stateTtlMs: Long = Constants.DefaultStreamStateTtlMs): Dataset[StreamScore] =
    eventTimeLoop[TsSample, EmaState, StreamScore](
      points, watermarkDelay, stateTtlMs, _.seriesKey, _.tsMs, _.value, _.lastTsMs)(
      seeded(EmaState(0.0, Long.MinValue, 0.0, 0L)) { (st, p) =>
        if (st.n == 0L) {
          // first point: derivative undefined until the second arrives;
          // streaming emits dev 0 immediately (cannot hold lookahead)
          (EmaState(0.0, p.tsMs, p.value, 1L), StreamScore(p.seriesKey, p.tsMs, p.value, 0.0, 0.0))
        } else {
          val dtS = (p.tsMs - st.lastTsMs) / 1000.0
          val d = math.abs(if (dtS != 0) (p.value - st.lastValue) / dtS else p.value - st.lastValue)
          val ema = if (st.n == 1L) d else alpha * d + (1 - alpha) * st.ema
          (EmaState(ema, p.tsMs, p.value, st.n + 1),
            StreamScore(p.seriesKey, p.tsMs, p.value, ema, math.abs(d - ema)))
        }
      })

  /** Streaming exact dedup — the streaming twin of Dedup.exact for
    * ingest-time dedup of a document/event feed. State is one entry per
    * distinct key within the watermark horizon and is dropped once the
    * watermark passes (bounded state at unbounded stream length — the
    * property a 100 TB/day ingest needs). Duplicates arriving later than
    * the watermark delay are the documented residual risk, exactly as in
    * Spark's dropDuplicatesWithinWatermark contract; the batch exact
    * dedup remains the backfill-time ground truth.
    */
  def dedupStream(
      events: DataFrame, // must contain tsCol (timestamp) + the dedup keys
      dedupCols: Seq[String],
      tsCol: String,
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(dedupCols)

  /** Streaming two-sided CUSUM changepoint scoring — the streaming twin
    * of `Detectors.cusumScores`, with the standardization baseline as an
    * explicit CALIBRATION input: a stream cannot compute whole-series
    * mean/stddev, so `stats` (seriesKey, mu, sd — a batch aggregate over
    * history, re-derived on whatever cadence drift demands, the
    * `calibratedThreshold` contract) broadcast-joins onto the stream and
    * the O(1) accumulator pair carries across micro-batches in the state
    * store. Same recurrence, same fp-op order as `CusumKernel`, so a
    * replay over the batch stats is bit-identical to the batch detector.
    * Same late/dup policy as the EMA stream (per-batch (ts, value) sort,
    * `tsMs <= lastTsMs` dropped ⇒ min value wins a duplicated ts); same
    * event-time TTL eviction (a returning key restarts at (0, 0)).
    */
  def cusumStream(
      points: Dataset[TsSample],
      stats: DataFrame, // (seriesKey, mu, sd)
      slack: Double = Constants.CusumSlack,
      watermarkDelay: String = "10 minutes",
      stateTtlMs: Long = Constants.DefaultStreamStateTtlMs): Dataset[CusumScore] =
    eventTimeLoop[StatPoint, CusumState, CusumScore](
      points, watermarkDelay, stateTtlMs, _.seriesKey, _.tsMs, _.value, _.lastTsMs,
      enrich = _.join(broadcast(stats.select(col("seriesKey"), col("mu"), col("sd"))), Seq("seriesKey")))(
      seeded(CusumState(0.0, 0.0, Long.MinValue)) { (st, p) =>
        val z = if (p.sd > 0) (p.value - p.mu) / p.sd else p.value - p.mu
        val sp = math.max(0.0, st.sp + z - slack)
        val sn = math.max(0.0, st.sn - z - slack)
        (CusumState(sp, sn, p.tsMs), CusumScore(p.seriesKey, p.tsMs, p.value, sp, sn, math.max(sp, sn)))
      })

  /** Streaming Holt-Winters (level + trend + additive seasonality) — the
    * streaming twin of `Detectors.hwScores`'s kernel. The per-key state is
    * (l, b, s[0..m−1], i): O(m), carried across micro-batches; the update
    * is the HoltWintersKernel recurrence with the IDENTICAL fp-op order,
    * so a full-history replay is bit-equal to the batch fold. Emits the
    * one-step forecast in `ema` and the SIGNED raw deviation in `dev`
    * (the batch stddev normalization needs the whole series — apply it
    * relationally downstream, as `Replay.hwReplay` does for the
    * batch-parity oracle). Same late/dup policy as the EMA stream
    * (per-batch (ts, value) sort, `tsMs <= lastTsMs` dropped ⇒ min value
    * wins a duplicated ts); same event-time TTL eviction (a returning key
    * re-learns the profile from scratch).
    */
  def hwStream(
      points: Dataset[TsSample],
      alpha: Double = Constants.DefaultSmoothingFactor,
      beta: Double = Constants.HoltTrendFactor,
      gamma: Double = Constants.HwSeasonFactor,
      period: Int = Constants.HwPeriod,
      watermarkDelay: String = "10 minutes",
      stateTtlMs: Long = Constants.DefaultStreamStateTtlMs): Dataset[StreamScore] = {
    require(period >= 2, s"period must be >= 2, got $period")
    eventTimeLoop[TsSample, HwState, StreamScore](
      points, watermarkDelay, stateTtlMs, _.seriesKey, _.tsMs, _.value, _.lastTsMs)(
      seeded(HwState(0.0, 0.0, Vector.fill(period)(0.0), 0L, Long.MinValue)) { (st, p) =>
        val i = st.i + 1
        val j = ((i - 1) % period).toInt
        if (i == 1L) {
          // seed: l = v, b = 0, slots stay 0 (the kernel's touched
          // slot computes to exactly 0.0)
          (HwState(p.value, 0.0, st.s, i, p.tsMs), StreamScore(p.seriesKey, p.tsMs, p.value, p.value, 0.0))
        } else {
          val sj = st.s(j)
          val f = st.l + st.b + sj
          val dev = p.value - f
          val l1 = alpha * (p.value - sj) + (1 - alpha) * (st.l + st.b)
          val b1 = beta * (l1 - st.l) + (1 - beta) * st.b
          (HwState(l1, b1, st.s.updated(j, gamma * (p.value - l1) + (1 - gamma) * sj), i, p.tsMs),
            StreamScore(p.seriesKey, p.tsMs, p.value, f, dev))
        }
      })
  }

  /** Streaming Western Electric control-chart rules — the streaming twin
    * of `Detectors.controlRuleFlags`, with the zone geometry as an
    * explicit CALIBRATION input (`stats`: seriesKey, n, s, d — the
    * integer per-series count, Σvm and nQ−S² from a batch pass over
    * history, the cusumStream contract). Every zone test stays the exact
    * integer comparison dm² > k²·D, and the run rules read an O(1) ring
    * of the trailing ≤7 packed zone codes carried in the state store —
    * a full-history replay is bit-equal to the batch flags on dup-free
    * series. Same late/dup policy and event-time TTL as the other
    * monitors (a returning key restarts its run history empty, so the
    * run-of-8 rule needs 8 fresh points before it can fire again).
    */
  def controlRulesStream(
      points: Dataset[TsSample],
      stats: DataFrame, // (seriesKey, n, s, d)
      watermarkDelay: String = "10 minutes",
      stateTtlMs: Long = Constants.DefaultStreamStateTtlMs): Dataset[CtrlFlags] =
    eventTimeLoop[CtrlPoint, CtrlState, CtrlFlags](
      points, watermarkDelay, stateTtlMs, _.seriesKey, _.tsMs, _.value, _.lastTsMs,
      enrich = _.join(broadcast(stats.select(col("seriesKey"), col("n"), col("s"), col("d"))), Seq("seriesKey")))(
      seeded(CtrlState(Vector.empty, Long.MinValue)) { (st, p) =>
        // vm = round-half-away(100·v) — the exact arithmetic Spark's
        // round(x, 0) applies on the batch side
        val x = p.value * 100
        val vmL = if (x < 0) -math.round(-x) else math.round(x)
        val dm = vmL * p.n - p.s
        val dm2 = dm * dm
        val sgn = java.lang.Long.signum(dm)
        val b3 = dm2 > 9L * p.d
        val b2 = dm2 > 4L * p.d
        val b1 = dm2 > p.d
        val code = ((sgn + 1) << 2) | ((if (b2) 1 else 0) << 1) | (if (b1) 1 else 0)
        val win = st.hist :+ code
        def sideCount(last: Int, bit: Int, side: Int) =
          win.takeRight(last).count { c =>
            ((c >> 2) - 1) == side && (bit == -1 || ((c >> bit) & 1) == 1)
          }
        val r2 = sideCount(3, 1, 1) >= 2 || sideCount(3, 1, -1) >= 2
        val r3 = sideCount(5, 0, 1) >= 4 || sideCount(5, 0, -1) >= 4
        val r4 = sideCount(8, -1, 1) == 8 || sideCount(8, -1, -1) == 8
        (CtrlState(win.takeRight(7), p.tsMs), CtrlFlags(p.seriesKey, p.tsMs, p.value, b3, r2, r3, r4))
      })

  /** Config-driven streaming monitor: accepts the batch `DetectorConfig`
    * and enforces the streaming contract (SURVEY §7.5, D11) instead of
    * silently diverging from batch:
    *
    *  - THRESHOLD: the percent-of-max form needs the WHOLE series — on
    *    an unbounded stream only the absolute `score_threshold` is
    *    computable. Mirroring batch precedence (`Detectors.withThreshold`:
    *    absolute wins when both are set), an absolute threshold is
    *    accepted whatever else the config carries; a config that would
    *    RESOLVE to pct-of-max (explicitly, or implicitly by leaving both
    *    unset — the batch default) is rejected loudly.
    *  - ALGORITHM: dispatched like batch `Detectors.score` for the two
    *    kernels with streaming twins (exp_avg, derivative); anything
    *    else is rejected rather than scored with the wrong kernel.
    *  - SCORES are the RAW kernel deviations (emaScores/derivativeScores
    *    docs): the batch stddev normalization needs the whole series, so
    *    the threshold here applies to |v−ema| (resp. |d−ema(d)|), NOT
    *    the batch normalized score — the documented batch/stream
    *    divergence; pick the threshold for the raw-dev scale.
    */
  def monitorStreamCfg(
      points: Dataset[TsSample],
      cfg: graft.config.DetectorConfig,
      stateTtlMs: Long = Constants.DefaultStreamStateTtlMs): DataFrame = {
    val thr = cfg.scoreThreshold.getOrElse(throw new IllegalArgumentException(
      "streaming monitoring requires an absolute score_threshold: percent-of-max (set " +
        "explicitly, or the batch default when both thresholds are unset) needs the whole " +
        "series and is batch-only (SURVEY §7.5)"))
    val scores = cfg.algorithmName match {
      case "exp_avg_detector" => emaScores(points, cfg.smoothingFactor, stateTtlMs = stateTtlMs)
      case "derivative_detector" => derivativeScores(points, cfg.smoothingFactor, stateTtlMs = stateTtlMs)
      case other => throw new IllegalArgumentException(
        s"streaming monitoring supports exp_avg_detector / derivative_detector, got $other")
    }
    scores.toDF().withColumn("isAnomaly", col("dev") > thr)
  }

  /** D11's percent-of-max rule needs the WHOLE series — impossible on an
    * unbounded stream, so `monitorStreamCfg` rejects it. The streaming
    * replacement is CALIBRATION: derive the ABSOLUTE threshold from a
    * bounded history window's deviation distribution ("the cut the top
    * (1000−qMille)‰ of historical deviations would have crossed") via
    * the mergeable histogram sketch, then run the normal absolute
    * monitor. `calibrationScores` is any frame carrying the kernel's raw
    * deviation — a batch replay of the same kernel, or yesterday's
    * monitor output. The sketch is ≤`bins` integer cells, so
    * recalibration is a tiny scheduled batch whose result the stream
    * picks up as its next threshold, and the whole derivation (integer
    * bins, integer rank interpolation) replays exactly in SQL — the
    * calibrated contract is oracle-checkable end to end.
    *
    * Defaults size the grid to the event-table dev scale (centi-units ×
    * 64 ⇒ 0.64-wide bins over [0, 409.6]); pass `unitScale`/`binUnits`
    * for a different deviation scale — values beyond the grid clamp into
    * the edge bin exactly as `histogramCells` documents.
    */
  def calibratedThreshold(
      calibrationScores: DataFrame,
      devCol: String,
      qMille: Int,
      unitScale: Int = 100,
      binUnits: Long = 64L,
      bins: Int = 640): Double = {
    val cells = graft.ext.Sketches.histogramCells(
      calibrationScores.select(col(devCol)).withColumn("_g", lit("all")),
      "_g", devCol, unitScale = unitScale, binUnits = binUnits, bins = bins)
    graft.ext.Sketches
      .histogramQuantiles(cells, "_g", Seq(qMille), unitScale = unitScale, binUnits = binUnits)
      .select(col("est_value"))
      .collect()
      .headOption
      .map(_.getDouble(0))
      .getOrElse(throw new IllegalArgumentException(
        "calibration window is empty — no deviations to derive a threshold from " +
          "(cold start / day one: seed with an explicit absolute score_threshold " +
          "via monitorStreamCfg until a history window exists)"))
  }

  /** `monitorStreamCfg` with the threshold calibrated from history — the
    * D11 batch/stream divergence closed: batch pct-of-max becomes stream
    * quantile-of-history. The output carries the resolved threshold so
    * downstream audit sees WHICH cut produced each flag.
    */
  def monitorStreamCalibrated(
      points: Dataset[TsSample],
      cfg: graft.config.DetectorConfig,
      calibrationScores: DataFrame,
      qMille: Int,
      stateTtlMs: Long = Constants.DefaultStreamStateTtlMs): DataFrame = {
    val thr = calibratedThreshold(calibrationScores, "dev", qMille)
    monitorStreamCfg(points, cfg.copy(scoreThreshold = Some(thr)), stateTtlMs)
      .withColumn("threshold", lit(thr))
  }

  /** The stored STL profile the seasonal-residual monitor consumes,
    * derived from an ALREADY-DECOMPOSED history frame
    * ([[graft.ts.TsAlgebra.stlDecompose]]'s output — exactly what a
    * pipeline persists and refreshes on a schedule): per (key, phase)
    * the fixed-point seasonal component (constant per phase by
    * construction), plus per key the LEVEL (trend_fp at the last
    * history point — the level-hold forecast) and the history length
    * `n0` (the stream continues the batch phase sequence at
    * (n0 + i) % period, so profile and stream phases never drift).
    */
  def seasonalProfileFrom(stl: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val phases = stl.groupBy(col(keyCol).as("seriesKey"), col("phase"))
      .agg(min(col("seasonal_fp")).as("seasonal_fp"))
    val keys = stl.groupBy(col(keyCol).as("seriesKey"))
      .agg(
        max_by(col("trend_fp"), col(tsCol)).as("level_fp"),
        count(lit(1)).as("n0"))
    phases.join(keys, "seriesKey")
  }

  /** Streaming seasonal-residual monitor — the stream-side twin of the
    * batch seasonal family (STL / S-ESD): score each live point by its
    * deviation from a STORED seasonal profile instead of a trailing
    * EMA, closing the cyclic-series gap where exp_avg/CUSUM/HW flag
    * every on-peak hour. Residual = value_fp − level_fp −
    * seasonal_fp(phase) in the decomposition's exact 4-dp fixed point;
    * `dev` = |residual|/10⁴ thresholds absolutely (calibrate with
    * [[calibratedThreshold]] over the history residuals — the
    * anomaly_stream_calibrated shape).
    *
    * Scale shape: one O(1)-state fold (the per-key arrival ordinal
    * that continues the profile's phase sequence) plus two
    * BROADCAST stream-static joins (per-key level/n0, per-(key, phase)
    * seasonal) — the profile is bounded by series × period, never the
    * history length. Cold-start contract, two modes: by default series
    * absent from the profile (or live phases the short history never
    * exhibited) are NOT scored until the next profile refresh — inner
    * joins, the same posture as calibratedThreshold's loud
    * empty-history failure. With `emitUnscored = true` the joins go
    * left-outer and every live point surfaces with a `score_mode`
    * verdict instead of vanishing: 'seasonal' (full profile hit),
    * 'level_only' (key known, phase unseen in history — scored against
    * the level-hold forecast alone), or 'unscored' (key absent —
    * resid/dev/isAnomaly NULL, the explicit side output a production
    * monitor alerts on). TTL: an expired series restarts its ordinal
    * at 0 on revival (the documented re-seed divergence, like the EMA
    * monitor).
    */
  def seasonalResidualStream(
      points: Dataset[TsSample],
      profile: DataFrame,
      period: Int,
      threshold: Double,
      watermarkDelay: String = "10 minutes",
      stateTtlMs: Long = Constants.DefaultStreamStateTtlMs,
      emitUnscored: Boolean = false): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val keySide = broadcast(
      profile.select(col("seriesKey"), col("level_fp"), col("n0")).distinct())
    val phaseSide = broadcast(
      profile.select(col("seriesKey"), col("phase").cast("long").as("phase"), col("seasonal_fp")))
    // the per-key arrival ordinal, O(1) state per key
    val ords = eventTimeLoop[TsSample, OrdState, OrdSample](
      points, watermarkDelay, stateTtlMs, _.seriesKey, _.tsMs, _.value, _.lastTsMs)(
      seeded(OrdState(0L, Long.MinValue)) { (st, p) =>
        (OrdState(st.n + 1, p.tsMs), OrdSample(p.seriesKey, p.tsMs, p.value, st.n))
      }).toDF()
    if (!emitUnscored) {
      ords
        .join(keySide, "seriesKey")
        .withColumn("phase", (col("n0") + col("idx")) % period)
        .join(phaseSide, Seq("seriesKey", "phase"))
        .withColumn("value_fp", expr("CAST(round(value * 100, 0) AS BIGINT) * 100"))
        .withColumn("resid_fp", col("value_fp") - col("level_fp") - col("seasonal_fp"))
        .withColumn("dev", abs(col("resid_fp")) / 10000.0)
        .withColumn("isAnomaly", col("dev") > threshold)
        .select(
          col("seriesKey"), col("tsMs"), col("value"), col("phase"),
          col("resid_fp"), col("dev"), col("isAnomaly"))
    } else {
      // left-outer joins: a NULL phase (key absent → no n0) can never
      // equal a profile phase, so the phase join degrades to unscored
      // naturally; stream-static left-outer needs no extra watermark
      ords
        .join(keySide, Seq("seriesKey"), "left")
        .withColumn("phase", when(col("n0").isNotNull, (col("n0") + col("idx")) % period))
        .join(phaseSide, Seq("seriesKey", "phase"), "left")
        .withColumn("value_fp", expr("CAST(round(value * 100, 0) AS BIGINT) * 100"))
        .withColumn(
          "score_mode",
          when(col("n0").isNull, lit("unscored"))
            .when(col("seasonal_fp").isNull, lit("level_only"))
            .otherwise(lit("seasonal")))
        .withColumn(
          "resid_fp",
          when(col("score_mode") === "unscored", lit(null).cast("long"))
            .when(col("score_mode") === "level_only", col("value_fp") - col("level_fp"))
            .otherwise(col("value_fp") - col("level_fp") - col("seasonal_fp")))
        .withColumn("dev", abs(col("resid_fp")) / 10000.0)
        .withColumn(
          "isAnomaly",
          when(col("score_mode") === "unscored", lit(null).cast("boolean"))
            .otherwise(col("dev") > threshold))
        .select(
          col("seriesKey"), col("tsMs"), col("value"), col("phase"),
          col("score_mode"), col("resid_fp"), col("dev"), col("isAnomaly"))
    }
  }

  /** D12 in streaming form: run-length sessionization of above-threshold
    * scores into anomaly windows. Per-key state carries the OPEN window
    * (start, end, peak, argmax — O(1)); a window is emitted when a
    * below-threshold point closes it, or when the state TTL expires a
    * dead series (flushing its open window rather than dropping it).
    * Batch uses percent-of-max thresholding (needs the whole series);
    * streaming thresholds absolutely — the documented divergence.
    */
  def anomalyWindows(
      scores: Dataset[StreamScore],
      scoreThreshold: Double,
      watermarkDelay: String = "10 minutes",
      stateTtlMs: Long = Constants.DefaultStreamStateTtlMs): Dataset[Anomaly] = {
    def closed(key: String, w: OpenWindow) = Anomaly(key, w.startTsMs, w.endTsMs, w.peak, w.exactTsMs)
    eventTimeLoop[StreamScore, OpenWindow, Anomaly](
      scores, watermarkDelay, stateTtlMs, _.seriesKey, _.tsMs, _.dev, _.endTsMs,
      // dead series: flush the open window instead of losing it
      expire = (key, w) => Some(closed(key, w))) { (open, p) =>
      if (p.dev > scoreThreshold) {
        (Some(open match {
          case Some(w) if p.dev > w.peak => OpenWindow(w.startTsMs, p.tsMs, p.dev, p.tsMs)
          case Some(w) => OpenWindow(w.startTsMs, p.tsMs, w.peak, w.exactTsMs)
          case None => OpenWindow(p.tsMs, p.tsMs, p.dev, p.tsMs)
        }), None)
      } else (None, open.map(closed(p.seriesKey, _)))
    }
  }

  /** One sessionizable arrival for `sessionReplay`. */
  final case class SessEvent(key: Long, tsMs: Long)

  /** Bounded batch-replay of `sessionStats` for the driver oracle (same
    * contract as DedupStream.dedupReplay): arrivals feed a MemoryStream in
    * ts-ordered chunks so session state genuinely merges across
    * micro-batch boundaries, then a far-future sentinel (key −1) advances
    * the watermark twice to close and emit every real session. Streaming
    * output must equal the BATCH sessionizer on the same events — the
    * parity the spec pins per-case, here driver-checked corpus-wide.
    */
  def sessionReplay(
      arrivals: Seq[SessEvent],
      spark: org.apache.spark.sql.SparkSession,
      chunks: Int,
      gapMs: Long,
      watermark: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    require(arrivals.forall(_.key != -1L),
      "key -1 is reserved for the watermark-flush sentinel; remap real events first")
    val sorted = arrivals.sortBy(e => (e.tsMs, e.key))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SessEvent]
    val out = sessionStats(
      mem.toDS().select(col("key").as("seriesKey"), timestamp_millis(col("tsMs")).as("ts")),
      gapMs, watermark)
    Replay.runSink(spark, out) { q =>
      Replay.feedChunks(q, mem, Replay.chunked(sorted, chunks))
      Replay.flushSentinels(q, Seq(mem), sorted.lastOption.map(_.tsMs).getOrElse(0L),
        ts => SessEvent(-1L, ts))
    }.where(col("seriesKey") =!= -1L)
      .select(
        col("seriesKey").cast("long").as("user_id"),
        col("session_start"), col("session_end"), col("duration_ms"), col("n_events"))
  }
}
