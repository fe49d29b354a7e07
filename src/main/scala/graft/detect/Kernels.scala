package graft.detect

import graft.model.TsSample

/** exp_avg detector, decay form (SURVEY.md §2.4 D2; shape per public
  * luminol 0.4 exp_avg_detector): ema_0 = v_0,
  * ema_i = α·v_i + (1−α)·ema_{i−1}; raw dev_i = v_i − ema_i (signed —
  * normalization divides by the per-series population stddev of the
  * VALUES and takes |·|, or leaves the signed dev when stddev = 0).
  */
final class ExpAvgKernel(alpha: Double) extends SeriesKernel {
  private var ema = 0.0
  private var first = true

  override def feed(p: TsSample): Iterator[RawScored] = {
    ema = if (first) { first = false; p.value }
    else alpha * p.value + (1 - alpha) * ema
    Iterator.single(RawScored(p.seriesKey, p.tsMs, p.value, p.value - ema))
  }
  override def flush(): Iterator[RawScored] = Iterator.empty
}

/** A sample as the D0 guard sees it: any field may be null. */
final case class GuardPoint(seriesKey: String, tsMs: java.lang.Long, value: java.lang.Double)

/** D0 min-cardinality guard as a fold: a series' points pass through once
  * it has `minPoints` of them; a shorter series is dropped at its end.
  * Holds at most `minPoints − 1` points.
  */
final class MinPointsKernel(minPoints: Int) extends StreamKernel[GuardPoint, GuardPoint] {
  private val held = scala.collection.mutable.ArrayBuffer.empty[GuardPoint]
  private var n = 0

  override def feed(p: GuardPoint): Iterator[GuardPoint] = {
    n += 1
    if (n < minPoints) { held += p; Iterator.empty }
    else if (n == minPoints) { val out = (held :+ p).toList; held.clear(); out.iterator }
    else Iterator.single(p)
  }
  override def flush(): Iterator[GuardPoint] = Iterator.empty
}

/** Sample enriched with per-series count + value stddev (lag-window EMA). */
final case class CountedPoint(seriesKey: String, tsMs: Long, value: Double, n: Long, sd: Double)

/** Sample enriched with per-series mean + value stddev (CUSUM). */
final case class StatPoint(seriesKey: String, tsMs: Long, value: Double, mu: Double, sd: Double)

/** Two-sided CUSUM changepoint kernel (Page's cumulative-sum chart):
  * over standardized values z_i = (v_i − μ)/σ (per-series μ, σ carried
  * on the input; σ = 0 → z = v − μ),
  * {{{
  * s⁺_i = max(0, s⁺_{i−1} + z_i − slack)
  * s⁻_i = max(0, s⁻_{i−1} − z_i − slack)
  * }}}
  * dev = max(s⁺, s⁻). A sustained LEVEL SHIFT integrates linearly on one
  * side while zero-mean noise is absorbed by the slack — the
  * change-point signal the EMA family cannot express (those score the
  * instantaneous deviation and forget it one smoothing constant later;
  * CUSUM accumulates until the shift is undeniable). O(1) state.
  */
final class CusumKernel(slack: Double) extends StreamKernel[StatPoint, RawScored] {
  private var sp = 0.0
  private var sn = 0.0

  override def feed(p: StatPoint): Iterator[RawScored] = {
    val z = if (p.sd > 0) (p.value - p.mu) / p.sd else p.value - p.mu
    sp = math.max(0.0, sp + z - slack)
    sn = math.max(0.0, sn - z - slack)
    Iterator.single(RawScored(p.seriesKey, p.tsMs, p.value, math.max(sp, sn)))
  }
  override def flush(): Iterator[RawScored] = Iterator.empty
}

/** Holt double-exponential smoothing (level + trend) forecaster,
  * deviation-scored: one-step-ahead forecast f_i = l_{i−1} + b_{i−1},
  * raw dev_i = v_i − f_i, then
  * {{{
  * l_i = α·v_i + (1−α)·(l_{i−1} + b_{i−1})
  * b_i = β·(l_i − l_{i−1}) + (1−β)·b_{i−1}
  * }}}
  * with l_0 = v_0, b_0 = 0, dev_0 = 0. A trending series is NORMAL here
  * (the trend term follows it), so a steady ramp scores ~0 where plain
  * exp_avg scores every point of it — the complementary failure mode.
  * Normalization (|dev|/stddev) happens relationally downstream. O(1)
  * state.
  */
final class HoltKernel(alpha: Double, beta: Double) extends SeriesKernel {
  private var l = 0.0
  private var b = 0.0
  private var first = true

  override def feed(p: TsSample): Iterator[RawScored] = {
    if (first) {
      first = false; l = p.value; b = 0.0
      Iterator.single(RawScored(p.seriesKey, p.tsMs, p.value, 0.0))
    } else {
      val f = l + b
      val dev = p.value - f
      val l1 = alpha * p.value + (1 - alpha) * (l + b)
      b = beta * (l1 - l) + (1 - beta) * b
      l = l1
      Iterator.single(RawScored(p.seriesKey, p.tsMs, p.value, dev))
    }
  }
  override def flush(): Iterator[RawScored] = Iterator.empty
}

/** Holt-Winters triple-exponential smoothing (level + trend + additive
  * seasonality, period m), deviation-scored: with j = (i−1) mod m the
  * phase slot, one-step-ahead forecast f_i = l + b + s_j,
  * raw dev_i = v_i − f_i, then
  * {{{
  * l_i = α·(v_i − s_j) + (1−α)·(l_{i−1} + b_{i−1})
  * b_i = β·(l_i − l_{i−1}) + (1−β)·b_{i−1}
  * s_j ← γ·(v_i − l_i) + (1−γ)·s_j
  * }}}
  * seeded l_1 = v_1, b_1 = 0, s ≡ 0, dev_1 = 0 (the cold-start seasonal
  * profile is flat and LEARNED online — no two-cycle warmup pass, so the
  * kernel streams with O(m) state and one partition visit, the property
  * every kernel here must keep at 100 TB). A series that repeats every m
  * samples is NORMAL here and scores ~0 where Holt flags each period's
  * swing — the seasonal complement to HoltKernel's trend complement.
  * State updates read only OLD values (f/dev/l/b/s all derive from the
  * pre-update state), so the fp-op sequence is replayable by a recursive
  * SQL oracle carrying (l, b, s_0..s_{m−1}).
  */
final class HoltWintersKernel(alpha: Double, beta: Double, gamma: Double, period: Int)
    extends SeriesKernel {
  require(period >= 2, s"period must be >= 2, got $period")
  private var l = 0.0
  private var b = 0.0
  private val s = new Array[Double](period)
  private var i = 0L

  override def feed(p: TsSample): Iterator[RawScored] = {
    i += 1
    val j = ((i - 1) % period).toInt
    if (i == 1) {
      l = p.value; b = 0.0
      s(j) = gamma * (p.value - l) + (1 - gamma) * s(j) // = 0: seed slot touched, unchanged
      Iterator.single(RawScored(p.seriesKey, p.tsMs, p.value, 0.0))
    } else {
      val sj = s(j)
      val f = l + b + sj
      val dev = p.value - f
      val l1 = alpha * (p.value - sj) + (1 - alpha) * (l + b)
      b = beta * (l1 - l) + (1 - beta) * b
      s(j) = gamma * (p.value - l1) + (1 - gamma) * sj
      l = l1
      Iterator.single(RawScored(p.seriesKey, p.tsMs, p.value, dev))
    }
  }
  override def flush(): Iterator[RawScored] = Iterator.empty
}

/** exp_avg detector, lag-window form: per point, EMA over the trailing
  * min(maxLag, pct·n)+1 values (ring buffer — bounded state), normalized
  * by the per-series population stddev carried on the input. Emits the
  * FINAL score in `dev` (unlike the decay kernel, abs is taken before
  * normalization, matching the delegate's lag path).
  */
final class ExpAvgLagKernel(alpha: Double, lagPct: Double, maxLag: Int)
    extends StreamKernel[CountedPoint, RawScored] {
  private var lag = -1
  private val buf = scala.collection.mutable.ArrayDeque.empty[Double]

  override def feed(p: CountedPoint): Iterator[RawScored] = {
    if (lag < 0) lag = math.min(maxLag, (p.n * lagPct).toInt)
    buf.append(p.value)
    if (buf.size > lag + 1) buf.removeHead()
    var ema = buf.head
    var i = 1
    while (i < buf.size) { ema = alpha * buf(i) + (1 - alpha) * ema; i += 1 }
    val dev = math.abs(p.value - ema)
    val score = if (p.sd > 0) dev / p.sd else dev
    Iterator.single(RawScored(p.seriesKey, p.tsMs, p.value, score))
  }
  override def flush(): Iterator[RawScored] = { lag = -1; buf.clear(); Iterator.empty }
}

/** derivative detector (SURVEY.md §2.4 D3; shape per public luminol 0.4
  * derivative_detector): d_i = |(v_i − v_{i−1}) / Δt_seconds| for i ≥ 1,
  * with d_0 := d_1 (first point duplicates the second's derivative);
  * ema over the d sequence with factor α; raw dev_i = |d_i − ema_i|.
  * Normalization divides by the per-series population stddev of the devs.
  * Time is converted ms→s to match the reference boundary
  * (/root/reference/potoos/client.py:87).
  *
  * Needs exactly one point of lookahead (to assign d_0 = d_1) — the first
  * point is held until the second arrives, keeping state O(1).
  */
final class DerivativeKernel(alpha: Double) extends SeriesKernel {
  private var prevTs = 0L
  private var prevV = 0.0
  private var held: TsSample = _ // first point, pending d_1
  private var ema = 0.0
  private var n = 0

  override def feed(p: TsSample): Iterator[RawScored] = {
    n += 1
    if (n == 1) {
      held = p; prevTs = p.tsMs; prevV = p.value
      Iterator.empty
    } else {
      val dtS = (p.tsMs - prevTs) / 1000.0
      val d = math.abs(if (dtS != 0) (p.value - prevV) / dtS else p.value - prevV)
      prevTs = p.tsMs; prevV = p.value
      val out = Array.newBuilder[RawScored]
      if (n == 2) {
        // d_0 = d_1 ⇒ ema_0 = d, dev_0 = 0; then ema_1 = α·d+(1−α)·d = d.
        ema = d
        out += RawScored(held.seriesKey, held.tsMs, held.value, 0.0)
        held = null
      }
      ema = alpha * d + (1 - alpha) * ema
      out += RawScored(p.seriesKey, p.tsMs, p.value, math.abs(d - ema))
      out.result().iterator
    }
  }

  override def flush(): Iterator[RawScored] =
    if (held != null) {
      // single-point series: no derivative exists; dev 0
      val h = held; held = null
      Iterator.single(RawScored(h.seriesKey, h.tsMs, h.value, 0.0))
    } else Iterator.empty
}
