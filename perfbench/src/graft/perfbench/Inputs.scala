package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** One row of a generated monitoring table (`host:metric` key, epoch-ms
  * timestamp, value).
  */
final case class Point(series: String, ts_ms: Long, value: Double)

/** One row of the generated corpus. */
final case class Doc(id: Long, text: String)

/** Seeded input generation. Every value is a pure function of (seed,
  * stream id), so the benchmark can regenerate any series or document to
  * recompute the expected output without reading the program's files.
  */
object Gen {
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long): SplittableRandom = new SplittableRandom(mix(seed, stream))
}

/** Shape of a generated monitoring table: `keys` series of `points`
  * one-minute samples each, with planted spikes and level shifts.
  */
final case class SeriesShape(keys: Int, points: Int, spikeRate: Double, shiftRate: Double, salt: Long) {
  val stepMs: Long = 60000L
  val t0: Long = 1700000040000L // a whole minute
  def ts(i: Int): Long = t0 + i * stepMs
  def lastTs: Long = ts(points - 1)
}

/** One generated series and the positions of its planted spikes. */
final case class Series(key: String, values: Array[Double], spikes: Array[Boolean])

object SeriesGen {
  private val Metrics = Array("cpu", "mem", "disk", "net", "load", "iops", "lat", "err")

  def key(i: Int): String = f"host-${i / Metrics.length}%05d:${Metrics(i % Metrics.length)}"

  /** Noise around a per-series level, a rare level shift of 5–10 σ, and
    * rare spikes of 15–25 σ. Values carry two decimals, like gauges.
    */
  def series(seed: Long, shape: SeriesShape, i: Int): Series = {
    val r = Gen.rng(seed, shape.salt * 1000003L + i)
    val sd = 1.0 + r.nextDouble() * 2.0
    var level = 50.0 + r.nextDouble() * 50.0
    val values = new Array[Double](shape.points)
    val spikes = new Array[Boolean](shape.points)
    var t = 0
    while (t < shape.points) {
      if (t > 0 && r.nextDouble() < shape.shiftRate)
        level += (if (r.nextBoolean()) 1 else -1) * sd * (5.0 + 5.0 * r.nextDouble())
      var v = level + r.nextGaussian() * sd
      // no spike on the first two samples: the derivative has no history there
      if (t >= 2 && r.nextDouble() < shape.spikeRate) {
        v += (if (r.nextBoolean()) 1 else -1) * sd * (15.0 + 10.0 * r.nextDouble())
        spikes(t) = true
      }
      values(t) = math.round(v * 100) / 100.0
      t += 1
    }
    Series(key(i), values, spikes)
  }

  def all(seed: Long, shape: SeriesShape): Array[Series] = Array.tabulate(shape.keys)(series(seed, shape, _))

  /** Writes the table time-major (each file holds a time slice of every
    * series), the layout of an append-only monitoring store.
    */
  def write(spark: SparkSession, path: String, seed: Long, shape: SeriesShape, files: Int): Unit = {
    import spark.implicits._
    spark.range(0, files, 1, files).as[Long]
      .flatMap { p =>
        val lo = (p * shape.points / files).toInt
        val hi = ((p + 1) * shape.points / files).toInt
        val ss = all(seed, shape)
        (lo until hi).iterator.flatMap(t => ss.iterator.map(s => Point(s.key, shape.ts(t), s.values(t))))
      }
      .write.mode("overwrite").parquet(path)
  }
}

/** Shape of the generated corpus: `docs` documents of 40–120 tokens drawn
  * from a skewed vocabulary. The last `dupShare` of them are copies of
  * distinct earlier documents, with each token replaced at one of the
  * planted edit rates in turn, so every seed plants the same number of
  * pairs at each rate and every duplicate cluster is one pair.
  */
final case class CorpusShape(docs: Int, vocab: Int, dupShare: Double, editRates: Seq[Double])

final case class Planted(base: Long, copy: Long, editRate: Double)

object CorpusGen {
  def generate(seed: Long, shape: CorpusShape): (Array[Doc], Seq[Planted]) = {
    val r = Gen.rng(seed, 77)
    val copies = (shape.docs * shape.dupShare).toInt
    val originals = shape.docs - copies
    def word(): String = "w" + (shape.vocab * math.pow(r.nextDouble(), 2.0)).toInt
    val toks = Array.fill(originals)(Array.fill(40 + r.nextInt(81))(word())) ++ new Array[Array[String]](copies)
    // distinct bases: a seeded shuffle of the originals
    val bases = (0 until originals).toArray
    (originals - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = bases(i); bases(i) = bases(j); bases(j) = t
    }
    val planted = (0 until copies).map { c =>
      val (base, copy) = (bases(c), originals + c)
      val rate = shape.editRates(c % shape.editRates.size)
      toks(copy) = toks(base).map(t => if (r.nextDouble() < rate) word() else t)
      Planted(base.toLong, copy.toLong, rate)
    }
    (Array.tabulate(shape.docs)(j => Doc(j.toLong, toks(j).mkString(" "))), planted)
  }

  /** The distinct word n-grams of a text, split on single spaces. */
  def shingles(text: String, n: Int): Set[String] = {
    val w = text.split(" ", -1)
    if (w.length < n) Set.empty else w.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = a.count(b.contains)
    val u = a.size + b.size - i
    if (u == 0) 0.0 else i.toDouble / u
  }
}
