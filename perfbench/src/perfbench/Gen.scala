package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generator. Every input of every workload comes from here,
  * so one `--seed` reproduces a run's inputs exactly; the program under
  * test only ever sees what this produces.
  */
final class Gen(seed: Long) {
  private val rnd = new SplittableRandom(seed)

  def nextInt(n: Int): Int = rnd.nextInt(n)
  def nextDouble(): Double = rnd.nextDouble()
  def gaussian(): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u = 1.0 - rnd.nextDouble()
    val v = rnd.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * v)
  }
}

/** Zipf(s) over ranks 0 until n by inverse-CDF lookup: rank r has weight
  * 1/(r+1)^s. Rank 0 is the hottest key.
  */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val c = w.scanLeft(0.0)(_ + _).tail
    val total = c.last
    c.map(_ / total)
  }
  def sample(g: Gen): Int = {
    val i = java.util.Arrays.binarySearch(cdf, g.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** A categorical distribution from observed (item, count) pairs. */
final class Weighted[A](items: IndexedSeq[(A, Long)]) {
  require(items.nonEmpty, "empty distribution")
  private val values = items.map(_._1)
  private val cdf: Array[Double] = {
    val c = items.map(_._2.toDouble).scanLeft(0.0)(_ + _).tail.toArray
    c.map(_ / c.last)
  }
  def sample(g: Gen): A = {
    val i = java.util.Arrays.binarySearch(cdf, g.nextDouble())
    values(math.min(if (i >= 0) i else -i - 1, values.length - 1))
  }
}

object Gen {
  /** A 64-bit finalizer (MurmurHash3 fmix64) to derive independent seeds. */
  def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb93fe53b8753L
    z ^ (z >>> 33)
  }

  val DayMs: Long = 24L * 3600L * 1000L
  /** Day 0 of every generated timeline (2024-01-01 UTC). */
  val BaseDay: Long = 19723L

  /** One event: (event time ms, key, value). */
  type Event = (Long, Long, Long)

  /** `n` events of `day`; keys Zipf-distributed over `zipf`'s ranks. A
    * `lateShare` fraction lands in one of the `lateDays` days before
    * `day` instead (late arrivals keep earlier (key, batch) groups open).
    */
  def events(g: Gen, zipf: Zipf, n: Int, day: Long, lateShare: Double,
      lateDays: Int): Array[Event] =
    Array.fill(n) {
      val d =
        if (lateDays > 0 && g.nextDouble() < lateShare) day - 1 - g.nextInt(lateDays)
        else day
      val ts = (BaseDay + d) * DayMs + g.nextInt(DayMs.toInt)
      (ts, zipf.sample(g).toLong, 1L + g.nextInt(5))
    }

  /** The sf0.1 `documents.text` vocabulary at its observed token counts,
    * read from the benchmark's own data file.
    */
  def sf01Vocabulary(dataDir: String): Weighted[String] = {
    val src = scala.io.Source.fromFile(s"$dataDir/sf01_vocab.tsv", "UTF-8")
    try {
      val rows = src.getLines().filterNot(_.startsWith("#")).map { l =>
        val Array(tok, n) = l.split("\t")
        (tok, n.toLong)
      }.toIndexedSeq
      new Weighted(rows)
    } finally src.close()
  }

  /** Documents of 10 to 100 tokens (the sf0.1 length range), each token
    * drawn from the sf0.1 vocabulary at its observed frequency.
    */
  def documents(g: Gen, vocab: Weighted[String], firstId: Long, n: Int): Array[(Long, String)] =
    Array.tabulate(n) { i =>
      val len = 10 + g.nextInt(91)
      (firstId + i, Seq.fill(len)(vocab.sample(g)).mkString(" "))
    }

  /** A query of three or four distinct sf0.1 tokens drawn at their
    * observed frequencies: the shape of the gate's own BM25 query set.
    */
  def query(g: Gen, vocab: Weighted[String]): String = {
    val n = 3 + g.nextInt(2)
    val terms = mutable.LinkedHashSet.empty[String]
    while (terms.size < n) terms += vocab.sample(g)
    terms.mkString(" ")
  }

  def centroids(g: Gen, n: Int, dim: Int): Array[Array[Double]] =
    Array.fill(n, dim)(g.gaussian())

  /** Vectors scattered around seeded centroids (noise σ relative to the
    * unit-variance centroid coordinates), as the float arrays the stored
    * ANN tiers read.
    */
  def vectors(g: Gen, cents: Array[Array[Double]], noise: Double,
      firstId: Long, n: Int): Array[(Long, Array[Float])] =
    Array.tabulate(n) { i =>
      val c = cents(g.nextInt(cents.length))
      (firstId + i, c.map(x => (x + noise * g.gaussian()).toFloat))
    }

  def queryVector(g: Gen, cents: Array[Array[Double]], noise: Double): Array[Double] = {
    val c = cents(g.nextInt(cents.length))
    c.map(x => x + noise * g.gaussian())
  }
}
