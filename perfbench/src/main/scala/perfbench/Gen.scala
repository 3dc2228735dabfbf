package perfbench

import java.util.SplittableRandom

/** Seeded input generation. Every draw comes from a `SplittableRandom`
  * derived from the run's `--seed`, so one seed always yields the same
  * keys, sizes, op sequence and value bytes. */
object Gen {

  /** Zipf(s) over ranks 0 until n (rank 0 hottest), sampled by inverse
    * CDF with a binary search. */
  final class Zipf(n: Int, s: Double) {
    require(n > 0 && s >= 0)
    private val cdf: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      for (i <- 0 until n) { acc += 1.0 / math.pow(i + 1, s); c(i) = acc }
      for (i <- 0 until n) c(i) /= acc
      c(n - 1) = 1.0
      c
    }
    def probability(rank: Int): Double =
      if (rank == 0) cdf(0) else cdf(rank) - cdf(rank - 1)
    def sample(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      if (i >= 0) i else -i - 1
    }
  }

  /** Log-uniform integer in [lo, hi): every doubling of size is equally
    * likely, so small values are common and large ones still appear. */
  def logUniform(rng: SplittableRandom, lo: Int, hi: Int): Int = {
    val v = math.exp(math.log(lo.toDouble) +
      rng.nextDouble() * (math.log(hi.toDouble) - math.log(lo.toDouble)))
    math.min(hi - 1, math.max(lo, v.toInt))
  }

  /** Fisher-Yates shuffle. */
  def shuffle[A](xs: Seq[A], rng: SplittableRandom): Vector[A] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  /** An endless op stream in shuffled cycles of a fixed composition
    * (`counts` of each op per cycle): every run issues the same mix, and
    * only the order within a cycle depends on the seed. */
  final class Cycle[A](counts: Seq[(A, Int)], rng: SplittableRandom) {
    private val ops = counts.flatMap { case (a, n) => Seq.fill(n)(a) }
    private var left: List[A] = Nil
    def next(): A = {
      if (left.isEmpty) left = shuffle(ops, rng).toList
      val a = left.head
      left = left.tail
      a
    }
  }

  /** The bytes of one stored object: a pure function of (key, version,
    * size), so a reader can rebuild the expected value instead of keeping
    * every written value in memory. */
  def valueBytes(key: String, version: Int, size: Int): Array[Byte] = {
    val rng = new SplittableRandom(key.hashCode.toLong * 1000003L + version)
    val out = new Array[Byte](size)
    var i = 0
    while (i < size) {
      var w = rng.nextLong()
      var k = 0
      while (k < 8 && i < size) { out(i) = w.toByte; w >>>= 8; k += 1; i += 1 }
    }
    out
  }
}
