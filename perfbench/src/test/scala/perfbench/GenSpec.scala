package perfbench

import org.scalactic.Tolerance._
import org.scalatest.funsuite.AnyFunSuite

import java.util.SplittableRandom

class GenSpec extends AnyFunSuite {

  private def draws(seed: Long, n: Int)(f: SplittableRandom => Int): Seq[Int] = {
    val rng = new SplittableRandom(seed)
    Seq.fill(n)(f(rng))
  }

  test("Zipf draws are stable per seed and differ across seeds") {
    val z = new Gen.Zipf(256, 1.0)
    assert(draws(7, 1000)(z.sample) == draws(7, 1000)(z.sample))
    assert(draws(7, 1000)(z.sample) != draws(8, 1000)(z.sample))
  }

  test("Zipf(1) rank frequencies follow 1/rank") {
    val z = new Gen.Zipf(64, 1.0)
    val h = 1 to 64 map (1.0 / _)
    assert(math.abs(z.probability(0) - 1 / h.sum) < 1e-12)
    assert(math.abs(z.probability(0) / z.probability(3) - 4.0) < 1e-9)
    assert((0 until 64).map(z.probability).sum === 1.0 +- 1e-9)
    val counts = draws(1, 200000)(z.sample).groupBy(identity).map { case (k, v) => k -> v.size }
    assert(counts.keys.forall(r => r >= 0 && r < 64))
    for (r <- Seq(0, 1, 7, 63))
      assert(counts.getOrElse(r, 0) / 200000.0 === z.probability(r) +- 0.01)
  }

  test("Zipf(0) is uniform") {
    val z = new Gen.Zipf(10, 0.0)
    for (r <- 0 until 10) assert(z.probability(r) === 0.1 +- 1e-12)
  }

  test("value sizes are log-uniform within [4 KiB, 128 KiB) and stable per seed") {
    val lo = 4096
    val hi = 131072
    val xs = draws(3, 100000)(Gen.logUniform(_, lo, hi))
    assert(xs == draws(3, 100000)(Gen.logUniform(_, lo, hi)))
    assert(xs.forall(x => x >= lo && x < hi))
    // equal mass per doubling: 5 octaves from 4 KiB to 128 KiB
    val octave = xs.groupBy(x => (math.log(x.toDouble / lo) / math.log(2)).toInt)
    assert(octave.keySet == Set(0, 1, 2, 3, 4))
    for ((_, v) <- octave) assert(v.size / 100000.0 === 0.2 +- 0.01)
  }

  test("value bytes are a pure function of key, version and size") {
    val a = Gen.valueBytes("k1", 0, 5000)
    assert(a.length == 5000)
    assert(java.util.Arrays.equals(a, Gen.valueBytes("k1", 0, 5000)))
    assert(!java.util.Arrays.equals(a, Gen.valueBytes("k1", 1, 5000)))
    assert(!java.util.Arrays.equals(a, Gen.valueBytes("k2", 0, 5000)))
    assert(Gen.valueBytes("k1", 0, 13).length == 13)
  }

  test("cycles keep their composition and shuffle only the order") {
    def take(seed: Long) = {
      val c = new Gen.Cycle(Seq("a" -> 3, "b" -> 1), new SplittableRandom(seed))
      Seq.fill(40)(c.next())
    }
    val ops = take(1)
    assert(ops.grouped(4).forall(_.sorted == Seq("a", "a", "a", "b")))
    assert(ops == take(1))
    assert(ops != take(2))
  }

  test("shuffle is a seeded permutation") {
    val xs = 0 until 50
    val a = Gen.shuffle(xs, new SplittableRandom(5))
    assert(a.sorted == xs)
    assert(a == Gen.shuffle(xs, new SplittableRandom(5)))
    assert(a != Gen.shuffle(xs, new SplittableRandom(6)))
  }

  test("registry passes keep the list and spread the heavy queries") {
    val rng = new SplittableRandom(11)
    val pass = Registry.order(rng)
    assert(pass.sorted == Registry.All.sorted)
    val at = pass.zipWithIndex.collect { case (q, i) if Registry.Heavy.contains(q) => i }
    val gap = Registry.All.size / Registry.Heavy.size
    assert(at.size == Registry.Heavy.size)
    assert(at.zip(at.drop(1)).forall { case (a, b) => b - a >= gap })
    assert(Registry.order(new SplittableRandom(11)) == pass)
  }
}
