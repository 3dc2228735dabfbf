package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble).toArray
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
    assert(Stats.percentile(Array(7.0), 0.5) == 7.0)
  }

  test("failed operations sort beyond every latency") {
    val xs = Array(5.0, 1.0, Stats.Failed, 3.0).sorted
    assert(Stats.percentile(xs, 1.0) == Stats.Failed)
    assert(Stats.percentile(xs, 0.75) == 5.0)
  }

  test("tail rule: highest percentile with at least ten samples beyond it") {
    assert(Stats.tailQuantile(100) == Some(0.9))
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.beyond(100, 0.91) == 9)
    assert(Stats.tailQuantile(1000) == Some(0.99))
    assert(Stats.tailQuantile(20) == Some(0.5))
    assert(Stats.tailQuantile(40) == Some(0.75))
    assert(Stats.tailQuantile(11) == Some(0.09))
    assert(Stats.tailQuantile(10).isEmpty)
    for (n <- 11 to 500; q <- Stats.tailQuantile(n)) {
      assert(Stats.beyond(n, q) >= 10, s"n=$n q=$q")
      assert(q == 0.99 || Stats.beyond(n, q + 0.01) < 10, s"n=$n q=$q not the highest")
    }
  }

  test("self time without jobs is the whole span") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
  }

  test("self time subtracts disjoint jobs") {
    assert(Stats.selfTime(0, 100, Seq((10L, 20L), (50L, 70L))) == 70)
  }

  test("overlapping jobs count once") {
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L))) == 70)
  }

  test("nested jobs count once") {
    assert(Stats.selfTime(0, 100, Seq((10L, 90L), (20L, 30L), (40L, 50L))) == 20)
  }

  test("jobs are clipped to the span") {
    assert(Stats.selfTime(100, 200, Seq((50L, 150L), (190L, 300L))) == 40)
    assert(Stats.selfTime(100, 200, Seq((0L, 50L), (250L, 300L))) == 100)
    assert(Stats.selfTime(100, 200, Seq((0L, 300L))) == 0)
  }

  test("touching jobs merge without double counting") {
    assert(Stats.coveredWithin(0, 100, Seq((10L, 20L), (20L, 30L), (30L, 40L))) == 30)
  }

  test("typical latency weights each op type's median by its count") {
    assert(Stats.typical(Seq("a" -> 1.0, "a" -> 9.0, "a" -> 5.0)) == 5.0)
    // three cheap ops at median 1 and one dear op at 100
    assert(Stats.typical(Seq("a" -> 1.0, "a" -> 1.0, "a" -> 2.0, "b" -> 100.0)) == 25.75)
    // a failed op makes its type's median, and the figure, infinite only
    // once it is the median
    assert(Stats.typical(Seq("a" -> 1.0, "a" -> Stats.Failed, "a" -> 2.0)) == 2.0)
    assert(Stats.typical(Seq("a" -> 1.0, "a" -> Stats.Failed)) == 1.0)
    assert(Stats.typical(Seq("a" -> Stats.Failed)).isInfinite)
  }

  test("median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Nil) == 0.0)
  }
}
