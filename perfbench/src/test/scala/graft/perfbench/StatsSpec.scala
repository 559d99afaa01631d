package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("geometric mean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    assert(Stats.geomean(Seq(2.5)) == 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
    assert(Stats.percentile(Seq(7.0), 0.99) == 7.0)
  }

  test("tail is the highest 5 % grid percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // p90 leaves exactly 10 samples above rank 90; p95 would leave 5
    assert(Stats.tail(xs).contains(Stats.Tail(90.0, 90.0, 100)))
    // 40 samples: p75 leaves 10 beyond, p80 only 8
    val t40 = Stats.tail((1 to 40).map(_.toDouble)).get
    assert(t40.percentile == 75.0 && t40.value == 30.0 && t40.samples == 40)
    // the grid keeps the percentile fixed while the count moves a little
    assert((40 to 49).map(n => Stats.tail((1 to n).map(_.toDouble)).get.percentile).toSet == Set(75.0))
  }

  test("every tail leaves at least ten samples beyond it") {
    for (n <- 20 to 400) {
      val xs = (1 to n).map(_.toDouble)
      val t = Stats.tail(xs).get
      assert(xs.count(_ > t.value) >= 10, s"n=$n")
    }
  }

  test("no tail below twenty samples") {
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
  }
}
