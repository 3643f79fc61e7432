package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99.9) == 100.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("tail is the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // p90 = 90 leaves exactly 10 beyond
    assert(Stats.tail(xs).map(t => (t.p, t.value, t.nBeyond)) ==
      Some((90.0, 90.0, 10)))
  }

  test("tail never exceeds p90") {
    assert(Stats.tail((1 to 10000).map(_.toDouble)).map(_.p) == Some(Stats.TailP))
  }

  test("tail falls back down the ladder, and is absent below 10 beyond the median") {
    assert(Stats.tail((1 to 40).map(_.toDouble)).map(_.p) == Some(75.0))
    assert(Stats.tail((1 to 20).map(_.toDouble)).map(_.p) == Some(50.0))
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("ties at the percentile do not count as beyond it") {
    // 95 equal values and 5 larger: nothing qualifies above the median,
    // whose value ties with 95 samples
    val xs = Seq.fill(95)(1.0) ++ (1 to 5).map(i => 1.0 + i)
    assert(Stats.tail(xs).isEmpty)
  }
}
