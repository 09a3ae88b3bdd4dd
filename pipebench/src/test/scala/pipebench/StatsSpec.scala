package pipebench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentiles interpolate between the closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 50) == 2.5)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
    assert(Stats.percentile(Seq(5.0), 99) == 5.0)
  }

  test("weighted samples read as the expanded sample") {
    val weighted = Seq((10.0, 3L), (20.0, 1L), (30.0, 2L))
    val expanded = weighted.flatMap { case (v, n) => Seq.fill(n.toInt)(v) }
    for (p <- Seq(0.0, 10.0, 25.0, 50.0, 75.0, 90.0, 99.0, 100.0))
      assert(Stats.weightedPercentile(weighted, p) == Stats.percentile(expanded, p), s"p$p")
  }

  test("a summary states its sample count; no samples reads as NaN") {
    val s = Stats.summarize(Seq((1.0, 2L), (3.0, 5L)))
    assert(s.n == 7 && s.max == 3.0 && s.p50 == 3.0)
    val empty = Stats.summarize(Nil)
    assert(empty.n == 0 && empty.p50.isNaN)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
  }
}
