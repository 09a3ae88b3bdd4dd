package pipebench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {
  test("a reading touches the five 25 s / 5 s windows that contain it") {
    assert(Checks.windowEndsMs(12345L) == Seq(15000L, 20000L, 25000L, 30000L, 35000L))
    // a reading on a slide boundary belongs to the window starting there
    assert(Checks.windowEndsMs(10000L) == Seq(15000L, 20000L, 25000L, 30000L, 35000L))
  }

  test("multiset difference counts surplus copies") {
    val a = Array(1L, 2L, 2L, 3L, 7L)
    val b = Array(2L, 3L, 3L, 5L)
    assert(Checks.multisetMinus(a, b) == 3) // 1, one 2, 7
    assert(Checks.multisetMinus(b, a) == 2) // one 3, 5
    assert(Checks.multisetMinus(a, a) == 0)
  }

  test("row comparison tolerates double rounding only") {
    import org.apache.spark.sql.Row
    assert(Checks.sameRows(Seq(Row("a", 1.0, 2L)), Seq(Row("a", 1.0 + 1e-12, 2L))))
    assert(!Checks.sameRows(Seq(Row("a", 1.0, 2L)), Seq(Row("a", 1.001, 2L))))
    assert(!Checks.sameRows(Seq(Row("a", 1.0, 2L)), Seq(Row("b", 1.0, 2L))))
    assert(!Checks.sameRows(Seq(Row("a")), Nil))
  }
}
