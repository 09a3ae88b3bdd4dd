package pipebench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  test("self time is a span's duration minus the union of its children") {
    val spans = Seq(
      Span(1, 0, "dashboard.tile", 0, 100, "r"),
      Span(2, 1, "rolluprewrite.optimize", 10, 30, "r"),
      Span(3, 1, "spark.collect", 25, 90, "r"),
      Span(4, 3, "spark.inner", 40, 50, "r"))
    val self = Tracer.selfTimeSec(spans)
    assert(self("dashboard") == 20 / 1e9) // 100 - |[10,90)|
    assert(self("rolluprewrite") == 20 / 1e9)
    assert(self("spark") == (65 - 10 + 10) / 1e9)
  }

  test("a disabled tracer records nothing; an enabled one nests by thread") {
    val off = new Tracer(false, "r")
    assert(off.span("a.b")(42) == 42 && off.all.isEmpty)
    val on = new Tracer(true, "r")
    on.span("a.outer")(on.span("b.inner")(()))
    val Seq(outer, inner) = on.all.sortBy(_.parent)
    assert(outer.parent == 0 && inner.parent == outer.id && inner.runId == "r")
  }

  test("interval unions merge overlaps and skip empty intervals") {
    assert(Tracer.union(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20L)
    assert(Tracer.union(Nil) == 0L)
  }
}
