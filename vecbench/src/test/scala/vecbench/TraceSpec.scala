package vecbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, s: Double, e: Double) =
    Span(id, parent, s"s$id", "timed", 0, s, e, Map.empty)

  test("union of intervals counts overlaps once and ignores empty ones") {
    assert(Trace.unionMs(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0), (30.0, 30.0))) == 20.0)
    assert(Trace.unionMs(Nil) == 0.0)
  }

  test("self time subtracts only the direct children") {
    // root [0,100] has children [10,40] and [45,60]; the first child has
    // its own child [15,25], which must not be subtracted from root again
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 45, 60),
      span(3, 1, 15, 25), span(4, -1, 100, 110))
    val self = Trace.selfMs(spans)
    assert(self(0) == 55.0)
    assert(self(1) == 20.0)
    assert(self(2) == 15.0)
    assert(self(3) == 10.0)
    assert(self(4) == 10.0)
    // the self times of a tree partition its root
    assert(self(0) + self(1) + self(2) + self(3) == 100.0)
  }

  test("overlapping children are subtracted from their parent once") {
    val self = Trace.selfMs(Seq(span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 60)))
    assert(self(0) == 50.0)
  }

  test("a child running past its parent is clipped to the parent") {
    val self = Trace.selfMs(Seq(span(0, -1, 0, 10), span(1, 0, 5, 20)))
    assert(self(0) == 5.0)
  }
}
