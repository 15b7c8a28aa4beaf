package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, s: Long, e: Long) = Span(id, parent, "op", s"s$id", s, e)

  test("union counts overlapping intervals once") {
    assert(Spans.unionNs(Seq((10L, 30L), (20L, 50L), (60L, 70L))) == 50L)
    assert(Spans.unionNs(Seq((5L, 5L), (8L, 3L))) == 0L)
    assert(Spans.unionNs(Nil) == 0L)
  }

  test("self time subtracts the part of the span its children cover") {
    val tree = Seq(
      span(1, 0, 0, 100),
      span(2, 1, 10, 30), span(3, 1, 20, 50), span(4, 1, 60, 70),
      span(5, 1, 90, 120), // runs past its parent: only [90, 100) counts
      span(6, 2, 12, 18), span(7, 2, 25, 40)) // grandchildren clip to their parent
    val self = Spans.selfTimes(tree)
    assert(self(1) == 100 - (40 + 10 + 10))
    assert(self(2) == 20 - (6 + 5))
    assert(self(3) == 30 && self(4) == 10 && self(5) == 30)
    assert(self(6) == 6 && self(7) == 15)
  }
}
