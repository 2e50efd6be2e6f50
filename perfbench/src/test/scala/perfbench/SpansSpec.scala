package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, s: Long, e: Long) =
    Span(id, parent, "k", s"s$id", "g", s, e)

  test("self time counts overlapping children once and ignores time outside the parent") {
    val parent = span(1, 0, 0, 100)
    val kids = Seq(span(2, 1, 10, 40), span(3, 1, 30, 60), span(4, 1, 90, 120))
    // children cover [10, 60) and [90, 100): 60 of the parent's 100
    assert(Spans.selfNs(parent, kids) == 40)
  }

  test("nested children and a child inside another child") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 1, 20, 30),
      span(4, 2, 10, 20), span(5, 2, 15, 45))
    val self = Spans.selfTimes(spans)
    assert(self(1) == 50) // children 2 and 3 cover [0, 50)
    assert(self(2) == 15) // children cover [10, 45)
    assert(self(3) == 10 && self(4) == 10 && self(5) == 30)
  }

  test("covered merges touching and contained intervals") {
    assert(Spans.covered(Seq((0L, 10L), (10L, 20L), (2L, 5L), (30L, 31L), (7L, 7L))) == 21)
    assert(Spans.covered(Nil) == 0)
  }

  test("enclosing picks the innermost span containing the instant") {
    val outer = span(1, 0, 0, 100)
    val inner = span(2, 1, 40, 60)
    assert(Spans.enclosing(Seq(outer, inner), 50).contains(inner))
    assert(Spans.enclosing(Seq(outer, inner), 70).contains(outer))
    assert(Spans.enclosing(Seq(outer, inner), 170).isEmpty)
  }
}
