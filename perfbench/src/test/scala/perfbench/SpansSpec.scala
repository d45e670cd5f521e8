package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  test("covered length merges overlapping intervals and clips to the parent") {
    assert(Spans.covered(0, 100, Seq((10L, 20L), (15L, 30L), (50L, 60L))) == 30)
    assert(Spans.covered(0, 100, Seq((-10L, 5L), (95L, 200L))) == 10)
    assert(Spans.covered(0, 100, Nil) == 0)
    assert(Spans.covered(0, 100, Seq((40L, 40L))) == 0)
  }

  test("self time is duration minus the union of child intervals") {
    val spans = Seq(
      Span(1, 0, "query", "q", 0, 100),
      Span(2, 1, "construct", "q", 0, 30),
      Span(3, 1, "execute", "q", 30, 100),
      Span(4, 3, "job", "j1", 40, 70),
      Span(5, 3, "job", "j2", 60, 90), // overlaps j1
      Span(6, 4, "stage", "s", 45, 65))
    val self = Spans.selfNs(spans)
    assert(self(1) == 0)
    assert(self(2) == 30)
    assert(self(3) == 70 - 50)
    assert(self(4) == 30 - 20)
    assert(self(5) == 30)
    assert(self(6) == 20)
    val byKind = Spans.selfByKind(spans)
    assert(byKind("job") == 40 / 1e9)
  }

  test("self times of a tree with disjoint siblings add up to the root") {
    val spans = Seq(
      Span(1, 0, "run", "r", 0, 1000),
      Span(2, 1, "query", "a", 100, 400),
      Span(3, 2, "job", "j", 150, 300),
      Span(4, 1, "query", "b", 500, 900))
    assert(Spans.selfNs(spans).values.sum == 1000)
  }

  test("enclosing picks the innermost span of the given kinds") {
    val spans = Seq(Span(1, 0, "query", "q", 0, 100), Span(2, 1, "execute", "q", 30, 100))
    assert(Spans.enclosing(spans, Set("query", "execute"), 50).map(_.id).contains(2))
    assert(Spans.enclosing(spans, Set("query", "execute"), 10).map(_.id).contains(1))
    assert(Spans.enclosing(spans, Set("execute"), 10).isEmpty)
  }
}
