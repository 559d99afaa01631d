package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, s: Long, e: Long) = Span(id, s"s$id", parent, s, e)

  test("self time is duration minus time covered by children") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 50, 60), span(3, 1, 12, 20))
    val self = Tracer.selfNs(spans)
    assert(self(0) == 70)
    assert(self(1) == 12)
    assert(self(2) == 10)
    assert(self(3) == 8)
  }

  test("overlapping children are counted once") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, 0, 40, 70))
    assert(Tracer.selfNs(spans)(0) == 40)
  }

  test("children are clipped to their parent") {
    val spans = Seq(span(0, -1, 10, 20), span(1, 0, 5, 15))
    assert(Tracer.selfNs(spans)(0) == 5)
  }

  test("covered length of a union of intervals") {
    assert(Tracer.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 26L))) == 25)
    assert(Tracer.covered(Nil) == 0)
  }

  test("innermost span at a time and subtrees") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 30), span(3, 1, 12, 20))
    assert(Tracer.innermostAt(spans, 15).map(_.id).contains(3))
    assert(Tracer.innermostAt(spans, 25).map(_.id).contains(1))
    assert(Tracer.innermostAt(spans, 200).isEmpty)
    assert(Tracer.subtree(spans, 1) == Set(1, 3))
  }

  test("a disabled tracer runs the body and records nothing") {
    val t = new Tracer(None)
    assert(t.span("x")(41 + 1) == 42)
    assert(t.spans.isEmpty)
  }

  test("job groups round-trip to span ids") {
    assert(Tracer.spanOf(Tracer.group(17)).contains(17))
    assert(Tracer.spanOf("someone-else").isEmpty)
    assert(Tracer.spanOf(null).isEmpty)
  }
}
