package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  private val s = 1000000000L
  // pass [0,10] with layers a [0,4] (child a1 [1,2]) and b [5,9]
  private val spans = Seq(
    Span(0, "pass", None, 0, 10 * s),
    Span(1, "a", Some(0), 0, 4 * s),
    Span(2, "a1", Some(1), 1 * s, 2 * s),
    Span(3, "b", Some(0), 5 * s, 9 * s))

  test("self time is the span minus its direct children") {
    val self = Spans.selfSeconds(spans)
    assert(self == Map(0 -> 2.0, 1 -> 3.0, 2 -> 1.0, 3 -> 4.0))
  }

  test("self times of a tree add up to the root's wall time") {
    assert(Spans.selfSeconds(spans).values.sum == 10.0)
  }

  test("subtree collects every descendant") {
    assert(Spans.subtree(spans, 0) == Set(0, 1, 2, 3))
    assert(Spans.subtree(spans, 1) == Set(1, 2))
    assert(Spans.subtree(spans, 3) == Set(3))
  }

  test("trace JSON carries name, parent, start and end") {
    val j = Spans.toJson(spans.take(2), 0L)
    assert(j.contains("\"name\":\"pass\",\"parent\":null,\"start_s\":0.000000,\"end_s\":10.000000"))
    assert(j.contains("\"name\":\"a\",\"parent\":0"))
  }
}
