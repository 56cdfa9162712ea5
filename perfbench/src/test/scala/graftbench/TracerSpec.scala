package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {
  test("self time subtracts children; concurrent leaf jobs count once") {
    val spans = Seq(
      Span(1, 0, 1, "bench", "op", 0, 100),
      Span(2, 1, 1, "spark", "append", 10, 90),
      Span(3, 2, 1, "exec", "job1", 20, 60),
      Span(4, 2, 1, "exec", "job2", 40, 80))
    val self = Tracer.selfTimes(spans)
    assert(self == Map("bench" -> 20L, "spark" -> 20L, "exec" -> 60L))
    assert(self.values.sum == 100L)
  }

  test("disabled tracer records nothing; enabled tracer nests spans per op") {
    val t = new Tracer
    t.op("x")(t.span("core", "plan")(1))
    assert(t.spans.isEmpty)
    t.enabled = true
    t.op("x")(t.span("core", "plan")(1))
    val Seq(inner, root) = t.spans
    assert(root.parent == 0 && inner.parent == root.id && inner.op == root.op)
  }
}
