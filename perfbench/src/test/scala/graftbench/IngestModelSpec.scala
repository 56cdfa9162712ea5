package graftbench

import org.scalatest.funsuite.AnyFunSuite

class IngestModelSpec extends AnyFunSuite {
  private def model() = {
    val m = new IngestModel
    m.append("t", Seq(1L -> "a", 2L -> "b", 3L -> "c", 5L -> "e"))
    m.delete("t", Seq(2L))
    m
  }

  test("a lookup returning exactly the live rows passes") {
    val m = model()
    assert(m.check("t", 1, 3, Seq(3L -> "c", 1L -> "a")).isEmpty)
    assert(m.check("t", 2, 2, Nil).isEmpty)
  }

  test("a lookup that returns a deleted key is flagged") {
    val err = model().check("t", 2, 2, Seq(2L -> "b"))
    assert(err.exists(_.contains("deleted keys returned: 2")))
    assert(model().check("t", 1, 5, Seq(1L -> "a", 2L -> "b", 3L -> "c", 5L -> "e")).isDefined)
  }

  test("missing rows and wrong values are flagged") {
    assert(model().check("t", 1, 3, Seq(1L -> "a")).exists(_.contains("1 missing")))
    assert(model().check("t", 5, 5, Seq(5L -> "x")).isDefined)
  }
}
