package graftbench

import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite {
  test("a throwing op counts as failed and is left out of the timings") {
    val r = new Runner(new Tracer)
    r.pass = 0
    r.op("ok")(Thread.sleep(5))(_ => None)
    r.op("throws")(throw new IllegalStateException("boom"))((_: Nothing) => None)
    r.op("mis-checked")(42)(v => if (v == 41) None else Some(s"got $v"))
    val recs = r.records.toSeq
    assert(recs.map(_.ok) == Seq(true, false, false))
    assert(recs(1).error.exists(_.contains("boom")))
    assert(recs(1).ms.isNaN && recs(2).ms.isNaN)
    val samples = Main.opSamples(recs, Set(0))
    assert(samples.size == 1 && samples.head >= 5.0)
  }

  test("only the chosen passes contribute timings") {
    val r = new Runner(new Tracer)
    r.pass = 0; r.op("a")(())(_ => None)
    r.pass = 1; r.op("a")(())(_ => None)
    assert(Main.opSamples(r.records.toSeq, Set(1)).size == 1)
  }
}
