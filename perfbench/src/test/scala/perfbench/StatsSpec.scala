package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("failed_share counts every failed or mismatched operation against attempts") {
    val t = new Tally
    t.ok(); t.ok(); t.ok()
    t.check(cond = true, "unused")
    t.check(cond = false, "q1 mismatch")
    t.fail("q2 threw")
    assert(t.attempted == 6 && t.failed == 2)
    assert(close(t.failedShare, 2.0 / 6))
    assert(t.firstErrors == Seq("q1 mismatch", "q2 threw"))
    assert(new Tally().failedShare == 1.0, "a run that attempted nothing has not succeeded")
  }

  test("covered time is the union of task intervals") {
    assert(Tracer.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    assert(Tracer.covered(Seq((20L, 30L), (0L, 40L))) == 40)
    assert(Tracer.covered(Nil) == 0)
  }

  test("result line has exactly the contract's keys") {
    val line = Json.result(correct = true, 12, 0, Seq(("setup_s", 1.25, "s"), ("x.y", 3e-5, "us")))
    assert(line == """{"correct": true, "attempted": 12, "failed": 0, "metrics": """ +
      """{"setup_s": {"value": 1.25, "unit": "s"}, "x.y": {"value": 3.0E-5, "unit": "us"}}}""")
  }
}
