package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round loop's contract: rounds run and the converged flag, the
  * must-converge failure, and one `RoundClock` entry per completed
  * round. No Spark: a round is any function of (round, state). */
class FixpointSpec extends AnyFunSuite {

  private def clocked(body: => Unit): Seq[(String, Int)] = {
    RoundClock.drain()
    body
    RoundClock.drain().map(r => (r.family, r.round))
  }

  test("a loop that reaches a fixed point stops after that round, converged") {
    val r = Fixpoint.run("spec_early", 0, 10) { (i, s) => (s + 1, i == 3) }
    assert(r == Fixpoint.Result(3, 3, converged = true))
  }

  test("a loop that never reaches a fixed point runs exactly maxRounds, not converged") {
    val r = Fixpoint.run("spec_cap", 0, 4) { (i, s) => (s + i, false) }
    assert(r == Fixpoint.Result(10, 4, converged = false))
    // a fixed point on the last allowed round still counts as converged
    assert(Fixpoint.run("spec_cap", 0, 4) { (i, s) => (s + i, i == 4) }.converged)
  }

  test("converge returns the state at the fixed point, and fails naming the label and the cap") {
    assert(Fixpoint.converge("spec_conv", 1, 8) { (_, s) => (s * 2, s * 2 >= 16) } == 16)
    val e = intercept[IllegalArgumentException](
      Fixpoint.converge("spec_diverge", 0, 7) { (_, s) => (s + 1, false) })
    assert(e.getMessage.contains("spec_diverge") && e.getMessage.contains("7"), e.getMessage)
  }

  test("each round records exactly one RoundClock entry under the label, numbered 1..n") {
    val rs = clocked(Fixpoint.run("spec_clock", 0, 9) { (i, s) => (s, i == 4) })
    assert(rs == (1 to 4).map(i => ("spec_clock", i)))
    val capped = clocked(Fixpoint.run("spec_clock_cap", 0, 3) { (_, s) => (s, false) })
    assert(capped == (1 to 3).map(i => ("spec_clock_cap", i)))
  }

  test("a round that throws records no entry and the exception propagates") {
    var thrown: IllegalStateException = null
    val rs = clocked {
      thrown = intercept[IllegalStateException](
        Fixpoint.run("spec_throw", 0, 5) { (i, s) =>
          if (i == 2) throw new IllegalStateException("round 2 failed") else (s, false)
        })
    }
    assert(thrown.getMessage == "round 2 failed")
    assert(rs == Seq(("spec_throw", 1)))
  }
}
