package graft

/** The round loop that every job-per-round iterative query runs on
  * (graph fixpoints, connected components, tokenizer training).
  *
  * Starting from `init`, it runs `round(i, state)` for i = 1, 2, … and
  * stops after the first round that reports a fixed point, or after
  * `maxRounds`. Each round is timed by [[RoundClock.time]] under
  * `label`, so every loop's per-round cost lands in the same ledger,
  * and every Spark job a round submits carries the local property
  * [[RoundProperty]] = `<label>#<round>`, so a listener can count a
  * round's jobs. The loop adds no Spark action, checkpoint or release
  * of its own: whatever a round materializes is the round body's
  * business.
  */
object Fixpoint {

  /** The Spark local property naming the round a job belongs to. */
  val RoundProperty = "graft.fixpoint.round"

  /** The state after the last round run, how many rounds ran, and
    * whether the last one reported a fixed point. */
  final case class Result[S](state: S, rounds: Int, converged: Boolean)

  /** `round` returns the next state and whether it is a fixed point. */
  def run[S](label: String, init: S, maxRounds: Int)(round: (Int, S) => (S, Boolean)): Result[S] = {
    var state = init
    var i = 0
    var converged = false
    while (!converged && i < maxRounds) {
      i += 1
      val (next, fixed) = tagged(s"$label#$i")(RoundClock.time(label, i)(round(i, state)))
      state = next
      converged = fixed
    }
    Result(state, i, converged)
  }

  /** Runs `body` with [[RoundProperty]] set to `tag` on the session's
    * context, restoring the enclosing round's tag after (loops nest). */
  private def tagged[T](tag: String)(body: => T): T =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession) match {
      case None => body
      case Some(s) =>
        val sc = s.sparkContext
        val outer = sc.getLocalProperty(RoundProperty)
        sc.setLocalProperty(RoundProperty, tag)
        try body finally sc.setLocalProperty(RoundProperty, outer)
    }

  /** [[run]] for loops whose answer is wrong unless they converge:
    * fails, naming the label and the cap, when `maxRounds` rounds end
    * without a fixed point. */
  def converge[S](label: String, init: S, maxRounds: Int)(round: (Int, S) => (S, Boolean)): S = {
    val r = run(label, init, maxRounds)(round)
    require(r.converged, s"$label: no fixed point within $maxRounds rounds")
    r.state
  }
}
