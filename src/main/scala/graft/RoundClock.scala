package graft

/** Per-round wall-clock ledger for the iterative queries: a 2×
  * regression inside ONE round would otherwise be visible only as a
  * blended query total. [[Fixpoint]] is the only caller of [[time]]: it
  * times each round of every job-per-round loop under the loop's label
  * (a round ends in its scalar action or eager checkpoint, so the
  * body's wall-clock IS the round). Bench drains the ledger after each
  * timed run and emits a `rounds` map into bench_details.json, so a
  * round-level regression is attributable from the artifact alone.
  * Recording costs one nanoTime pair per ROUND — always on, nothing to
  * forget to enable. Stated round budgets live in BASELINE.md next to
  * the measured tables. */
object RoundClock {
  final case class Round(family: String, round: Int, sec: Double)
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Round]()

  /** Record `body`'s wall-clock as round `round` of `family`; a body
    * that throws records nothing. */
  def time[T](family: String, round: Int)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    buf.add(Round(family, round, (System.nanoTime() - t0) / 1e9))
    r
  }

  /** Remove and return everything recorded since the last drain, in
    * insertion order. */
  def drain(): Seq[Round] = {
    val out = Seq.newBuilder[Round]
    var x = buf.poll()
    while (x != null) { out += x; x = buf.poll() }
    out.result()
  }
}
