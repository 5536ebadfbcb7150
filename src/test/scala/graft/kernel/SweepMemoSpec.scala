package graft.kernel

import org.scalatest.funsuite.AnyFunSuite
import graft.pipelines.Yap
import graft.tools.KernelProfile

/** The Riccati-sweep memo in `OptimalPursuit.solveOptimalPath` changes no
  * result: `Yap.processPlay` emits the same rows with the memo cleared
  * before every play, filling across plays, and fully warm. The plays are
  * `KernelProfile`'s, each moved to its own epoch time base, so horizons
  * of equal length differ in their last bits and key distinct sweeps, as
  * real tracking clocks do. */
class SweepMemoSpec extends AnyFunSuite {
  private val memo = OptimalPursuit.sweepMemo

  private lazy val plays: Seq[Seq[Yap.PlayFrame]] = {
    val r = new scala.util.Random(7)
    (0 until 400).map { p =>
      // epoch microseconds to seconds, as `cast(time AS double)` reads them
      val baseMicros = 1600000000000000L + r.nextLong(100000000000000L)
      KernelProfile.playFrames(p).map(f =>
        f.copy(timeSec = (baseMicros + f.frameId * 100000L) / 1e6))
    }
  }

  /** Every play's emits, printed (bit-exact for doubles, NaN included). */
  private def emits(beforeEach: () => Unit): Seq[String] = plays.flatMap { fs =>
    beforeEach()
    Yap.processPlay(fs.head.gameId, fs.head.playId, fs, 1.0).map(_.toString).toSeq
  }

  test("processPlay emits are equal with the memo cleared, filling and warm") {
    val cleared = emits(() => memo.clear())
    memo.clear()
    val filling = emits(() => ())
    val keys = memo.size
    val (hits, misses) = (memo.hits.sum, memo.misses.sum)
    val warm = emits(() => ())
    assert(cleared.nonEmpty && cleared.exists(_.startsWith("Emit(path,")))
    assert(filling == cleared, "emits changed once the memo filled across plays")
    assert(warm == cleared, "emits changed with the memo warm")
    // a play has 54 candidate horizons; the time bases add bit-variants
    assert(keys > 54 && misses == keys && hits > 10 * misses,
      s"expected bit-variant horizons and mostly hits: $keys keys, $hits/$misses")
    assert(memo.misses.sum == misses, "a warm pass recomputed a stored sweep")
    assert(memo.size <= memo.bound)
  }

  test("the memo stores at most its bound and computes through when full") {
    val small = new OptimalPursuit.SweepMemo(8)
    def key(i: Int) = OptimalPursuit.SweepKey(i, 0L, 0L, 0L)
    var sweeps = 0
    def get(i: Int) = small(key(i)) { sweeps += 1; Array(i.toDouble) }
    (0 until 20).foreach(i => assert(get(i).sameElements(Array(i.toDouble))))
    assert(small.size == 8 && sweeps == 20)
    (0 until 20).foreach(i => assert(get(i).sameElements(Array(i.toDouble))))
    assert(small.size == 8, "the map grew past its bound")
    assert(sweeps == 32 && small.hits.sum == 8 && small.misses.sum == 32,
      "stored keys hit; the 12 keys past the bound compute through every time")
  }
}
