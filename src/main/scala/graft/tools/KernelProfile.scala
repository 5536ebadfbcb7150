package graft.tools

import graft.pipelines.Yap
import java.sql.Timestamp

/** Serial per-play kernel cost distribution (no Spark) — finds the
  * heavy tail that makes cluster scheduling of the YAP kernel noisy.
  * Ends with the Riccati-sweep memo's hit and miss counts for the pass. */
object KernelProfile {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 300
    val times: Seq[(Int, Double)] = (0 until n).map { p =>
      val frames = playFrames(p)
      val t0 = System.nanoTime()
      Yap.processPlay(1000L + p / 100, p % 100, frames, 1.0).toSeq
      (p, (System.nanoTime() - t0) / 1e6)
    }
    val sorted = times.map(_._2).sorted
    println(f"plays=$n mean=${sorted.sum / n}%.1f ms p50=${sorted(n / 2)}%.1f p90=${sorted(n * 9 / 10)}%.1f p99=${sorted(n * 99 / 100)}%.1f max=${sorted.last}%.1f")
    times.sortBy(t => -t._2).take(5).foreach { t => println(f"  play ${t._1}%5d: ${t._2}%8.1f ms") }
    val memo = graft.kernel.OptimalPursuit.sweepMemo
    println(s"riccati sweep memo: hits=${memo.hits.sum} misses=${memo.misses.sum} " +
      s"stored=${memo.size}/${memo.bound}")
  }

  def playFrames(p: Int): Seq[Yap.PlayFrame] = {
    val rnd = new scala.util.Random(42L + p)
    val playDir = if (rnd.nextBoolean()) "left" else "right"
    val cx0 = 30.0 + rnd.nextDouble() * 40
    val cy0 = 10.0 + rnd.nextDouble() * 30
    val cvx = (if (playDir == "left") -1 else 1) * (2.0 + rnd.nextDouble() * 5)
    def sec(f: Int) = 1700000000.0 + f * 0.1
    val carrier = (1 to 60).map { f =>
      val ev = f match { case 5 => Some("handoff"); case 55 => Some("tackle"); case _ => None }
      Yap.PlayFrame(1000L + p / 100, p % 100, 100L, f, "carrier", sec(f),
        cx0 + cvx * 0.1 * f, cy0 + rnd.nextGaussian() * 0.05,
        math.abs(cvx), 0.5, math.toDegrees(math.atan2(cvx, 0.0)), ev, playDir, Some("C"), Some("RB"))
    }
    val positions = Vector("CB", "FS", "SS", "DE", "MLB", "OLB", "ILB", "DT", "NT", "DB")
    val tacklers = (0 until 2).flatMap { t =>
      val id = 200L + t
      val tx0 = cx0 + (rnd.nextDouble() - 0.3) * 12
      val ty0 = cy0 + (rnd.nextDouble() - 0.5) * 8
      (1 to 60).map { f =>
        val cx = cx0 + cvx * 0.1 * f
        val dx = cx - tx0; val dy = cy0 - ty0
        val d = math.hypot(dx, dy).max(0.1)
        val sp = 3.0 + rnd.nextDouble() * 3
        Yap.PlayFrame(1000L + p / 100, p % 100, id, f, "tackler", sec(f),
          tx0 + dx / d * sp * 0.1 * f, ty0 + dy / d * sp * 0.1 * f, sp, 0.8,
          math.toDegrees(math.atan2(dx / d, dy / d)), None, playDir,
          Some(s"T$t"), Some(positions(t % positions.size)))
      }
    }
    carrier ++ tacklers
  }
}
