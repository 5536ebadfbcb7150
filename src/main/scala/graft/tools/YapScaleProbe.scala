package graft.tools

import org.apache.spark.sql.SaveMode
import graft.pipelines.Yap

/** End-to-end throughput of the EP1/EP2 pipelines at season scale.
  *
  * Generates a deterministic synthetic season (default 11,400 tackle
  * plays — the reference's workload size, SURVEY §6): 60 frames/play at
  * 10 Hz, a ball carrier random-walking downfield and two tacklers
  * converging, positions drawn across the bounds ladder. Writes it as
  * parquet (so the pipelines pay real scan cost), then times
  * `MaxParams.run` and `Yap.run` (the LQR kernel); both are one exchange
  * on the play key and a per-play grouped pass.
  *
  * The reference processes the same workload one play at a time,
  * re-reading all five CSVs per play (optimal_pursuit.py:132-149 inside
  * calculate_YAP.py:28's loop) — its structural cost is
  * O(plays × full-scan) before any numerics start.
  */
object YapScaleProbe {
  def main(args: Array[String]): Unit = {
    val nPlays = if (args.nonEmpty) args(0).toInt else 11400
    val spark = graft.GraftSession()
    // fine-grained shuffle partitions spread the heavy-tailed per-play
    // kernel cost (KernelProfile) over more tasks than cores
    spark.conf.set("spark.sql.shuffle.partitions", "512")

    // a fresh directory per run, deleted at the end: the season is
    // scratch input, and a fixed path would leave it behind
    val dir = java.nio.file.Files.createTempDirectory("yap_scale").toString
    try measure(spark, dir, nPlays)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    spark.stop()
  }

  private def measure(spark: org.apache.spark.sql.SparkSession, dir: String,
      nPlays: Int): Unit = {
    val t0Gen = System.nanoTime()
    graft.pipelines.SyntheticSeason.tracking(spark, nPlays)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/tracking.parquet")
    val plays = graft.pipelines.SyntheticSeason.plays(spark, nPlays)
    val players = graft.pipelines.SyntheticSeason.players(spark)
    val tackles = graft.pipelines.SyntheticSeason.tackles(spark, nPlays)
    println(f"generated $nPlays plays in ${(System.nanoTime() - t0Gen) / 1e9}%.1f s")

    val tracking = spark.read.parquet(s"$dir/tracking.parquet")
    // EP2 per-play pass
    var t0 = System.nanoTime()
    val mpCount = graft.pipelines.MaxParams.run(spark, tracking, plays, players, tackles).count()
    val mpSec = (System.nanoTime() - t0) / 1e9
    println(f"EP2 max_params: $mpCount rows in $mpSec%.1f s (${nPlays / mpSec}%.0f plays/s)")
    // EP1 kernel
    t0 = System.nanoTime()
    val (yap, mpOpt, path, errs) = Yap.sinks(Yap.run(spark, tracking, plays, players, tackles))
    val yapCount = yap.count()
    val yapSec = (System.nanoTime() - t0) / 1e9
    val withYap = yap.filter(!yap("YAP").isNull).count()
    println(f"EP1 YAP: $yapCount tackler rows ($withYap with YAP) in $yapSec%.1f s (${nPlays / yapSec}%.0f plays/s)")
    println(f"errors: ${errs.count()}")
  }
}
