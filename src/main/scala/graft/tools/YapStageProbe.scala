package graft.tools

import org.apache.spark.sql.SparkSession
import graft.pipelines.Yap

/** Which stage of the YAP pipeline dominates at season scale? */
object YapStageProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "128")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val nPlays = 11400
    val tracking = spark.read.parquet("/tmp/yap_scale/tracking.parquet")
    val plays = spark.range(nPlays)
      .selectExpr("1000 + id DIV 100 AS gameId", "id % 100 AS playId", "100L AS ballCarrierId")
    val players = Seq((100L, "C", "RB"), (200L, "T0", "CB"), (201L, "T1", "FS"))
      .toDF("nflId", "displayName", "position")
    val tackles = spark.range(nPlays).flatMap(p =>
      Seq((1000L + p / 100, p % 100, 200L), (1000L + p / 100, p % 100, 201L)))
      .toDF("gameId", "playId", "nflId")

    var t0 = System.nanoTime()
    val pf = Yap.playFrames(spark, tracking, plays, players, tackles)
    println(f"assemble+count: ${pf.count()} rows in ${(System.nanoTime()-t0)/1e9}%.1f s")

    t0 = System.nanoTime()
    val shuffled = pf.repartition($"gameId", $"playId")
      .sortWithinPartitions("gameId", "playId").count()
    println(f"shuffle+sort only (no kernel): $shuffled rows in ${(System.nanoTime()-t0)/1e9}%.1f s")

    t0 = System.nanoTime()
    val n = Yap.run(spark, tracking, plays, players, tackles).count()
    println(f"full kernel: $n emits in ${(System.nanoTime()-t0)/1e9}%.1f s")
    spark.stop()
  }
}
