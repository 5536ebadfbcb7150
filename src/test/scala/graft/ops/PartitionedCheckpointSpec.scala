package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import graft.TestSpark

/** `PlanBridge.partitionedCheckpoint` declares a hash layout that later
  * plans trust to skip exchanges, so the declared key must be the very
  * attribute the rows were hashed by. A key name that matches more than
  * one output column is refused, naming the column and the match count,
  * rather than letting a by-name pick declare the wrong attribute. */
class PartitionedCheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a key that names two output columns is refused with the column and count") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val b = Seq((1L, 10L), (2L, 20L)).toDF("k", "w")
    val dup = a.join(b, a("k") === b("k")) // two output columns named k
    val e = intercept[IllegalArgumentException](
      PlanBridge.partitionedCheckpoint(spark, dup, "k", 4))
    assert(e.getMessage.contains("'k'") && e.getMessage.contains("matches 2"), e.getMessage)
    // case-insensitive duplicates collide the same way under the default resolver
    val caseDup = a.select(col("k"), col("v").as("K"))
    val e2 = intercept[IllegalArgumentException](
      PlanBridge.partitionedCheckpoint(spark, caseDup, "k", 4))
    assert(e2.getMessage.contains("matches 2"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      PlanBridge.partitionedCheckpoint(spark, a, "missing", 4))
    assert(e3.getMessage.contains("'missing'") && e3.getMessage.contains("matches 0"))
  }

  test("a unique key keeps its rows and its declared layout: no exchange to group by it") {
    val df = spark.range(0, 200).select((col("id") % 17).as("k"), col("id").as("v"))
    val cp = PlanBridge.partitionedCheckpoint(spark, df, "k", 4)
    assert(cp.rdd.getNumPartitions == 4)
    val agg = cp.groupBy("k").agg(sum("v").as("s"))
    val rows = agg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == (0 until 200).groupBy(_ % 17).map { case (k, vs) => k.toLong -> vs.sum.toLong })
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"declared layout was not trusted:\n$plan")
  }

  /** (row's partition, the partition `HashPartitioning(k, n)` puts it in). */
  private def placement(df: org.apache.spark.sql.DataFrame, n: Int): Seq[(Int, Int)] =
    df.select(spark_partition_id(), pmod(hash(col("k")), lit(n))).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq

  test("a frame not laid out by the key is repartitioned so every row sits where the layout says") {
    // range rows are laid out by id, not by k
    val df = spark.range(0, 500, 1, 3).select((col("id") % 37).as("k"), col("id").as("v"))
    val cp = PlanBridge.partitionedCheckpoint(spark, df, "k", 5)
    assert(cp.rdd.getNumPartitions == 5)
    val at = placement(cp, 5)
    assert(at.size == 500 && at.forall { case (p, h) => p == h }, at.filter(x => x._1 != x._2))
    assert(cp.select(sum("v")).head.getLong(0) == (0 until 500).sum)
    // a frame that already has the layout keeps it (the repartition is
    // dropped, not the rows)
    val again = PlanBridge.partitionedCheckpoint(spark,
      cp.select(col("k"), (col("v") * 2).as("v")), "k", 5)
    val at2 = placement(again, 5)
    assert(at2.size == 500 && at2.forall { case (p, h) => p == h })
    assert(again.select(sum("v")).head.getLong(0) == 2L * (0 until 500).sum)
  }

  test("observed metrics are filled by the checkpoint's own action and equal a separate aggregate") {
    val df = spark.range(0, 300, 1, 3)
      .select((col("id") % 11).as("k"), (col("id") * 7 % 101).as("v"))
    val obs = org.apache.spark.sql.Observation("spec_obs")
    val cp = PlanBridge.partitionedCheckpoint(spark, df, "k", 4,
      Some(obs -> Seq(max(col("v")).as("mx"), sum(col("v")).as("sm"))))
    val m = obs.get
    val want = df.agg(max(col("v")), sum(col("v"))).head
    assert(m("mx") == want.getLong(0) && m("sm") == want.getLong(1), m)
    assert(cp.count() == 300)
  }
}
