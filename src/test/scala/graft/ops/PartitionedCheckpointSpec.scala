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
}
