package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.warnsDuring

/** Releasing a local checkpoint frees its blocks without Spark's
  * "was locally checkpointed, its lineage has been truncated" WARN,
  * which `RDD.unpersist` logs once per checkpoint — noise in every
  * post-query release. Plain persisted RDDs still go through
  * `RDD.unpersist`, so their storage level is reset. */
class PlanBridgeReleaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val truncatedWarn = "was locally checkpointed"

  /** An eager local checkpoint and the persisted RDD ids it added. */
  private def checkpointed(): (DataFrame, Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = spark.range(0, 100).toDF().localCheckpoint()
    (df, spark.sparkContext.getPersistentRDDs.keySet.diff(before).toSet)
  }

  test("RDD.unpersist on a local checkpoint logs the truncated-lineage WARN (the capture works)") {
    val (_, ids) = checkpointed()
    assert(ids.nonEmpty)
    val warns = warnsDuring(
      ids.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = false)))
    assert(warns.exists(_.contains(truncatedWarn)), warns)
  }

  test("releaseCheckpoint logs no WARN and leaves the RDD out of getPersistentRDDs") {
    val (df, ids) = checkpointed()
    assert(ids.nonEmpty)
    val warns = warnsDuring(PlanBridge.releaseCheckpoint(df))
    assert(!warns.exists(_.contains(truncatedWarn)), warns)
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(ids).isEmpty)
  }

  test("releaseAll frees local checkpoints without the WARN and unpersists plain RDDs") {
    val (_, ids) = checkpointed()
    val plain = spark.sparkContext.parallelize(1 to 10).persist(StorageLevel.MEMORY_ONLY)
    plain.count()
    val warns = warnsDuring(PlanBridge.releaseAll(spark))
    assert(!warns.exists(_.contains(truncatedWarn)), warns)
    val left = spark.sparkContext.getPersistentRDDs.keySet
    assert(left.intersect(ids).isEmpty && !left.contains(plain.id))
    assert(plain.getStorageLevel == StorageLevel.NONE)
  }
}
