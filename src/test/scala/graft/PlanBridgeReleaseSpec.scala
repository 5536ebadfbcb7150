package graft

import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Releasing a local checkpoint frees its blocks without Spark's
  * "was locally checkpointed, its lineage has been truncated" WARN,
  * which `RDD.unpersist` logs once per checkpoint — noise in every
  * post-query release. Plain persisted RDDs still go through
  * `RDD.unpersist`, so their storage level is reset. */
class PlanBridgeReleaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val truncatedWarn = "was locally checkpointed"

  /** WARN messages logged on any logger while `body` runs. */
  private def warnsDuring(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("release-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(app)
    try body
    finally { root.removeAppender(app); app.stop() }
    seen.asScala.toSeq
  }

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
