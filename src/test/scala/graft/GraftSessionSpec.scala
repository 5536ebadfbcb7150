package graft

import org.scalatest.funsuite.AnyFunSuite

/** The test harness runs the engine's session config: every key
  * `GraftSession` sets is live in `TestSpark.spark` with its value, so
  * the plan-shape specs pin the plans production runs. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("TestSpark carries GraftSession's engine config") {
    val conf = spark.conf
    assert(conf.get("spark.sql.extensions") == classOf[GraftExtensions].getName)
    assert(conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("GraftExtensions' functions resolve in plain SQL") {
    // a new session: functions registered at runtime in the shared one
    // (TextHashes.register) do not carry over, the extension's do
    val h = spark.newSession().sql("SELECT roll_hash('abc')").head().getLong(0)
    assert(h == graft.functions.TextHashKernels.rollingHash(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc")))
  }
}
