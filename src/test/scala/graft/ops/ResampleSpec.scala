package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.TestSpark

/** w14_resample invariants beyond the oracle hash: grid contiguity,
  * fill completeness, and flag/value consistency. */
class ResampleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val out = Events.queries("w14_resample")(spark, sf).cache()

  test("the hourly grid is contiguous per user with no missing values") {
    val w = Window.partitionBy("user_id").orderBy("hour_s")
    val gaps = out
      .withColumn("prev", lag(col("hour_s"), 1).over(w))
      .filter(col("prev").isNotNull && col("hour_s") - col("prev") =!= 3600L)
    assert(gaps.count() == 0)
    // forward fill from an always-observed first hour: never null
    assert(out.filter(col("value_ffill").isNull).count() == 0)
    assert(out.count() > 0)
  }

  test("span guard, both directions: in-cap users resample fully, an over-cap span dead-letters instead of exploding the grid") {
    // user 1: 3-hour span (well in cap). user 2: two events ~2 years
    // apart — without the guard its grid alone would be ~17.5k rows;
    // with it the user routes to the dead-letter relation.
    val dir = TestSpark.tempDir("w14_guard").toString
    import spark.implicits._
    val h = 3600L * 1000000L
    def ts(us: Long) = new java.sql.Timestamp(us / 1000L)
    Seq(
      (1L, ts(0L), 10L, "view", 1.0),
      (2L, ts(0L), 11L, "view", 2.0),
      (1L, ts(3L * h), 12L, "click", 3.0),
      (2L, ts(2L * 365 * 24 * h), 13L, "click", 4.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Events.queries("w14_resample")(spark, dir).collect()
    // direction 1: the in-cap user gets its full contiguous grid
    assert(out.filter(_.getAs[Long]("user_id") == 1L).length == 4) // hours 0..3
    // direction 2: the over-cap user is absent from the grid output...
    assert(!out.exists(_.getAs[Long]("user_id") == 2L))
    // ...and present in the dead-letter relation with its span
    val dead = Events.w14Spans(spark, dir)._2.collect()
    assert(dead.length == 1)
    assert(dead.head.getAs[Long]("user_id") == 2L)
    assert(dead.head.getAs[Long]("span_hours") == 2L * 365 * 24)
    assert(dead.head.getAs[String]("reason") == "span_exceeds_cap")
  }

  test("filled rows outnumber observations only between events, never at them") {
    val ev = graft.io.Sources.table(spark, sf, "events")
      .select(col("user_id"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"))
      .distinct()
    // every observed (user, hour) must be flagged as NOT filled
    val wrong = out.filter(!col("filled"))
      .join(ev, Seq("user_id", "hour_s"), "left_anti")
    assert(wrong.count() == 0)
    val wrong2 = out.filter(col("filled"))
      .join(ev, Seq("user_id", "hour_s"), "left_semi")
    assert(wrong2.count() == 0)
  }
}
