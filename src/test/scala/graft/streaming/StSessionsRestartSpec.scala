package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The crash window st_sessions_file's gate cannot exercise: a KILL
  * with OPEN sessions in the state store, backlog files landing while
  * the query is down, then restart-from-checkpoint. The sessionizer's
  * open-session state must be restored from the state store — a
  * sessionizer that re-derived state per run would emit split sessions
  * at the kill boundary and fail the batch-twin equality. */
class StSessionsRestartSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("kill with open sessions + backlog while down + restart = batch sessions") {
    val s = spark
    import s.implicits._
    val root = TestSpark.tempDir("sess_restart").toString
    val stage = s"$root/stage"; val src = s"$root/landing"
    val out = s"$root/out"; val ck = s"$root/ckpt"
    val ev = graft.io.Sources.table(s, sf, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    // time-range-partitioned staging, the st_sessions_file discipline:
    // delivery must stay time-ordered BETWEEN batches
    ev.repartitionByRange(4, col("ts")).write.mode("overwrite").parquet(stage)
    val maxMs = s.read.parquet(stage).agg(max(col("ts"))).head
      .getTimestamp(0).getTime
    val sentinelDir = s"$root/sentinel"
    s.createDataset(Seq(EventStream.Ev(-1L,
        new java.sql.Timestamp(maxMs + EventStream.sessionGapUs / 1000L + 3600000L),
        "click", 0.0)))
      .toDF().repartition(1).write.mode("overwrite").parquet(sentinelDir)
    val parts = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    var mtime = System.currentTimeMillis() - 3600000L
    def linkIn(files: Seq[java.io.File], prefix: String): Unit = {
      new java.io.File(src).mkdirs()
      files.foreach { f =>
        val t = java.nio.file.Paths.get(src, prefix + f.getName)
        java.nio.file.Files.createLink(t, f.toPath)
        mtime += 2000L
        t.toFile.setLastModified(mtime)
      }
    }
    linkIn(parts.take(2).toSeq, "a_")
    val schema = s.read.parquet(src).schema
    def start() = EventStream.sessionize(s,
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
          .withWatermark("ts", "30 seconds").as[EventStream.Ev])
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[EventStream.Session], id: Long) =>
        EventStream.writeBatch(b.toDF(), id, out))
      .option("checkpointLocation", ck).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop() // the kill: open sessions in state
    // backlog + the flush land while the query is DOWN
    linkIn(parts.drop(2).toSeq, "b_")
    linkIn(Option(new java.io.File(sentinelDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).toSeq, "c_")
    val q2 = start() // restart from checkpoint: state store restores open sessions
    try q2.processAllAvailable() finally q2.stop()
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("start_us")
    val got = s.read.parquet(out).filter(col("user_id") >= 0L)
      .select(col("user_id"),
        row_number().over(w).cast("long").as("session_id"),
        expr("start_us DIV 1000000").as("start_s"),
        expr("end_us DIV 1000000").as("end_s"),
        col("n_events").cast("long").as("n_events"),
        graft.functions.Numeric.dround(col("total_value"), 4).as("total_value"))
      .collect().map(_.toString).sorted.toSeq
    val want = graft.ops.Events.queries("w8_sessions")(s, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(got == want,
      s"restart split or lost sessions: ${got.size} vs ${want.size} rows")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
