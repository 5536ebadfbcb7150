package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** st_sliding_file: the value equality against st_sliding's
  * window-expansion twin is under the driver's hash gate; the SHAPE
  * claims the gate cannot see — that the built-in windowed-aggregation
  * state machine really consumed a multi-batch FILE source and that
  * windows straddling a batch boundary were closed by later input —
  * are observable in the sink layout, pinned here (the
  * StSessionsFileSpec discipline applied to windowed-agg state). */
class StSlidingFileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("file-stream sliding agg: >= 2 data micro-batches + the late flush batch") {
    val out = StreamQueries.queries("st_sliding_file")(spark, "/root/testdata/sf0.001")
    val rows = out.collect()
    assert(rows.nonEmpty)
    val sink = new java.io.File(
      s"${StreamQueries.pidRoot}/stslidingfile/out")
    assert(sink.isDirectory, s"sink dir missing: $sink")
    val batches = Option(sink.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    // the append-mode windowed agg only EMITS when the watermark moves,
    // so multiple non-empty sink batches prove window state crossed
    // checkpointed batch boundaries (2 data batches over 4 quartile
    // files via maxFilesPerTrigger=2, plus the sentinel flush batch)
    assert(batches.length >= 2,
      s"expected >= 2 emitting micro-batches, found " +
        batches.map(_.getName).sorted.mkString(", "))
    // the MemoryStream gate computes the identical relation — re-pinned
    // standalone so either side drifting fails here, not only at the gate
    val mem = StreamQueries.queries("st_sliding")(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).sorted.toSeq
    assert(rows.map(_.toString).sorted.toSeq == mem,
      "file-stream sliding windows != MemoryStream sliding windows")
  }

  test("a window closed only by later-batch input: state survived the boundary") {
    // every window covering the batch-1/batch-2 time boundary receives
    // rows from both data batches; in append mode it is emitted ONCE,
    // with the full cross-batch count. Recompute the straddling
    // windows' totals from the raw table and check the stream's output
    // row carries the full (not batch-local) aggregate.
    import org.apache.spark.sql.functions._
    val s = spark
    val out = StreamQueries.queries("st_sliding_file")(s, "/root/testdata/sf0.001")
      .groupBy("win_start").agg(sum("n").as("n")).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    val stage = new java.io.File(StreamQueries.pidRoot)
      .listFiles().filter(_.getName.startsWith("stslidingfile_src_"))
      .filterNot(_.getName.contains("sentinel")).head
    val parts = stage.listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val firstTwo = parts.take(2).map(_.getAbsolutePath)
    val boundary = s.read.parquet(firstTwo: _*).agg(max("ts")).head.getTimestamp(0)
    // the 2h-wide windows whose span contains the boundary instant
    val full = graft.io.Sources.table(s, "/root/testdata/sf0.001", "events")
      .select(col("ts"))
      .withColumn("h", date_trunc("hour", col("ts")))
      .select(explode(array(col("h"), col("h") - expr("INTERVAL 1 HOUR"))).as("win_start"))
      .groupBy("win_start").count().collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    val straddling = full.keys.filter { w =>
      val endMs = w.getTime + 2L * 3600000L
      w.getTime <= boundary.getTime && boundary.getTime < endMs
    }
    assert(straddling.nonEmpty, "no window straddles the batch boundary")
    straddling.foreach { w =>
      assert(out.get(w).contains(full(w)),
        s"window $w: stream total ${out.get(w)} != full-corpus total ${full(w)} " +
          "(a batch-local emission would undercount)")
    }
  }
}
