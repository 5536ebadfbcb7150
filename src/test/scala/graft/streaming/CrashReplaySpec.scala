package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.TestSpark

/** Kill-and-replay gates for the r9 foreachBatch index-maintenance
  * pipelines (VERDICT r10 next §4): st_dedup_indexed / st_ann_upsert
  * claim replay idempotence by construction (writeBatch partition
  * overwrite), but until this spec nothing exercised the actual
  * crash windows:
  *
  *  1. kill BETWEEN batches, backlog arrives while down, restart from
  *     the checkpoint (the st_restart scenario applied to both);
  *  2. crash AFTER the batch's writes but BEFORE the offset commit —
  *     the engine redelivers the same (data, batch_id), which the
  *     processor must absorb with bit-identical output. Driven by
  *     invoking the processor seam twice with the same id, exactly
  *     what the engine's redelivery does.
  *
  * Scenario 2 FOUND A REAL BUG on its first run: the seen-index probe
  * read all committed partitions, so a replayed batch matched its own
  * hashes and every doc came back a stream-dup of itself. The fix
  * (probe filters batch_id < id, partition-pruned) is pinned here. */
class CrashReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshRoot(tag: String): String =
    TestSpark.tempDir(s"crash_replay_$tag").toString

  // deterministic doc batches: "aa" dups within batch 0; "bb" spans the
  // batches (seen-index dup); "zz" is a corpus dup; "cc"/"dd" unique
  private def corpusIdx = {
    import spark.implicits._
    Seq((100L, "zz")).toDF("cid", "text")
      .select(md5(col("text").cast("binary")).as("ch"), col("cid"))
  }
  private val batch0 = Seq((1L, "aa"), (2L, "bb"), (3L, "aa"))
  private val batch1 = Seq((4L, "bb"), (5L, "cc"), (6L, "zz"))

  private def runDedup(root: String,
      schedule: (MemoryStream[StreamQueries.StreamDoc],
        () => org.apache.spark.sql.streaming.StreamingQuery) => Unit): Seq[(Long, Option[Long], Option[Long])] = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val out = s"$root/out"
    val seen = s"$root/seen"
    val proc = StreamQueries.dedupIndexedProcessor(s, corpusIdx, out, seen)
    val source = MemoryStream[StreamQueries.StreamDoc]
    def start() = source.toDS().writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[StreamQueries.StreamDoc], id: Long) =>
        proc(df.toDF(), id))
      .option("checkpointLocation", s"$root/ckpt").start()
    schedule(source, () => start())
    s.read.parquet(out).orderBy("doc_id").collect().toSeq
      .map(r => (r.getAs[Long]("doc_id"),
        Option(r.getAs[java.lang.Long]("corpus_match")).map(_.longValue),
        Option(r.getAs[java.lang.Long]("stream_match")).map(_.longValue)))
  }

  private val expectedVerdicts = Seq(
    (1L, None, None),             // first "aa"
    (2L, None, None),             // first "bb"
    (3L, None, Some(1L)),         // within-batch dup of 1
    (4L, None, Some(2L)),         // seen-index dup of 2 (prior batch)
    (5L, None, None),             // unique
    (6L, Some(100L), None))       // corpus dup

  test("st_dedup_indexed: kill between batches + backlog + restart = straight-through result") {
    def docs(b: Seq[(Long, String)]) =
      b.map { case (i, t) => StreamQueries.StreamDoc(i, t) }
    val killed = runDedup(freshRoot("dd_kill"), { (source, start) =>
      val q1 = start()
      try { source.addData(docs(batch0)); q1.processAllAvailable() }
      finally q1.stop()                       // the kill
      source.addData(docs(batch1))            // backlog while down
      val q2 = start()                        // resume from checkpoint
      try q2.processAllAvailable() finally q2.stop()
    })
    assert(killed == expectedVerdicts,
      s"kill-and-resume verdicts diverged: $killed")
  }

  test("st_dedup_indexed: redelivered batch (crash before offset commit) is bit-identical") {
    val s = spark
    import s.implicits._
    val root = freshRoot("dd_replay")
    val out = s"$root/out"
    val seen = s"$root/seen"
    val proc = StreamQueries.dedupIndexedProcessor(s, corpusIdx, out, seen)
    def df(b: Seq[(Long, String)]) = b.toDF("doc_id", "text")
    proc(df(batch0), 0L)
    val afterFirst = s.read.parquet(out).orderBy("doc_id").collect().toSeq
    // the crash window: batch 0's output AND seen partitions are on
    // disk, the offset commit is not — the engine redelivers (batch0, 0)
    proc(df(batch0), 0L)
    val afterReplay = s.read.parquet(out).orderBy("doc_id").collect().toSeq
    assert(afterReplay == afterFirst,
      "replayed batch must overwrite its partition with IDENTICAL rows " +
        "(the seen probe must not see the batch's own first-attempt hashes)")
    proc(df(batch1), 1L)
    val fin = s.read.parquet(out).orderBy("doc_id").collect().toSeq
      .map(r => (r.getAs[Long]("doc_id"),
        Option(r.getAs[java.lang.Long]("corpus_match")).map(_.longValue),
        Option(r.getAs[java.lang.Long]("stream_match")).map(_.longValue)))
    assert(fin == expectedVerdicts, s"post-replay final verdicts diverged: $fin")
    // seen index carries each hash once per (batch, doc) — no replay growth
    assert(s.read.parquet(seen).count() == 6L,
      "seen index must not grow on replay (partition overwrite)")
  }

  // 4-dim toy vectors with two well-separated frozen centroids
  private def centroids = {
    import spark.implicits._
    Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("cl", "ce")
  }
  private val vecs0 = Seq(
    StreamQueries.VecRow(10L, Seq(0.9, 0.1, 0.0, 0.0)),
    StreamQueries.VecRow(11L, Seq(0.1, 0.9, 0.0, 0.0)))
  private val vecs1 = Seq(
    StreamQueries.VecRow(12L, Seq(0.8, 0.0, 0.1, 0.0)))

  test("st_ann_upsert: kill between batches + backlog + restart = straight-through index") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = freshRoot("ann_kill")
    val live = s"$root/live"
    val proc = StreamQueries.annUpsertProcessor(centroids, live)
    val source = MemoryStream[StreamQueries.VecRow]
    def start() = source.toDS().writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[StreamQueries.VecRow], id: Long) =>
        proc(df.toDF(), id))
      .option("checkpointLocation", s"$root/ckpt").start()
    val q1 = start()
    try { source.addData(vecs0); q1.processAllAvailable() } finally q1.stop()
    source.addData(vecs1)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val idx = s.read.parquet(live).select("vec_id", "cl").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(idx == Seq((10L, 0L), (11L, 1L), (12L, 0L)),
      s"live index after kill-and-resume diverged: $idx")
  }

  test("st_ann_upsert: redelivered batch does not double-insert into the live index") {
    val s = spark
    import s.implicits._
    val root = freshRoot("ann_replay")
    val live = s"$root/live"
    val proc = StreamQueries.annUpsertProcessor(centroids, live)
    def df(v: Seq[StreamQueries.VecRow]) = v.toDF()
    proc(df(vecs0), 0L)
    proc(df(vecs0), 0L)   // the redelivery
    proc(df(vecs1), 1L)
    val idx = s.read.parquet(live).select("vec_id", "cl").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(idx == Seq((10L, 0L), (11L, 1L), (12L, 0L)),
      s"replay must not duplicate vectors: $idx")
  }

  // ---- st_substr crash windows (the same two scenarios) -------------
  // tiny planted corpus: one 200-cp corpus doc; two stream batches each
  // splicing a distinct ≥24-cp slice of it into unique noise
  private def substrFixture() = {
    import spark.implicits._
    val s = spark
    def filler(tag: String, n: Int): String =
      (0 until n).map(i => s"$tag$i").mkString("~").take(n)
    val t1 = filler("cc", 200)
    val dir = freshRoot("substr_corpus")
    // corpus = doc 1 only (1 % 10 != 7 → corpus side of the regime)
    Seq((1L, t1)).toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'t' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val idx = graft.llm.Dedup.ensureDedupIndexFor(s, dir)
    val winnowIdx = s.read.parquet(s"$idx/winnow")
    val corpusText = Seq((1L, t1)).toDF("doc_id", "text")
    val b0 = Seq(StreamQueries.StreamDoc(107L, filler("aa", 50) + t1.substring(0, 60)))
    val b1 = Seq(StreamQueries.StreamDoc(117L, t1.substring(120, 180) + filler("bb", 50)))
    (winnowIdx, corpusText, b0, b1)
  }

  test("st_substr: redelivered batch overwrites its span partition bit-identically") {
    val s = spark
    import s.implicits._
    val (winnowIdx, corpusText, b0, b1) = substrFixture()
    def run(redeliver: Boolean): Seq[String] = {
      val out = s"${freshRoot("substr_replay")}/out"
      val proc = StreamQueries.substrProcessor(winnowIdx, corpusText, out)
      proc(b0.toDF(), 0L)
      if (redeliver) proc(b0.toDF(), 0L) // crash before offset commit
      proc(b1.toDF(), 1L)
      s.read.parquet(out)
        .select("doc_id", "match_id", "q_start", "len", "c_start", "span_md5")
        .orderBy("doc_id", "q_start").collect().map(_.toString).toSeq
    }
    val straight = run(redeliver = false)
    assert(straight.nonEmpty, "planted splices must surface as spans")
    assert(straight.exists(_.startsWith("[107,1,51,")) &&
      straight.exists(_.startsWith("[117,1,1,")), s"splice coordinates: $straight")
    assert(run(redeliver = true) == straight,
      "replayed batch must replace its partition with identical spans")
  }

  test("st_substr: kill between batches + backlog + restart = straight-through spans") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val (winnowIdx, corpusText, b0, b1) = substrFixture()
    def run(kill: Boolean): Seq[String] = {
      val root = freshRoot("substr_kill")
      val out = s"$root/out"
      val proc = StreamQueries.substrProcessor(winnowIdx, corpusText, out)
      val source = MemoryStream[StreamQueries.StreamDoc]
      def start() = source.toDS().writeStream
        .foreachBatch((df: org.apache.spark.sql.Dataset[StreamQueries.StreamDoc],
            id: Long) => proc(df.toDF(), id))
        .option("checkpointLocation", s"$root/ckpt").start()
      var q = start()
      try {
        source.addData(b0); q.processAllAvailable()
        if (kill) {
          q.stop()              // the kill
          source.addData(b1)    // backlog while down
          q = start()           // resume from checkpoint
        } else source.addData(b1)
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(out)
        .select("doc_id", "match_id", "q_start", "len", "c_start", "span_md5")
        .orderBy("doc_id", "q_start").collect().map(_.toString).toSeq
    }
    val straight = run(kill = false)
    assert(straight.nonEmpty)
    assert(run(kill = true) == straight,
      "kill-and-resume spans diverged from the uninterrupted run")
  }
}
