package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming operators promoted into the driver's CORRECTNESS gate
  * (VERDICT r5 next §2): each query here runs a REAL incremental
  * Structured Streaming job — MemoryStream source, micro-batches,
  * state store, event-time timeouts — to completion over the bounded
  * events table, and must hash-match the SAME DuckDB oracle as its
  * batch twin. Until r5 the streaming layer was pinned only by
  * ScalaTest parity specs; these rows put it under the stronger gate.
  *
  * The MemoryStream ingest necessarily stages the bounded input through
  * the driver — that is the sanctioned test-harness shape for gating a
  * stream (the production source is `readStream` over files/Kafka; the
  * operators under test are identical). Everything downstream of the
  * source — sessionization state, as-of state, the sink — runs
  * distributed, exactly as it would against an unbounded stream.
  */
object StreamQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Unique memory-sink names: Bench/Verify invoke each query several
    * times (warmup + rotated passes) in one session. */
  private val seq = new AtomicLong(0L)

  // -------------------------------------------------------------------
  // Gate-cost plumbing (VERDICT r7 next §3: the ten st_* gates cost
  // 25.5 s = 21% of BENCH_r07; none of it was operator work).
  // -------------------------------------------------------------------

  /** All streaming scratch (state-store checkpoints + the parquet sink
    * roots): every micro-batch commits offset log + per-partition state
    * snapshots as FILES, and on the virtual disk that per-batch fsync
    * traffic — not the operators — dominated the gates. So it lives
    * under the first directory of the session's `spark.local.dir`
    * (tmpfs unless `SPARK_LOCAL_DIRS` says otherwise, see
    * [[graft.GraftSession]]), in this process's scratch root: two
    * graft processes never race, and roots left by dead processes are
    * reclaimed ([[graft.io.Artifacts.scratch]]). */
  private[graft] def pidRoot: String = {
    val local = SparkSession.active.sparkContext.getConf
      .get("spark.local.dir", System.getProperty("java.io.tmpdir"))
    graft.io.Artifacts.scratch(local.split(",").head.trim)
  }

  /** Per-invocation checkpoint dir for a memory-sink gate; caller
    * deletes it in the query's `finally`. Without the explicit option,
    * Spark puts the temp checkpoint under /tmp on the virtual disk. */
  private def ckpt(name: String): String = s"$pidRoot/ckpt_$name"
  private def dropCkpt(name: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt(name)))

  /** The bounded ingest, collected ONCE per (sfDir, shape) and reused
    * across all gates and bench passes: every gate was re-scanning and
    * re-collecting the same events table — pure setup, priced into
    * every st_* timing. The arrays are a few MB at sf0.1 and live for
    * the process; correctness is untouched because each invocation
    * still streams the rows through its own MemoryStream. */
  private val ingestCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()
  private def cachedRows[T <: AnyRef](d: String, shape: String)(load: => T): T =
    ingestCache.computeIfAbsent((d, shape), _ => load).asInstanceOf[T]

  /** One forked session per parent (memoized, the j9 pattern) with a
    * state-appropriate shuffle width: a stateful micro-batch pays
    * per-partition state-store commit overhead EVERY batch (a
    * stream-stream join keeps FOUR store instances per partition), and
    * 32 partitions for ~20k state rows is pure overhead — 8 roughly
    * halved the gates in r6 (st_sessions 6.5 → 3.6 s), and the r8
    * profile showed commit time still scaling with width (8 → 2
    * partitions: 2.3 s → 0.3 s aggregate commit per batch on the
    * left-outer join), so 2 is the measured floor for this state
    * volume. At production scale this is the knob sized to state
    * volume, not to the batch compute width. */
  private def scoped(parent: SparkSession): SparkSession =
    graft.ops.ScopedSession(parent, "stream-narrow",
      "spark.sql.shuffle.partitions" -> "2")

  /** W8 as a stream: the custom-state sessionizer over the full events
    * table delivered through a MemoryStream, with every session FLUSHED
    * via the event-time-timeout path — ONE sentinel event from a
    * reserved user rides with the data batch and pushes the end-of-batch
    * watermark past `last + gap` for all real users; the engine's own
    * watermark-followup micro-batch then fires the timeouts (measured:
    * the r7 shape spent two extra sentinel round-trips re-deriving what
    * that followup batch already does). The sentinel user is excluded
    * from the result. Session ids are re-derived by per-user start-time
    * order — the same numbering the batch gaps-and-islands twin
    * produces — so the oracle SQL is `w8_sessions`' verbatim. */
  private val stSessions: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val evs = cachedRows(d, "ev") {
      graft.io.Sources.table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        .as[EventStream.Ev].collect()
    }
    val maxMs = if (evs.isEmpty) 0L else evs.iterator.map(_.ts.getTime).max
    val flushMs = maxMs + EventStream.sessionGapUs / 1000L + 3600000L
    val source = MemoryStream[EventStream.Ev]
    val name = s"st_sessions_${seq.incrementAndGet()}"
    val q = EventStream.sessionize(s,
        source.toDS().withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt(name)).start()
    val rows = try {
      source.addData(evs.toIndexedSeq :+
        EventStream.Ev(-1L, new Timestamp(flushMs), "click", 0.0))
      q.processAllAvailable()
      s.table(name).as[EventStream.Session].collect().filter(_.user_id >= 0L)
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
      dropCkpt(name)
    }
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("start_us")
    s.createDataset(rows.toIndexedSeq).toDF()
      .select(col("user_id"),
        row_number().over(w).cast("long").as("session_id"),
        expr("start_us DIV 1000000").as("start_s"),
        expr("end_us DIV 1000000").as("end_s"),
        col("n_events").cast("long").as("n_events"),
        graft.functions.Numeric.dround(col("total_value"), 4).as("total_value"))
      .orderBy("user_id", "session_id")
  }

  /** The ONE bounded-ingest block every typed-event gate shares:
    * events (optionally view/click only) collected as [[EventStream.AsofEv]]. */
  private def eventRows(s: SparkSession, d: String,
      viewClickOnly: Boolean): Array[EventStream.AsofEv] =
    cachedRows(d, s"asof_$viewClickOnly") {
      import s.implicits._
      val base = graft.io.Sources.table(s, d, "events")
      (if (viewClickOnly) base.filter(col("event_type").isin("view", "click")) else base)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
        .as[EventStream.AsofEv].collect()
    }

  /** J7 as a stream: the O(1)-state as-of enrichment over the real
    * view/click events, delivered across two micro-batches in
    * event-time order (ts micros, views before clicks at ties — the
    * batch operator's total order, so the incremental result is the
    * batch result row for row). No flush sentinel needed: clicks emit
    * the moment they are processed. Oracle: `j7_asof`'s correlated
    * twin, verbatim. */
  private val stAsof: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val evs = eventRows(s, d, viewClickOnly = true)
      .sortBy(e => (EventStream.us(e.ts), if (e.event_type == "view") 0 else 1, e.event_id))
    val source = MemoryStream[EventStream.AsofEv]
    val name = s"st_asof_${seq.incrementAndGet()}"
    val q = EventStream.asofStream(s, source.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt(name)).start()
    val rows = try {
      // two micro-batches: the minimum that still forces enrichment
      // state to survive a checkpointed batch boundary
      evs.grouped(math.max(1, (evs.length + 1) / 2)).foreach { chunk =>
        source.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      s.table(name).as[EventStream.AsofHit].collect()
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
      dropCkpt(name)
    }
    s.createDataset(rows.toIndexedSeq).toDF()
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_view_id"), col("asof_value"))
  }

  /** W12 as a stream: the SCD2 state machine over the full events
    * table, delivered across two event-time-ordered micro-batches so
    * version numbering must continue from checkpointed state across
    * batch boundaries. Closed versions emit the moment their successor
    * arrives; the OPEN versions are drained by one flush barrier per
    * user (the dimension-snapshot analogue). Oracle: `w12_scd2`'s
    * window twin, verbatim. */
  private val stScd2: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val evs = eventRows(s, d, viewClickOnly = false)
      .map(e => EventStream.Scd2Ev(e.user_id, e.event_id, e.ts, e.event_type))
      .sortBy(e => (EventStream.us(e.ts), e.event_id))
    val maxMs = if (evs.isEmpty) 0L else evs.iterator.map(_.ts.getTime).max
    val source = MemoryStream[EventStream.Scd2Ev]
    val name = s"st_scd2_${seq.incrementAndGet()}"
    val q = EventStream.scd2Stream(s, source.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt(name)).start()
    val rows = try {
      // two micro-batches: version numbering still has to continue from
      // checkpointed state across the boundary. The flush barrier rides
      // with the LAST batch — its rows carry ts = max + 1 h, and the
      // in-batch (ts, event_id) sort processes them after every real
      // row, so the delivery is event-for-event the separate-batch shape
      val users = evs.map(_.user_id).distinct
      val flush = users.map(u => EventStream.Scd2Ev(u, Long.MaxValue,
        new Timestamp(maxMs + 3600000L), EventStream.scd2Flush))
      val half = math.max(1, (evs.length + 1) / 2)
      source.addData(evs.take(half).toIndexedSeq)
      q.processAllAvailable()
      source.addData(evs.drop(half).toIndexedSeq ++ flush)
      q.processAllAvailable()
      s.table(name).as[EventStream.Scd2Row].collect()
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
      dropCkpt(name)
    }
    s.createDataset(rows.toIndexedSeq).toDF()
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from_us"), col("valid_to_us"), col("is_current"))
      .orderBy("user_id", "version")
  }

  /** The watermarked tumbling-window aggregate as a stream: hour
    * windows over the full events table, every window FLUSHED by one
    * watermark-advancing sentinel riding with the data batch (append
    * mode emits a window once the watermark passes its end — the
    * engine's watermark-followup batch does the emitting, the
    * st_sessions mechanism; the sentinel event_type is excluded from
    * the result). The batch twin is the plain date_trunc-hour GROUP BY
    * — windowed streaming aggregation must reproduce it exactly on
    * bounded input. */
  private val stWindowed: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val evs = cachedRows(d, "ev") {
      graft.io.Sources.table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        .as[EventStream.Ev].collect()
    }
    val maxMs = if (evs.isEmpty) 0L else evs.iterator.map(_.ts.getTime).max
    val source = MemoryStream[EventStream.Ev]
    val name = s"st_windowed_${seq.incrementAndGet()}"
    val q = EventStream.windowedStats(source.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt(name)).start()
    val (schema, rows) = try {
      source.addData(evs.toIndexedSeq :+
        EventStream.Ev(-1L, new Timestamp(maxMs + 7200000L), "sentinel__", 0.0))
      q.processAllAvailable()
      val tbl = s.table(name)
      // null-safe exclusion: a NULL event_type is a real group the
      // oracle's GROUP BY keeps; =!= would silently drop it
      (tbl.schema, tbl.filter(!(col("event_type") <=> "sentinel__")).collect())
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
      dropCkpt(name)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .select(col("win_start"), col("event_type"), col("n"),
        graft.functions.Numeric.dround(col("total_value"), 4).as("total_value"))
      .orderBy("win_start", "event_type")
  }

  /** st_handoff: the LAMBDA→KAPPA migration seam — the sign-off
    * invariant for replacing a batch pipeline with its streaming twin:
    * batch owns history strictly BEFORE an hour-aligned cutover, the
    * stream owns the tail from the cutover on, and because the hourly
    * windows are cut-aligned no window straddles the seam — so
    * batch ∪ stream must equal the full-table hourly relation row for
    * row (st_windowed's oracle, verbatim). The cut is the hour floor
    * of the corpus midpoint, derived from the data. A wrong boundary
    * predicate (≤ vs <), a double-counted boundary hour, or a stream
    * that drops the first tail window all fail the hash. */
  private val stHandoff: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val evAll = graft.io.Sources.table(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    val mm = evAll.agg(min(unix_micros(col("ts"))).as("mn"),
      max(unix_micros(col("ts"))).as("mx")).head
    val (mnUs, mxUs) = (mm.getLong(0), mm.getLong(1))
    val hourUs = 3600000000L
    val cutUs = ((mnUs + (mxUs - mnUs) / 2) / hourUs) * hourUs
    // batch leg: the same hourly aggregate as a plain batch plan
    val batchLeg = evAll.filter(unix_micros(col("ts")) < cutUs)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))
    // stream leg: the tail through the REAL streaming engine
    val tail = cachedRows(d, "handoff_tail") {
      evAll.filter(unix_micros(col("ts")) >= cutUs)
        .as[EventStream.Ev].collect()
    }
    val source = MemoryStream[EventStream.Ev]
    val name = s"st_handoff_${seq.incrementAndGet()}"
    val q = EventStream.windowedStats(source.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt(name)).start()
    val (schema, rows) = try {
      source.addData(tail.toIndexedSeq :+
        EventStream.Ev(-1L, new Timestamp(mxUs / 1000L + 7200000L), "sentinel__", 0.0))
      q.processAllAvailable()
      val tbl = s.table(name)
      (tbl.schema, tbl.filter(!(col("event_type") <=> "sentinel__")).collect())
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
      dropCkpt(name)
    }
    val streamLeg = s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    batchLeg.unionByName(streamLeg)
      .select(col("win_start"), col("event_type"), col("n"),
        graft.functions.Numeric.dround(col("total_value"), 4).as("total_value"))
      .orderBy("win_start", "event_type")
  }

  /** The SLIDING-window aggregate as a stream (2 h / 1 h hop): the
    * overlap regime st_windowed's tumbling gate can't falsify — each
    * event must land in exactly its two covering windows, across
    * watermarked incremental emission. Same sentinel-flush mechanism
    * as st_windowed; the batch twin expands each event into its two
    * hourly-aligned window starts and re-aggregates. */
  private val stSliding: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val evs = cachedRows(d, "ev") {
      graft.io.Sources.table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        .as[EventStream.Ev].collect()
    }
    val maxMs = if (evs.isEmpty) 0L else evs.iterator.map(_.ts.getTime).max
    val source = MemoryStream[EventStream.Ev]
    val name = s"st_sliding_${seq.incrementAndGet()}"
    // idempotent PARQUET sink instead of the memory sink (VERDICT r10
    // next §5 structural lever): the memory-sink path collected every
    // output row to the driver and re-uploaded it via createDataFrame —
    // a volume-linear driver roundtrip that the 10× ingest probe
    // measured as half the gate's cost. foreachBatch + writeBatch keeps
    // the output on executors end to end (and is the production parquet
    // sink shape, exactly-once by partition overwrite); the readback
    // below is a distributed scan.
    val root = s"$pidRoot/stsliding"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val out = s"$root/out"
    val q = EventStream.slidingStats(source.toDF())
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatch(b.toDF(), id, out))
      .option("checkpointLocation", ckpt(name)).start()
    try {
      source.addData(evs.toIndexedSeq :+
        EventStream.Ev(-1L, new Timestamp(maxMs + 3L * 3600000L), "sentinel__", 0.0))
      q.processAllAvailable()
    } finally {
      q.stop()
      dropCkpt(name)
    }
    s.read.parquet(out)
      .filter(!(col("event_type") <=> "sentinel__"))
      .select(col("win_start"), col("event_type"), col("n"),
        graft.functions.Numeric.dround(col("sum_q") / 1000000.0, 4).as("total_value"))
      .orderBy("win_start", "event_type")
  }

  /** A streamed vector arrival for the ANN index-maintenance gate. */
  case class VecRow(vec_id: Long, ve: Seq[Double])

  /** A streamed CDC row for the graph-maintenance gate: op = "u"
    * (upsert, ve carries the vector) or "d" (delete, ve empty). */
  case class CdcVec(op: String, vec_id: Long, ve: Seq[Double])

  /** The st_ann_upsert per-batch body, factored to a seam so the
    * crash-replay spec (VERDICT r10 next §4) can drive it under a
    * kill/replay schedule: idempotent per-batch index growth (batch_id
    * partition overwrite — the writeBatch shape), so an at-least-once
    * replay of a batch must not double-insert its vectors into the
    * live index. Cell assignment reads only the FROZEN centroids,
    * never prior live state, so replay output is bit-identical. */
  private[graft] def annUpsertProcessor(centroids: DataFrame,
      live: String): (DataFrame, Long) => Unit = (df, id) => {
    import org.apache.spark.sql.expressions.Window
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.ArrayFns.vecDot(a, b)
    def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
    EventStream.writeBatch(
      df.crossJoin(broadcast(centroids))
        .withColumn("cdist", -cosine(col("ve"), col("ce")))
        .withColumn("crk", row_number().over(
          Window.partitionBy("vec_id").orderBy(asc("cdist"), asc("cl"))))
        .filter(col("crk") === 1)
        .select("vec_id", "ve", "cl"),
      id, live)
    ()
  }

  case class DriftRow(doc_id: Long, bin: Long)

  /** The st_drift per-trigger fold, factored to a seam (the
    * MiniBatchKmeans discipline) so the kill-and-resume spec can drive
    * it under a restart schedule: O(bins) driver state, batch-id
    * high-water replay guard (a redelivered trigger is a no-op). */
  private[graft] final class DriftMonitor(nRef: Array[Long], bins: Int) {
    private val tRef = nRef.sum
    private val cum = Array.fill(bins)(0L)
    private var lastSeen = -1L
    private[graft] val out =
      collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long)]()
    // scalar twin of Numeric.dround(·, 0): half away from zero
    private def dr0(x: Double): Long =
      (if (x >= 0) math.floor(x + 0.5) else -math.floor(-x + 0.5)).toLong
    def process(batch: DataFrame, id: Long): Unit = {
      if (id <= lastSeen) return
      lastSeen = id
      batch.groupBy("bin").agg(count(lit(1)).as("n")).collect()
        .foreach(r => cum(r.getAs[Long]("bin").toInt) += r.getAs[Long]("n"))
      val tCur = cum.sum
      for (b <- 0 until bins) {
        val pc = (cum(b) + 1).toDouble / (tCur + bins)
        val pr = (nRef(b) + 1).toDouble / (tRef + bins)
        out += ((id, b.toLong, nRef(b), cum(b),
          dr0((pc - pr) * math.log(pc / pr) * 1e6)))
      }
    }
  }

  /** st_drift: streaming distribution-drift monitor — dq_drift's PSI
    * fired incrementally, the production alarm a pipeline keeps on an
    * arriving crawl drop: the candidate half streams in B batches
    * against a FIXED reference histogram (computed once from the
    * content-hash reference half; global bounds fixed with it); each
    * trigger folds the batch's bin counts into the cumulative
    * candidate histogram — driver state is O(bins), per-trigger work
    * one constant-width groupBy — and re-emits the full 10-bin PSI row
    * set (add-one smoothing, the dq_drift float chain verbatim,
    * quantized to 1e-6). Replay-idempotent by the batch-id high-water
    * mark. The oracle replays every trigger WITHOUT unrolled chains:
    * cumulative membership at batch t is just the plain predicate
    * (doc_id div 4) % B ≤ t. */
  private val stDrift: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val (bN, bins) = (4, 10)
    val docs = graft.io.Sources.table(s, d, "documents")
    val bd = docs.agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx")).head()
    val (mn, mx) = (bd.getLong(0), bd.getLong(1))
    val tagged = docs.select(col("doc_id"),
      (pmod(graft.functions.TextHashes.rollHash(col("text")), lit(1000L)) < 500)
        .as("is_ref"),
      expr(s"((n_chars - $mn) * $bins) div ($mx - $mn + 1)").as("bin"))
    val nRef = {
      val m = tagged.filter(col("is_ref")).groupBy("bin")
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getAs[Long]("bin") -> r.getAs[Long]("n")).toMap
      Array.tabulate(bins)(b => m.getOrElse(b.toLong, 0L))
    }
    val cand = cachedRows(d, "driftrows") {
      tagged.filter(!col("is_ref")).select(col("doc_id"), col("bin"))
        .as[DriftRow].collect().sortBy(_.doc_id)
    }
    val batches = (0 until bN).map(t => cand.filter(r => (r.doc_id / 4) % bN == t))
    require(batches.forall(_.nonEmpty), "st_drift: empty micro-batch")
    val monitor = new DriftMonitor(nRef, bins)
    val source = MemoryStream[DriftRow]
    val name = s"st_drift_${seq.incrementAndGet()}"
    val q = source.toDS().writeStream
      .foreachBatch((ds: org.apache.spark.sql.Dataset[DriftRow], id: Long) =>
        monitor.process(ds.toDF(), id))
      .option("checkpointLocation", ckpt(name)).start()
    try {
      for (t <- 0 until bN) {
        source.addData(batches(t).toIndexedSeq)
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      dropCkpt(name)
    }
    monitor.out.toSeq.toDF("batch", "bin", "n_ref", "n_cur", "psi_micro")
      .orderBy("batch", "bin")
  }

  case class KmRow(vec_id: Long, eq: Seq[Long])

  /** The st_kmeans per-batch processor, factored to a seam so the
    * replay spec can drive it under a redelivery schedule: a batch id
    * at or below the high-water mark is a NO-OP on the driver state
    * (same-id redelivery after a pre-offset-commit crash must not
    * double-count its sufficient statistics). */
  private[graft] final class MiniBatchKmeans {
    import graft.llm.Kmeans
    private[graft] var cents: Map[Int, Array[Long]] = null
    private var lastSeen = -1L
    private val cumN = Array.fill(Kmeans.K)(0L)
    private val cumS = Array.fill(Kmeans.K)(Array.fill(Kmeans.D)(0L))
    private[graft] val out =
      collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long)]()

    def process(batch: DataFrame, id: Long): Unit = {
      if (id <= lastSeen) return
      lastSeen = id
      if (cents == null)
        cents = Kmeans.toCentroids(Kmeans.shardStats(batch), Map.empty)
      val stats = Kmeans.assignStats(batch, cents)
      val byK = stats.map(r => r.getAs[Number]("k").intValue() -> r).toMap
      for (k <- 0 until Kmeans.K) byK.get(k).foreach { r =>
        cumN(k) += r.getAs[Long]("n_k")
        for (i <- 0 until Kmeans.D) cumS(k)(i) += r.getAs[Long](s"s${i + 1}")
      }
      val newCents = (0 until Kmeans.K).map { k =>
        k -> (if (cumN(k) > 0)
          Array.tabulate(Kmeans.D)(i => Kmeans.floorMean(cumS(k)(i), cumN(k)))
        else cents(k))
      }.toMap
      for (k <- 0 until Kmeans.K) {
        val (nk, w) = byK.get(k)
          .map(r => (r.getAs[Long]("n_k"), r.getAs[Long]("w")))
          .getOrElse((0L, 0L))
        out += ((id, k.toLong, nk, w, newCents(k).sum))
      }
      cents = newCents
    }
  }

  /** Streaming mini-batch k-means (Sculley 2010's web-scale k-means
    * reduced to its deterministic core): embedding vectors arrive as
    * B sequential micro-batches; each batch is assigned against the
    * centroids learned from everything BEFORE it (batch 0 against its
    * own hash-shard means) and the model updates from CUMULATIVE exact
    * integer sufficient statistics — the driver holds (n_k, Σ_kd) and
    * re-derives floor-division-mean centroids after every trigger, the
    * streaming twin of ml_kmeans' driver-resident-model shape. Rows
    * are never revisited: one assignment pass each, O(batch) work per
    * trigger, O(K·D) driver state — the same economics at any corpus
    * size. Replay-idempotent by a batch-id high-water mark (a
    * redelivered trigger is a no-op on the driver state — the
    * CrashReplaySpec discipline). The oracle replays every batch:
    * membership rule, per-batch assignment against the pre-batch
    * centroids, cumulative update, batch stats — one wrong assignment
    * in any trigger diverges every later batch's c_sum. */
  private val stKmeans: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.llm.Kmeans
    val all = cachedRows(d, "kmrows") {
      Kmeans.quantized(s, d).as[KmRow].collect().sortBy(_.vec_id)
    }
    val batches = (0 until Kmeans.B).map(t =>
      all.filter(r => (r.vec_id / 4) % Kmeans.B == t))
    require(batches.forall(_.nonEmpty), "st_kmeans: empty micro-batch")
    val model = new MiniBatchKmeans
    val source = MemoryStream[KmRow]
    val name = s"st_kmeans_${seq.incrementAndGet()}"
    val q = source.toDS().writeStream
      .foreachBatch((ds: org.apache.spark.sql.Dataset[KmRow], id: Long) =>
        model.process(ds.toDF(), id))
      .option("checkpointLocation", ckpt(name)).start()
    try {
      for (t <- 0 until Kmeans.B) {
        source.addData(batches(t).toIndexedSeq)
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      dropCkpt(name)
    }
    model.out.toSeq.toDF("batch", "k", "n_k", "wcss_q", "c_sum").orderBy("batch", "k")
  }

  /** Streaming ANN index maintenance under the gate (the composed
    * sequel to ann_ivf_upsert and st_dedup_indexed): vector ingest
    * arrives as micro-batches; each batch is assigned to its nearest
    * PERSISTED centroid inside foreachBatch (frozen quantizer, O(batch)
    * per trigger — FAISS `add`, never `train`) and appended to the live
    * cell-assigned relation the serving path reads. The serve then
    * proves the streamed rows are reachable through cell routing: the
    * ×2 twins score cosine exactly 1.0 against their planted sources
    * and must surface at rank 1. Oracle: the ann_ivf_upsert candidate-
    * fixture twin over this gate's own fixture. */
  private val stAnnUpsert: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.expressions.Window
    val (plantN, upsertOffset, nProbes, ivfNProbe, kNeighbors) =
      graft.llm.Similarity.upsertConsts
    val idx = graft.llm.Similarity.ensureIvfIndexFor(s, d)
    val assigned = s.read.parquet(s"$idx/assignments")
    val centroids = s.read.parquet(s"$idx/centroids")
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.ArrayFns.vecDot(a, b)
    def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
    val batchRows = cachedRows(d, "annup") {
      graft.io.Sources.table(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        .filter(col("vec_id") < plantN)
        .select((col("vec_id") + upsertOffset).as("vec_id"),
          transform(col("ve"), x => x * 2.0).as("ve"))
        .as[VecRow].collect().sortBy(_.vec_id)
    }
    val root = s"$pidRoot/stannup"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val live = s"$root/live"
    val process = annUpsertProcessor(centroids, live)
    val source = MemoryStream[VecRow]
    val name = s"st_ann_upsert_${seq.incrementAndGet()}"
    val q = source.toDS().writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[VecRow], id: Long) =>
        process(df.toDF(), id))
      .option("checkpointLocation", ckpt(name)).start()
    try {
      val half = math.max(1, (batchRows.length + 1) / 2)
      source.addData(batchRows.take(half).toIndexedSeq)
      q.processAllAvailable()
      source.addData(batchRows.drop(half).toIndexedSeq)
      q.processAllAvailable()
    } finally {
      q.stop()
      dropCkpt(name)
    }
    val upserted = assigned.select("vec_id", "ve", "cl")
      .unionByName(s.read.parquet(live).select("vec_id", "ve", "cl"))
    val probes = graft.io.Sources.table(s, d, "embeddings")
      .filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qe"))
    val probeCells = probes.crossJoin(broadcast(centroids))
      .withColumn("cdist", -cosine(col("qe"), col("ce")))
      .withColumn("crk", row_number().over(
        Window.partitionBy("qid").orderBy(asc("cdist"), asc("cl"))))
      .filter(col("crk") <= ivfNProbe)
      .select("qid", "qe", "cl")
    val sims = upserted.join(broadcast(probeCells), Seq("cl"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("cid"),
        cosine(col("qe"), col("ve")).as("sim"))
      .persist()
    graft.io.Sinks.dumpFixture(sims.select("qid", "cid"), "stannup_cands")
    sims.withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(desc("sim"), asc("cid"))))
      .filter(col("rk") <= kNeighbors)
      .select(col("qid"), col("rk"), col("cid"),
        graft.functions.Numeric.dround(col("sim"), 4).as("sim"))
      .orderBy("qid", "rk")
  }

  /** Streaming GRAPH-index maintenance under the gate (the NSW face of
    * st_ann_upsert): vector ingest arrives as micro-batches; each
    * trigger cogroup-INSERTS its batch into the live per-shard NSW
    * graphs (O(batch) insert work — the persisted base is copied once
    * and the graph state accumulates across triggers, versioned so a
    * reader never races a writer), and the final enlarged graph serves
    * the probes with the family's exact-cosine rerank. Because batch
    * ids arrive in id order across triggers, sequential insertion
    * yields BY CONSTRUCTION the one-shot ann_nsw_upsert graph —
    * StNswUpsertSpec asserts candidate-set equality with that gate's
    * fixture, and the ×2 twins (half upserted in trigger 1, half in
    * trigger 2) must each surface at rank 1 at cosine exactly 1.0.
    * Oracle: the ann_nsw_upsert candidate-fixture twin over this
    * gate's own fixture. */
  private val stNswUpsert: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.expressions.Window
    val (plantN, upsertOffset, _, _, kNeighbors) =
      graft.llm.Similarity.upsertConsts
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.ArrayFns.vecDot(a, b)
    def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
    val batchRows = cachedRows(d, "nswup") {
      graft.io.Sources.table(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        .filter(col("vec_id") < plantN)
        .select((col("vec_id") + upsertOffset).as("vec_id"),
          transform(col("ve"), x => x * 2.0).as("ve"))
        .as[VecRow].collect().sortBy(_.vec_id)
    }
    val root = s"$pidRoot/stnswup"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    graft.llm.Similarity.nswBaseGraph(s, d)
      .write.mode("overwrite").parquet(s"$root/live_0")
    // routing count is the PERSISTED graph's build count (r18 shard
    // policy): read once, captured by the trigger closure
    val nShards = graft.llm.Similarity.nswShardCountFor(s, d)
    val ver = new java.util.concurrent.atomic.AtomicInteger(0)
    val source = MemoryStream[VecRow]
    val name = s"st_nsw_upsert_${seq.incrementAndGet()}"
    val q = source.toDS().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[VecRow], _: Long) =>
        val rows = df.toDF().select(col("vec_id"), col("ve"))
        if (!rows.isEmpty) {
          val cur = ver.get()
          val next = graft.llm.Similarity.nswGraphInsert(
            s, s.read.parquet(s"$root/live_$cur"), rows, nShards)
          next.write.mode("overwrite").parquet(s"$root/live_${cur + 1}")
          ver.set(cur + 1)
        }
      }
      .option("checkpointLocation", ckpt(name)).start()
    try {
      val half = math.max(1, (batchRows.length + 1) / 2)
      source.addData(batchRows.take(half).toIndexedSeq)
      q.processAllAvailable()
      source.addData(batchRows.drop(half).toIndexedSeq)
      q.processAllAvailable()
    } finally {
      q.stop()
      dropCkpt(name)
    }
    // How many micro-batches MemoryStream makes of two addData calls is
    // a runtime detail (it may split a batch or prepend an empty one —
    // ADVICE r16), so the gate is on the INSERTED ROWS, not the trigger
    // count: at least one non-empty insert trigger fired, and the final
    // live graph holds exactly base + batch vectors.
    require(ver.get() >= 1, s"expected >=1 insert trigger, saw ${ver.get()}")
    val finalGraph = s.read.parquet(s"$root/live_${ver.get()}")
    val baseCount = s.read.parquet(s"$root/live_0").count()
    require(finalGraph.count() == baseCount + batchRows.length,
      s"final graph ${finalGraph.count()} rows != base $baseCount + " +
        s"batch ${batchRows.length}")
    val cands = graft.llm.Similarity.nswServeCandsOn(s, d, finalGraph).persist()
    graft.io.Sinks.dumpFixture(cands.select("qid", "cid"), "stnswup_cands")
    val emb = graft.io.Sources.table(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val all = emb.unionByName(
      emb.filter(col("vec_id") < plantN)
        .select((col("vec_id") + upsertOffset).as("vec_id"),
          transform(col("ve"), x => x * 2.0).as("ve")))
    cands
      .join(all.select(col("vec_id").as("qid"), col("ve").as("qe")), Seq("qid"))
      .join(all.select(col("vec_id").as("cid"), col("ve").as("ce")), Seq("cid"))
      .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(desc("sim"), asc("cid"))))
      .filter(col("rk") <= kNeighbors)
      .select(col("qid"), col("rk"), col("cid"),
        graft.functions.Numeric.dround(col("sim"), 4).as("sim"))
      .orderBy("qid", "rk")
  }

  /** Versioned CDC state for the streaming NSW gates — the fold
    * [[stNswCompact]]'s foreachBatch applies, factored out so
    * StNswCompactSpec can drive it with DELIBERATELY SPLIT deliveries
    * (VERDICT r17 next §4). The idempotence design: inserts extend a
    * MAINLINE lineage (live_0, live_1, … — insertion only, never
    * swept), and each sweep is a PURE FUNCTION of (mainline tip, full
    * accumulated tombstone set), written to the versioned sibling
    * swept_k. Sweeping at t1 and then at t1∪t2 therefore CONVERGES to
    * exactly the one-shot sweep over the unswept mainline — a rebuilt
    * shard is always rebuilt from its original insertion order, never
    * from an earlier sweep's output — so how the runtime splits or
    * batches the CDC stream cannot change the final state. Spared
    * shards are emitted untouched by the sweep kernel, so re-sweeping
    * from mainline costs the same as the incremental sweep it
    * replaces. Serves read swept tip when one exists, else mainline. */
  private[streaming] final class NswCdcState(s: SparkSession, root: String,
      base: org.apache.spark.sql.DataFrame, nShards: Int) {
    import org.apache.spark.sql.DataFrame
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    base.write.mode("overwrite").parquet(s"$root/live_0")
    private val mainVer = new java.util.concurrent.atomic.AtomicInteger(0)
    private val sweepVer = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile private var tomb: Set[Long] = Set.empty
    def tombstones: Set[Long] = tomb
    def inserts: Int = mainVer.get()
    def sweeps: Int = sweepVer.get()
    def mainline: DataFrame = s.read.parquet(s"$root/live_${mainVer.get()}")
    def insert(batch: DataFrame): Unit = {
      val cur = mainVer.get()
      graft.llm.Similarity.nswGraphInsert(
          s, s.read.parquet(s"$root/live_$cur"), batch, nShards)
        .write.mode("overwrite").parquet(s"$root/live_${cur + 1}")
      mainVer.set(cur + 1)
    }
    def delete(ids: Iterable[Long]): Unit = {
      tomb = tomb ++ ids
      val dead = tomb // immutable snapshot for the kernel closure
      val g = mainline
      val tots = g.agg(count(lit(1)).as("n"),
        sum(when(col("vec_id").isInCollection(dead), 1L).otherwise(0L)).as("nd"))
        .collect()(0)
      graft.llm.Similarity.nswCompact(
          s, g, dead.contains, tots.getLong(0), tots.getLong(1))
        .write.mode("overwrite").parquet(s"$root/swept_${sweepVer.incrementAndGet()}")
    }
    def serving: DataFrame =
      if (sweepVer.get() > 0) s.read.parquet(s"$root/swept_${sweepVer.get()}")
      else mainline
  }

  /** Streaming CDC maintenance with threshold-triggered COMPACTION —
    * the operational completion of the graph family under streaming:
    * st_nsw_upsert handles inserts, but production churn also RETIRES
    * vectors, and a high-churn shard must eventually compact
    * (ann_nsw_compact is the batch sweep; this gate fires it from the
    * stream). The CDC stream carries upserts (the ×2 twins) then
    * deletes (the family's tombstone plant — the ONE predicate, via
    * tombstonedIdFor). Each trigger folds into [[NswCdcState]]:
    * inserts extend the mainline lineage, the accumulated tombstone
    * set stays bounded driver metadata (the plant's ids, never vector
    * data), and any trigger that grew the tombstone set sweeps the
    * MAINLINE with the FULL set (above-average-garbage shards rebuild
    * over live vectors, spared shards keep routing their tombstones).
    * The final state serves mark-delete (spared shards still hold
    * dead nodes). By compaction serve-neutrality (NswCompactSpec)
    * composed with the insertion-order construction (StNswUpsertSpec),
    * the served candidates equal ann_nsw_lifecycle's mark-delete serve
    * over the UNSWEPT upserted graph — StNswCompactSpec asserts
    * exactly that, plus streamed-swept ≡ one-shot insert+compact
    * row-exact, plus real storage shrink, plus (r18) the
    * SPLIT-DELIVERY convergence case: because each sweep recomputes
    * from mainline, a runtime that splits the delete batch across
    * triggers converges to the same graph as one-shot delivery. */
  private val stNswCompact: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.expressions.Window
    val (plantN, upsertOffset, _, _, kNeighbors) =
      graft.llm.Similarity.upsertConsts
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.ArrayFns.vecDot(a, b)
    def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
    val upserts = cachedRows(d, "nswup") {
      graft.io.Sources.table(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
        .filter(col("vec_id") < plantN)
        .select((col("vec_id") + upsertOffset).as("vec_id"),
          transform(col("ve"), x => x * 2.0).as("ve"))
        .as[VecRow].collect().sortBy(_.vec_id)
    }
    val deletes = cachedRows(d, "nswdel") {
      graft.io.Sources.table(s, d, "embeddings")
        .select(col("vec_id")).as[Long].collect()
        .filter(graft.llm.Similarity.tombstonedIdFor).sorted
    }
    val state = new NswCdcState(s, stNswCompactRoot,
      graft.llm.Similarity.nswBaseGraph(s, d),
      graft.llm.Similarity.nswShardCountFor(s, d))
    val source = MemoryStream[CdcVec]
    val name = s"st_nsw_compact_${seq.incrementAndGet()}"
    val q = source.toDS().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[CdcVec], _: Long) =>
        val ups = df.filter(col("op") === "u").select(col("vec_id"), col("ve"))
        if (!ups.isEmpty) state.insert(ups)
        // delete ids are METADATA (the ann_ivf_delete O(1) discipline):
        // bounded by the plant, safe to stage on the driver
        val dels = df.filter(col("op") === "d").select(col("vec_id"))
          .as[Long].collect()
        if (dels.nonEmpty) state.delete(dels)
      }
      .option("checkpointLocation", ckpt(name)).start()
    try {
      source.addData(upserts.map(v => CdcVec("u", v.vec_id, v.ve)).toIndexedSeq)
      q.processAllAvailable()
      source.addData(deletes.map(id => CdcVec("d", id, Seq.empty)).toIndexedSeq)
      q.processAllAvailable()
    } finally {
      q.stop()
      dropCkpt(name)
    }
    // the gate is on the folded STATE, not the trigger count (how many
    // micro-batches the runtime makes of an addData call is a runtime
    // detail — and since the sweep recomputes from mainline, the state
    // is the same however the deliveries split)
    require(state.inserts >= 1 && state.sweeps >= 1,
      s"expected >=1 insert and >=1 sweep, saw ${state.inserts}/${state.sweeps}")
    val dead = state.tombstones
    require(dead.nonEmpty, "the delete trigger never landed")
    val finalGraph = state.serving
    val cands = graft.llm.Similarity.nswServeLiveCandsOn(
      s, d, finalGraph, id => !dead.contains(id)).persist()
    graft.io.Sinks.dumpFixture(cands.select("qid", "cid"), "stnswcomp_cands")
    val emb = graft.io.Sources.table(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val all = emb.unionByName(
      emb.filter(col("vec_id") < plantN)
        .select((col("vec_id") + upsertOffset).as("vec_id"),
          transform(col("ve"), x => x * 2.0).as("ve")))
    cands
      .join(all.select(col("vec_id").as("qid"), col("ve").as("qe")), Seq("qid"))
      .join(all.select(col("vec_id").as("cid"), col("ve").as("ce")), Seq("cid"))
      .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(desc("sim"), asc("cid"))))
      .filter(col("rk") <= kNeighbors)
      .select(col("qid"), col("rk"), col("cid"),
        graft.functions.Numeric.dround(col("sim"), 4).as("sim"))
      .orderBy("qid", "rk")
  }

  /** Versioned-state root for the CDC gate (spec seam: the shrink and
    * one-shot-equality checks read the live_N versions directly). */
  private[graft] def stNswCompactRoot: String = s"$pidRoot/stnswcomp"

  /** Scrub root for the streaming erasure gate (spec seam). */
  private[graft] def stRtbfRoot: String = s"$pidRoot/strtbf"

  /** Streaming right-to-be-forgotten over the persisted dedup index —
    * in production, GDPR art. 17 erasure REQUESTS are a stream (one
    * ticket at a time), and compliance must converge however the
    * runtime batches them. The deletion ids (the dq_rtbf plant, split
    * across two addData blocks) fold into bounded driver metadata (the
    * accumulated request set — ids only, never document data); each
    * trigger that grew the set re-runs [[graft.llm.Dedup.rtbfScrub]]
    * with the FULL set against the LIVE index. The scrub is a pure
    * function of (live index, deletion set) — derived relations never
    * read an earlier scrub's output — so split deliveries converge to
    * the one-shot dq_rtbf scrub BY CONSTRUCTION (the NswCdcState
    * idempotence argument applied to the dedup index; StRtbfSpec pins
    * ledger equality with the batch gate, split-delivery convergence
    * on the written relations, and the untouched live index). Output:
    * the final trigger's compliance ledger, re-counted on the
    * relations it actually wrote. Oracle: dq_rtbf's self-contained
    * corpus twin verbatim — the streamed scrub must land on the
    * identical ledger. */
  private val stRtbf: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val idx = graft.llm.Dedup.ensureDedupIndexFor(s, d)
    val delAll = cachedRows(d, "rtbf_del") {
      graft.llm.Dedup.incrCorpus(s, d).filter(col("doc_id") % 20 === 5)
        .select(col("doc_id")).as[Long].collect().sorted
    }
    val root = stRtbfRoot
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    @volatile var acc: Set[Long] = Set.empty
    @volatile var last: Array[org.apache.spark.sql.Row] = Array.empty
    // retained (doc_id, ch) chunk attribution carried across triggers
    // (r19): the first trigger pays the one retained-corpus CDC pass;
    // every later trigger derives its retained chunk set by anti-
    // joining the delta off these pairs — exact (chunking is per-doc),
    // so the written relations and the ledger are unchanged
    // (rtbfScrubIncr doc; StRtbfSpec pins one-shot equality)
    @volatile var pairs: Option[org.apache.spark.sql.DataFrame] = None
    val source = MemoryStream[Long]
    val name = s"st_rtbf_${seq.incrementAndGet()}"
    val q = source.toDS().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Long], _: Long) =>
        // request ids are METADATA (the tombstone discipline): bounded
        // by the plant, safe to stage on the driver
        val ids = df.collect()
        if (ids.nonEmpty) {
          acc = acc ++ ids
          val (ledger, newPairs) = graft.llm.Dedup.rtbfScrubIncr(s, d, idx,
            root, acc.toSeq.sorted.toDF("doc_id"), pairs, keepPairs = true)
          last = ledger.collect()
          pairs.foreach(org.apache.spark.sql.graft.PlanBridge.releaseCheckpoint)
          pairs = Some(newPairs)
        }
      }
      .option("checkpointLocation", ckpt(name)).start()
    try {
      val half = math.max(1, (delAll.length + 1) / 2)
      source.addData(delAll.take(half).toIndexedSeq)
      q.processAllAvailable()
      source.addData(delAll.drop(half).toIndexedSeq)
      q.processAllAvailable()
    } finally {
      q.stop()
      dropCkpt(name)
      pairs.foreach(org.apache.spark.sql.graft.PlanBridge.releaseCheckpoint)
    }
    require(acc == delAll.toSet,
      s"deletion stream lost requests: ${delAll.toSet -- acc}")
    require(last.nonEmpty, "no scrub trigger ever fired")
    last.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
      .toDF("artifact", "n_before", "n_touching_before", "n_after",
        "n_touching_after")
      .orderBy("artifact")
  }

  /** Stream-static broadcast enrichment under the gate: the J5 bounds
    * dim joined into every micro-batch (stateless — per-trigger cost is
    * batch × hash probe, zero streaming state), across two batches.
    * Unmatched categories keep the dead-letter null-bounds semantics.
    * Oracle: the batch CASE-ladder twin over the full table. */
  private val stEnrich: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val evs = cachedRows(d, "ev") {
      graft.io.Sources.table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        .as[EventStream.Ev].collect()
    }
    val source = MemoryStream[EventStream.Ev]
    val name = s"st_enrich_${seq.incrementAndGet()}"
    // idempotent PARQUET sink, not the memory sink (VERDICT r10 next
    // §5): output rows stay on executors instead of a driver collect +
    // createDataFrame re-upload — see st_sliding's note
    val root = s"$pidRoot/stenrich"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val out = s"$root/out"
    val q = EventStream.enrichWithBounds(source.toDF(),
        graft.ops.Relational.boundsDim(s))
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatch(b.toDF(), id, out))
      .option("checkpointLocation", ckpt(name)).start()
    try {
      val half = math.max(1, (evs.length + 1) / 2)
      source.addData(evs.take(half).toIndexedSeq)
      q.processAllAvailable()
      source.addData(evs.drop(half).toIndexedSeq)
      q.processAllAvailable()
    } finally {
      q.stop()
      dropCkpt(name)
    }
    s.read.parquet(out)
      .select(col("user_id"), col("ts"), col("event_type"),
        col("value"), col("v_max"), col("a_max"))
      // module convention (ADVICE r9): every gate emits sorted output —
      // cheap, and removes the reliance on the driver compare being
      // order-insensitive
      .orderBy("user_id", "ts", "event_type")
  }

  /** The stEnrich gate on a FILE-STREAM source (VERDICT r12 next §3):
    * every other st_* gate stages its bounded input through the driver
    * (a collect()ed array fed to MemoryStream.addData) — sanctioned
    * harness plumbing, but no gate demonstrated the engine on a
    * streaming SOURCE that never touches the driver. Here the events
    * table is staged ONCE per corpus dir to a parquet landing directory
    * (a distributed write — the S2 partitioned-scan discipline applied
    * to readStream's input), then `readStream.schema(...).parquet`
    * consumes it with maxFilesPerTrigger=2 over 4 staged files, forcing
    * ≥2 real micro-batches through the file-source offset log. The
    * enrichment, the foreachBatch idempotent parquet sink, and the
    * read-back are stEnrich's verbatim; there is NO collect anywhere on
    * the input path — rows go files → executors → sink. At production
    * scale this IS the deployment shape: a landing directory consumed
    * incrementally. Same oracle as st_enrich (the relation is
    * identical; only the source differs). */
  private val stEnrichFile: Q = (parent, d) => {
    val s = scoped(parent)
    // stage once per (corpus dir, process): the fixture is INPUT, not
    // operator work (the ingestCache discipline — the staging write is
    // distributed, the cache only memoizes the path string)
    val src = cachedRows(d, "enrichfile_src") {
      val p = s"$pidRoot/stenrichfile_src_${math.abs(d.hashCode.toLong)}"
      graft.io.Sources.table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        .repartition(4)
        .write.mode("overwrite").parquet(p)
      p
    }
    val schema = s.read.parquet(src).schema
    val name = s"st_enrich_file_${seq.incrementAndGet()}"
    val root = s"$pidRoot/stenrichfile"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val out = s"$root/out"
    val in = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(src)
    val q = EventStream.enrichWithBounds(in, graft.ops.Relational.boundsDim(s))
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatch(b.toDF(), id, out))
      .option("checkpointLocation", ckpt(name)).start()
    try q.processAllAvailable()
    finally {
      q.stop()
      dropCkpt(name)
    }
    s.read.parquet(out)
      .select(col("user_id"), col("ts"), col("event_type"),
        col("value"), col("v_max"), col("a_max"))
      .orderBy("user_id", "ts", "event_type")
  }

  /** Streaming exact dedup under the gate: every event delivered once
    * in batch 1, then a PLANTED re-delivery (event_id % 10 == 3) in
    * batch 2 — the at-least-once ingest failure dedup exists for. A
    * re-delivered key still in state is dropped by the state match; one
    * already past the watermark horizon is dropped as late data — both
    * paths land on the same answer, so the gate is the strongest kind:
    * the output must equal the PLAIN events table row for row (a leaked
    * duplicate fails on row count; a wrongly-dropped first delivery
    * fails on content). */
  private val stDedup: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val evs = eventRows(s, d, viewClickOnly = false)
    val source = MemoryStream[EventStream.AsofEv]
    val name = s"st_dedup_${seq.incrementAndGet()}"
    val q = EventStream.dedupStream(
        source.toDF().withColumnRenamed("event_id", "content_key"))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt(name)).start()
    val (schema, rows) = try {
      source.addData(evs.toIndexedSeq)
      q.processAllAvailable()
      source.addData(evs.filter(_.event_id % 10 == 3).toIndexedSeq) // re-delivery
      q.processAllAvailable()
      val tbl = s.table(name)
      (tbl.schema, tbl.collect()) // sink's own schema: name-safe binding
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
      dropCkpt(name)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .select(col("content_key").as("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
  }

  /** stDedup on the FILE-STREAM source — the STATEFUL complement of
    * stEnrichFile (that gate is stateless; this one runs watermark +
    * dropDuplicatesWithinWatermark state against a landing directory):
    * the events land as parquet files, the stream consumes them, then
    * the planted re-delivery (event_id ≡ 3 mod 10 — the at-least-once
    * ingest failure) arrives as a LATE FILE while the query runs, the
    * deployment shape of a crawler re-uploading a chunk. A re-delivered
    * key still in state drops on the state match; one past the
    * watermark horizon drops as late data — either way output must
    * equal the plain events table row for row (st_dedup's gate
    * discipline, zero driver collect on the input path). The landing
    * dir is staged per invocation (it MUTATES mid-run — the phase-2
    * append cannot be cached like the read-only stEnrichFile dir). */
  private val stDedupFile: Q = (parent, d) => {
    val s = scoped(parent)
    def ev = graft.io.Sources.table(s, d, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
    // staged ONCE per (d, process) — the landing dir itself must be
    // fresh per invocation (it mutates mid-run), so each run links the
    // staged part files in (hardlinks on tmpfs: O(files) metadata, no
    // re-write of the events table on every bench pass)
    val dupsPath = s"$pidRoot/stdedupfile_dups_${math.abs(d.hashCode.toLong)}"
    val stage = cachedRows(d, "dedupfile_stage") {
      val p = s"$pidRoot/stdedupfile_stage_${math.abs(d.hashCode.toLong)}"
      ev.repartition(2).write.mode("overwrite").parquet(p)
      ev.filter(col("event_id") % 10 === 3).repartition(1)
        .write.mode("overwrite").parquet(dupsPath)
      p
    }
    val name = s"st_dedup_file_${seq.incrementAndGet()}"
    val root = s"$pidRoot/stdedupfile"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val src = s"$root/landing"
    val out = s"$root/out"
    def linkIn(fromDir: String, prefix: String): Unit = {
      new java.io.File(src).mkdirs()
      Option(new java.io.File(fromDir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.createLink(
          java.nio.file.Paths.get(src, prefix + f.getName), f.toPath))
    }
    linkIn(stage, "a_")
    val schema = s.read.parquet(src).schema
    val in = s.readStream.schema(schema).parquet(src)
    val q = EventStream.dedupStream(in.withColumnRenamed("event_id", "content_key"))
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatch(b.toDF(), id, out))
      .option("checkpointLocation", ckpt(name)).start()
    try {
      q.processAllAvailable()
      linkIn(dupsPath, "b_") // the re-delivery, landing as a late file
      q.processAllAvailable()
    } finally {
      q.stop()
      dropCkpt(name)
    }
    s.read.parquet(out)
      .select(col("content_key").as("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
      .orderBy("event_id")
  }

  /** stSessions on the FILE-STREAM source (VERDICT r13 next §2): the
    * two r13 file gates covered stateless enrichment and watermark
    * dedup; this one puts the heaviest custom-state machinery — the
    * flatMapGroupsWithState sessionizer with event-time timeouts —
    * behind a parquet landing directory, zero collect on the input
    * path. Files are staged TIME-RANGE-PARTITIONED (repartitionByRange
    * on ts → part-k covers time-quartile k) and linked into the
    * landing dir with strictly increasing mtimes, because the file
    * source consumes oldest-modified first and the sessionizer's
    * cross-batch state machine (like any production session pipeline)
    * assumes in-order delivery BETWEEN batches: range partitioning
    * guarantees batch 2's rows are ≥ batch 1's max ts, so the rolling
    * state never sees time move backwards and the watermark never
    * outruns a continuing session (proof in the delay note below).
    * maxFilesPerTrigger=2 over 4 staged files forces ≥2 real
    * micro-batches through the offset log (pinned by
    * StSessionsFileSpec); the flush sentinel then arrives as a LATE
    * FILE — the stDedupFile re-delivery shape — and the engine's
    * watermark-followup batch fires every session's event-time
    * timeout. Watermark delay is 30 s, not stSessions' 0 s: with the
    * corpus split across batches, a delay strictly positive makes
    * batch-boundary ts TIES immune to the late-data filter whichever
    * comparison Spark uses (batch-2 rows are ≥ batch-1 max > batch-1
    * max − 30 s = watermark); and the delay cannot close a continuing
    * session early — a timeout fires only when watermark > last + gap,
    * which with time-ordered batches implies no in-gap successor
    * exists in ANY later batch. Oracle: `w8_sessions`' gaps-and-islands
    * twin, verbatim (the stSessions discipline). */
  private val stSessionsFile: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    // staged once per (corpus dir, process): 4 time-quartile parquet
    // files + the 1-row flush-sentinel file (its ts depends only on
    // the corpus max — far enough that watermark − 30 s clears every
    // last + gap)
    val (stage, sentinelDir) = cachedRows(d, "sessionsfile_src") {
      val ev = graft.io.Sources.table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      val p = s"$pidRoot/stsessionsfile_src_${math.abs(d.hashCode.toLong)}"
      ev.repartitionByRange(4, col("ts")).write.mode("overwrite").parquet(p)
      val maxMs = s.read.parquet(p).agg(max(col("ts"))).head
        .getTimestamp(0).getTime
      val flushMs = maxMs + EventStream.sessionGapUs / 1000L + 3600000L
      val sp = s"${p}_sentinel"
      s.createDataset(Seq(
          EventStream.Ev(-1L, new Timestamp(flushMs), "click", 0.0)))
        .toDF().repartition(1).write.mode("overwrite").parquet(sp)
      (p, sp)
    }
    val name = s"st_sessions_file_${seq.incrementAndGet()}"
    val root = s"$pidRoot/stsessionsfile"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val src = s"$root/landing"
    val out = s"$root/out"
    // link staged part files in, in PART-INDEX order (= time order, the
    // repartitionByRange contract) with strictly increasing mtimes —
    // the file source's pickup order
    var mtime = System.currentTimeMillis() - 3600000L
    def linkIn(fromDir: String, prefix: String): Unit = {
      new java.io.File(src).mkdirs()
      Option(new java.io.File(fromDir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .foreach { f =>
          val t = java.nio.file.Paths.get(src, prefix + f.getName)
          java.nio.file.Files.createLink(t, f.toPath)
          mtime += 2000L
          t.toFile.setLastModified(mtime)
        }
    }
    linkIn(stage, "a_")
    val schema = s.read.parquet(src).schema
    val in = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(src)
    val q = EventStream.sessionize(s,
        in.withWatermark("ts", "30 seconds").as[EventStream.Ev])
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[EventStream.Session], id: Long) =>
        EventStream.writeBatch(b.toDF(), id, out))
      .option("checkpointLocation", ckpt(name)).start()
    try {
      q.processAllAvailable()
      linkIn(sentinelDir, "b_") // the flush, landing as a late file
      q.processAllAvailable()
    } finally {
      q.stop()
      dropCkpt(name)
    }
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("start_us")
    s.read.parquet(out).filter(col("user_id") >= 0L)
      .select(col("user_id"),
        row_number().over(w).cast("long").as("session_id"),
        expr("start_us DIV 1000000").as("start_s"),
        expr("end_us DIV 1000000").as("end_s"),
        col("n_events").cast("long").as("n_events"),
        graft.functions.Numeric.dround(col("total_value"), 4).as("total_value"))
      .orderBy("user_id", "session_id")
  }

  /** stSliding on the FILE-STREAM source: with stSessionsFile covering
    * flatMapGroupsWithState and stDedupFile covering watermark-dedup
    * state, this one puts the BUILT-IN windowed-aggregation state
    * machine (2 h windows sliding by 1 h, 10 min watermark) behind a
    * parquet landing directory — the last stateful family still
    * demonstrated only behind a driver-fed MemoryStream. Staging is
    * stSessionsFile's verbatim: time-range-partitioned part files
    * linked in with strictly increasing mtimes (the file source
    * consumes oldest-modified first), maxFilesPerTrigger=2 over 4
    * staged files forcing ≥2 real micro-batches through the offset
    * log, and the flush sentinel arriving as a LATE FILE. Correctness
    * under the split: batch k+1's rows are ≥ batch k's max ts (the
    * repartitionByRange contract), so the watermark (max − 10 min)
    * never drops a row, and a window's state absorbs rows across batch
    * boundaries exactly as within one — the property the windowed
    * state store exists to provide. The sentinel sits 3 h past the
    * corpus max: watermark = sentinel − 10 min then exceeds every
    * window end (≤ max + 2 h), flushing all windows; its own two
    * windows are filtered out below. Oracle: st_sliding's
    * window-expansion twin, verbatim — only the source differs. */
  private val stSlidingFile: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    val (stage, sentinelDir) = cachedRows(d, "slidingfile_src") {
      val ev = graft.io.Sources.table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      val p = s"$pidRoot/stslidingfile_src_${math.abs(d.hashCode.toLong)}"
      ev.repartitionByRange(4, col("ts")).write.mode("overwrite").parquet(p)
      val maxMs = s.read.parquet(p).agg(max(col("ts"))).head
        .getTimestamp(0).getTime
      val sp = s"${p}_sentinel"
      s.createDataset(Seq(EventStream.Ev(-1L,
          new Timestamp(maxMs + 3L * 3600000L), "sentinel__", 0.0)))
        .toDF().repartition(1).write.mode("overwrite").parquet(sp)
      (p, sp)
    }
    val name = s"st_sliding_file_${seq.incrementAndGet()}"
    val root = s"$pidRoot/stslidingfile"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val src = s"$root/landing"
    val out = s"$root/out"
    var mtime = System.currentTimeMillis() - 3600000L
    def linkIn(fromDir: String, prefix: String): Unit = {
      new java.io.File(src).mkdirs()
      Option(new java.io.File(fromDir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .foreach { f =>
          val t = java.nio.file.Paths.get(src, prefix + f.getName)
          java.nio.file.Files.createLink(t, f.toPath)
          mtime += 2000L
          t.toFile.setLastModified(mtime)
        }
    }
    linkIn(stage, "a_")
    val schema = s.read.parquet(src).schema
    val in = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(src)
    val q = EventStream.slidingStats(in)
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        EventStream.writeBatch(b.toDF(), id, out))
      .option("checkpointLocation", ckpt(name)).start()
    try {
      q.processAllAvailable()
      linkIn(sentinelDir, "b_") // the flush, landing as a late file
      q.processAllAvailable()
    } finally {
      q.stop()
      dropCkpt(name)
    }
    s.read.parquet(out)
      .filter(!(col("event_type") <=> "sentinel__"))
      .select(col("win_start"), col("event_type"), col("n"),
        graft.functions.Numeric.dround(col("sum_q") / 1000000.0, 4).as("total_value"))
      .orderBy("win_start", "event_type")
  }

  /** The exactly-once-EFFECT parquet sink under the gate: the events
    * stream lands in batch_id partitions via foreachBatch + dynamic
    * partition overwrite, then the FIRST batch the stream actually
    * wrote is RE-DELIVERED with identical content (the crash-between-
    * write-and-offset-commit replay, applied through the same
    * [[EventStream.writeBatch]] the sink uses — the id and rows are
    * read back from the output, so the gate does not assume how Spark
    * assigns micro-batch ids). The read-back — batch_id dropped — must
    * equal the plain events table row for row: an appending
    * (non-idempotent) sink fails on row count, a lossy one on content.
    * (Checkpoint-restart id stability itself is the spec's concern —
    * EventStreamSpec replays against a live checkpointed query.)
    *
    * One FIXED output root per process, wiped at entry: a per-call
    * temp dir would leak a full events copy + checkpoint into /tmp on
    * every bench pass. */
  private val stSink: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val evs = eventRows(s, d, viewClickOnly = false)
    // pid-scoped tmpfs root (ADVICE r6 + the per-batch-fsync lesson):
    // concurrent graft processes never collide, dead-pid roots are
    // swept by pidRoot's init, and the wipe-at-entry keeps repeated
    // in-process invocations from accumulating
    val root = s"$pidRoot/stsink"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val out = s"$root/out"
    val half = evs.length / 2
    val source = MemoryStream[EventStream.AsofEv]
    val q = EventStream.idempotentParquetSink(source.toDF(), out, s"$root/ckpt")
    try {
      source.addData(evs.take(half).toIndexedSeq)
      q.processAllAvailable()
      source.addData(evs.drop(half).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    // crash-replay: re-deliver the first written batch, content read
    // back from the sink itself (no assumption on id assignment)
    val written = s.read.parquet(out)
    // partition-column values are re-inferred on read (int, not long)
    val firstId = written.agg(min(col("batch_id").cast("long"))).head.getLong(0)
    val firstRows = written.filter(col("batch_id") === firstId).drop("batch_id").collect()
    EventStream.writeBatch(
      s.createDataFrame(java.util.Arrays.asList(firstRows: _*),
        written.drop("batch_id").schema), firstId, out)
    s.read.parquet(out)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
  }

  /** Genuine restart-from-checkpoint under the gate (VERDICT r6 §7 —
    * until r7 the restart path was exercised only by specs): the first
    * half of the events stream lands through the checkpointed
    * idempotent parquet sink, the query is STOPPED (planned shutdown —
    * st_sink covers the crash-between-write-and-commit replay), the
    * remainder arrives while NO query is running, and a NEW query
    * started from the same checkpoint + source must resume from the
    * offset log and deliver exactly the backlog. The read-back —
    * batch_id dropped — must equal the plain events table row for row:
    * a restart that re-reads committed offsets without the idempotent
    * overwrite fails on row count, one that loses the backlog fails on
    * content. */
  private val stRestart: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val evs = eventRows(s, d, viewClickOnly = false)
    val root = s"$pidRoot/strestart"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val out = s"$root/out"
    val half = evs.length / 2
    val source = MemoryStream[EventStream.AsofEv]
    val q1 = EventStream.idempotentParquetSink(source.toDF(), out, s"$root/ckpt")
    try {
      source.addData(evs.take(half).toIndexedSeq)
      q1.processAllAvailable()
    } finally q1.stop()
    // the backlog arrives while the query is down; the restarted query
    // finds it via the source's offsets, not via any live trigger
    source.addData(evs.drop(half).toIndexedSeq)
    val q2 = EventStream.idempotentParquetSink(source.toDF(), out, s"$root/ckpt")
    try q2.processAllAvailable() finally q2.stop()
    s.read.parquet(out)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
  }

  /** The watermarked stream-stream interval join under the gate: every
    * click paired with the same user's views in the preceding 10
    * minutes, streamed across two batches; a sentinel pair riding with
    * the second batch pushes both end-of-batch watermarks past the data
    * (defensive flush — inner joins emit eagerly, the sentinel
    * guarantees no buffered residue), with the sentinel user excluded.
    * Oracle: the plain interval theta-join. */
  private val stInterval: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val evs = eventRows(s, d, viewClickOnly = true)
      .sortBy(e => (EventStream.us(e.ts), e.event_id))
    val maxMs = if (evs.isEmpty) 0L else evs.iterator.map(_.ts.getTime).max
    val source = MemoryStream[EventStream.AsofEv]
    val name = s"st_interval_${seq.incrementAndGet()}"
    val q = EventStream.clickViewJoin(source.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt(name)).start()
    val (schema, rows) = try {
      val half = evs.length / 2
      source.addData(evs.take(half).toIndexedSeq)
      q.processAllAvailable()
      source.addData(evs.drop(half).toIndexedSeq ++ IndexedSeq(
        EventStream.AsofEv(-1L, -1L, new Timestamp(maxMs + 3600000L), "view", 0.0),
        EventStream.AsofEv(-2L, -1L, new Timestamp(maxMs + 3600000L), "click", 0.0)))
      q.processAllAvailable()
      val tbl = s.table(name)
      (tbl.schema, tbl.filter(col("user_id") >= 0L).collect())
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
      dropCkpt(name)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The watermarked stream-stream LEFT OUTER interval join under the
    * gate: clicks with no view in their preceding 10 minutes must still
    * emit, null-extended — which the engine can only do after BOTH
    * watermarks pass the click's join window, so the sentinel pair is
    * load-bearing here (not defensive as in st_interval): without it
    * every unmatched click near the end of the bounded stream would
    * stay buffered forever and the row-count gate would fail. Two
    * sentinel hops — the first rides with the final data batch to carry
    * the watermark past the data, the second is its own batch to
    * trigger the state eviction that emits the nulls (measured: the
    * one-hop shape leaves the tail clicks' nulls buffered — the outer
    * join needs a batch where the watermark STARTS past their window,
    * so hop 2 is load-bearing and stays). Oracle: the plain batch LEFT
    * JOIN. */
  private val stLeftouter: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val evs = eventRows(s, d, viewClickOnly = true)
      .sortBy(e => (EventStream.us(e.ts), e.event_id))
    val maxMs = if (evs.isEmpty) 0L else evs.iterator.map(_.ts.getTime).max
    val source = MemoryStream[EventStream.AsofEv]
    val name = s"st_leftouter_${seq.incrementAndGet()}"
    val q = EventStream.clickViewLeftJoin(source.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt(name)).start()
    def sentinel(hop: Long) = IndexedSeq(
      EventStream.AsofEv(-hop, -1L,
        new Timestamp(maxMs + hop * 3600000L), "view", 0.0),
      EventStream.AsofEv(-hop - 10L, -1L,
        new Timestamp(maxMs + hop * 3600000L), "click", 0.0))
    val (schema, rows) = try {
      val half = evs.length / 2
      source.addData(evs.take(half).toIndexedSeq)
      q.processAllAvailable()
      source.addData(evs.drop(half).toIndexedSeq ++ sentinel(1L))
      q.processAllAvailable()
      source.addData(sentinel(2L))
      q.processAllAvailable()
      val tbl = s.table(name)
      (tbl.schema, tbl.filter(col("user_id") >= 0L).collect())
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
      dropCkpt(name)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** W15 as a stream: the rolling z-score kernel fired incrementally
    * per event with O(1) per-user ring state, delivered across two
    * event-time-ordered micro-batches so the ring must survive a
    * checkpointed batch boundary. Rows emit the moment they are
    * processed (no flush barrier — every event scores itself against
    * its PRIOR frame only). Oracle: `w15_anomaly`'s window twin,
    * verbatim. */
  private val stAnomaly: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val evs = eventRows(s, d, viewClickOnly = false)
      .sortBy(e => (EventStream.us(e.ts), e.event_id))
    val source = MemoryStream[EventStream.AsofEv]
    val name = s"st_anomaly_${seq.incrementAndGet()}"
    val q = EventStream.anomalyStream(s, source.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt(name)).start()
    val rows = try {
      evs.grouped(math.max(1, (evs.length + 1) / 2)).foreach { chunk =>
        source.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      s.table(name).as[EventStream.AnomalyHit].collect()
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
      dropCkpt(name)
    }
    s.createDataset(rows.toIndexedSeq).toDF()
      .select(col("event_id"), col("user_id"), col("value"),
        col("n_win"), col("zscore"), col("w15_flag"))
      .orderBy("event_id")
  }

  /** A streamed document arrival for the indexed-dedup gate. */
  case class StreamDoc(doc_id: Long, text: String)

  /** The st_dedup_indexed per-batch body, factored to a seam so the
    * crash-replay spec (VERDICT r10 next §4) can drive it under a
    * kill/replay schedule. Both writes are writeBatch partition
    * overwrites, so at-least-once redelivery of a batch id replaces
    * its own partitions; the SEEN probe additionally filters
    * `batch_id < id` (partition-pruned) — without that, a replay of
    * batch N would see N's OWN hashes (written before the crash) and
    * mark every doc a stream-dup of itself, corrupting the replayed
    * output partition. Found by the replay spec; pinned there. */
  private[graft] def dedupIndexedProcessor(s: SparkSession, corpusIdx: DataFrame,
      out: String, seenDir: String): (DataFrame, Long) => Unit = (df, id) => {
    val hashed = df
      .select(col("doc_id"), md5(col("text").cast("binary")).as("ch")).persist()
    val cm = hashed.join(corpusIdx, Seq("ch"))
      .groupBy("doc_id").agg(min(col("cid")).as("corpus_match"))
    // presence check: writeBatch's DYNAMIC partition overwrite emits
    // batch_id=N partition dirs but NO root _SUCCESS marker — an
    // _SUCCESS guard here reads as "index never exists" and silently
    // disables the whole seen layer (found by CrashReplaySpec: the r10
    // gate's cross-batch stream-dup verdicts only survived because its
    // plants never straddled a batch boundary)
    val seenParts = Option(new java.io.File(seenDir).listFiles())
      .getOrElse(Array.empty).exists(_.getName.startsWith("batch_id="))
    val seen =
      if (seenParts)
        // batch_id < id: on an at-least-once REPLAY of batch `id`, the
        // probe must not see the batch's own first-attempt hashes
        // (partition-pruned; without this every replayed doc matches
        // itself and becomes a stream-dup — also CrashReplaySpec)
        s.read.parquet(seenDir).filter(col("batch_id") < id)
          .select(col("ch"), col("sid"))
      else hashed.limit(0).select(col("ch"), col("doc_id").as("sid"))
    val sm1 = hashed.join(seen, Seq("ch"))
      .groupBy("doc_id").agg(min(col("sid")).as("m1"))
    val within = hashed.select(col("ch"), col("doc_id").as("oid"))
    val sm2 = hashed.join(within, Seq("ch"))
      .filter(col("oid") < col("doc_id"))
      .groupBy("doc_id").agg(min(col("oid")).as("m2"))
    EventStream.writeBatch(
      hashed
        .join(cm, Seq("doc_id"), "left")
        .join(sm1, Seq("doc_id"), "left")
        .join(sm2, Seq("doc_id"), "left")
        .select(col("doc_id"), col("corpus_match"),
          least(col("m1"), col("m2")).as("stream_match")),
      id, out)
    // grow the maintained index only AFTER this batch's probes
    EventStream.writeBatch(
      hashed.select(col("ch"), col("doc_id").as("sid")), id, seenDir)
    hashed.unpersist()
    ()
  }

  /** Streaming dedup against the PERSISTED corpus index (VERDICT r8
    * next §8): st_dedup dedups within stream state only; a production
    * pipeline also dedups every arriving doc against the historical
    * corpus. Here each micro-batch, inside foreachBatch:
    *   1. probes the persisted 16-byte content-hash index
    *      (`Dedup.dedupIndexBuild`'s hashes relation — the
    *      dd_incremental exact layer, byte for byte);
    *   2. probes the SEEN relation — the hashes of every earlier
    *      stream batch, appended batch-by-batch under the checkpoint
    *      root: the continuously-maintained index a crawl pipeline
    *      grows as it ingests (read BEFORE this batch's append, so a
    *      batch never matches itself through it);
    *   3. dedups within the batch (smaller doc_id wins — arrival
    *      order is doc_id order, so "smaller id" ≡ "arrived first"
    *      across all three layers).
    * Verdict precedence: corpus beats stream beats unique; match_id
    * −1 sentinel keeps the column non-null. The arriving docs carry
    * the dd_incremental corpus-copy plant (doc_id ≡ 7 mod 30) PLUS a
    * stream-internal plant (doc_id ≡ 27 mod 50, not corpus-planted:
    * a copy of stream predecessor doc_id − 20's level-1 text), so
    * both duplicate verdicts are exercised. Oracle: the batch twin —
    * history ∪ stream union with the plants replayed verbatim. */
  private val stDedupIndexed: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val idx = graft.llm.Dedup.ensureDedupIndexFor(s, d)
    val rows = cachedRows(d, "streamdocs") {
      val raw = graft.io.Sources.table(s, d, "documents")
      val corpus = raw.filter(col("doc_id") % 10 =!= 7).select(col("doc_id"), col("text"))
      val base = raw.filter(col("doc_id") % 10 === 7).select(col("doc_id"), col("text"))
      val donors = corpus.select((col("doc_id") + 1).as("doc_id"), col("text").as("dtext"))
      val b1 = base.join(donors, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 30 === 7, col("dtext")).otherwise(col("text")).as("text"))
      val sdon = b1.select((col("doc_id") + 20).as("doc_id"), col("text").as("stext"))
      b1.join(sdon, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 30 =!= 7 && col("doc_id") % 50 === 27 &&
            col("stext").isNotNull, col("stext")).otherwise(col("text")).as("text"))
        .as[StreamDoc].collect().sortBy(_.doc_id)
    }
    val root = s"$pidRoot/stdedupidx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val out = s"$root/out"
    val seenDir = s"$root/seen"
    val corpusIdx = s.read.parquet(s"$idx/hashes")
      .select(col("ch"), col("doc_id").as("cid"))
    val process = dedupIndexedProcessor(s, corpusIdx, out, seenDir)
    val source = MemoryStream[StreamDoc]
    val name = s"st_dedup_indexed_${seq.incrementAndGet()}"
    val q = source.toDS().writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[StreamDoc], id: Long) =>
        process(df.toDF(), id))
      .option("checkpointLocation", ckpt(name)).start()
    try {
      val half = math.max(1, (rows.length + 1) / 2)
      source.addData(rows.take(half).toIndexedSeq)
      q.processAllAvailable()
      source.addData(rows.drop(half).toIndexedSeq)
      q.processAllAvailable()
    } finally {
      q.stop()
      dropCkpt(name)
    }
    s.read.parquet(out)
      .select(col("doc_id"),
        when(col("corpus_match").isNotNull, "corpus_dup")
          .when(col("stream_match").isNotNull, "stream_dup")
          .otherwise("unique").as("verdict"),
        coalesce(col("corpus_match"), col("stream_match"), lit(-1L)).as("match_id"))
      .orderBy("doc_id")
  }

  /** Streaming span-level decontamination (the dd_substr_incr probe
    * fired per micro-batch — st_dedup_indexed's sequel at span
    * granularity): each arriving batch of documents is checked, inside
    * foreachBatch, for text spans copied from the persisted corpus
    * index's positioned winnow fingerprints, and the localized span
    * verdicts land in a batch-id-partitioned parquet sink (replay of a
    * batch id REPLACES, never duplicates — the st_sink exactly-once
    * rule). The span probe is per-doc independent, so the micro-batch
    * split is immaterial to the union of outputs and the BATCH twin's
    * oracle (dd_substr_incr) gates the stream verbatim — the
    * st_anomaly discipline. */
  /** The st_substr per-batch processor, factored to a seam so the
    * crash-replay spec can drive it under redelivery and restart
    * schedules: stateless apart from the batch-id-partitioned sink, so
    * replaying a (data, id) pair REPLACES its partition bit-identically
    * (writeBatch dynamic overwrite — the st_sink exactly-once rule). */
  private[graft] def substrProcessor(winnowIdx: DataFrame,
      corpusText: DataFrame, out: String): (DataFrame, Long) => Unit = (df, id) => {
    val batch = df.persist()
    EventStream.writeBatch(
      graft.llm.Dedup.substrIncrSpans(batch, winnowIdx, corpusText), id, out)
    batch.unpersist()
    ()
  }

  private val stSubstr: Q = (parent, d) => {
    val s = scoped(parent)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val idx = graft.llm.Dedup.ensureDedupIndexFor(s, d)
    val rows = cachedRows(d, "substrstreamdocs") {
      val raw = graft.io.Sources.table(s, d, "documents")
      val corpus = raw.filter(col("doc_id") % 10 =!= 7)
      val donors = corpus.select((col("doc_id") + 1).as("doc_id"),
        col("text").as("d_text"))
      raw.filter(col("doc_id") % 10 === 7)
        .join(donors, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 30 === 7,
            concat(expr("substr(d_text, 1, 120)"), lit("|"), col("text")))
            .otherwise(col("text")).as("text"))
        .as[StreamDoc].collect().sortBy(_.doc_id)
    }
    val root = s"$pidRoot/stsubstr"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val out = s"$root/out"
    val winnowIdx = s.read.parquet(s"$idx/winnow")
    val corpusText = graft.io.Sources.table(s, d, "documents")
      .filter(col("doc_id") % 10 =!= 7).select(col("doc_id"), col("text"))
    val proc = substrProcessor(winnowIdx, corpusText, out)
    val source = MemoryStream[StreamDoc]
    val name = s"st_substr_${seq.incrementAndGet()}"
    val q = source.toDS().writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[StreamDoc], id: Long) =>
        proc(df.toDF(), id))
      .option("checkpointLocation", ckpt(name)).start()
    try {
      val half = math.max(1, (rows.length + 1) / 2)
      source.addData(rows.take(half).toIndexedSeq)
      q.processAllAvailable()
      source.addData(rows.drop(half).toIndexedSeq)
      q.processAllAvailable()
    } finally {
      q.stop()
      dropCkpt(name)
    }
    s.read.parquet(out)
      .select("doc_id", "match_id", "q_start", "len", "c_start", "span_md5")
      .orderBy("doc_id", "match_id", "q_start", "c_start")
  }

  val queries: Map[String, Q] = Map(
    "st_substr" -> stSubstr,
    "st_dedup_indexed" -> stDedupIndexed,
    "st_sliding" -> stSliding,
    "st_enrich" -> stEnrich,
    "st_enrich_file" -> stEnrichFile,
    "st_ann_upsert" -> stAnnUpsert,
    "st_nsw_upsert" -> stNswUpsert,
    "st_nsw_compact" -> stNswCompact,
    "st_rtbf" -> stRtbf,
    "st_kmeans" -> stKmeans,
    "st_drift" -> stDrift,
    "st_anomaly" -> stAnomaly,
    "st_sessions" -> stSessions,
    "st_sessions_file" -> stSessionsFile,
    "st_sliding_file" -> stSlidingFile,
    "st_asof" -> stAsof,
    "st_scd2" -> stScd2,
    "st_windowed" -> stWindowed,
    "st_handoff" -> stHandoff,
    "st_dedup" -> stDedup,
    "st_dedup_file" -> stDedupFile,
    "st_sink" -> stSink,
    "st_restart" -> stRestart,
    "st_interval" -> stInterval,
    "st_leftouter" -> stLeftouter)

  /** The batch twins' oracles apply UNCHANGED — that is the point: the
    * incremental operators must reproduce the batch semantics exactly. */
  val oracle: Map[String, String] = Map(
    // the dd_substr_incr twin VERBATIM: the span probe is per-doc
    // independent, so the micro-batch split cannot change the union
    "st_substr" -> graft.llm.Dedup.oracle("dd_substr_incr"),
    // the dq_rtbf twin VERBATIM: the streamed scrub's final ledger
    // must equal the one-shot batch scrub's — the delivery-idempotence
    // claim IS that the trigger split is invisible in the output
    "st_rtbf" -> graft.llm.Dedup.oracle("dq_rtbf"),
    // the batch twin unions history + stream: corpus hashes from the
    // non-batch slice, both plants replayed, min-id winners per layer,
    // corpus > stream > unique precedence
    "st_dedup_indexed" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7),
        | base AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7),
        | b1 AS (SELECT b.doc_id,
        |   CASE WHEN b.doc_id % 30 = 7 THEN d.text ELSE b.text END AS text
        |  FROM base b LEFT JOIN corpus d ON d.doc_id = b.doc_id - 1),
        | b2 AS (SELECT b.doc_id,
        |   CASE WHEN b.doc_id % 30 <> 7 AND b.doc_id % 50 = 27
        |         AND s.text IS NOT NULL THEN s.text ELSE b.text END AS text
        |  FROM b1 b LEFT JOIN b1 s ON s.doc_id = b.doc_id - 20),
        | h AS (SELECT doc_id, md5(text) AS ch FROM b2),
        | chc AS (SELECT md5(text) AS ch, doc_id AS cid FROM corpus),
        | cm AS (SELECT h.doc_id, min(cid) AS corpus_match
        |        FROM h JOIN chc USING (ch) GROUP BY h.doc_id),
        | sm AS (SELECT a.doc_id, min(b.doc_id) AS stream_match
        |        FROM h a JOIN h b ON b.ch = a.ch AND b.doc_id < a.doc_id
        |        GROUP BY a.doc_id)
        |SELECT h.doc_id,
        | CASE WHEN cm.corpus_match IS NOT NULL THEN 'corpus_dup'
        |      WHEN sm.stream_match IS NOT NULL THEN 'stream_dup'
        |      ELSE 'unique' END AS verdict,
        | coalesce(cm.corpus_match, sm.stream_match, -1) AS match_id
        |FROM h LEFT JOIN cm USING (doc_id) LEFT JOIN sm USING (doc_id)
        |ORDER BY h.doc_id""".stripMargin,
    // the ann_ivf_upsert candidate-fixture twin over THIS gate's
    // fixture: twins re-derived from the ×2 arithmetic, scores and
    // ranking recomputed from raw embeddings
    // generated beside the batch kmeans math it replays
    "st_kmeans" -> graft.llm.Kmeans.streamKmeansSql,
    // every trigger's cumulative candidate histogram re-derived with
    // the batch rule as a plain predicate; same FNV split, bounds,
    // binning, smoothing and float chain as the dq_drift twin
    "st_drift" -> {
      val fnv = graft.functions.TextHashes.fnvFoldSql("text")
      val signed = graft.functions.TextHashes.fnvSignedSql("hu")
      val common =
        s"""WITH h AS (SELECT doc_id, n_chars, $fnv AS hu FROM documents),
           | f AS (SELECT doc_id, n_chars,
           |         ((($signed) % 1000) + 1000) % 1000 < 500 AS is_ref FROM h),
           | bounds AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents),
           | binned AS (SELECT doc_id, is_ref,
           |              ((n_chars - mn) * 10) // (mx - mn + 1) AS bin
           |            FROM f CROSS JOIN bounds),
           | bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
           | r AS (SELECT b.bin, coalesce(x.n, 0) AS n_ref FROM bins b
           |       LEFT JOIN (SELECT bin, CAST(count(*) AS BIGINT) AS n
           |                  FROM binned WHERE is_ref GROUP BY 1) x USING (bin)),
           | tr AS (SELECT sum(n_ref) AS t_ref FROM r)""".stripMargin
      val blocks = (0 until 4).map { t =>
        s""" c$t AS (SELECT b.bin, coalesce(x.n, 0) AS n_cur FROM bins b
           |   LEFT JOIN (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM binned
           |              WHERE NOT is_ref AND (doc_id // 4) % 4 <= $t
           |              GROUP BY 1) x USING (bin)),
           | t$t AS (SELECT sum(n_cur) AS t_cur FROM c$t),
           | o$t AS (SELECT $t AS batch, r.bin, r.n_ref, c.n_cur,
           |   CAST(round((
           |     (c.n_cur + 1)::DOUBLE / (t.t_cur + 10) -
           |     (r.n_ref + 1)::DOUBLE / (tr.t_ref + 10)) *
           |     ln(((c.n_cur + 1)::DOUBLE / (t.t_cur + 10)) /
           |        ((r.n_ref + 1)::DOUBLE / (tr.t_ref + 10))) * 1e6) AS BIGINT)
           |     AS psi_micro
           |  FROM c$t c JOIN r USING (bin) CROSS JOIN t$t t CROSS JOIN tr)""".stripMargin
      }
      val union = (0 until 4).map(t => s"SELECT * FROM o$t").mkString(" UNION ALL ")
      s"""$common,
         |${blocks.mkString(",\n")}
         |SELECT CAST(batch AS BIGINT) AS batch, CAST(bin AS BIGINT) AS bin,
         |  n_ref, n_cur, psi_micro
         |FROM ($union) ORDER BY batch, bin""".stripMargin
    },
    "st_ann_upsert" -> {
      val (plantN, upsertOffset, _, _, kNeighbors) = graft.llm.Similarity.upsertConsts
      s"""WITH p AS (SELECT qid, cid FROM read_parquet('/tmp/graft_fixtures/stannup_cands/*.parquet')),
         | base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | batch AS (SELECT vec_id + $upsertOffset AS vec_id,
         |             list_transform(v, x -> x * 2.0) AS v
         |           FROM base WHERE vec_id < $plantN),
         | e AS (SELECT * FROM base UNION ALL SELECT * FROM batch),
         | sims AS (
         |  SELECT p.qid, p.cid,
         |   list_dot_product(q.v, c.v)
         |     / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
         |  FROM p JOIN e q ON q.vec_id = p.qid JOIN e c ON c.vec_id = p.cid),
         | ranked AS (
         |  SELECT qid, cid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
         |  FROM sims)
         |SELECT qid, rk, cid, round(sim, 4) AS sim FROM ranked WHERE rk <= $kNeighbors
         |ORDER BY qid, rk""".stripMargin
    },
    // the ann_nsw_upsert batch-derivation twin over the streamed
    // gate's own fixture (scoring + ranking hash-gated; the streamed-
    // equals-one-shot graph claim is StNswUpsertSpec's)
    "st_nsw_upsert" -> {
      val (plantN, upsertOffset, _, _, kNeighbors) = graft.llm.Similarity.upsertConsts
      s"""WITH p AS (SELECT qid, cid FROM read_parquet('/tmp/graft_fixtures/stnswup_cands/*.parquet')),
         | base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | batch AS (SELECT vec_id + $upsertOffset AS vec_id,
         |             list_transform(v, x -> x * 2.0) AS v
         |           FROM base WHERE vec_id < $plantN),
         | e AS (SELECT * FROM base UNION ALL SELECT * FROM batch),
         | sims AS (
         |  SELECT p.qid, p.cid,
         |   list_dot_product(q.v, c.v)
         |     / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
         |  FROM p JOIN e q ON q.vec_id = p.qid JOIN e c ON c.vec_id = p.cid),
         | ranked AS (
         |  SELECT qid, cid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
         |  FROM sims)
         |SELECT qid, rk, cid, round(sim, 4) AS sim FROM ranked WHERE rk <= $kNeighbors
         |ORDER BY qid, rk""".stripMargin
    },
    // the ann_nsw_lifecycle twin over the CDC gate's own fixture: live
    // vectors = corpus ∪ ×2 batch, tombstoned cids excluded by the ONE
    // predicate — a dead id surviving the sweep (or a swept-away live
    // one) breaks the row sets; the streamed-equals-one-shot and
    // storage-shrink claims are StNswCompactSpec's
    "st_nsw_compact" -> {
      val (plantN, upsertOffset, _, _, kNeighbors) = graft.llm.Similarity.upsertConsts
      s"""WITH p AS (SELECT qid, cid FROM read_parquet('/tmp/graft_fixtures/stnswcomp_cands/*.parquet')
         |           WHERE NOT (cid < $plantN AND cid % 3 = 0)),
         | base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | batch AS (SELECT vec_id + $upsertOffset AS vec_id,
         |             list_transform(v, x -> x * 2.0) AS v
         |           FROM base WHERE vec_id < $plantN),
         | e AS (SELECT * FROM base UNION ALL SELECT * FROM batch),
         | sims AS (
         |  SELECT p.qid, p.cid,
         |   list_dot_product(q.v, c.v)
         |     / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
         |  FROM p JOIN e q ON q.vec_id = p.qid JOIN e c ON c.vec_id = p.cid),
         | ranked AS (
         |  SELECT qid, cid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
         |  FROM sims)
         |SELECT qid, rk, cid, round(sim, 4) AS sim FROM ranked WHERE rk <= $kNeighbors
         |ORDER BY qid, rk""".stripMargin
    },
    "st_enrich" ->
      """SELECT user_id, ts, event_type, value,
        | CASE event_type WHEN 'click' THEN 9.5 WHEN 'view' THEN 7.0
        |   WHEN 'purchase' THEN 11.0 WHEN 'signup' THEN 8.5 END AS v_max,
        | CASE event_type WHEN 'click' THEN 2.0 WHEN 'view' THEN 1.5
        |   WHEN 'purchase' THEN 3.0 WHEN 'signup' THEN 2.5 END AS a_max
        |FROM events""".stripMargin,
    // identical relation to st_enrich — only the SOURCE differs (file
    // stream vs MemoryStream), which is exactly what the twin pins
    "st_enrich_file" ->
      """SELECT user_id, ts, event_type, value,
        | CASE event_type WHEN 'click' THEN 9.5 WHEN 'view' THEN 7.0
        |   WHEN 'purchase' THEN 11.0 WHEN 'signup' THEN 8.5 END AS v_max,
        | CASE event_type WHEN 'click' THEN 2.0 WHEN 'view' THEN 1.5
        |   WHEN 'purchase' THEN 3.0 WHEN 'signup' THEN 2.5 END AS a_max
        |FROM events""".stripMargin,
    "st_anomaly" -> graft.ops.Events.oracle("w15_anomaly"),
    "st_sessions" -> graft.ops.Events.oracle("w8_sessions"),
    // the file-source twin computes the identical session relation —
    // only the source differs (landing dir vs MemoryStream)
    "st_sessions_file" -> graft.ops.Events.oracle("w8_sessions"),
    "st_asof" -> graft.ops.Relational.oracle("j7_asof"),
    "st_scd2" -> graft.ops.Events.oracle("w12_scd2"),
    // batch leg + stream leg must reassemble the full hourly table —
    // the oracle is st_windowed's twin verbatim
    "st_handoff" ->
      """SELECT date_trunc('hour', ts) AS win_start, event_type,
        | count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "st_windowed" ->
      """SELECT date_trunc('hour', ts) AS win_start, event_type,
        | count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // each event expanded into its two covering hourly-aligned window
    // starts, then the same quantized-integer aggregation
    "st_sliding" ->
      """WITH w AS (SELECT event_type, value, date_trunc('hour', ts) AS h FROM events),
        | x AS (SELECT event_type, value, h AS win_start FROM w
        |       UNION ALL
        |       SELECT event_type, value, h - INTERVAL 1 HOUR FROM w)
        |SELECT win_start, event_type, count(*) AS n,
        | round(sum(CAST(floor(value * 1000000) AS BIGINT)) / 1000000.0, 4) AS total_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the file-source twin computes the identical sliding relation —
    // only the source differs (landing dir vs MemoryStream)
    "st_sliding_file" ->
      """WITH w AS (SELECT event_type, value, date_trunc('hour', ts) AS h FROM events),
        | x AS (SELECT event_type, value, h AS win_start FROM w
        |       UNION ALL
        |       SELECT event_type, value, h - INTERVAL 1 HOUR FROM w)
        |SELECT win_start, event_type, count(*) AS n,
        | round(sum(CAST(floor(value * 1000000) AS BIGINT)) / 1000000.0, 4) AS total_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the planted re-delivery must vanish: output == the plain table
    "st_dedup" ->
      "SELECT event_id, user_id, ts, event_type, value FROM events",
    // same relation — the re-delivery arrives as a late FILE instead
    // of a MemoryStream batch
    "st_dedup_file" ->
      "SELECT event_id, user_id, ts, event_type, value FROM events",
    // the replayed batch must overwrite, not append: output == the table
    "st_sink" ->
      "SELECT event_id, user_id, ts, event_type, value FROM events",
    // restart from checkpoint must deliver exactly the backlog
    "st_restart" ->
      "SELECT event_id, user_id, ts, event_type, value FROM events",
    "st_interval" ->
      """SELECT c.event_id AS c_id, v.user_id, c.ts AS c_ts,
        | v.event_id AS v_id, v.ts AS v_ts
        |FROM events v JOIN events c
        |  ON v.user_id = c.user_id
        | AND v.event_type = 'view' AND c.event_type = 'click'
        | AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 10 MINUTE""".stripMargin,
    // every click survives; unmatched ones null-extended — the batch
    // LEFT JOIN the deferred-null streaming semantics must land on
    "st_leftouter" ->
      """SELECT c.event_id AS c_id, c.user_id, c.ts AS c_ts,
        | v.event_id AS v_id, v.ts AS v_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON v.user_id = c.user_id
        | AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 10 MINUTE""".stripMargin)
}
