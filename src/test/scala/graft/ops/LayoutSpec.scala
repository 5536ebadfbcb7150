package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Z-order layout: the Morton interleave must be bit-exact, the
  * clustered copy must be a row-for-row permutation of the source,
  * and — the point of the curve — every written file must cover a
  * narrow range of BOTH clustered dimensions at once (a single-key
  * sort can only ever localize one). */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("interleave is the bit-exact Morton curve") {
    import spark.implicits._
    // (x, y, expected z) with bit b of dim i at position b*2+i:
    // x=3,y=1 -> x0@0, y0@1, x1@2 -> 0b0111 = 7
    // x=0,y=2 -> y1@3 -> 8 ; x=0xFFFF,y=0 -> even bits set
    val cases = Seq((3L, 1L, 7L), (0L, 2L, 8L), (1L, 1L, 3L),
      (0xFFFFL, 0L, 0x55555555L), (0L, 0xFFFFL, 0xAAAAAAAAL),
      (0xFFFFL, 0xFFFFL, 0xFFFFFFFFL))
    val got = cases.toDF("x", "y", "want")
      .select(Layout.interleave(Seq(col("x"), col("y"))).as("z"), col("want"))
      .collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("budgeted interleave: equal budgets reproduce Morton; surplus bits top out") {
    import spark.implicits._
    // budgets (2,1), MSB-aligned: coarse level 0 places y0@2, x1@1;
    // x's surplus LOW bit lands at 0 — so (x,y) z = 4*y0 + 2*x1 + x0
    val cases = Seq((3L, 1L, 7L), (2L, 1L, 6L), (3L, 0L, 3L), (1L, 1L, 5L))
    val got = cases.toDF("x", "y", "want")
      .select(Layout.interleaveBudgeted(
        Seq(col("x") -> 2, col("y") -> 1)).as("z"), col("want"))
      .collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // equal budgets == the classic curve the 2-dim spec pins
    val eq = Seq((0xFFFFL, 0L), (0L, 0xFFFFL), (0xABCDL, 0x1234L))
      .toDF("x", "y")
      .select(Layout.interleave(Seq(col("x"), col("y"))).as("a"),
        Layout.interleaveBudgeted(
          Seq(col("x") -> 16, col("y") -> 16)).as("b"))
      .collect()
    eq.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("quantize maps bounds to [0, 65535] and degenerate spans to 0") {
    import spark.implicits._
    val r = Seq((0L, 0L, 100L), (100L, 0L, 100L), (50L, 0L, 100L),
      (7L, 7L, 7L))
      .toDF("v", "mn", "mx")
      .select(Layout.quantize(col("v"), col("mn"), col("mx")).as("q"))
      .collect().map(_.getLong(0))
    assert(r(0) == 0L && r(1) == 65535L && r(3) == 0L)
    assert(r(2) == 32767L) // floor(0.5 * 65535)
  }

  test("z-ordered copy is a permutation of the source, localized in BOTH dims") {
    val src = graft.io.Sources.table(spark, "/root/testdata/sf0.01", "events")
    val out = TestSpark.tempDir("graft_zo").toString +
      "/events.parquet"
    Layout.zorderWrite(src, Seq("user_id", "ts"), out, 8)
    val copy = spark.read.parquet(out)

    // identity: same multiset of rows (counts + key-sum fingerprints)
    assert(copy.count() == src.count())
    val fp = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(sum(col("event_id")), sum(col("user_id")),
        sum(unix_timestamp(col("ts")))).collect()(0).toSeq
    assert(fp(copy) == fp(src))

    // locality: most files span well under the global range in BOTH
    // user_id and time — impossible for any single-key sort layout
    val glob = src.agg(
      (max("user_id") - min("user_id")).cast("double").as("us"),
      (max(unix_timestamp(col("ts"))) - min(unix_timestamp(col("ts"))))
        .cast("double").as("ts")).collect()(0)
    val perFile = copy
      .groupBy(input_file_name().as("f"))
      .agg((max("user_id") - min("user_id")).cast("double").as("us"),
        (max(unix_timestamp(col("ts"))) - min(unix_timestamp(col("ts"))))
          .cast("double").as("ts"))
      .collect()
    assert(perFile.length >= 6, s"expected ~8 files, got ${perFile.length}")
    val localized = perFile.count(r =>
      r.getAs[Double]("us") <= 0.7 * glob.getAs[Double]("us") &&
        r.getAs[Double]("ts") <= 0.7 * glob.getAs[Double]("ts"))
    assert(localized >= perFile.length - 2,
      s"only $localized/${perFile.length} files localized in both dims: " +
        perFile.map(r => (r.getAs[Double]("us"), r.getAs[Double]("ts")))
          .mkString(", "))
  }

  test("3-dim budgeted layout localizes every clustered dimension at once") {
    val src = graft.io.Sources.table(spark, "/root/testdata/sf0.01", "events")
    val out = TestSpark.tempDir("graft_zo3").toString +
      "/events.parquet"
    Layout.zorderWriteBudgeted(src,
      Seq("user_id" -> 16, "ts" -> 24, "event_id" -> 16), out, 8)
    val copy = spark.read.parquet(out)
    assert(copy.count() == src.count())
    val glob = src.agg(
      (max("user_id") - min("user_id")).cast("double").as("us"),
      (max(unix_timestamp(col("ts"))) - min(unix_timestamp(col("ts"))))
        .cast("double").as("ts"),
      (max("event_id") - min("event_id")).cast("double").as("ev")).collect()(0)
    val perFile = copy
      .groupBy(input_file_name().as("f"))
      .agg((max("user_id") - min("user_id")).cast("double").as("us"),
        (max(unix_timestamp(col("ts"))) - min(unix_timestamp(col("ts"))))
          .cast("double").as("ts"),
        (max("event_id") - min("event_id")).cast("double").as("ev"))
      .collect()
    assert(perFile.length >= 6, s"expected ~8 files, got ${perFile.length}")
    // three dims share the z-value, so per-dim locality is looser than
    // the 2-dim layout's — but every file must still span well under
    // the global range in ALL THREE dims simultaneously, which no
    // single- or double-key sort can do
    val localized = perFile.count(r =>
      r.getAs[Double]("us") <= 0.8 * glob.getAs[Double]("us") &&
        r.getAs[Double]("ts") <= 0.8 * glob.getAs[Double]("ts") &&
        r.getAs[Double]("ev") <= 0.8 * glob.getAs[Double]("ev"))
    assert(localized >= perFile.length - 2,
      s"only $localized/${perFile.length} files localized in all 3 dims: " +
        perFile.map(r => (r.getAs[Double]("us"), r.getAs[Double]("ts"),
          r.getAs[Double]("ev"))).mkString(", "))
  }

  test("fs_compact collapses the 64-shard ingest into few size-targeted files") {
    val sf = "/root/testdata/sf0.001"
    Layout.queries("fs_compact")(spark, sf).collect() // runs the rewrite
    def files(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.length() > 0)
    // mirror the query's collision-free keying (sanitized + path hash,
    // pid-scoped root — the ADVICE r7 working-dir fix)
    val key = sf.replaceAll("[^A-Za-z0-9._-]", "_") +
      f"_${sf.hashCode & 0x7fffffff}%08x"
    val root = s"/tmp/graft_compact/pid_${ProcessHandle.current().pid()}/$key"
    val frag = files(s"$root/events_fragmented.parquet")
    val comp = files(s"$root/events_compacted.parquet")
    assert(frag.length == 64, s"expected 64 shards, got ${frag.length}")
    // bin-packing by total/target: far fewer files out than in, and no
    // output file exceeds the 512 KiB target by more than the packer's
    // one-file overshoot
    assert(comp.length < frag.length / 4,
      s"compaction left ${comp.length} of ${frag.length} files")
    val target = 512L * 1024
    comp.foreach(f => assert(f.length() <= target * 3 / 2,
      s"${f.getName} is ${f.length()} B, target $target"))
    // row-count preservation (the full-fidelity hash gate runs in
    // CORRECTNESS; this is the fast structural half)
    val n = spark.read.parquet(s"$root/events_compacted.parquet").count()
    assert(n == graft.io.Sources.table(spark, sf, "events").count())
  }
}
