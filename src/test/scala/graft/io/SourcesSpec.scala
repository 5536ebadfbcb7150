package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Readers and sinks driven against real files (ADVICE r1: the readers
  * must be exercised, and CSV columns must bind by header NAME, never
  * by position). */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("csv reader binds by header name even when file column order differs") {
    val dir = TestSpark.tempDir("graft_csv").toFile
    val f = new java.io.File(dir, "players.csv")
    // real-Kaggle-style layout: extra columns, different order than our schema
    val w = new java.io.PrintWriter(f)
    w.println("height,weight,displayName,collegeName,position,nflId")
    w.println("6-2,210,Some Player,State U,CB,42")
    w.println("6-0,190,Other Player,Tech,FS,43")
    w.close()
    val df = Sources.csv(spark, f.getAbsolutePath, Sources.playersSchema)
    val rows = df.orderBy("nflId").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(42L, 43L))
    assert(rows.head.getString(1) == "Some Player") // NOT "6-2"
    assert(rows.head.getString(2) == "CB")
  }

  test("csv reader fails loudly when a schema column is missing from the header") {
    val dir = TestSpark.tempDir("graft_csv2").toFile
    val f = new java.io.File(dir, "bad.csv")
    val w = new java.io.PrintWriter(f)
    w.println("foo,bar")
    w.println("1,2")
    w.close()
    intercept[Exception] {
      Sources.csv(spark, f.getAbsolutePath, Sources.playersSchema).collect()
    }
  }

  test("week-partitioned tracking scan prunes partitions, not rows") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_trk").toFile.getAbsolutePath
    graft.pipelines.DemoPlays.tracking(spark)
      .withColumn("week", (col("playId") % 2 + 1).cast("int"))
      .write.partitionBy("week").mode("overwrite").parquet(dir)
    val pruned = Sources.tracking(spark, dir, weeks = Seq(1))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("week"),
      s"expected a partition filter on week:\n$plan")
    assert(pruned.select("playId").distinct().collect().map(_.getLong(0)).toSet
      .forall(p => p % 2 + 1 == 1))
  }

  test("S3/S4 sinks write once with overwrite semantics (idempotent rerun)") {
    val (tr, pl, py, tk) = (
      graft.pipelines.DemoPlays.tracking(spark), graft.pipelines.DemoPlays.plays(spark),
      graft.pipelines.DemoPlays.players(spark), graft.pipelines.DemoPlays.tackles(spark))
    val (yap, _, _, errs) = graft.pipelines.Yap.sinks(
      graft.pipelines.Yap.run(spark, tr, pl, py, tk))
    val out = TestSpark.tempDir("graft_sink").toFile.getAbsolutePath
    Sinks.writeCsv(yap, s"$out/yap")
    Sinks.writeDeadLetters(errs, s"$out/errors")
    // rerun — the reference's append mode would double the rows here
    Sinks.writeCsv(yap, s"$out/yap")
    val back = spark.read.option("header", "true").csv(s"$out/yap")
    assert(back.count() == yap.count(), "overwrite rerun must not duplicate rows")
    assert(back.columns.contains("YAP"))
    assert(spark.read.option("header", "true").csv(s"$out/errors").count() == errs.count())
  }
}
