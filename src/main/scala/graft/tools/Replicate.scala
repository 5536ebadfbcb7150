package graft.tools

import org.apache.spark.sql.functions.{col, lit}
import graft.GraftSession

/** Builds a `factor`× copy of a testdata directory for scale runs:
  * lineitem, events, documents and embeddings are replicated with
  * id offsets per copy (keys stay unique, schemas unchanged), and the
  * dimension tables are linked, not copied (so only the first
  * lineitem copy joins to orders, as in the older scale rows). Run Bench over the result
  * with `SPARK_GRAFT_SF_DIR=<outDir>` (and `SPARK_GRAFT_ONLY` to pick
  * queries).
  *
  * Usage: runMain graft.tools.Replicate <srcSfDir> <outDir> <factor>
  */
object Replicate {
  // per-copy id offsets: past every id the generator writes at sf0.1
  private val offsets = Seq(
    "lineitem" -> Seq("l_orderkey" -> 10000000L),
    "events" -> Seq("event_id" -> 10000000L, "user_id" -> 1000L),
    "documents" -> Seq("doc_id" -> 1000000L),
    "embeddings" -> Seq("vec_id" -> 1000000L))
  private val dims = Seq("region", "nation", "customer", "supplier", "part", "orders")

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Replicate <srcSfDir> <outDir> <factor>")
    val Array(src, out, f) = args
    val factor = f.toInt
    val spark = GraftSession()
    for ((table, keys) <- offsets) {
      val df = graft.io.Sources.table(spark, src, table)
      (0 until factor).map { i =>
        keys.foldLeft(df) { case (d, (k, step)) => d.withColumn(k, col(k) + lit(i * step)) }
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    for (t <- dims) {
      val link = java.nio.file.Paths.get(s"$out/$t.parquet")
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$src/$t.parquet").toAbsolutePath)
    }
    println(s"[replicate] $src x$factor -> $out")
    spark.stop()
  }
}
