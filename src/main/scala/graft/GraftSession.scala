package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The engine's one session builder: every graft main (Bench, Verify,
  * the `tools` CLIs) and the test harness run under exactly this
  * config, so the plans the specs pin, the plans the bench times and
  * the plans the CLIs execute are the same plans.
  *
  * The core count is `SPARK_GRAFT_CPUS`, or the host's processor count
  * when that is unset; the master is `local[cpus]` unless `spark.master`
  * is already set (spark-submit's `--master`), and the shuffle
  * partition count is the core count either way. Sessions graft does
  * not build itself get the functions through `spark.sql.extensions`
  * (see [[GraftExtensions]]) or the runtime `TextHashes.register`.
  */
object GraftSession {
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val b = SparkSession.builder()
    // SparkConf reads the spark.* system properties spark-submit sets
    if (!new SparkConf().contains("spark.master")) b.master(s"local[$cpus]")
    val spark = b
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // shuffle dirs on tmpfs: the virtual disk's page-cache variance
      // made shuffle-heavy queries swing 3-10x run to run
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the generated-class cache defaults to 100 entries; a 255-query
      // suite generates far more codegen units than that between a
      // query's pass-1 and pass-2 executions, so BOTH timed runs can
      // re-pay janino compilation (the dd_lines_hashed r14 artifact
      // outlier: 16.95 s vs a 1.41-1.66 s band — cold-vs-steady
      // measured 7.67 vs 1.49 s, i.e. a ~6 s compile tail per evicted
      // execution). Size the cache to hold the whole suite.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // let AQE apply its data-size-adaptive partition coalescing UNDER
      // cached plans too (Spark defaults this off): the dedup-LSH
      // family persists signature/band relations, and with the flag off
      // every stage over the cached data is pinned to the full shuffle
      // partition count regardless of size — measured at sf0.1/32
      // cores: dd_minhash 3.09→1.65 s, dd_oph 1.61→1.00, dd_ppjoin
      // _capped 2.45→1.73, dd_cluster_lsh 3.48→2.68, dd_embcos
      // 1.64→1.24, dq_tcloseness 0.89→0.70, and the 8-vs-32-core
      // inversion those queries showed disappears (OPTIMIZATION_r19.md).
      // Scale-adaptive by construction — AQE sizes partitions from
      // bytes, not from the local core count. Row content is
      // partitioning-independent everywhere (the hash gate pins it).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
