package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The loops' round shapes: every round of `pr_pagerank_conv` is one
  * query execution of at most two jobs (the contribs shuffle-map stage
  * and the checkpoint), every EM round of `tok_unigram_train` at most
  * two jobs (the piece-count shuffle-map stage and its collect), and
  * every round of `bpe_train` and `wp_train` two query executions (the
  * top-k collect and the sequences' checkpoint), whose jobs are the
  * shuffle-map stages AQE runs one job each. Jobs are attributed to
  * rounds by the [[Fixpoint.RoundProperty]] local property they carry. */
class LoopJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Per round of `label`, the SQL execution id of each job the round
    * submitted while `body` ran. */
  private def roundJobs[T](label: String)(body: => T): (T, Map[Int, Seq[String]]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val marker = s"loop-jobs-spec-${System.nanoTime()}"
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("spark.job.description") == marker)) markerSeen.countDown()
        p.flatMap(x => Option(x.getProperty(Fixpoint.RoundProperty)))
          .filter(_.startsWith(s"$label#"))
          .foreach(t => seen.add((t.stripPrefix(s"$label#").toInt,
            p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).getOrElse("none"))))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      // listener events arrive in order: once the marker job's start is
      // seen, every job the body submitted has been seen
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq.groupMap(_._1)(_._2))
    } finally sc.removeSparkListener(listener)
  }

  test("pr_pagerank_conv: each round is one query execution of at most 2 jobs") {
    val (rows, jobs) = roundJobs("pr_pagerank_conv")(
      SparkEntry.queries("pr_pagerank_conv")(spark, sf).collect())
    val rounds = rows.head.getAs[Long]("rounds").toInt
    assert(rounds > 1)
    assert(jobs.keySet == (1 to rounds).toSet, jobs)
    jobs.foreach { case (r, ex) =>
      assert(ex.distinct.size == 1 && ex.head != "none", s"round $r ran executions $ex")
      assert(ex.size <= 2, s"round $r ran ${ex.size} jobs")
    }
  }

  /** Every round of `query` (the documents corpus runs all 10)
    * is two query executions of at most `maxJobs` jobs. */
  private def mergeRounds(query: String, maxJobs: Int): Unit = {
    val (_, jobs) = roundJobs(query)(SparkEntry.queries(query)(spark, sf).collect())
    assert(jobs.keySet == (1 to 10).toSet, jobs)
    jobs.foreach { case (r, ex) =>
      assert(ex.distinct.size == 2 && !ex.contains("none"), s"round $r ran executions $ex")
      assert(ex.size <= maxJobs, s"round $r ran ${ex.size} jobs")
    }
  }

  test("bpe_train: each round is 2 query executions of at most 5 jobs") {
    mergeRounds("bpe_train", 5)
  }

  test("wp_train: each round is 2 query executions of at most 7 jobs") {
    mergeRounds("wp_train", 7)
  }

  test("tok_unigram_train: each EM round runs at most 2 jobs") {
    val (_, jobs) = roundJobs("tok_unigram_train")(
      SparkEntry.queries("tok_unigram_train")(spark, sf).collect())
    assert(jobs.keySet == Set(1, 2), jobs)
    jobs.foreach { case (r, ex) => assert(ex.size <= 2, s"round $r ran ${ex.size} jobs") }
  }
}
