package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.PlanNodes.nodes
import graft.TestSpark

/** pr_pagerank_bucketed plan gate (VERDICT r10 next §3): the rank⋈edges
  * join must read the bucketed edge table WITHOUT a shuffle on the
  * edge side — the whole point of paying the bucketed write once is
  * that the per-round Exchange+Sort of the (big) edge relation
  * disappears. Asserted on the EXECUTED (AQE-final) plan, the
  * Round9PlanSpec discipline. */
class PagerankBucketedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("bucketed edge scans plan with no Exchange above them; results bit-match the plain variant") {
    Graph.ensurePrEdgesBucketed(spark, sf)
    // disable broadcast: at sf0.001 AQE would broadcast the tiny rank
    // side and hide the property under test — at crawl-graph scale the
    // rank relation is |V|-sized and broadcast is off the table, so the
    // SMJ shape below is the shape that matters
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = Graph.queries("pr_pagerank_bucketed")(spark, sf)
      val rows = out.collect()
      val all = nodes(out.queryExecution.executedPlan)
      val bucketScans = all.collect {
        case s: FileSourceScanExec if s.relation.bucketSpec.isDefined => s
      }
      // the five per-round edge reads all consume the bucketed layout
      assert(bucketScans.size == 5,
        s"expected one bucketed scan per PageRank round, got ${bucketScans.size}")
      // no Exchange RE-SHUFFLES a bucketed scan: walking down from each
      // exchange through unary ops (Sort/Project/Filter), reaching the
      // bucketed scan would mean the layout was paid for at write time
      // and then shuffled anyway. (Exchanges above a JOIN of the scan —
      // the final orderBy, the contrib groupBy — are the query's own.)
      def feedsFromBucketScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p match {
          case s: FileSourceScanExec => s.relation.bucketSpec.isDefined
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            feedsFromBucketScan(q.plan)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
            feedsFromBucketScan(r.child)
          case _: ShuffleExchangeLike => false
          case u if u.children.size == 1 => feedsFromBucketScan(u.children.head)
          case _ => false
        }
      val reshuffled = all.collect {
        case e: ShuffleExchangeLike if feedsFromBucketScan(e.child) => e
      }
      assert(reshuffled.isEmpty,
        s"bucketed edge scan re-shuffled by: ${reshuffled.mkString("; ")}")
      // the structural win vs the plain variant: the plain plan MUST
      // shuffle the edge relation (AQE's ReuseExchange collapses the
      // five per-round edge shuffles into one reused exchange WITHIN
      // the query — but that one shuffle is still paid per query, and
      // its output pins executor memory for the query's lifetime); the
      // bucketed plan pays zero edge shuffles, per query, forever.
      // Count DISTINCT exchanges (reuse walks revisit the original).
      val plainOut = Graph.queries("pr_pagerank")(spark, sf)
      val plainRows = plainOut.collect()
      def distinctExchanges(p: org.apache.spark.sql.execution.SparkPlan): Int =
        nodes(p).collect { case e: ShuffleExchangeLike => e.id }.distinct.size
      val nb = distinctExchanges(out.queryExecution.executedPlan)
      val np = distinctExchanges(plainOut.queryExecution.executedPlan)
      info(s"distinct shuffle exchanges: bucketed=$nb plain=$np")
      assert(nb < np,
        s"bucketed plan must shuffle strictly less: bucketed=$nb plain=$np")
      // identical output: physical layout only, never the relation
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        plainRows.map(r => (r.getLong(0), r.getLong(1))).toSeq,
        "bucketed variant must be bit-identical to pr_pagerank")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
