package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Attribute, GreaterThanOrEqual, Literal}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{Exchange, REPARTITION_BY_NUM,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite
import graft.PlanNodes.nodes
import graft.TestSpark

/** dd_ppjoin (prefix-filtered exact set-similarity join): the prefix +
  * position filters must be LOSSLESS — the emitted pair set equals the
  * brute-force all-pairs jaccard ≥ 0.9 set — while actually pruning the
  * candidate space the verify join pays for. */
class PpjoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("emitted pairs equal the brute-force jaccard >= 0.9 truth set") {
    val got = Dedup.queries("dd_ppjoin")(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got.nonEmpty, "gate cannot fail on an empty result (r3 lesson)")
    // brute force: unfiltered quadratic over the 500-doc corpus, same
    // distinct-token metric, same unrounded >= 0.9 threshold
    val t = graft.io.Sources.table(spark, sf, "documents")
      .select(col("doc_id"),
        array_sort(transform(array_distinct(split(col("text"), " ")),
          x => xxhash64(x))).as("tk"))
    val inter = graft.functions.ArrayFns
      .sortedLongIntersectCount(col("tk_a"), col("tk_b")).cast("double")
    val truth = t.select(col("doc_id").as("doc_a"), col("tk").as("tk_a"))
      .crossJoin(t.select(col("doc_id").as("doc_b"), col("tk").as("tk_b")))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("jac", inter / (size(col("tk_a")) + size(col("tk_b")) - inter))
      .filter(col("jac") >= 0.9)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got == truth,
      s"prefix filter lost or invented pairs: missing=${(truth -- got).take(5)} " +
        s"extra=${(got -- truth).take(5)}")
  }

  test("the candidate set prunes the quadratic space and covers the truth set") {
    val t = graft.io.Sources.table(spark, sf, "documents")
      .select(col("doc_id"),
        array_sort(transform(array_distinct(split(col("text"), " ")),
          x => xxhash64(x))).as("tk"))
      .withColumn("sz", size(col("tk")))
    val n = t.count()
    val cands = Dedup.ppjoinCandidates(t).count()
    val emitted = Dedup.queries("dd_ppjoin")(spark, sf).count()
    assert(cands < n * (n - 1) / 2,
      s"prefix filter pruned nothing: $cands candidates for $n docs")
    assert(cands >= emitted,
      s"candidate set smaller than the emitted set: $cands < $emitted")
  }

  test("plan shape: no cartesian; exchange-free candidate self-join; only the " +
    "pair-id rebalance before the threshold") {
    // the scale claims the operator doc makes, pinned against the real
    // plan (the SubstrPlanSpec discipline). On a match-SATURATED corpus
    // the OUTPUT is Ω(n²) — a runnable 100× replication probe would
    // measure the output, not the operator — so the probe duty falls on
    // the plan shape: candidates only ever meet through the prefix-token
    // join, that join reads the tok-partitioned checkpoint without
    // re-exchanging it, and the match stream crosses exactly one shuffle
    // (the REPARTITION_BY_NUM rebalance of 16-byte id pairs) before the
    // exact threshold cuts it.
    val df = Dedup.queries("dd_ppjoin")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val all = nodes(df.queryExecution.executedPlan)
    assert(!p.contains("CartesianProduct"), s"dd_ppjoin plans a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"dd_ppjoin plans a nested-loop join:\n$p")
    // both verify joins build broadcast maps of the table side; the match
    // stream itself reaches the intersect map-side
    assert(all.count(_.isInstanceOf[BroadcastHashJoinExec]) == 2,
      s"expected the two verify joins to broadcast the table side:\n$p")
    // the candidate self-join: the one sort-merge join, keyed on tok,
    // with no Exchange of any kind under either side
    val smjs = all.collect { case j: SortMergeJoinExec => j }
    assert(smjs.size == 1, s"expected exactly one sort-merge join (the self-join):\n$p")
    val self = smjs.head
    assert(self.leftKeys.collect { case a: Attribute => a.name } == Seq("tok") &&
      self.rightKeys.collect { case a: Attribute => a.name } == Seq("tok"),
      s"the sort-merge join is not the tok self-join:\n$p")
    Seq(self.left, self.right).foreach { side =>
      assert(!nodes(side).exists(_.isInstanceOf[Exchange]),
        s"the self-join re-exchanges its tok-partitioned input:\n$p")
    }
    // the threshold (jac >= 0.9, pushed into whichever operator applies
    // it) and every shuffle between it and the self-join
    def isThreshold(n: SparkPlan) = n.expressions.exists(_.find {
      case GreaterThanOrEqual(_, Literal(v: Double, _)) => v == 0.9
      case _ => false
    }.isDefined)
    val thresholds = all.filter(n => isThreshold(n) && nodes(n).contains(self))
    assert(thresholds.nonEmpty, s"no threshold operator above the self-join:\n$p")
    val before = thresholds.flatMap(t => nodes(t).collect {
      case e: ShuffleExchangeLike if nodes(e).contains(self) => e
    }).distinctBy(_.id)
    assert(before.size == 1 && before.head.shuffleOrigin == REPARTITION_BY_NUM,
      s"the only exchange before the threshold must be the pair-id " +
        s"REPARTITION_BY_NUM, got ${before.map(_.shuffleOrigin)}:\n$p")
  }
}
