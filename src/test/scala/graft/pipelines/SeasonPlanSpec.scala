package graft.pipelines

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{AppendColumnsExec, FileSourceScanExec, MapGroupsExec,
  SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import graft.PlanNodes.nodes
import graft.TestSpark

/** The season ops read tracking ONCE: carrier and tackler frames come
  * from one role-tagged join, not from one tracking subtree per role or
  * per self-join. Both ops then exchange those frames once, on the play
  * key, and run one per-play pass in Spark's grouped operator keyed on
  * the play columns: one `MapGroupsExec` grouping on its child's
  * `gameId`/`playId`, behind one sort, with no lambda-keyed grouping
  * (`AppendColumnsExec`); `MaxParams.run` has no window. Asserted on the
  * executed (AQE-final) plan over parquet inputs, so every read of
  * tracking is a file scan that can be counted. */
class SeasonPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val n = 30

  private lazy val dir = {
    val d = TestSpark.tempDir("season_plan").toString
    SyntheticSeason.tracking(spark, n).write.parquet(s"$d/tracking")
    SyntheticSeason.plays(spark, n).write.parquet(s"$d/plays")
    SyntheticSeason.players(spark).write.parquet(s"$d/players")
    SyntheticSeason.tackles(spark, n).write.parquet(s"$d/tackles")
    d
  }
  private def read(t: String) = spark.read.parquet(s"$dir/$t")

  private def isTrackingScan(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.getName == "tracking")
    case _ => false
  }

  /** (final plan nodes, tracking scans, shuffle exchanges above a
    * tracking scan) of one executed op. */
  private def shape(df: DataFrame) = {
    df.collect()
    val all = nodes(df.queryExecution.executedPlan)
    val shuffles = all.collect {
      case e: ShuffleExchangeLike if nodes(e).exists(isTrackingScan) => e
    }.distinctBy(_.id)
    (all, all.count(isTrackingScan), shuffles)
  }

  private def playKeyed(e: ShuffleExchangeLike): Boolean = e.outputPartitioning match {
    case h: HashPartitioning =>
      h.expressions.collect { case a: Attribute => a.name } == Seq("gameId", "playId")
    case _ => false
  }

  /** No lambda-keyed grouping, and exactly one grouped pass: keyed on
    * the `gameId`/`playId` of its child's output, above the play-keyed
    * exchange. */
  private def assertOnePlayGroup(all: Seq[SparkPlan], plan: SparkPlan): Unit = {
    assert(!all.exists(_.isInstanceOf[AppendColumnsExec]),
      s"lambda-keyed grouping (AppendColumns) is back in the plan:\n$plan")
    val groups = all.collect { case m: MapGroupsExec => m }
    assert(groups.size == 1, s"expected exactly one MapGroups, got ${groups.size}:\n$plan")
    val g = groups.head
    val playCols = Seq("gameId", "playId").map(n => g.child.output.find(_.name == n))
    assert(playCols.forall(_.isDefined) &&
      g.groupingAttributes.map(_.exprId) == playCols.flatten.map(_.exprId),
      s"MapGroups groups on ${g.groupingAttributes}, not its child's (gameId, playId):\n$plan")
    assert(nodes(g).exists {
      case e: ShuffleExchangeLike => playKeyed(e)
      case _ => false
    }, s"the MapGroups is not above the (gameId, playId) exchange:\n$plan")
  }

  test("Yap.run scans tracking once and exchanges it once, on (gameId, playId)") {
    val ds = Yap.run(spark, read("tracking"), read("plays"), read("players"), read("tackles"))
    val (all, scans, shuffles) = shape(ds.toDF())
    val plan = ds.queryExecution.executedPlan
    assert(scans == 1, s"expected one tracking scan, got $scans:\n$plan")
    assertOnePlayGroup(all, plan)
    assert(shuffles.size == 1 && playKeyed(shuffles.head),
      s"expected exactly one Exchange on (gameId, playId) above the tracking scan, " +
        s"got ${shuffles.map(_.outputPartitioning)}:\n$plan")
  }

  test("MaxParams.run scans tracking once, behind one (gameId, playId) exchange") {
    val df = MaxParams.run(spark, read("tracking"), read("plays"), read("players"), read("tackles"))
    val (all, scans, shuffles) = shape(df)
    val plan = df.queryExecution.executedPlan
    assert(scans == 1, s"expected one tracking scan, got $scans:\n$plan")
    assert(shuffles.size == 1 && playKeyed(shuffles.head),
      s"expected exactly one Exchange on (gameId, playId) above the tracking scan, " +
        s"got ${shuffles.map(_.outputPartitioning)}:\n$plan")
    assertOnePlayGroup(all, plan)
    assert(!all.exists(_.isInstanceOf[WindowExec]), s"a Window is back in the plan:\n$plan")
    val sorts = all.collect { case s: SortExec => s }
    assert(sorts.size == 1 && nodes(sorts.head).exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"expected exactly one Sort, above the exchange, got ${sorts.size}:\n$plan")
  }
}
