package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 moved the Column internals
  * behind `private[sql]` (columns now wrap ColumnNodes); building a
  * Column from a custom Catalyst Expression goes through
  * `classic.ExpressionUtils`, which is only visible from inside the
  * `org.apache.spark.sql` package tree — hence this one-file shim
  * (the established extension-library pattern for Spark 4). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** LogicalPlan → DataFrame bridge for custom whole-operator nodes
  * (same rationale as [[ColumnBridge]]: `Dataset.ofRows` lives behind
  * `private[sql]` in the classic implementation). */
object PlanBridge {
  def dataset(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Materialize `df` hash-partitioned by `key` into EXACTLY `numParts`
    * partitions and wrap the stored rows in a LogicalRDD that DECLARES
    * that layout — a checkpoint whose partitioning downstream planning
    * can trust. Exists because neither alternative keeps the layout
    * visible (r19, measured in the LPA loops): `persist()` hides it
    * once AQE may re-partition cached plans
    * (`canChangeCachedPlanOutputPartitioning=true`, the engine's
    * config), and `localCheckpoint()` under AQE degrades to
    * `UnknownPartitioning` (the adaptive plan's partitioning does not
    * survive `LogicalRDD.fromDataset`'s rewrite) — so every consumer
    * re-exchanged rows that were already exactly where they belong.
    *
    * The rows are `df.repartition(numParts, key).localCheckpoint()`:
    * ONE eager action (a shuffle-map job and the checkpoint job in one
    * query execution). `repartition(n, col)` is a REPARTITION_BY_NUM
    * shuffle, which AQE never coalesces; when `df` already has the
    * layout — a round that reads an earlier checkpoint of this kind
    * and keeps its key — `EnsureRequirements` drops the shuffle and
    * the checkpoint runs exchange-free. Either way the layout is
    * declared only after the executed plan's output partitioning is
    * checked to BE `HashPartitioning(key, numParts)` over the same
    * attribute; anything else throws, so a declared layout can never
    * make a consumer skip an exchange it needs.
    *
    * `observe`, when given, attaches observed metrics (aggregate
    * columns over `df`'s rows) to that same action: the `Observation`
    * is filled by the checkpoint's own execution, so a loop reads its
    * convergence scalar without a second query. The checkpoint is
    * freed by [[releaseCheckpoint]]. */
  def partitionedCheckpoint(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame, key: String, numParts: Int,
      observe: Option[(org.apache.spark.sql.Observation, Seq[Column])] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning,
      PartitioningCollection}
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // The declared layout must name the very attribute the rows were
    // hashed by: with two output columns matching `key`, a by-name pick
    // could declare the other one, and a consumer would skip an exchange
    // it needs — a wrong answer with no error.
    val resolver = cls.sessionState.conf.resolver
    val matches = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.output.filter(a => resolver(a.name, key))
    if (matches.size != 1) throw new IllegalArgumentException(
      s"partitionedCheckpoint: key column '$key' matches ${matches.size} output " +
        "attributes; it must match exactly one")
    val keyAttr = matches.head
    val observed = observe.fold(df) { case (obs, m) => df.observe(obs, m.head, m.tail: _*) }
    val rep = observed.repartition(numParts, ColumnBridge.column(keyAttr))
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val rdd = rep.localCheckpoint().queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.get
    val part = HashPartitioning(Seq(keyAttr), numParts)
    def laidOut(p: Partitioning): Boolean = p match {
      case h: HashPartitioning => h.semanticEquals(part)
      case c: PartitioningCollection => c.partitionings.exists(laidOut)
      case _ => false
    }
    val ran = rep.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    if (!laidOut(ran.outputPartitioning) || rdd.getNumPartitions != numParts) {
      release(rdd)
      throw new IllegalStateException(
        s"partitionedCheckpoint: the executed plan is laid out as ${ran.outputPartitioning} " +
          s"over ${rdd.getNumPartitions} partitions, not $part")
    }
    org.apache.spark.sql.classic.Dataset.ofRows(cls,
      org.apache.spark.sql.execution.LogicalRDD(
        rep.queryExecution.analyzed.output, rdd, part, Nil, false, None)(cls, None, None))
  }

  /** Frees the rows a checkpointed frame stores (`localCheckpoint`,
    * [[partitionedCheckpoint]]): unpersists the RDD under each
    * LogicalRDD of its plan. `Dataset.unpersist` does not — a
    * checkpoint is not a CacheManager entry. The frame, and any frame
    * derived from it that has not been checkpointed itself, must not
    * be evaluated afterwards. */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.logical
      .foreach {
        case r: org.apache.spark.sql.execution.LogicalRDD => release(r.rdd)
        case _ =>
      }

  /** The post-query release: drops every cached Dataset and every
    * persisted RDD of the session, checkpoints included. Every frame
    * built before the call must not be evaluated afterwards. */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(release)
  }

  /** Unpersist one RDD. A local checkpoint goes straight to the
    * context: `RDD.unpersist` would log a WARN that its truncated
    * lineage cannot be recomputed, once per checkpoint, which is the
    * point of releasing it. A plain persisted RDD goes through
    * `RDD.unpersist`, which also resets its storage level. */
  private def release(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    if (rdd.checkpointData.exists(_.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]))
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    else rdd.unpersist(blocking = false)
}
