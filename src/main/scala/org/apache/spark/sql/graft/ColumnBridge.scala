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
    * The declared partitioning is correct BY CONSTRUCTION:
    * `repartition(numParts, col)` is a REPARTITION_BY_NUM shuffle,
    * which AQE never coalesces, so the physical layout is precisely
    * `HashPartitioning(key, numParts)` over the same attribute the
    * declaration references. Rows are copied out of the unsafe-row
    * reuse buffer and persisted eagerly (the localCheckpoint
    * discipline); [[releaseCheckpoint]] frees them. */
  def partitionedCheckpoint(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame, key: String,
      numParts: Int): org.apache.spark.sql.DataFrame = {
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
    val rep = df.repartition(numParts, ColumnBridge.column(keyAttr))
    val qe = rep.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val rdd = qe.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.count() // eager materialization; also truncates lineage reuse
    val part = org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
      Seq(keyAttr), numParts)
    org.apache.spark.sql.classic.Dataset.ofRows(cls,
      org.apache.spark.sql.execution.LogicalRDD(
        qe.analyzed.output, rdd, part, Nil, false, None)(cls, None, None))
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
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
        case _ =>
      }
}
