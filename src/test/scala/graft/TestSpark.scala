package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, on the engine's config. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(4)
}
