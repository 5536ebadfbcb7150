package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers for the two table families the engine serves:
  *
  *  - the driver testdata (parquet, `/root/testdata/sf*`/), used by every
  *    `SparkEntry.queries` entry and the bench;
  *  - the NFL Big-Data-Bowl CSV layout the reference consumes
  *    (`/root/reference/optimal_pursuit.py:132-135,149` reads them with
  *    inferred schemas; we always pass an explicit [[StructType]] —
  *    inference is nondeterministic and a full extra scan at 100 TB).
  *
  * All readers return plain DataFrames so Catalyst owns pushdown/pruning:
  * a `table(dir, "lineitem").select(...).filter(...)` plan reaches the
  * parquet scan as `PushedFilters` + a pruned `ReadSchema`.
  */
object Sources {

  /** Testdata table names (TESTDATA.md). */
  val testTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One testdata parquet table. Schema comes from the parquet footer —
    * authoritative and free (no inference scan).
    *
    * `events.parquet` has shipped in two physical layouts across driver
    * generations, and both must read to the SAME TimestampType instants:
    *
    *  - INT64 TIMESTAMP(NANOS), which Spark's parquet reader rejects
    *    outright: read raw (`spark.sql.legacy.parquet.nanosAsLong`) and
    *    rebuild with `timestamp_micros(ts div 1000)`. The nanos are not
    *    micro-aligned; integral `div` TRUNCATES toward the microsecond —
    *    exactly what DuckDB's micros-native TIMESTAMP does on the same
    *    column (both render …07.179575 for raw …575175 ns). The division
    *    must be integral: epoch-nanos ≈ 1.7e18 exceeds a double's 53-bit
    *    mantissa.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4 reads as
    *    TIMESTAMP_NTZ: cast to TimestampType. The session zone is pinned
    *    UTC, so the naive datetime reinterprets as the identical instant
    *    DuckDB's (naive) TIMESTAMP sees — verified micro-for-micro equal
    *    to the truncated-nanos values of the older layout.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Runtime-set defensively: the driver's smoke gate may hand us a
    // session built without these.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw // already TimestampType
      }
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }
  }

  // -------------------------------------------------------------------
  // NFL reference-domain schemas (FIXTURES.md §A). Explicit StructTypes:
  // the engine owns its schemas instead of re-inferring per read the way
  // the reference does (optimal_pursuit.py:132-135).
  // -------------------------------------------------------------------

  val gamesSchema: StructType = StructType(Seq(
    StructField("gameId", LongType),
    StructField("season", IntegerType),
    StructField("week", IntegerType)))

  val playsSchema: StructType = StructType(Seq(
    StructField("gameId", LongType),
    StructField("playId", LongType),
    StructField("ballCarrierId", LongType),
    StructField("yardlineNumber", IntegerType),
    StructField("yardsToGo", IntegerType),
    StructField("yardlineSide", StringType),
    StructField("possessionTeam", StringType),
    StructField("defensiveTeam", StringType),
    StructField("playResult", IntegerType),
    StructField("prePenaltyPlayResult", IntegerType),
    StructField("playNullifiedByPenalty", StringType)))

  val playersSchema: StructType = StructType(Seq(
    StructField("nflId", LongType),
    StructField("displayName", StringType),
    StructField("position", StringType)))

  val tacklesSchema: StructType = StructType(Seq(
    StructField("gameId", LongType),
    StructField("playId", LongType),
    StructField("nflId", LongType)))

  /** 10 Hz tracking rows, key (gameId, playId, nflId, frameId); nflId is
    * null for the football. The reference shards this by week into
    * `tracking_week_{w}.csv` and prunes by building the filename
    * (optimal_pursuit.py:143-149); at scale the equivalent layout is a
    * parquet table partitioned by `week=N/` so Catalyst prunes
    * partitions automatically. */
  val trackingSchema: StructType = StructType(Seq(
    StructField("gameId", LongType),
    StructField("playId", LongType),
    StructField("nflId", LongType),
    StructField("frameId", IntegerType),
    StructField("time", TimestampType),
    StructField("club", StringType),
    StructField("playDirection", StringType),
    StructField("x", DoubleType),
    StructField("y", DoubleType),
    StructField("s", DoubleType),
    StructField("a", DoubleType),
    StructField("dis", DoubleType),
    StructField("o", DoubleType),
    StructField("dir", DoubleType),
    StructField("event", StringType)))

  /** The setting that locates the reference's committed metric outputs. */
  val ReferenceDirSetting = "SPARK_GRAFT_REFERENCE_DIR"

  /** Directory of the reference's committed metric outputs
    * (`tackler_*_FINAL.csv`, the full BDB-2024 season) read by the EP3
    * reports, their DuckDB twins, ReportGoldenSpec and `tools.GoldenDiff`:
    * the [[ReferenceDirSetting]] environment variable, by default
    * `reference/Data` under the user's home directory. */
  val referenceDir: String =
    sys.env.getOrElse(ReferenceDirSetting, s"${sys.props("user.home")}/reference/Data")

  /** Path of one file in [[referenceDir]]. A missing directory fails
    * here with one message naming the setting, not later with a bare
    * PATH_NOT_FOUND from the reader. */
  def referenceFile(name: String): String = {
    if (!new java.io.File(referenceDir).isDirectory)
      throw new java.io.FileNotFoundException(
        s"reference data directory '$referenceDir' does not exist: set $ReferenceDirSetting " +
          "to the directory holding the reference's tackler_*_FINAL.csv files")
    s"$referenceDir/$name"
  }

  /** Schemas of the reference's metric output tables
    * (Data/tackler_YAP_FINAL.csv etc.) — EP3's inputs. */
  val yapMetricSchema: StructType = StructType(Seq(
    StructField("game_ID", LongType),
    StructField("play_ID", LongType),
    StructField("NFL_ID", LongType),
    StructField("name", StringType),
    StructField("position", StringType),
    StructField("YAP", DoubleType)))

  val maxParamsMetricSchema: StructType = StructType(Seq(
    StructField("game_ID", LongType),
    StructField("play_ID", LongType),
    StructField("NFL_ID", LongType),
    StructField("name", StringType),
    StructField("position", StringType),
    StructField("max_vel", DoubleType),
    StructField("max_accel", DoubleType)))

  /** CSV reader with the engine-owned schema.
    *
    * Binds columns BY HEADER NAME, not position: the file is read untyped
    * (header on) and the requested fields are selected and cast by name.
    * Spark's default `enforceSchema=true` would instead bind the schema's
    * N fields to the file's first N columns positionally — silently
    * mis-mapping any file (like the real Kaggle layout) whose column
    * order differs from ours. A schema field missing from the file's
    * header fails loudly in `select` instead of yielding garbage.
    *
    * Token typing is `try_cast`, deliberately: under Spark 4's default
    * ANSI mode a plain cast THROWS on the first malformed token — one
    * corrupt row in a 100 TB scan kills the whole job. try_cast nulls
    * the cell and keeps the job alive; the corruption stays VISIBLE
    * (ADVICE r4) through [[csvRejects]], the dead-letter-shaped sweep
    * that reports exactly the rows where a non-null token nulled. */
  // ONE raw read shared by csv() and csvRejects(): the reject sweep
  // must parse the file with byte-identical options to the pipeline it
  // audits, or it reports rejects the real read never saw.
  private def rawCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("nullValue", "NA")   // Kaggle convention; "" is null too
      .csv(path)

  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    rawCsv(spark, path).select(
      schema.fields.toIndexedSeq.map(f => col(f.name).try_cast(f.dataType)): _*)

  /** Parse-reject companion to [[csv]]: the rows where any schema field
    * held a non-null raw token that [[csv]]'s `try_cast` nulled, with a
    * `_bad_fields` column naming the offenders — the S4 dead-letter
    * shape. One scan, no driver-side work: callers route it to
    * [[Sinks.writeDeadLetters]] and alert on count, keeping the happy
    * path tolerant (ADVICE r4: corruption must surface, but not by
    * killing the job the way an ANSI cast / FAILFAST would). */
  def csvRejects(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val raw = rawCsv(spark, path)
    val badNames = array(schema.fields.toIndexedSeq.map { f =>
      when(col(f.name).isNotNull && col(f.name).try_cast(f.dataType).isNull, lit(f.name))
    }: _*)
    raw.withColumn("_bad_fields", filter(badNames, _.isNotNull))
      .where(size(col("_bad_fields")) > 0)
  }

  /** Week-partitioned tracking reader. If `weeks` is given the filter is
    * a partition-prune (directory-level skip) when the data is laid out
    * as `week=N/`, never a row filter over the full table. */
  def tracking(spark: SparkSession, dir: String, weeks: Seq[Int] = Nil): DataFrame = {
    val all = spark.read.schema(trackingSchema.add(StructField("week", IntegerType)))
      .parquet(dir)
    if (weeks.isEmpty) all
    else all.where(col("week").isin(weeks: _*))
  }
}
