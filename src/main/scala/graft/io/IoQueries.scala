package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Driver-contract exposure of the [[Sources]] readers (SURVEY §2 S1/S2).
  *
  * Round-3 gated these with plan/unit tests only (ADVICE r3: "Sources is
  * dead code [to the gate] — the positional-binding bug class is
  * invisible to the correctness gate"). These queries make the readers
  * falsifiable by the DuckDB oracle, via the fixture pattern the k5/k7
  * queries use: the query lazily writes a deterministic fixture file at
  * a fixed path, reads it back through the engine reader under test, and
  * the oracle SQL reads the SAME file with DuckDB's own CSV/parquet
  * reader — any mis-binding, mis-typing, or mis-pruning hash-mismatches.
  *
  *  - `s1_csv_schema`: a CSV in the *real Kaggle BDB-2024 column order*
  *    (extra columns interposed between the ones our schema wants —
  *    ballCarrierDisplayName/playDescription/quarter/down/gameClock —
  *    exactly the layout ADVICE r3 warned silently mis-maps under
  *    positional binding) read via [[Sources.csv]] with the engine's
  *    11-field `playsSchema`. Header-name binding is the thing under
  *    test: the oracle selects the same columns BY NAME with DuckDB.
  *  - `s2_week_prune`: a `week=N/`-partitioned parquet tree read via
  *    [[Sources.tracking]] with a 2-of-4 week list. SourcesSpec asserts
  *    the filter is a partition prune (no data filter in the plan); this
  *    query makes the *values* oracle-checked too.
  */
object IoQueries {

  type Q = (SparkSession, String) => DataFrame

  private val fx = "/tmp/graft_fixtures"
  private val s1Csv = s"$fx/s1_plays.csv"
  private val s2Dir = s"$fx/s2_tracking"

  /** The round-trip queries' converted copies of a corpus, one per
    * corpus at `<fx>/<kind>/<key>`, trusted by the [[Artifacts]] rule. */
  private[io] val S6Jsonl = Artifacts.Kind("s6_jsonl", 1, Seq(""))
  private[io] val S7Orc = Artifacts.Kind("s7_orc", 1, Seq(""))
  private[io] val S8Evolve = Artifacts.Kind("s8_evolve", 1, Seq("gen1", "gen2"))

  private[io] def fixtureDir(kind: Artifacts.Kind, d: String): String =
    s"$fx/${kind.name}/${Artifacts.key(d)}"

  /** `kind`'s copy of corpus `d`, written first by `write` (given the
    * directory) unless the one there is trusted; returns its directory. */
  private def converted(s: SparkSession, kind: Artifacts.Kind, d: String)(
      write: String => Unit): String = {
    val dir = fixtureDir(kind, d)
    val fp = Artifacts.fingerprint(d, kind)
    if (Artifacts.sealedNote(s, dir, kind.parts, fp).isEmpty)
      Artifacts.rebuild(s, dir, fp) { write(dir); "" }
    dir
  }

  /** Kaggle plays.csv layout (public dataset column order): our schema's
    * 11 columns are scattered through it, out of order, with unrelated
    * columns interposed. 24 deterministic rows; "NA" nulls in both a
    * string column (yardlineSide, midfield plays) and a numeric column
    * (prePenaltyPlayResult) — [[Sources.csv]] must surface both as null. */
  private[io] def ensureS1Csv(): Unit = if (!Files.exists(Paths.get(s1Csv))) {
    Files.createDirectories(Paths.get(fx))
    val header = "gameId,playId,ballCarrierId,ballCarrierDisplayName,playDescription," +
      "quarter,down,yardsToGo,possessionTeam,defensiveTeam,yardlineSide,yardlineNumber," +
      "gameClock,prePenaltyPlayResult,playResult,playNullifiedByPenalty"
    val teams = Vector("ARI", "BUF", "DAL", "KC", "PHI", "SF")
    val rows = (0 until 24).map { i =>
      val game = 2022090800L + i / 6
      val play = 100L + (i % 6) * 55
      val carrier = 42000L + (i * 7) % 13
      val off = teams(i % 6)
      val dfn = teams((i + 3) % 6)
      val side = if (i % 5 == 4) "NA" else teams((i + 1) % 6)
      val ytg = 1 + (i * 3) % 15
      val yline = 15 + (i * 11) % 35
      val res = (i * 5) % 17 - 3
      val preRes = if (i % 7 == 6) "NA" else ((i * 5) % 17 - 3 + (i % 2)).toString
      val nullified = if (i % 7 == 6) "Y" else "N"
      s"$game,$play,$carrier,Carrier $carrier,(${14 - i % 15}:0${i % 6}) handoff play $i," +
        s"${1 + i % 4},${1 + i % 4},$ytg,$off,$dfn,$side,$yline," +
        s"${14 - i % 15}:0${i % 6},$preRes,$res,$nullified"
    }
    Files.writeString(Paths.get(s1Csv), (header +: rows).mkString("", "\n", "\n"))
  }

  /** S1 — CSV scan bound by header NAME under the engine schema. */
  private val s1CsvSchema: Q = (s, _) => {
    ensureS1Csv()
    Sources.csv(s, s1Csv, Sources.playsSchema).orderBy("gameId", "playId")
  }

  /** 4 weeks x 3 games x 2 plays x 3 players x 5 frames = 360 tracking
    * rows, written `partitionBy("week")` so the layout is the `week=N/`
    * tree [[Sources.tracking]] prunes. All values are deterministic
    * arithmetic; the oracle reads the same files, so there is no
    * cross-engine float question — only the reader logic is under test. */
  private[io] def ensureS2Parquet(s: SparkSession): Unit =
    if (!Files.exists(Paths.get(s"$s2Dir/_SUCCESS"))) {
      val df = s.range(360).select(
        (col("id") / 90).cast("int").plus(1).as("week"),
        (lit(2022090800L) + expr("id % 90 div 30")).as("gameId"),
        (lit(100L) + expr("(id % 30 div 15) * 55")).as("playId"),
        (lit(42000L) + expr("id % 15 div 5")).as("nflId"),
        (col("id") % 5 + 1).cast("int").as("frameId"),
        to_timestamp(lit("2022-09-08 12:00:00")).plus(
          expr("make_interval(0, 0, 0, 0, 0, 0, id % 5 + 1)")).as("time"),
        concat(lit("T"), (col("id") % 6).cast("string")).as("club"),
        when(col("id") % 2 === 0, "left").otherwise("right").as("playDirection"),
        (col("id") % 1200).cast("double").divide(10).as("x"),
        (col("id") % 533).cast("double").divide(10).as("y"),
        (col("id") % 95).cast("double").divide(10).as("s"),
        (col("id") % 40).cast("double").divide(10).as("a"),
        (col("id") % 9).cast("double").divide(10).as("dis"),
        (col("id") % 3600).cast("double").divide(10).as("o"),
        (col("id") % 3600).cast("double").divide(10).as("dir"),
        when(col("id") % 5 === 0, "handoff")
          .when(col("id") % 5 === 4, "tackle").otherwise(lit(null)).as("event"))
      df.write.mode("overwrite").partitionBy("week").parquet(s2Dir)
    }

  /** S2 — week-list read over the partitioned tree; weeks 1 and 3 of 4.
    * Whole-second timestamps cast to string on both sides (the proven
    * x_datetime parity form). */
  private val s2WeekPrune: Q = (s, _) => {
    ensureS2Parquet(s)
    Sources.tracking(s, s2Dir, weeks = Seq(1, 3))
      .select(col("gameId"), col("playId"), col("nflId"), col("frameId"),
        col("week"), col("time").cast("string").as("ts"),
        col("x"), col("y"), col("s"), col("dis"), col("event"))
      .orderBy("gameId", "playId", "nflId", "week", "frameId")
  }

  /** S6 — JSONL round trip: newline-delimited JSON is the LLM-corpus
    * interchange format, so the engine must both export and re-ingest
    * it losslessly. The table is written as JSONL (once per corpus,
    * [[S6Jsonl]]) and read back
    * under the EXPLICIT engine schema (no inference; schema drift must
    * fail loudly, the S1 discipline). The oracle reads the ORIGINAL
    * parquet — the gate is round-trip identity, which tests the JSON
    * writer and reader together value-for-value. */
  private val s6Jsonl: Q = (s, d) => {
    import org.apache.spark.sql.types._
    val dir = converted(s, S6Jsonl, d) { dir =>
      graft.io.Sources.table(s, d, "documents").write.json(dir)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    s.read.schema(schema).json(dir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** S7 — ORC round trip: the OTHER columnar warehouse format Spark
    * ships natively (Hive-lineage clusters still hand ORC over).
    * Same shape as S6: write once per corpus ([[S7Orc]]), read back under
    * the explicit engine schema, gate = round-trip identity vs the
    * original parquet — writer and reader tested together
    * value-for-value, including timestamp fidelity (events carries
    * sub-second timestamps, the type ORC historically mangled). */
  private val s7Orc: Q = (s, d) => {
    val dir = converted(s, S7Orc, d) { dir =>
      graft.io.Sources.table(s, d, "events")
        .select("event_id", "user_id", "ts", "event_type", "value")
        .write.orc(dir)
    }
    s.read.orc(dir)
      .select("event_id", "user_id", "ts", "event_type", "value")
      .orderBy("event_id")
  }

  /** s8: SCHEMA EVOLUTION across parquet generations — the lakehouse
    * reality a 100 TB table lives with: generation 1 landed without a
    * column, generation 2 added `len_band`, and one mergeSchema read
    * spans both (Spark reconciles footers by name; gen-1 rows surface
    * the new column as null). The aggregate distinguishes legacy rows
    * from evolved ones, so a silent column drop, a wrong null-fill, or
    * a misaligned by-position merge all hash-mismatch. The oracle
    * re-derives both generations from `documents` and unions by name —
    * it never reads the fixture dirs, so the parquet round trip itself
    * is inside the gate too. */
  private val s8Evolve: Q = (s, d) => {
    val docs = graft.io.Sources.table(s, d, "documents")
    val dir = converted(s, S8Evolve, d) { dir =>
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.parquet(s"$dir/gen1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          expr("CAST(floor(n_chars / 100) AS BIGINT)").as("len_band"))
        .write.parquet(s"$dir/gen2")
    }
    s.read.option("mergeSchema", "true").parquet(s"$dir/gen1", s"$dir/gen2")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("len_band").isNull, 1L).otherwise(0L)).as("n_legacy"),
        sum(coalesce(col("len_band"), lit(0L))).as("band_sum"))
      .orderBy("lang")
  }

  val queries: Map[String, Q] = Map(
    "s1_csv_schema" -> s1CsvSchema,
    "s2_week_prune" -> s2WeekPrune,
    "s6_jsonl" -> s6Jsonl,
    "s7_orc" -> s7Orc,
    "s8_evolve" -> s8Evolve)

  val oracle: Map[String, String] = Map(
    // both generations re-derived from the raw table and unioned BY
    // NAME — the fixture dirs are never read, so the write/evolve/read
    // round trip is entirely inside the gate
    "s8_evolve" ->
      """WITH g1 AS (SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0),
        | g2 AS (SELECT doc_id, lang, n_chars,
        |          CAST(floor(n_chars / 100) AS BIGINT) AS len_band
        |        FROM documents WHERE doc_id % 2 = 1),
        | m AS (SELECT doc_id, lang, n_chars, NULL::BIGINT AS len_band FROM g1
        |       UNION ALL SELECT doc_id, lang, n_chars, len_band FROM g2)
        |SELECT lang, count(*) AS n,
        |  CAST(sum(CASE WHEN len_band IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
        |  CAST(sum(coalesce(len_band, 0)) AS BIGINT) AS band_sum
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    // round-trip identity vs the ORIGINAL table — any JSON write/read
    // loss (escaping, type mapping, null handling) hash-mismatches
    "s6_jsonl" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // round-trip identity vs the ORIGINAL events table — ORC
    // writer/reader loss (type mapping, timestamp precision)
    // hash-mismatches
    "s7_orc" ->
      """SELECT event_id, user_id, ts, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // all_varchar + explicit casts: the engine contract is "bind by
    // name, cast to the engine schema" — mirroring that exactly beats
    // racing DuckDB's type sniffer.
    "s1_csv_schema" ->
      s"""SELECT CAST(gameId AS BIGINT) AS gameId, CAST(playId AS BIGINT) AS playId,
         | CAST(ballCarrierId AS BIGINT) AS ballCarrierId,
         | CAST(yardlineNumber AS INT) AS yardlineNumber, CAST(yardsToGo AS INT) AS yardsToGo,
         | yardlineSide, possessionTeam, defensiveTeam,
         | CAST(playResult AS INT) AS playResult,
         | CAST(prePenaltyPlayResult AS INT) AS prePenaltyPlayResult, playNullifiedByPenalty
         |FROM read_csv('$s1Csv', header=true, nullstr=['NA',''], all_varchar=true)
         |ORDER BY gameId, playId""".stripMargin,
    "s2_week_prune" ->
      s"""SELECT gameId, playId, nflId, frameId, CAST(week AS INT) AS week,
         | CAST(time AS VARCHAR) AS ts, x, y, s, dis, event
         |FROM read_parquet('$s2Dir/*/*.parquet', hive_partitioning=true)
         |WHERE CAST(week AS INT) IN (1, 3)
         |ORDER BY gameId, playId, nflId, week, frameId""".stripMargin)
}
