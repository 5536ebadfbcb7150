package graft.pipelines

import java.nio.file.{Files, Path}
import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, lit, when}
import graft.TestSpark

object MaxParamsEdgeSpec {
  final case class Tr(gameId: Long, playId: Long, nflId: Option[Long], frameId: Int,
      x: Double, y: Double, s: Double, a: Double, event: Option[String])

  type Out = (Long, Long, Option[Long], Option[String], Option[String], Option[Double],
    Option[Double])
}

/** `MaxParams.run` against its DuckDB twin (`k5_max_params` in
  * `SparkEntry.oracleSql`, the authority on EP2's semantics) on a fixture
  * built from the cases a one-scan window plan could get wrong:
  *
  *  - play (9,1): carrier 100 stands at (50,25), handoff at frame 5,
  *    tackle at 40; its frames 20-22 are missing and frame 12 is
  *    duplicated, the copy at (40,25). Tackler 201 (listed twice in
  *    tackles) stands at (40.3,25): within R_t only of the duplicated
  *    copy, at frame 12. Tackler 202 stands at (50.5,25) only on the
  *    carrier's missing frames 20-22 (no carrier frame, so no crossing),
  *    runs its fastest there (9.9 on frame 21) and reaches (50.6,25) from
  *    frame 30. The carrier 100 is also listed as a tackler. A bystander
  *    and the football (no nflId) ride along;
  *  - play (9,2): only a `ball_snap` start, at frame 3; DT 203 closes on
  *    the carrier, but its frame 27, the first within R_t, has null `x`,
  *    `s` and `a` (as `Sources.csv`'s `try_cast` leaves unparsable
  *    tokens), so it crosses at 28 and its max skips the nulls; 205 is
  *    listed but has no tracking rows; a tackles row with a null nflId
  *    is listed too;
  *  - play (9,3): no start event at all; 206 stands next to the carrier.
  *
  * The twin runs in DuckDB (python3 with the duckdb module) over the
  * same parquet files Spark reads. */
class MaxParamsEdgeSpec extends AnyFunSuite {
  import MaxParamsEdgeSpec._
  private lazy val spark = TestSpark.spark

  private def fixture: Seq[Tr] = {
    def ev(f: Int, start: (Int, String), stop: Int) =
      if (f == start._1) Some(start._2) else if (f == stop) Some("tackle") else None
    val p1 = (1 to 40).filterNot(f => f >= 20 && f <= 22).map { f =>
      Tr(9, 1, Some(100), f, 50.0, 25.0, 0.5 + 0.01 * f, 0.1, ev(f, 5 -> "handoff", 40))
    } ++ Seq(Tr(9, 1, Some(100), 12, 40.0, 25.0, 0.6, 0.1, None)) ++
      (1 to 40).flatMap { f =>
        val x202 = if (f >= 20 && f <= 22) 50.5 else if (f >= 30) 50.6 else 60.0
        Seq(
          Tr(9, 1, Some(201), f, 40.3, 25.0, 1.0 + 0.1 * f, 2.0 - 0.05 * f, None),
          Tr(9, 1, Some(202), f, x202, 25.0, if (f == 21) 9.9 else 3.0 + 0.01 * f, 0.5, None),
          Tr(9, 1, Some(999), f, 70.0, 5.0, 1.0, 1.0, None),
          Tr(9, 1, None, f, 50.0, 25.0, 0.5, 0.1, None))
      }
    val p2 = (1 to 35).flatMap { f =>
      Seq(Tr(9, 2, Some(101), f, 30.0, 20.0, 1.0, 0.2, ev(f, 3 -> "ball_snap", 35)),
        Tr(9, 2, Some(203), f, 36.0 - 0.2 * (f - 1), 20.0, 2.0 + 0.05 * f, 1.0 - 0.01 * f, None))
    }
    val p3 = (1 to 20).flatMap { f =>
      Seq(Tr(9, 3, Some(102), f, 10.0, 10.0, 1.0, 0.2, if (f == 20) Some("tackle") else None),
        Tr(9, 3, Some(206), f, 10.5, 10.0, 2.0, 0.3, None))
    }
    p1 ++ p2 ++ p3
  }

  /** Writes the fixture as parquet and returns its directory. */
  private def write(): Path = {
    import spark.implicits._
    val d = TestSpark.tempDir("maxparams_edge")
    val nulled = col("playId") === 2 && col("nflId") === 203 && col("frameId") === 27
    Seq("x", "s", "a").foldLeft(fixture.toDF())((df, c) =>
      df.withColumn(c, when(nulled, lit(null)).otherwise(col(c))))
      .write.parquet(s"$d/tracking")
    Seq((9L, 1L, 100L), (9L, 2L, 101L), (9L, 3L, 102L))
      .toDF("gameId", "playId", "ballCarrierId").write.parquet(s"$d/plays")
    Seq((100L, "Carrier A", "RB"), (101L, "Carrier B", "RB"), (102L, "Carrier C", "RB"),
      (201L, "Dup Listed", "CB"), (202L, "Gap Runner", "FS"), (203L, "Snap Closer", "DT"),
      (205L, "No Frames", "MLB"), (206L, "No Start", "DE"))
      .toDF("nflId", "displayName", "position").write.parquet(s"$d/players")
    Seq((9L, 1L, Some(201L)), (9L, 1L, Some(201L)), (9L, 1L, Some(202L)), (9L, 1L, Some(100L)),
      (9L, 2L, Some(203L)), (9L, 2L, Some(205L)), (9L, 2L, None), (9L, 3L, Some(206L)))
      .toDF("gameId", "playId", "nflId").write.parquet(s"$d/tackles")
    d
  }

  private def key(r: Out) = (r._1, r._2, r._3)

  /** The twin's rows, run in DuckDB over the fixture directory. */
  private def twin(d: Path): Seq[Out] = {
    val sql = graft.SparkEntry.oracleSql("k5_max_params")
      .replace("/tmp/graft_fixtures/demo_", s"$d/")
    val sqlFile = d.resolve("twin.sql")
    Files.writeString(sqlFile, sql)
    val py = "import duckdb, sys\n" +
      "for r in duckdb.sql(open(sys.argv[1]).read()).fetchall():\n" +
      "    print('\\t'.join('' if v is None else repr(v) if isinstance(v, float) else str(v)\n" +
      "                    for v in r))"
    val out = Seq("python3", "-c", py, sqlFile.toString).!!
    def opt(s: String) = if (s.isEmpty) None else Some(s)
    out.linesIterator.filter(_.nonEmpty).map(_.split("\t", -1)).map { c =>
      (c(0).toLong, c(1).toLong, opt(c(2)).map(_.toLong), opt(c(3)), opt(c(4)),
        opt(c(5)).map(_.toDouble), opt(c(6)).map(_.toDouble))
    }.toSeq.sortBy(key)
  }

  test("edge cases: MaxParams.run equals its DuckDB twin") {
    val d = write()
    def read(t: String) = spark.read.parquet(s"$d/$t")
    val got: Seq[Out] = MaxParams.run(spark, read("tracking"), read("plays"), read("players"),
        read("tackles")).collect().map { r =>
      def dbl(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.getString(3)), Option(r.getString(4)), dbl(5), dbl(6))
    }.toSeq.sortBy(key)
    val want = twin(d)
    assert(got == want, s"\nspark: ${got.mkString("\n  ")}\ntwin:  ${want.mkString("\n  ")}")
    // the fixture really exercises each case (so agreement is not vacuous)
    val byId = got.collect { case r @ (_, _, Some(id), _, _, _, _) => id -> r }.toMap
    assert(got.size == 7, "one row per distinct (play, tackler)")
    assert(byId(201L)._6.isDefined, "201 crosses only the duplicated carrier frame")
    assert(byId(202L)._6.contains(9.9), "202's range spans the carrier's missing frames")
    assert(byId(100L)._6.isDefined, "the carrier listed as a tackler crosses at distance 0")
    assert(byId(203L)._6.isDefined, "the ball_snap start fallback")
    assert(byId(203L)._6.contains(2.0 + 0.05 * 26), "203's null frame 27 neither crosses nor counts")
    assert(got.exists(r => r._3.isEmpty && r._4.isEmpty && r._6.isEmpty), "a null listed nflId")
    assert(byId(205L)._6.isEmpty && byId(205L)._4.contains("No Frames"), "no tracking rows")
    assert(byId(206L)._6.isEmpty, "no start event")
  }
}
