package graft.io

import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.llm.{Dedup, Similarity, VocabStore}
import graft.ops.Materialized

/** Every build-once artifact kind, and every converted copy the
  * round-trip queries (`s6_jsonl`, `s7_orc`, `s8_evolve`) read, is
  * served while its corpus is untouched and rebuilt when the corpus at
  * the same path is regenerated or the seal is missing, over a private
  * copy of sf0.001 (deleted afterwards, with the artifacts built for it). */
class ArtifactsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val src = new File("/root/testdata/sf0.001")
  private lazy val corpus: String = {
    val d = TestSpark.tempDir("artifacts_corpus").toFile
    src.listFiles().foreach(f => FileUtils.copyFile(f, new File(d, f.getName), false))
    d.getPath
  }

  /** The vocabulary's caller-side fallback (Unigram.ensureTrained's
    * shape): read the artifact, write a fresh one when it is absent. */
  private def ensureVocab(s: SparkSession, d: String): String = {
    import s.implicits._
    if (VocabStore.read(s, d, "unigram").isEmpty)
      VocabStore.write(d, "unigram", Seq(("ab", 2L)).toDF("piece", "cnt"))
    VocabStore.path(d, "unigram")
  }

  /** One kind under test: `ensure` returns its artifact's path for a
    * corpus, building it first unless trusted; `path` names it unbuilt. */
  private case class Case(kind: Artifacts.Kind, table: String,
      ensure: (SparkSession, String) => String, path: String => String)
  private def stored(store: Artifacts.Store, table: String,
      ensure: (SparkSession, String) => String) =
    Case(store.kind, table, ensure, Artifacts.path(store, _))
  /** A round-trip query's copy, converted when the query is built. */
  private def converted(kind: Artifacts.Kind, table: String) =
    Case(kind, table, (s, d) => {
      IoQueries.queries(kind.name)(s, d)
      IoQueries.fixtureDir(kind, d)
    }, IoQueries.fixtureDir(kind, _))
  private val cases = Seq(
    stored(Artifacts.Ivf, "embeddings", Similarity.ensureIvfIndexFor),
    stored(Artifacts.Pq, "embeddings", Similarity.ensurePqIndexFor),
    stored(Artifacts.IvfPq, "embeddings", Similarity.ensureIvfPqIndexFor),
    stored(Artifacts.Nsw, "embeddings", Similarity.ensureNswIndexFor),
    stored(Artifacts.DedupIndex, "documents", Dedup.ensureDedupIndexFor),
    stored(Artifacts.Mv, "events", Materialized.ensureMvFor),
    stored(Artifacts.vocab("unigram"), "documents", ensureVocab),
    converted(IoQueries.S6Jsonl, "documents"),
    converted(IoQueries.S7Orc, "events"),
    converted(IoQueries.S8Evolve, "documents"))

  private val old = 1000000000000L // 2001-09-09, before any build here
  private def marker(c: Case, p: String) =
    new File(new File(p, c.kind.parts.head), "_SUCCESS")
  private def sidecar(p: String) = new File(p, "_GRAFT_FINGERPRINT")
  /** Back-dates the seal and the first part's marker; a rebuild
    * rewrites both, so a stamp that survives an ensure proves reuse. */
  private def stamp(c: Case, p: String): Unit = {
    assert(marker(c, p).setLastModified(old) && sidecar(p).setLastModified(old))
  }
  private def regenerate(table: String): Unit = {
    val f = new File(corpus, s"$table.parquet")
    FileUtils.forceDelete(f)
    FileUtils.copyFile(new File(src, f.getName), f, false)
  }

  cases.foreach { c =>
    val name = c.kind.name
    test(s"$name: an untouched corpus is served, not rebuilt") {
      val p = c.ensure(spark, corpus)
      stamp(c, p)
      assert(c.ensure(spark, corpus) == p)
      assert(marker(c, p).lastModified == old && sidecar(p).lastModified == old,
        s"$name was rebuilt over an unchanged corpus")
    }

    test(s"$name: rewriting the ${c.table} table rebuilds it") {
      val p = c.ensure(spark, corpus)
      stamp(c, p)
      regenerate(c.table)
      c.ensure(spark, corpus)
      assert(marker(c, p).lastModified != old,
        s"$name served an index of the corpus that was at this path before")
    }

    test(s"$name: a missing sidecar rebuilds it") {
      val p = c.ensure(spark, corpus)
      stamp(c, p)
      assert(sidecar(p).delete())
      c.ensure(spark, corpus)
      assert(marker(c, p).lastModified != old && sidecar(p).isFile,
        s"$name trusted an unsealed artifact")
    }
  }

  test("a forced build is sealed: the next ensure trusts it") {
    val c = cases.head
    val p = Artifacts.build(spark, Artifacts.Ivf, corpus)(Similarity.ivfBuild(spark, corpus, _))
    stamp(c, p)
    assert(Similarity.ensureIvfIndexFor(spark, corpus) == p)
    assert(marker(c, p).lastModified == old, "the rebuilt index was built again")
  }

  test("corpus paths that sanitise alike key apart") {
    assert(Artifacts.key("x/a_b") != Artifacts.key("x/a/b"))
    assert(Artifacts.path(Artifacts.Ivf, "x/a_b") != Artifacts.path(Artifacts.Ivf, "x/a/b"))
  }

  override def afterAll(): Unit = {
    cases.foreach(c => FileUtils.deleteQuietly(new File(c.path(corpus))))
    FileUtils.deleteQuietly(new File(corpus))
    super.afterAll()
  }
}
