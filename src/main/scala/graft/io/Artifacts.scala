package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.Try
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one rule for graft's build-once on-disk artifacts (the IVF, PQ,
  * IVF-PQ and NSW indexes, the incremental-dedup index, the stored MV,
  * the tokenizer vocabularies and the bucketed PageRank edges): where
  * an artifact derived from a corpus lives, which version it is, and
  * whether it may be trusted.
  *
  *  - Key: the corpus path sanitised, plus a hash of the raw path, so
  *    `x/a_b` and `x/a/b` key apart. A kind's artifact for corpus `d`
  *    lives at `<root>/<kind>/<key(d)>`; the root is its [[Store]]'s setting.
  *  - Version: a kind's schema version is part of its fingerprint, so a
  *    schema change distrusts every older artifact in place.
  *  - Trust: every part the kind names has a `_SUCCESS` marker, and the
  *    `_GRAFT_FINGERPRINT` sidecar holds the current [[fingerprint]]. A
  *    regenerated corpus, a crashed build or a foreign directory fails.
  *  - Build: an untrusted artifact is deleted and rebuilt from an empty
  *    directory. The sidecar is written last, which seals the build.
  *
  * Checks, deletes and the sidecar go through the Hadoop filesystem of
  * the artifact's path, the one Spark writes the parts through, so a
  * non-local root is trusted exactly like a local one.
  */
object Artifacts {

  /** What an artifact is: its name, schema version and the `parts` a
    * build writes ("" is the artifact directory itself), each of which
    * must be committed. */
  final case class Kind(name: String, version: Int, parts: Seq[String])

  /** Where a kind's artifacts live: under the directory in env var
    * `rootEnv`, one per corpus at `<root>/<kind>/<key>`. */
  final case class Store(kind: Kind, rootEnv: String, rootDefault: String) {
    def root: String = sys.env.getOrElse(rootEnv, rootDefault)
  }

  private def ann(name: String, parts: String*) =
    Store(Kind(name, 1, parts), "SPARK_GRAFT_IVF_DIR", "/tmp/graft_ivf")
  val Ivf: Store = ann("ivf", "assignments", "centroids")
  val Pq: Store = ann("pq", "codebooks", "codes")
  val IvfPq: Store = ann("ivf_pq", "cells")
  val Nsw: Store = ann("nsw", "graph", "meta")
  val DedupIndex: Store = Store(Kind("dedup", 2, Seq("hashes", "signatures", "winnow", "chunks")),
    "SPARK_GRAFT_DEDUP_DIR", "/tmp/graft_dedup_index")
  val Mv: Store = Store(Kind("mv", 2, Seq("")), "SPARK_GRAFT_MV_DIR", "/tmp/graft_mv")
  def vocab(family: String): Store =
    Store(Kind(family, 2, Seq("")), "SPARK_GRAFT_VOCAB_DIR", "/tmp/graft_vocab")
  /** Lives in the session warehouse under its catalog table name. */
  val PrEdges: Kind = Kind("pr_edges", 1, Seq(""))

  def key(d: String): String =
    d.replaceAll("[^A-Za-z0-9._-]", "_") + f"_${d.hashCode & 0x7fffffff}%08x"

  def path(store: Store, d: String): String = s"${store.root}/${store.kind.name}/${key(d)}"

  /** md5 over the kind's version and name, `meta` (settings that change
    * an artifact's content but not the corpus, such as a vocabulary
    * cap), the canonical corpus path, and the sorted (name, length,
    * mtime) listing of every file under the corpus, two levels deep
    * (parquet tables hold their part files one level down). The
    * listing is metadata only: no corpus byte is read. */
  def fingerprint(d: String, kind: Kind, meta: String = ""): String = {
    val dir = new java.io.File(d)
    def list(f: java.io.File): Array[java.io.File] =
      Option(f.listFiles()).getOrElse(Array.empty)
    val files = list(dir).flatMap { f =>
      if (f.isDirectory) list(f) else Array(f)
    }.sortBy(_.getPath)
      .map(f => s"${f.getName}|${f.length}|${f.lastModified}")
    val payload =
      s"v${kind.version}|${kind.name}|$meta|${Try(dir.getCanonicalPath).getOrElse(d)}|" +
        files.mkString(";")
    java.security.MessageDigest.getInstance("MD5")
      .digest(payload.getBytes(UTF_8)).map("%02x".format(_)).mkString
  }

  private val Sidecar = "_GRAFT_FINGERPRINT"

  private def fsOf(s: SparkSession, p: String): (FileSystem, Path) = {
    val hp = new Path(p)
    (hp.getFileSystem(s.sparkContext.hadoopConfiguration), hp)
  }

  /** The sidecar bypasses a checksummed filesystem's `.crc` companion,
    * so sealing writes one small file. */
  private def raw(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** The note sealed beside `fp` if the artifact at `path` is trusted. */
  def sealedNote(s: SparkSession, path: String, parts: Seq[String],
      fp: String): Option[String] = {
    val (fs, p) = fsOf(s, path)
    val committed = parts.forall { part =>
      fs.exists(new Path(if (part.isEmpty) p else new Path(p, part), "_SUCCESS"))
    }
    if (!committed) None
    else Try {
      val in = raw(fs).open(new Path(p, Sidecar))
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }.toOption.flatMap { sidecar =>
      val (got, note) = sidecar.span(_ != '|')
      if (got == fp) Some(note.drop(1)) else None
    }
  }

  /** Deletes `path`, runs `write` (which returns a note to seal beside
    * the fingerprint, or ""), then seals the artifact with `fp`. */
  def rebuild(s: SparkSession, path: String, fp: String)(write: => String): Unit = {
    val (fs, p) = fsOf(s, path)
    fs.delete(p, true)
    val note = write
    val out = raw(fs).create(new Path(p, Sidecar), true)
    try out.write((if (note.isEmpty) fp else s"$fp|$note").getBytes(UTF_8))
    finally out.close()
  }

  /** Builds `store`'s artifact for corpus `d` from an empty directory
    * (`write` gets its path) and seals it; returns the path. */
  def build(s: SparkSession, store: Store, d: String)(write: String => Unit): String = {
    val p = path(store, d)
    rebuild(s, p, fingerprint(d, store.kind)) { write(p); "" }
    p
  }

  /** The path of `store`'s artifact for corpus `d`, built first unless
    * the one there is trusted. */
  def ensure(s: SparkSession, store: Store, d: String)(write: String => Unit): String = {
    val p = path(store, d)
    if (sealedNote(s, p, store.kind.parts, fingerprint(d, store.kind)).isDefined) p
    else build(s, store, d)(write)
  }

  private val scratchRoots = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** This process's scratch directory under `base`, `base/pid_<pid>`.
    * Per-process, so two JVMs never read each other's half-written
    * files. The first call per base deletes the roots that dead
    * processes left there (on tmpfs a leaked root is leaked memory)
    * and registers this process's root for deletion at JVM exit; the
    * sweep still catches the roots of processes that were killed. */
  def scratch(base: String): String = scratchRoots.computeIfAbsent(base, _ => {
    val self = ProcessHandle.current().pid()
    Option(new java.io.File(base).listFiles()).foreach(_.foreach { f =>
      val pid = f.getName.stripPrefix("pid_")
      val dead = f.getName.startsWith("pid_") && pid.nonEmpty && pid.forall(_.isDigit) &&
        pid.toLong != self &&
        !ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive).orElse(false)
      if (dead) org.apache.commons.io.FileUtils.deleteQuietly(f)
    })
    val root = s"$base/pid_$self"
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root)))
    root
  })
}
