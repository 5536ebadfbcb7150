package graft.io

import java.io.File
import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.StreamQueries

/** Per-process scratch: stream state lives under the session's local
  * dir, and the roots dead processes left under a base are swept. */
class ScratchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the stream root lies under the first entry of the session's spark.local.dir") {
    val local = spark.sparkContext.getConf.get("spark.local.dir").split(",").head.trim
    val root = StreamQueries.pidRoot
    assert(root.startsWith(local + "/"), s"$root is not under $local")
    assert(root.endsWith(s"/pid_${ProcessHandle.current().pid()}"))
  }

  test("a process's own root is deleted when its JVM exits") {
    val base = TestSpark.tempDir("scratch_exit").toFile
    val java = s"${System.getProperty("java.home")}/bin/java"
    val child = new ProcessBuilder(java, "-Xmx64m", "-cp", System.getProperty("java.class.path"),
      "graft.io.ScratchChild", base.getPath).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(child.getInputStream).mkString.trim
    assert(child.waitFor() == 0, out)
    val root = new File(out.linesIterator.toSeq.last)
    assert(root.getParentFile == base, s"$root is not under $base")
    assert(!root.exists, s"the exited process's root $root survived")
  }

  test("a dead process's root under a base is swept; other entries stay") {
    val base = TestSpark.tempDir("scratch_base").toFile
    try {
      // pids never exceed 2^22 on Linux, so this one is never alive
      val dead = new File(base, "pid_999999999")
      assert(new File(dead, "state").mkdirs())
      val other = new File(base, "keep")
      assert(other.mkdirs())
      val self = Artifacts.scratch(base.getPath)
      assert(self == s"${base.getPath}/pid_${ProcessHandle.current().pid()}")
      assert(!dead.exists, "the dead process's root survived the sweep")
      assert(other.exists, "an entry that is no process root was swept")
    } finally FileUtils.deleteQuietly(base)
  }
}

/** Makes its scratch root under `args(0)`, writes a file there, prints
  * the root and exits. */
object ScratchChild {
  def main(args: Array[String]): Unit = {
    val root = Artifacts.scratch(args(0))
    assert(new File(root, "state").mkdirs())
    java.nio.file.Files.writeString(new File(root, "state/part").toPath, "x")
    println(root)
  }
}
