package graft

import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, on the engine's config,
  * and the helpers the suites share. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(4)

  private val tempDirs = {
    val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
    sys.addShutdownHook(dirs.forEach(d => FileUtils.deleteQuietly(d)))
    dirs
  }

  /** A fresh directory under the system temp dir, named `prefix…`,
    * deleted with everything in it when the test JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path =
    deletedAtExit(java.nio.file.Files.createTempDirectory(prefix))

  /** [[tempDir]] under `parent`. */
  def tempDir(parent: java.nio.file.Path, prefix: String): java.nio.file.Path =
    deletedAtExit(java.nio.file.Files.createTempDirectory(parent, prefix))

  private def deletedAtExit(d: java.nio.file.Path): java.nio.file.Path = {
    tempDirs.add(d.toFile)
    d
  }

  /** WARN messages logged on any logger while `body` runs. */
  def warnsDuring(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("warn-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(app)
    try body
    finally { root.removeAppender(app); app.stop() }
    seen.asScala.toSeq
  }
}
