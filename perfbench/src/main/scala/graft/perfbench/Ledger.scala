package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters fed by a SparkListener (jobs, tasks, executor time,
  * shuffle, spill, input and output bytes) and a QueryExecutionListener
  * (executions and the analysis / optimisation / planning phases of each
  * one). The benchmark attaches the ledger only on traced passes, drains
  * the listener bus after each op, and diffs two snapshots. */
final class Ledger(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Ledger.Snap

  private var jobs, tasks, runMs, cpuNs, gcMs = 0L
  private var shuffleWrite, shuffleRead, spill, bytesRead, bytesWritten = 0L
  private var executions = 0L
  private var planMs = 0.0
  private val jobStart = scala.collection.mutable.HashMap[Int, Long]()
  /** (start ms, end ms) of every finished job, in end order. */
  val jobSpans = ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t => jobSpans += ((t, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      bytesRead += m.inputMetrics.bytesRead
      bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  private val phases = Seq("analysis", "optimization", "planning")
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val ms = phases.flatMap(ph.get).map(_.durationMs.toDouble).sum
    synchronized { executions += 1; planMs += ms }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
  def drain(): Unit = org.apache.spark.ListenerBusDrain(spark.sparkContext)

  def snap(): Snap = { drain(); synchronized {
    Snap(jobs, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, bytesRead,
      bytesWritten, executions, planMs, jobSpans.size)
  } }

  /** Job durations (ms) and the wall (ms) covered by at least one job,
    * clipped to [t0, t1], for the jobs that ended after snapshot `from`. */
  def jobsSince(from: Snap, t0: Long, t1: Long): (Seq[Double], Double) = synchronized {
    val spans = jobSpans.drop(from.jobSpans).toSeq
    val clipped = spans.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    (spans.map { case (a, b) => (b - a).toDouble }, busy.toDouble)
  }
}

object Ledger {
  final case class Snap(jobs: Long, tasks: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, bytesRead: Long,
      bytesWritten: Long, executions: Long, planMs: Double, jobSpans: Int)
}

/** What the session holds once an op's result has been consumed and
  * before the benchmark sweeps it: persisted RDDs, their stored bytes,
  * and CacheManager entries. */
object Leaks {
  final case class Left(rdds: Int, bytes: Long, cacheEntries: Int)

  def look(spark: SparkSession): Left = {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs
    val bytes = sc.getRDDStorageInfo.filter(i => persisted.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    Left(persisted.size, bytes, cacheEntries(spark))
  }

  private def cacheEntries(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    try {
      val f = cm.getClass.getDeclaredField("cachedData")
      f.setAccessible(true)
      f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
    } catch {
      case scala.util.control.NonFatal(_) => if (cm.isEmpty) 0 else 1
    }
  }

  def sweep(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
