package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative engine counters; subtract two snapshots for one window. */
final case class Totals(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                        taskS: Double = 0, shuffleWrite: Long = 0,
                        shuffleRead: Long = 0, spill: Long = 0, input: Long = 0,
                        output: Long = 0, planningS: Double = 0,
                        snapshotFilesRead: Long = 0, snapshotFilesIndexed: Long = 0) {
  def -(o: Totals): Totals = this + o.scaled(-1)
  def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskS + o.taskS, shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
    spill + o.spill, input + o.input, output + o.output, planningS + o.planningS,
    snapshotFilesRead + o.snapshotFilesRead, snapshotFilesIndexed + o.snapshotFilesIndexed)
  private def scaled(k: Long): Totals = Totals(jobs * k, stages * k, tasks * k, taskS * k,
    shuffleWrite * k, shuffleRead * k, spill * k, input * k, output * k, planningS * k,
    snapshotFilesRead * k, snapshotFilesIndexed * k)
}

/** The benchmark's own view of the engine: a SparkListener for jobs,
  * stages and task metrics, and a QueryExecutionListener for planning
  * time and snapshot-table file pruning. Read it only after [[drain]].
  */
final class Probe extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private var t = Totals()
  private val jobStart = mutable.Map.empty[Int, Long]
  private val ended = mutable.Set.empty[Int]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    t = t.copy(jobs = t.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += e.jobId
    jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    t = t.copy(stages = t.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    t = t.copy(tasks = t.tasks + 1, taskS = t.taskS + e.taskInfo.duration / 1e3)
    if (m != null) t = t.copy(
      shuffleWrite = t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = t.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      spill = t.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      input = t.input + m.inputMetrics.bytesRead,
      output = t.output + m.outputMetrics.bytesWritten)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planning = Seq("analysis", "optimization", "planning")
      .flatMap(p => qe.tracker.phases.get(p)).map(s => (s.endTimeMs - s.startTimeMs) / 1e3).sum
    val scans = collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.getClass.getName.endsWith("SnapshotFileIndex") => s
    }
    val read = scans.flatMap(_.metrics.get("numFiles")).map(_.value).sum
    val indexed = scans.map(_.relation.location.inputFiles.length.toLong).sum
    synchronized {
      t = t.copy(planningS = t.planningS + planning,
        snapshotFilesRead = t.snapshotFilesRead + read,
        snapshotFilesIndexed = t.snapshotFilesIndexed + indexed)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def totals: Totals = synchronized(t)

  /** Seconds within [t0Ms, t1Ms] during which at least one job ran. */
  def jobBusyS(t0Ms: Long, t1Ms: Long): Double = synchronized {
    Stats.unionLength(intervals.toSeq.map { case (a, b) => (math.max(a, t0Ms), math.min(b, t1Ms)) }) / 1e3
  }

  /** Wait until this listener has seen the end of every job Spark reports.
    * Fails, rather than guessing, when the bus does not empty in time.
    */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit = {
    org.apache.spark.PerfbenchBus.waitUntilEmpty(sc, timeoutMs)
    val tracker = sc.statusTracker
    // no job groups are set, so every job Spark has seen is in the null group
    val missing = synchronized(tracker.getJobIdsForGroup(null).filterNot(ended.contains))
    if (missing.nonEmpty || tracker.getActiveJobIds().nonEmpty)
      throw new IllegalStateException(
        s"listener drained but jobs ${missing.mkString(",")} have not ended")
  }
}
