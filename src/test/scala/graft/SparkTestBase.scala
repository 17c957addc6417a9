package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotFileIndex

/** Shared local session for all suites (one JVM, one session). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Evaluate Column expressions over a one-row frame. */
  def sel(cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Row =
    spark.range(1).select(cols: _*).head()

  def df(rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  /** The one [[SnapshotFileIndex]]-backed scan of `df`, after collecting
    * it so the scan's metrics are populated (a MoR read also scans its
    * delete-vector files; those use a plain listing and are not counted).
    */
  def snapshotScan(df: DataFrame): FileSourceScanExec = {
    df.collect()
    def scansIn(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scansIn(a.executedPlan)
      case q: QueryStageExec => scansIn(q.plan)
    }.flatten
    val scans = scansIn(df.queryExecution.executedPlan)
      .filter(_.relation.location.isInstanceOf[SnapshotFileIndex])
    assert(scans.size == 1,
      s"expected one snapshot scan, got ${scans.size}:\n" +
        df.queryExecution.executedPlan.treeString)
    scans.head
  }

  /** Files the snapshot scan of `df` opened (its `numFiles` metric). */
  def filesRead(df: DataFrame): Long = snapshotScan(df).metrics("numFiles").value
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = GraftSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
