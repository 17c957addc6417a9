package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graftshim.CatalystBridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}
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

  /** A fresh warehouse with the session's `graft` catalog pointed at it;
    * returns the directory of table `graft.<name>` there. The table
    * exists once a commit (`SnapshotLog.init`, `CREATE TABLE`) lands.
    */
  def catalogTableDir(name: String): String = {
    val warehouse = java.nio.file.Files.createTempDirectory(s"graft_$name").toString
    spark.conf.set(graft.sql.GraftTableCatalog.LocationKey, warehouse)
    s"$warehouse/$name"
  }

  /** Files the snapshot scan of `df` opened (its `numFiles` metric). */
  def filesRead(df: DataFrame): Long = snapshotScan(df).metrics("numFiles").value

  /** Spark jobs started by `body` on this thread, counted once the
    * listener bus has delivered every event posted so far.
    */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsDuring")
    try body
    finally {
      sc.clearJobGroup()
      CatalystBridge.drainListeners(sc, 60000L)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  /** Per data file of snapshot version `v` of table `dir`, by manifest
    * name: the [lo, hi] of integral column `c`, read fresh from the
    * parquet footer through [[graft.sources.Stamps.read]]; None where
    * the footer gives no interval.
    */
  def footerRanges(dir: String, v: Long, c: String): Map[String, Option[(Long, Long)]] = {
    import graft.sources.Stamps
    val names = graft.operators.SnapshotLog.manifest(spark, dir, v)
    Stamps.read(spark, names.map(n => n -> new org.apache.hadoop.fs.Path(s"$dir/data/$n")),
      StructType(Seq(StructField(c, LongType))), c).map { case (n, st) =>
      n -> st.cols.get(c).flatMap(_.iv).collect { case Stamps.LongIv(lo, hi) => (lo, hi) }
    }
  }
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
