package graft.operators

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** A DURABLE maintained aggregate view over a snapshot table — the
  * composition the round's pieces exist for: [[IncrementalView]] is the
  * algebra (absorb signed deltas, never rescan the base), this operator
  * is the durability protocol. The view is ITSELF a [[SnapshotLog]]
  * table (keyed by the group column, |groups| rows, full-replacement
  * commits via [[SnapshotLog.overwrite]]) whose manifest carries
  * `asof=<baseVersion>` — the watermark of the last base version the
  * view has absorbed. That makes refresh:
  *
  *  - DELTA-BOUNDED: one [[SnapshotLog.cdcSigned]](asof, latest) scan
  *    (file-diff-sized) + the written view (|groups| rows), never the
  *    base table;
  *  - IDEMPOTENT / CRASH-SAFE: the watermark and the refreshed rows are
  *    one atomic manifest create, so a replayed refresh sees
  *    asof == latest and no-ops — there is no window where the rows
  *    moved but the watermark didn't (the [[graft.streaming.SnapshotStreams]]
  *    txn-stamp argument, applied to view maintenance);
  *  - AUDITABLE: every past view state time-travels like any snapshot
  *    version, each stamped with the exact base version it reflects.
  *
  * Measures are re-supplied at each refresh (Column expressions don't
  * serialize); the view's manifest stamps the measure NAMES, and refresh
  * refuses a mismatched set rather than silently maintaining different
  * math than the view was built with.
  */
object MaterializedView {

  private val AsofTag = "asof"
  private val MeasuresTag = "measures"
  private val BaseTag = "basedir"

  /** The view version's value of tag `name`; fails when it has none. */
  private def stamp(spark: SparkSession, viewDir: String, v: Long, name: String): String =
    SnapshotLog.manifestOf(spark, viewDir, v).tag(name)
      .getOrElse(sys.error(s"version $v of $viewDir has no $name= stamp"))

  /** The base version a view table's version `v` reflects. */
  def asof(spark: SparkSession, viewDir: String, v: Long): Long =
    stamp(spark, viewDir, v, AsofTag).toLong

  /** The view's STALENESS surface — what a user monitoring a maintained
    * aggregate actually watches: (asof watermark, base's latest version,
    * lag in versions). None when `viewDir` is not a materialized view
    * (no asof/basedir stamps — e.g. a plain snapshot table). Lag 0 =
    * current; lag N = the base committed N versions the view has not
    * absorbed. Manifest metadata only, no data read.
    */
  def staleness(spark: SparkSession, viewDir: String): Option[(Long, Long, Long)] = {
    val m = SnapshotLog.manifestOf(spark, viewDir,
      SnapshotLog.latestVersion(spark, viewDir))
    for {
      from <- m.tag(AsofTag).map(_.toLong)
      base <- m.tag(BaseTag)
    } yield {
      val latest = SnapshotLog.latestVersion(spark, base)
      (from, latest, latest - from)
    }
  }

  private def measureNames(spark: SparkSession, viewDir: String, v: Long): Seq[String] =
    stamp(spark, viewDir, v, MeasuresTag).split(",").toSeq.filter(_.nonEmpty)

  private def stamps(baseV: Long, measures: Seq[(String, Column)],
      baseDir: String): Seq[(String, String)] =
    Seq(AsofTag -> baseV.toString, MeasuresTag -> measures.map(_._1).mkString(","),
      BaseTag -> baseDir)

  /** Build the view from the base's CURRENT version (the one full scan a
    * standing aggregate ever pays) and commit it as view version 0.
    */
  def create(spark: SparkSession, baseDir: String, viewDir: String,
      group: String, measures: Seq[(String, Column)],
      numFiles: Int = 1): SnapshotCommit = {
    val baseV = SnapshotLog.latestVersion(spark, baseDir)
    val view = IncrementalView.build(
      SnapshotLog.read(spark, baseDir, baseV), group, measures)
    SnapshotLog.init(spark, viewDir, view, group, numFiles,
      tags = stamps(baseV, measures, baseDir))
  }

  /** Absorb every base version committed since the view's watermark, in
    * ONE delta (cdcSigned composes across versions — the file diff of
    * asof vs latest). Returns None when the view is already current —
    * including the crashed-and-replayed refresh, which finds the
    * watermark its predecessor committed atomically with the rows.
    */
  def refresh(spark: SparkSession, baseDir: String, viewDir: String,
      measures: Seq[(String, Column)], numFiles: Int = 1): Option[SnapshotCommit] = {
    val viewV = SnapshotLog.latestVersion(spark, viewDir)
    val group = SnapshotLog.tableKey(spark, viewDir, viewV)
    val stamped = measureNames(spark, viewDir, viewV)
    require(stamped == measures.map(_._1),
      s"measure set drifted: view carries ${stamped.mkString(",")}, " +
        s"refresh supplied ${measures.map(_._1).mkString(",")}")
    val from = asof(spark, viewDir, viewV)
    val latest = SnapshotLog.latestVersion(spark, baseDir)
    if (latest == from) None
    else {
      val baseKey = SnapshotLog.tableKey(spark, baseDir, latest)
      val signed = SnapshotLog.cdcSigned(spark, baseDir, from, latest, baseKey)
      val next = IncrementalView.applyCdc(
        SnapshotLog.read(spark, viewDir, viewV), signed, group, measures)
      Some(SnapshotLog.overwrite(spark, viewDir, next, group, numFiles,
        tags = stamps(latest, measures, baseDir)))
    }
  }
}
