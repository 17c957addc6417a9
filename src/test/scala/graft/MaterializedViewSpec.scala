package graft

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{IncrementalView, MaterializedView, Merge, SnapshotLog}

/** Durable maintained view over a snapshot table: delta-bounded refresh,
  * atomic watermark, idempotent replay, multi-version catch-up, lookup
  * pruning on the base.
  */
class MaterializedViewSpec extends SparkTestBase {

  import spark.implicits._

  private val measures: Seq[(String, Column)] = Seq("sum_x" -> col("x"))

  /** (base table dir, view dir) in a fresh warehouse that the session's
    * catalog names `graft.base` and `graft.view`.
    */
  private def fresh(): (String, String) = {
    val root = Files.createTempDirectory("graft_mv").toString
    spark.conf.set(graft.sql.GraftTableCatalog.LocationKey, root)
    val base = s"$root/base"
    val df = (1L to 20L).map(i => (i, if (i <= 10) "g1" else "g2", i))
      .toDF("id", "g", "x")
    SnapshotLog.init(spark, base, df, "id", numFiles = 4)
    (base, s"$root/view")
  }

  private def rows(df: DataFrame): Map[String, (Long, Long)] =
    df.collect().map(r => r.getString(r.fieldIndex("g")) ->
      ((r.getLong(r.fieldIndex("n")), r.getLong(r.fieldIndex("sum_x"))))).toMap

  private def recompute(base: String): Map[String, (Long, Long)] =
    rows(IncrementalView.build(SnapshotLog.readLatest(spark, base), "g", measures))

  test("create + refresh track the base across merges; replay is a no-op") {
    val (base, view) = fresh()
    MaterializedView.create(spark, base, view, "g", measures)
    assert(MaterializedView.asof(spark, view, 0L) == 0L)
    assert(rows(SnapshotLog.readLatest(spark, view)) == recompute(base))

    // refresh with nothing new: None, no version committed
    assert(MaterializedView.refresh(spark, base, view, measures).isEmpty)
    assert(SnapshotLog.versions(spark, view) == Seq(0L))

    // two base merges, ONE refresh catches up across both versions
    SnapshotLog.merge(spark, base,
      Seq((Merge.OpUpdate, 3L, "g2", Some(300L))).toDF("op", "id", "g", "x"), "id")
    SnapshotLog.merge(spark, base,
      Seq((Merge.OpDelete, 15L, null.asInstanceOf[String], None: Option[Long]),
        (Merge.OpInsert, 100L, "g3", Some(7L))).toDF("op", "id", "g", "x"), "id")
    val c = MaterializedView.refresh(spark, base, view, measures)
    assert(c.exists(_.version == 1L))
    assert(MaterializedView.asof(spark, view, 1L) == 2L)
    assert(rows(SnapshotLog.readLatest(spark, view)) == recompute(base))

    // the replayed refresh (crash recovery): watermark already current
    assert(MaterializedView.refresh(spark, base, view, measures).isEmpty)
    assert(SnapshotLog.versions(spark, view) == Seq(0L, 1L))

    // every past view state time-travels with its own watermark
    assert(rows(SnapshotLog.read(spark, view, 0L))("g1") == (10L, 55L))
  }

  test("staleness surface: lag 0 after refresh, >0 after a base commit, in DESCRIBE DETAIL") {
    val (base, view) = fresh()
    MaterializedView.create(spark, base, view, "g", measures)
    assert(MaterializedView.staleness(spark, view) == Some((0L, 0L, 0L)))
    // a plain snapshot table has no staleness surface
    assert(MaterializedView.staleness(spark, base).isEmpty)

    // base moves twice: the lag the refresh scheduler watches is 2
    SnapshotLog.merge(spark, base,
      Seq((Merge.OpUpdate, 3L, null.asInstanceOf[String], Some(300L)))
        .toDF("op", "id", "g", "x"), "id")
    SnapshotLog.merge(spark, base,
      Seq((Merge.OpInsert, 101L, "g3", Some(7L))).toDF("op", "id", "g", "x"), "id")
    assert(MaterializedView.staleness(spark, view) == Some((0L, 2L, 2L)))

    // DESCRIBE DETAIL reports the same numbers through SQL
    val r = spark.sql("DESCRIBE DETAIL graft.view").head()
    assert(r.getLong(r.fieldIndex("view_asof_base_version")) == 0L)
    assert(r.getLong(r.fieldIndex("base_latest_version")) == 2L)
    assert(r.getLong(r.fieldIndex("staleness_versions")) == 2L)

    // refresh absorbs both: lag back to 0
    MaterializedView.refresh(spark, base, view, measures)
    assert(MaterializedView.staleness(spark, view) == Some((2L, 2L, 0L)))
    val r2 = spark.sql("DESCRIBE DETAIL graft.view").head()
    assert(r2.getLong(r2.fieldIndex("staleness_versions")) == 0L)
    // plain tables surface nulls in the staleness columns
    val rb = spark.sql("DESCRIBE DETAIL graft.base").head()
    assert(rb.isNullAt(rb.fieldIndex("staleness_versions")))
  }

  test("refresh scans the delta + the view — never a shared base data file") {
    val (base, view) = fresh()
    MaterializedView.create(spark, base, view, "g", measures)
    SnapshotLog.merge(spark, base,
      Seq((Merge.OpUpdate, 1L, null.asInstanceOf[String], Some(99L)))
        .toDF("op", "id", "g", "x"), "id")
    val shared = SnapshotLog.manifest(spark, base, 0).toSet &
      SnapshotLog.manifest(spark, base, 1).toSet
    assert(shared.nonEmpty)
    // reconstruct the refresh's maintenance frame to inspect its scan set
    val signed = SnapshotLog.cdcSigned(spark, base, 0L, 1L, "id")
    val frame = IncrementalView.applyCdc(
      SnapshotLog.readLatest(spark, view), signed, "g", measures)
    val scanned = frame.inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    assert(scanned.intersect(shared).isEmpty,
      s"refresh read shared base files: ${scanned.intersect(shared)}")
    MaterializedView.refresh(spark, base, view, measures)
    assert(rows(SnapshotLog.readLatest(spark, view)) == recompute(base))
  }

  test("a drifted measure set is refused, not silently maintained") {
    val (base, view) = fresh()
    MaterializedView.create(spark, base, view, "g", measures)
    SnapshotLog.merge(spark, base,
      Seq((Merge.OpUpdate, 2L, null.asInstanceOf[String], Some(5L)))
        .toDF("op", "id", "g", "x"), "id")
    intercept[IllegalArgumentException] {
      MaterializedView.refresh(spark, base, view,
        Seq("sum_other" -> col("x")))
    }
  }

  test("composes with streaming epochs: a crash between table commit and view refresh self-heals") {
    import graft.streaming.SnapshotStreams
    val (base, view) = fresh()
    MaterializedView.create(spark, base, view, "g", measures)
    // epoch 0 commits the table... and the process dies before refresh
    val e0 = Seq((Merge.OpUpdate, 1L, null.asInstanceOf[String], Some(11L)))
      .toDF("op", "id", "g", "x")
    assert(SnapshotStreams.applyEpoch(spark, base, e0, 0L, "s", "id").isDefined)
    // recovery replays epoch 0: the txn stamp skips the table write, and
    // the refresh absorbs the orphaned version — nothing lost, nothing
    // double-applied
    assert(SnapshotStreams.applyEpoch(spark, base, e0, 0L, "s", "id").isEmpty)
    MaterializedView.refresh(spark, base, view, measures)
    assert(rows(SnapshotLog.readLatest(spark, view)) == recompute(base))
    // epoch 1 under normal operation: commit then refresh
    val e1 = Seq((Merge.OpInsert, 50L, "g3", Some(5L))).toDF("op", "id", "g", "x")
    assert(SnapshotStreams.applyEpoch(spark, base, e1, 1L, "s", "id").isDefined)
    MaterializedView.refresh(spark, base, view, measures)
    assert(rows(SnapshotLog.readLatest(spark, view)) == recompute(base))
    assert(MaterializedView.asof(spark, view,
      SnapshotLog.latestVersion(spark, view)) == 2L)
  }

  test("snapshot versions read by catalog identifier (time travel from SQL)") {
    val (base, _) = fresh()
    SnapshotLog.merge(spark, base,
      Seq((Merge.OpDelete, 1L, null.asInstanceOf[String], None: Option[Long]))
        .toDF("op", "id", "g", "x"), "id")
    assert(spark.sql("DESCRIBE DETAIL graft.base").head().getLong(2) == 1L)
    val n0 = spark.sql("SELECT COUNT(*) FROM graft.base VERSION AS OF 0")
      .head().getLong(0)
    val n1 = spark.sql("SELECT COUNT(*) FROM graft.base").head().getLong(0)
    assert(n0 == 20L && n1 == 19L)
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft.base VERSION AS OF 0 v0 " +
        "LEFT ANTI JOIN graft.base v1 ON v0.id = v1.id")
      .head().getLong(0) == 1L)
  }

  test("lookupKeys reads only the key footprint and respects MoR masks") {
    val (base, _) = fresh()
    val files0 = SnapshotLog.manifest(spark, base, 0)
    assert(files0.size == 4)
    val got = SnapshotLog.lookupKeys(spark, base, 0L, Seq(2L, 999L).toDF("id"))
    assert(got.collect().map(_.getLong(0)).toSeq == Seq(2L))
    // footprint: key-clustered 4-file layout puts id 2 in exactly one file
    val scanned = got.inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1))
      .toSet.intersect(files0.toSet)
    assert(scanned.size == 1, s"lookup scanned ${scanned.size} data files")
    // a MoR-deleted key returns nothing without any rewrite
    SnapshotLog.deleteKeys(spark, base, Seq(2L).toDF("id"), "id")
    assert(SnapshotLog.lookupKeys(spark, base, 1L, Seq(2L).toDF("id")).isEmpty)
    // and an evolved-schema lookup carries the wide shape
    SnapshotLog.merge(spark, base,
      Seq((Merge.OpUpdate, 5L, null.asInstanceOf[String],
          None: Option[Long], Some(50L)))
        .toDF("op", "id", "g", "x", "x2"), "id")
    val wide = SnapshotLog.lookupKeys(spark, base, 2L, Seq(5L, 6L).toDF("id"))
    assert(wide.columns.toSeq == Seq("id", "g", "x", "x2"))
    assert(wide.count() == 2)
  }
}
