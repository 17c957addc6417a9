package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Merge, SnapshotLog}

/** Merge-on-read delete vectors + OPTIMIZE on the snapshot log: deletes
  * commit without rewriting data, masks compose with CoW merges (incl.
  * the re-insert-of-a-masked-key trap), CDC stays exact across both
  * paths, and compaction is semantically invisible.
  */
class MorDeleteSpec extends SparkTestBase {

  import spark.implicits._

  private def freshTable(n: Int = 40, files: Int = 4): String = {
    val dir = Files.createTempDirectory("graft_mor").toString + "/t"
    val df = (1L to n.toLong).map(i => (i, s"v$i")).toDF("id", "v")
    SnapshotLog.init(spark, dir, df, "id", numFiles = files)
    dir
  }

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(r.fieldIndex("id")),
      r.getString(r.fieldIndex("v")))).toSet

  test("deleteKeys commits with ZERO data rewrites; reads mask; time travel intact") {
    val dir = freshTable()
    val c = SnapshotLog.deleteKeys(spark, dir, Seq(3L, 7L, 999L).toDF("id"), "id")
    assert(c.report.nRewritten == 0 && c.report.nNewFiles == 0,
      s"MoR delete rewrote data: ${c.report}")
    // every data file carried by reference
    assert(SnapshotLog.manifest(spark, dir, 1) == SnapshotLog.manifest(spark, dir, 0))
    assert(SnapshotLog.deletes(spark, dir, 1).size == 1)
    val got = rows(SnapshotLog.read(spark, dir, 1))
    assert(!got.exists(r => r._1 == 3L || r._1 == 7L))
    assert(got.size == 38, "masking an absent key (999) must be a no-op")
    assert(rows(SnapshotLog.read(spark, dir, 0)).size == 40)
  }

  test("successive deletes consolidate into one vector; masks union") {
    val dir = freshTable()
    SnapshotLog.deleteKeys(spark, dir, Seq(1L, 2L).toDF("id"), "id")
    SnapshotLog.deleteKeys(spark, dir, Seq(2L, 5L).toDF("id"), "id")
    assert(SnapshotLog.deletes(spark, dir, 2).size == 1)
    assert(rows(SnapshotLog.readLatest(spark, dir)).map(_._1) ==
      (3L to 40L).toSet - 5L)
  }

  test("merge on a masked table: update of a masked key is a no-op; re-insert forces a scoped rewrite and purges the mask") {
    val dir = freshTable()
    SnapshotLog.deleteKeys(spark, dir, Seq(10L, 20L).toDF("id"), "id")
    // update of masked 10 must not resurrect it; insert of masked 20 must
    // land exactly once with the new payload
    val cs = Seq(
      (Merge.OpUpdate, 10L, "ghost"),
      (Merge.OpUpdate, 11L, "u11"),
      (Merge.OpInsert, 20L, "reborn"))
      .toDF("op", "id", "v")
    val c = SnapshotLog.merge(spark, dir, cs, "id")
    assert(c.report.nRewritten >= 1)
    val got = rows(SnapshotLog.readLatest(spark, dir))
    assert(!got.exists(_._1 == 10L), "masked key resurrected by update")
    assert(got.count(_._1 == 20L) == 1, s"re-inserted key duplicated: $got")
    assert(got.contains((20L, "reborn")) && got.contains((11L, "u11")))
    // the re-inserted key is out of the mask, the still-deleted key is not
    val remaining = SnapshotLog.deletes(spark, dir, c.version)
    val maskNow =
      if (remaining.isEmpty) Set.empty[Long]
      else spark.read.parquet(
        remaining.map(n => s"$dir/data/$n"): _*).as[Long].collect().toSet
    assert(maskNow == Set(10L))
  }

  test("cdc across a MoR delete emits exactly the present masked keys (B-part)") {
    val dir = freshTable()
    SnapshotLog.deleteKeys(spark, dir, Seq(4L, 8L, 777L).toDF("id"), "id")
    val cdc = SnapshotLog.cdc(spark, dir, 0, 1, "id")
    val got = cdc.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set((Merge.OpDelete, 4L), (Merge.OpDelete, 8L)),
      s"absent key 777 must not appear as a change: $got")
    assert(cdc.where(col("v").isNotNull).isEmpty, "delete rows carry null payload")
  }

  test("compaction materializes deletes as a new version and is semantically invisible to cdc") {
    val dir = freshTable()
    SnapshotLog.deleteKeys(spark, dir, Seq(2L, 30L).toDF("id"), "id")
    val pre = rows(SnapshotLog.readLatest(spark, dir))
    val c = SnapshotLog.optimize(spark, dir, _ => 2)
    assert(SnapshotLog.deletes(spark, dir, c.version).isEmpty)
    assert(SnapshotLog.manifest(spark, dir, c.version).size == 2)
    assert(rows(SnapshotLog.readLatest(spark, dir)) == pre)
    // v1 (masked) -> v2 (materialized): no logical change, no CDC rows
    assert(SnapshotLog.cdc(spark, dir, 1, 2, "id").isEmpty,
      "compaction must be invisible to CDC")
    // and the pre-delete state still time-travels
    assert(rows(SnapshotLog.read(spark, dir, 0)).size == 40)
  }

  test("vacuum keeps referenced delete vectors, reclaims consolidated-away ones") {
    val dir = freshTable()
    SnapshotLog.deleteKeys(spark, dir, Seq(1L).toDF("id"), "id")
    SnapshotLog.deleteKeys(spark, dir, Seq(6L).toDF("id"), "id") // consolidates
    val liveDel = SnapshotLog.deletes(spark, dir, 2)
    val (nM, nF) = SnapshotLog.vacuum(spark, dir, retainFrom = 2, graceMs = 0L)
    assert(nM == 2)
    assert(nF == 1, s"expected exactly v1's superseded delete vector, got $nF")
    assert(SnapshotLog.deletes(spark, dir, 2) == liveDel)
    assert(rows(SnapshotLog.readLatest(spark, dir)).map(_._1) == (2L to 40L).toSet - 6L)
  }
}
