package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Merge, SnapshotLog}

/** Add-column schema evolution on the snapshot log: the stamp widens, no
  * untouched byte moves, old versions keep their old shape, CDC reports
  * null -> value, and compaction materializes the column physically.
  */
class SchemaEvolutionSpec extends SparkTestBase {

  import spark.implicits._

  private def freshTable(): String = {
    val dir = Files.createTempDirectory("graft_evo").toString + "/t"
    val df = (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v")
    SnapshotLog.init(spark, dir, df, "id", numFiles = 4)
    dir
  }

  private def evolveCs: DataFrame = Seq(
    (Merge.OpUpdate, 2L, null.asInstanceOf[String], Some(20L)),
    (Merge.OpUpdate, 3L, "v3b", None: Option[Long]),
    (Merge.OpInsert, 100L, "new", Some(700L)))
    .toDF("op", "id", "v", "quota")

  test("a changeset column the base lacks widens the stamp; untouched files unmoved; nulls surface") {
    val dir = freshTable()
    val c = SnapshotLog.merge(spark, dir, evolveCs, "id")
    // the stamp grew by exactly the new column
    assert(SnapshotLog.tableSchema(spark, dir, 1).get.fieldNames.toSeq ==
      Seq("id", "v", "quota"))
    assert(SnapshotLog.tableSchema(spark, dir, 0).get.fieldNames.toSeq ==
      Seq("id", "v"))
    // untouched files are the SAME files (shared by name = byte identity)
    assert(c.report.nUntouched > 0)
    assert((SnapshotLog.manifest(spark, dir, 0).toSet &
      SnapshotLog.manifest(spark, dir, 1).toSet).size == c.report.nUntouched)
    // rows: updated/inserted carry quota, everyone else reads null through
    // files that predate the column; id 3's update touched only v
    val got = SnapshotLog.readLatest(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    assert(got(2L) == (("v2", Some(20L))))
    assert(got(3L) == (("v3b", None)))
    assert(got(100L) == (("new", Some(700L))))
    assert(got(1L) == (("v1", None)) && got(40L) == (("v40", None)))
    assert(got.size == 41)
    // time travel: v0 still reads with its OWN (narrower) schema
    assert(SnapshotLog.read(spark, dir, 0).columns.toSeq == Seq("id", "v"))
  }

  test("cdc across the evolution reports null -> value as the semantic change") {
    val dir = freshTable()
    SnapshotLog.merge(spark, dir, evolveCs, "id")
    val cdc = SnapshotLog.cdc(spark, dir, 0, 1, "id")
    val byId = cdc.collect().map(r => r.getLong(r.fieldIndex("id")) ->
      ((r.getString(r.fieldIndex("op")),
        if (r.isNullAt(r.fieldIndex("quota"))) None
        else Some(r.getLong(r.fieldIndex("quota")))))).toMap
    // id 2 changed ONLY via the new column: still an update, after=20
    assert(byId(2L) == ((Merge.OpUpdate, Some(20L))))
    assert(byId(3L) == ((Merge.OpUpdate, None)))
    assert(byId(100L) == ((Merge.OpInsert, Some(700L))))
    // rewritten-but-unchanged neighbors of 2/3 must NOT appear
    assert(byId.keySet == Set(2L, 3L, 100L), s"spurious cdc rows: $byId")
  }

  test("post-evolution merges keep the wide schema; compact materializes it everywhere") {
    val dir = freshTable()
    SnapshotLog.merge(spark, dir, evolveCs, "id")
    // a second merge whose changeset does NOT mention quota keeps it
    val cs2 = Seq((Merge.OpUpdate, 5L, "v5b", None: Option[Long]))
      .toDF("op", "id", "v", "quota")
    SnapshotLog.merge(spark, dir, cs2, "id")
    assert(SnapshotLog.tableSchema(spark, dir, 2).get.fieldNames.toSeq ==
      Seq("id", "v", "quota"))
    val pre = SnapshotLog.readLatest(spark, dir).collect()
      .map(_.toSeq).toSet
    val c = SnapshotLog.optimize(spark, dir, _ => 2)
    assert(SnapshotLog.readLatest(spark, dir).collect().map(_.toSeq).toSet == pre)
    // after compaction every data file physically carries the column
    val table = new org.apache.hadoop.fs.Path(dir)
    SnapshotLog.manifest(spark, dir, c.version).foreach { n =>
      val s = spark.read.parquet(s"$dir/data/$n").schema.fieldNames.toSeq
      assert(s == Seq("id", "v", "quota"), s"$n not materialized: $s")
    }
    // and cdc across the compaction is still empty (no logical change)
    assert(SnapshotLog.cdc(spark, dir, 2, c.version, "id").isEmpty)
  }
}
