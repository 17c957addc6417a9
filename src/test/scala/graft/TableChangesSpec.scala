package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{Merge, SnapshotLog}
import graft.sql.GraftTableCatalog

/** The `table_changes('t', v1[, v2])` SQL TVF ([[graft.sql.TableChanges]],
  * injected via `SparkSessionExtensions.injectTableFunction`): the batch
  * CDC surface for SQL-only users, per-version attribution included. m28
  * certifies the CoW + MoR window against the DuckDB oracle; this spec
  * pins the unit semantics and the guard rails.
  */
class TableChangesSpec extends SparkTestBase {

  import spark.implicits._

  /** 40 rows committed as table `graft.<tag>`; returns its directory. */
  private def freshTable(tag: String): String = {
    val dir = catalogTableDir(tag)
    val base = (1L to 40L).map(i => (i, s"p$i")).toDF("id", "p")
    SnapshotLog.init(spark, dir, base, "id", numFiles = 2)
    dir
  }

  private def cs(rows: (String, Long, String)*) =
    rows.toSeq.toDF("op", "id", "p")

  test("per-version attribution across a multi-commit window, composable in SQL") {
    val dir = freshTable("tvf_base")
    SnapshotLog.merge(spark, dir,
      cs((Merge.OpUpdate, 3L, "u3"), (Merge.OpDelete, 7L, null),
        (Merge.OpInsert, 100L, "new")), "id") // v1
    SnapshotLog.merge(spark, dir, cs((Merge.OpDelete, 3L, null)), "id") // v2

    val got = spark.sql(
      """SELECT id, p, _change_type, _commit_version
        |FROM table_changes('graft.tvf_base', 1, 2)
        |ORDER BY _commit_version, id""".stripMargin).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).orNull,
        r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((3L, "u3", "update", 1L), (7L, null, "delete", 1L),
      (100L, "new", "insert", 1L), (3L, null, "delete", 2L)))

    // endVersion defaults to the latest committed version
    val defaulted = spark.sql(
      "SELECT count(*) AS n FROM table_changes('graft.tvf_base', 1)")
      .collect().head.getLong(0)
    assert(defaulted == 4L)

    // composes like any relation: aggregate over the feed
    val agg = spark.sql(
      """SELECT _change_type, count(*) AS n
        |FROM table_changes('graft.tvf_base', 1, 2)
        |GROUP BY _change_type ORDER BY _change_type""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(agg == Seq(("delete", 2L), ("insert", 1L), ("update", 1L)))
  }

  test("startVersion 0 reports the birth commit's full content as inserts") {
    val dir = freshTable("tvf_v0")
    SnapshotLog.merge(spark, dir, cs((Merge.OpDelete, 1L, null)), "id")
    val got = spark.sql(
      """SELECT _commit_version, _change_type, count(*) AS n
        |FROM table_changes('graft.tvf_v0', 0, 1)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, "insert", 40L), (1L, "delete", 1L)))
  }

  test("MoR delete vectors surface as delete rows with null payload") {
    val dir = freshTable("tvf_mor")
    spark.sql("DELETE FROM graft.tvf_mor WHERE id <= 3").collect()
    val got = spark.sql(
      """SELECT id, p, _change_type FROM table_changes('graft.tvf_mor', 1, 1)
        |ORDER BY id""".stripMargin).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).orNull, r.getString(2)))
      .toSeq
    assert(got == Seq((1L, null, "delete"), (2L, null, "delete"),
      (3L, null, "delete")))
  }

  test("a graft-catalog identifier resolves without registration") {
    val loc = Files.createTempDirectory("tvf_cat").toString
    spark.conf.set(GraftTableCatalog.LocationKey, loc)
    (1L to 10L).map(i => (i, i * 2)).toDF("id", "v")
      .createOrReplaceTempView("tvf_cat_src")
    spark.sql("CREATE TABLE graft.tvf_ct TBLPROPERTIES ('key'='id') AS " +
      "SELECT * FROM tvf_cat_src")
    spark.sql("DELETE FROM graft.tvf_ct WHERE id = 5").collect()
    val latest = spark.sql(
      "SELECT max(_commit_version) AS v FROM table_changes('graft.tvf_ct', 0)")
      .collect().head.getLong(0)
    val dels = spark.sql(
      s"""SELECT id FROM table_changes('graft.tvf_ct', $latest, $latest)
         |WHERE _change_type = 'delete'""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(dels == Seq(5L))
    spark.sql("DROP TABLE graft.tvf_ct")
  }

  test("a window spanning a schema evolution is rejected with the split advice") {
    val dir = freshTable("tvf_evo")
    SnapshotLog.merge(spark, dir, cs((Merge.OpDelete, 2L, null)), "id") // v1
    SnapshotLog.renameColumn(spark, dir, "p", "path")                   // v2
    SnapshotLog.merge(spark, dir,
      Seq((Merge.OpDelete, 4L, null.asInstanceOf[String]))
        .toDF("op", "id", "path"), "id")                                // v3
    val e = intercept[IllegalStateException] {
      spark.sql("SELECT * FROM table_changes('graft.tvf_evo', 1, 3)").collect()
    }
    assert(e.getMessage.contains("schema evolution") &&
      e.getMessage.contains("split the window"))
    // each half is exact
    assert(spark.sql("SELECT * FROM table_changes('graft.tvf_evo', 1, 1)")
      .columns.contains("p"))
    assert(spark.sql("SELECT * FROM table_changes('graft.tvf_evo', 3, 3)")
      .columns.contains("path"))
  }

  test("a vacuumed window fails loudly; argument guard rails") {
    val dir = freshTable("tvf_vac")
    (1 to 4).foreach(i =>
      SnapshotLog.merge(spark, dir, cs((Merge.OpDelete, i.toLong, null)), "id"))
    SnapshotLog.vacuum(spark, dir, retainFrom = 3, graceMs = 0L) // keeps v3, v4
    val e = intercept[IllegalStateException] {
      spark.sql("SELECT * FROM table_changes('graft.tvf_vac', 1, 4)").collect()
    }
    assert(e.getMessage.contains("vacuumed"))
    // v4 alone still works (v3 manifest retained as its diff base)
    assert(spark.sql("SELECT * FROM table_changes('graft.tvf_vac', 4, 4)")
      .collect().length == 1)

    def fails(sql: String, frag: String): Unit = {
      val m = intercept[Exception](spark.sql(sql).collect()).getMessage
      assert(m.contains(frag), s"wanted '$frag' in: $m")
    }
    fails("SELECT * FROM table_changes('no_such_tbl', 1)",
      "not a graft-catalog snapshot table")
    fails("SELECT * FROM table_changes('graft.tvf_vac', 3, 9)",
      "beyond the latest committed version")
    fails("SELECT * FROM table_changes('graft.tvf_vac', 4, 3)", "below startVersion")
    fails("SELECT * FROM table_changes('graft.tvf_vac')", "argument")
  }
}
