package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Merge, SnapshotLog}

/** SQL DML against snapshot tables named `graft.<t>`
  * ([[graft.sql.SnapshotDml]] via the injected
  * [[graft.sql.GraftSqlParser]]): MERGE INTO / UPDATE / DELETE FROM as
  * plain `spark.sql(...)` text, executing through the transaction log
  * with [[Merge.apply]]'s semantics. m17 certifies the MERGE path against
  * the m09/m11 DuckDB oracle; this spec pins the statement-level
  * semantics and the documented guard rails.
  */
class SqlDmlSpec extends SparkTestBase {

  /** 60 rows committed as table `graft.<tag>`; returns its directory. */
  private def freshTable(tag: String): String = {
    import spark.implicits._
    val dir = catalogTableDir(tag)
    val base = (1L to 60L).map(i => (i, s"u${i % 3}", i * 10, s"/p/$i"))
      .toDF("id", "owner", "x", "path")
    SnapshotLog.init(spark, dir, base, "id", numFiles = 3)
    dir
  }

  private def rows(df: DataFrame): Set[String] =
    df.select("id", "owner", "x", "path").collect().map(_.mkString("|")).toSet

  private def snap(dir: String): DataFrame = SnapshotLog.readLatest(spark, dir)

  test("UPDATE ... SET ... WHERE is a partial copy-on-write merge that SELECT sees") {
    val dir = freshTable("dml_upd")
    val before = rows(snap(dir))

    val out = spark.sql(
      "UPDATE graft.dml_upd SET x = x + 1000, path = concat('/moved', path) WHERE id % 10 = 0")
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(1L), "must return the committed version")

    val expected = before.map { r =>
      val Array(id, owner, x, path) = r.split('|')
      if (id.toLong % 10 == 0) s"$id|$owner|${x.toLong + 1000}|/moved$path" else r
    }
    assert(rows(snap(dir)) == expected)
    // assignment exprs evaluate over the PRE-update row (x = x + 1000);
    // unassigned columns (owner) kept base values; a SELECT by identifier
    // reads the new version
    assert(rows(spark.sql("SELECT id, owner, x, path FROM graft.dml_upd")) == expected)
  }

  test("DELETE FROM ... WHERE commits a merge-on-read delete vector — zero data files rewritten") {
    val dir = freshTable("dml_del")
    val m0 = SnapshotLog.manifest(spark, dir, 0)

    spark.sql("DELETE FROM graft.dml_del WHERE owner = 'u1' AND x > 100")
    val v = SnapshotLog.latestVersion(spark, dir)
    assert(v == 1L)
    // MoR: the new version references the SAME data files plus a vector
    assert(SnapshotLog.manifest(spark, dir, v) == m0, "DELETE must not rewrite data files")
    assert(SnapshotLog.deletes(spark, dir, v).nonEmpty, "expected a delete vector")
    val got = snap(dir)
    assert(got.where(col("owner") === "u1" && col("x") > 100).isEmpty)
    assert(got.count() == 60L - (1L to 60L).count(i => i % 3 == 1 && i * 10 > 100))
  }

  test("MERGE INTO via SQL text equals the functional Merge over the same changeset") {
    import spark.implicits._
    val dir = freshTable("dml_merge")
    val base = snap(dir)

    val cs = Seq(
      ("update", 10L, 777L, "/u/10"),
      ("update", 20L, 778L, "/u/20"),
      ("delete", 30L, 0L, ""),
      ("insert", 1000L, 42L, "/new/1000"),
      ("insert", 10L, 999L, "/dup/10")) // existing key: must be ignored
      .toDF("op", "id", "x", "path")
    cs.createOrReplaceTempView("dml_merge_cs")

    spark.sql(
      """MERGE INTO graft.dml_merge t USING dml_merge_cs c ON t.id = c.id
        |WHEN MATCHED AND c.op = 'delete' THEN DELETE
        |WHEN MATCHED AND c.op = 'update' THEN UPDATE SET x = c.x, path = c.path
        |WHEN NOT MATCHED AND c.op = 'insert' THEN
        |  INSERT (id, owner, x, path) VALUES (c.id, 'merged', c.x, c.path)
        |""".stripMargin)

    // the equivalent Merge.apply changeset: partial updates (owner null =
    // keep), insert rows with the INSERT clause's values
    val nullS = lit(null).cast("string")
    val funcCs = cs.where(col("op") === "update")
      .select(col("op"), col("id"), nullS.as("owner"), col("x"), col("path"))
      .unionByName(cs.where(col("op") === "delete")
        .select(col("op"), col("id"), nullS.as("owner"),
          lit(null).cast("bigint").as("x"), nullS.as("path")))
      .unionByName(cs.where(col("op") === "insert")
        .select(col("op"), col("id"), lit("merged").as("owner"), col("x"), col("path")))
    assert(rows(snap(dir)) == rows(Merge(base, funcCs, "id")),
      "SQL MERGE diverged from the functional merge")
    assert(snap(dir).where(col("path") === "/dup/10").isEmpty,
      "existing-key insert must be ignored (WHEN NOT MATCHED)")
  }

  test("MERGE UPDATE SET * and WHEN NOT MATCHED BY SOURCE (delete + target-side update)") {
    import spark.implicits._
    val dir = freshTable("dml_nmbs")
    // source: keys 1..10 with new x/path (no owner column — SET * maps
    // only the columns the source carries; owner keeps base values)
    (1L to 10L).map(i => (i, i * 100, s"/src/$i"))
      .toDF("id", "x", "path").createOrReplaceTempView("dml_nmbs_cs")

    spark.sql(
      """MERGE INTO graft.dml_nmbs t USING dml_nmbs_cs c ON t.id = c.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED BY SOURCE AND x > 500 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET path = '/stale'
        |""".stripMargin)

    val got = snap(dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getString(3))))
      .toMap
    // matched: x/path from source, owner untouched
    (1L to 10L).foreach { i =>
      assert(got(i) == ((s"u${i % 3}", i * 100, s"/src/$i")), s"id $i: ${got(i)}")
    }
    // not matched by source, x > 500 (base x = id*10): ids 51..60 deleted
    (51L to 60L).foreach(i => assert(!got.contains(i), s"id $i should be deleted"))
    // the rest of the unmatched targets: path rewritten, x/owner kept
    (11L to 50L).foreach { i =>
      assert(got(i) == ((s"u${i % 3}", i * 10, "/stale")), s"id $i: ${got(i)}")
    }
    // source-column references in an NMBS clause are rejected
    val e = intercept[IllegalArgumentException] {
      spark.sql(
        """MERGE INTO graft.dml_nmbs t USING dml_nmbs_cs c ON t.id = c.id
          |WHEN NOT MATCHED BY SOURCE AND c.x > 0 THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("source column"))
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the table from the source; without it, unknown columns fail loudly") {
    import spark.implicits._
    val dir = freshTable("dml_evo")
    Seq((6L, 777L), (2000L, 999L)).toDF("id", "quota")
      .createOrReplaceTempView("dml_evo_cs")

    // without the keyword: assigning a column the target lacks is an error
    val e = intercept[IllegalArgumentException] {
      spark.sql(
        """MERGE INTO graft.dml_evo t USING dml_evo_cs c ON t.id = c.id
          |WHEN MATCHED THEN UPDATE SET quota = c.quota""".stripMargin)
    }
    assert(e.getMessage.contains("unknown column quota"))

    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft.dml_evo t USING dml_evo_cs c ON t.id = c.id
        |WHEN MATCHED THEN UPDATE SET quota = c.quota
        |WHEN NOT MATCHED THEN INSERT (id, owner, quota) VALUES (c.id, 'evo', c.quota)
        |""".stripMargin)
    val got = SnapshotLog.readLatest(spark, dir)
    assert(got.schema.fieldNames.contains("quota"), "schema did not evolve")
    val byId = got.select("id", "quota").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(byId(6L) == Some(777L))
    assert(byId(2000L) == Some(999L))
    assert(byId(7L) == None, "untouched rows must read the new column as null")
    assert(byId.size == 61)
  }

  test("VERSION AS OF and TIMESTAMP AS OF read past versions from SQL text") {
    val dir = freshTable("dml_tt")
    val v0Rows = rows(snap(dir))
    val tsAfterV0 = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(20) // commit stamps are millis; order the commit after ts
    spark.sql("UPDATE graft.dml_tt SET x = 0 WHERE id <= 5")
    val v1Rows = rows(snap(dir))
    assert(v1Rows != v0Rows)

    def q(sql: String): Set[String] =
      rows(spark.sql(s"SELECT id, owner, x, path FROM $sql"))
    assert(q("graft.dml_tt VERSION AS OF 0") == v0Rows, "time travel to v0 diverged")
    assert(q("graft.dml_tt VERSION AS OF 1") == v1Rows)
    // works with an alias and inside a bigger query
    val n = spark.sql(
      "SELECT count(*) AS n FROM graft.dml_tt VERSION AS OF 0 t WHERE t.x > 0")
      .head().getLong(0)
    assert(n == 60L)
    // TIMESTAMP AS OF: a stamp between commit 0 and commit 1 resolves to
    // version 0 (latest at-or-before); the head resolves to version 1
    assert(q(s"graft.dml_tt TIMESTAMP AS OF '$tsAfterV0'") == v0Rows)
    val tsHead = new java.sql.Timestamp(System.currentTimeMillis())
    assert(q(s"graft.dml_tt TIMESTAMP AS OF '$tsHead'") == v1Rows)
    // ... and a timestamp before the first commit is a loud error
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.dml_tt TIMESTAMP AS OF '1999-01-01'").collect()
    }
    assert(e.getMessage.contains("predates"))
  }

  test("OPTIMIZE and VACUUM statements run the log maintenance ops") {
    val dir = freshTable("dml_maint")
    spark.sql("DELETE FROM graft.dml_maint WHERE id % 4 = 0") // leaves a MoR vector
    val before = rows(snap(dir))

    // OPTIMIZE: mask materialized away, rows identical, fresh version
    val opt = spark.sql("OPTIMIZE graft.dml_maint").head()
    assert(opt.getLong(0) == 2L, "OPTIMIZE must commit the next version")
    assert(SnapshotLog.deletes(spark, dir, 2L).isEmpty,
      "OPTIMIZE must materialize the delete vector away")
    assert(rows(snap(dir)) == before)

    // OPTIMIZE ZORDER BY: still answer-invariant
    spark.sql("OPTIMIZE graft.dml_maint ZORDER BY (id, x)")
    assert(rows(snap(dir)) == before)

    // VACUUM RETAIN 1 VERSIONS: old manifests gone, latest readable;
    // grace keeps the young expired data files until a later sweep
    val vac = spark.sql("VACUUM graft.dml_maint RETAIN 1 VERSIONS").head()
    assert(vac.getLong(0) == 3L, s"expected 3 expired manifests, got $vac")
    assert(SnapshotLog.versions(spark, dir) == Seq(3L))
    assert(rows(snap(dir)) == before)

    // a name that is no snapshot table: the text falls through to
    // Spark's parser
    intercept[Exception] { spark.sql("OPTIMIZE graft.no_such_table") }
  }

  test("OPTIMIZE ... WHERE rewrites only the predicate's file footprint") {
    import spark.implicits._
    val dir = catalogTableDir("dml_ow")
    val base = (0L until 800L).map(i => (i, i * 3)).toDF("id", "x")
    SnapshotLog.init(spark, dir, base, "id", numFiles = 8)
    // MoR-delete one key inside the footprint, one outside
    spark.sql("DELETE FROM graft.dml_ow WHERE id = 5 OR id = 500")
    val v1 = SnapshotLog.latestVersion(spark, dir)
    val files1 = SnapshotLog.manifest(spark, dir, v1)
    assert(files1.size == 8 && SnapshotLog.deletes(spark, dir, v1).size == 1)

    val r = spark.sql("OPTIMIZE graft.dml_ow WHERE id < 100").head()
    val v2 = r.getLong(0)
    val files2 = SnapshotLog.manifest(spark, dir, v2)
    // exactly one 100-key file was in the footprint; the other 7 carried
    assert(files1.toSet.intersect(files2.toSet).size == 7,
      s"expected 7 carried files, got ${files1.toSet.intersect(files2.toSet).size}")
    // content identical; masked keys still absent (the vector is kept —
    // the carried files may hold masked physical rows)
    assert(SnapshotLog.deletes(spark, dir, v2).nonEmpty)
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml_ow").head().getLong(0) == 798L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml_ow WHERE id IN (5, 500)")
      .head().getLong(0) == 0L)
    assert(spark.sql("SELECT sum(x) AS s FROM graft.dml_ow").head().getLong(0) ==
      (0L until 800L).filterNot(i => i == 5 || i == 500).map(_ * 3).sum)
    // the partial rewrite is CDC-invisible (rewritten-unchanged rows
    // cancel; masked rows are masked on both sides)
    assert(SnapshotLog.cdc(spark, dir, v1, v2, "id").isEmpty)
    // no-op footprint: nothing matches, no commit
    val r2 = spark.sql("OPTIMIZE graft.dml_ow WHERE id > 100000").head()
    assert(r2.getLong(0) == v2)
    // guard: ZORDER BY + WHERE cannot combine
    val e = intercept[Exception](
      spark.sql("OPTIMIZE graft.dml_ow ZORDER BY (id, x) WHERE id < 10").collect())
    assert(e.getMessage.contains("cannot combine"), e.getMessage)
    // guard: a present-but-empty WHERE is a parse error, never a silent
    // full-table compaction
    val eEmpty = intercept[Exception](spark.sql("OPTIMIZE graft.dml_ow WHERE "))
    assert(eEmpty.getMessage.contains("empty WHERE"), eEmpty.getMessage)

    // the re-insert trap across a partial compact: id=5's masked row was
    // materialized away by the footprint rewrite while its vector entry
    // survived; re-inserting it must land the new row AND purge the key
    // from the vector (merge purges on the inserted masked KEYS, so a
    // physically-absent masked key is handled)
    Seq(("insert", 5L, 555L)).toDF("op", "id", "x")
      .createOrReplaceTempView("ow_reins")
    spark.sql("""MERGE INTO graft.dml_ow t USING ow_reins c ON t.id = c.id
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(spark.sql("SELECT x FROM graft.dml_ow WHERE id = 5").head().getLong(0) == 555L)
    val vLast = SnapshotLog.latestVersion(spark, dir)
    // 500's entry must survive (its physical row lives in a carried file)
    assert(SnapshotLog.deletes(spark, dir, vLast).nonEmpty)
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml_ow WHERE id = 500")
      .head().getLong(0) == 0L)
  }

  test("RESTORE TO VERSION AS OF: state comes back exactly, undo is undoable, vacuumed versions refuse") {
    import spark.implicits._
    val dir = catalogTableDir("dml_rst")
    val base = (0L until 100L).map(i => (i, i * 2)).toDF("id", "x")
    SnapshotLog.init(spark, dir, base, "id", numFiles = 4)
    spark.sql("UPDATE graft.dml_rst SET x = 0 WHERE id % 10 = 0")
    spark.sql("DELETE FROM graft.dml_rst WHERE id = 7")
    val v2 = SnapshotLog.latestVersion(spark, dir)
    assert(v2 == 2L)

    val r = spark.sql("RESTORE TABLE graft.dml_rst TO VERSION AS OF 0").head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 0L)
    // exact original state, read by identifier
    assert(spark.sql("SELECT sum(x) AS s FROM graft.dml_rst").head().getLong(0) ==
      (0L until 100L).map(_ * 2).sum)
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml_rst").head().getLong(0) == 100L)
    // the restored-over state is still time-travel readable -> undo the undo
    spark.sql("RESTORE graft.dml_rst TO VERSION AS OF 2")
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml_rst").head().getLong(0) == 99L)
    assert(spark.sql("SELECT x FROM graft.dml_rst WHERE id = 20").head().getLong(0) == 0L)
    // history labels the restores with their source version
    val ops = spark.sql("DESCRIBE HISTORY graft.dml_rst")
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.take(2) == Seq("restore from=2", "restore from=0"))
    // RESTORE TO TIMESTAMP AS OF resolves through the same commit stamps
    val tsNow = new java.sql.Timestamp(System.currentTimeMillis())
    val rt = spark.sql(s"RESTORE graft.dml_rst TO TIMESTAMP AS OF '$tsNow'").head()
    assert(rt.getLong(1) == 4L, s"head stamp must resolve to the latest, got $rt")
    // a vacuumed version cannot come back
    spark.sql("VACUUM graft.dml_rst RETAIN 2 VERSIONS")
    val e = intercept[Exception](
      spark.sql("RESTORE graft.dml_rst TO VERSION AS OF 1").collect())
    assert(e.getMessage.contains("not committed"), e.getMessage)
  }

  test("DESCRIBE DETAIL summarizes the live version from metadata") {
    val dir = freshTable("dml_detail")
    spark.sql("DELETE FROM graft.dml_detail WHERE id = 1")
    val r = spark.sql("DESCRIBE DETAIL graft.dml_detail").head()
    assert(r.getString(0) == dir)
    assert(r.getString(1) == "id")
    assert(r.getLong(2) == 1L) // the delete's version
    assert(r.getTimestamp(3) != null)
    assert(r.getLong(4) == 3L) // init numFiles = 3
    assert(r.getLong(5) == 1L) // one delete vector
    assert(r.getLong(6) > 0L)
    assert(r.getString(7).contains("\"id\""))
    // flat, un-evolved table: layout + evolution null
    assert(r.isNullAt(11) && r.isNullAt(12))
  }

  test("DESCRIBE DETAIL size_bytes is the live data files' bytes, not the directory's") {
    val dir = freshTable("dml_size")
    def bytesOf(names: Seq[String]): Long =
      names.map(n => Files.size(java.nio.file.Paths.get(s"$dir/data/$n"))).sum
    def sizeBytes: Long = spark.sql("DESCRIBE DETAIL graft.dml_size").head().getLong(6)
    assert(sizeBytes == bytesOf(SnapshotLog.manifest(spark, dir, 0)))
    // a CoW UPDATE rewrites one file: the file only v0 references stays on
    // disk (nothing vacuumed) and must not be counted
    spark.sql("UPDATE graft.dml_size SET x = x + 1 WHERE id = 2")
    val live = SnapshotLog.manifest(spark, dir, 1)
    val onlyPrevious = SnapshotLog.manifest(spark, dir, 0).filterNot(live.contains)
    assert(onlyPrevious.nonEmpty, "fixture degenerate: the UPDATE rewrote no file")
    assert(onlyPrevious.forall(n => Files.exists(java.nio.file.Paths.get(s"$dir/data/$n"))))
    assert(sizeBytes == bytesOf(live))
  }

  test("DESCRIBE DETAIL surfaces layout and pending evolution records") {
    import spark.implicits._
    // bucketed layout
    val bDir = catalogTableDir("det_bkt")
    SnapshotLog.init(spark, bDir,
      (1L to 20L).map(i => (i, i)).toDF("id", "x"), "id", numFiles = 2,
      bucketBy = Some(("id", 4)))
    val rb = spark.sql("DESCRIBE DETAIL graft.det_bkt").head()
    assert(rb.getString(11) == "bucket(4, id)", rb.getString(11))

    // rename chain + drop tombstone until a full rewrite retires them
    val eDir = catalogTableDir("det_evo")
    SnapshotLog.init(spark, eDir,
      (1L to 20L).map(i => (i, i, i)).toDF("id", "a", "z"), "id", numFiles = 2)
    SnapshotLog.renameColumn(spark, eDir, "a", "b")
    SnapshotLog.dropColumn(spark, eDir, "z")
    val re = spark.sql("DESCRIBE DETAIL graft.det_evo").head()
    assert(re.getString(12) == "renamed:b<-a;dropped:z", re.getString(12))
    SnapshotLog.optimize(spark, eDir, _ => 1) // full rewrite retires
    assert(spark.sql("DESCRIBE DETAIL graft.det_evo").head().isNullAt(12))
  }

  test("UPDATE SET c = NULL writes NULL (the __set_null sidecar), " +
    "literal, typed and computed; unassigned columns still keep base") {
    val dir = freshTable("dml_setnull")
    // literal NULL
    spark.sql("UPDATE graft.dml_setnull SET path = NULL WHERE id = 1").collect()
    // typed NULL
    spark.sql("UPDATE graft.dml_setnull SET path = CAST(NULL AS STRING) " +
      "WHERE id = 2").collect()
    // computed-to-null, plus a non-null assignment in the SAME statement
    spark.sql("UPDATE graft.dml_setnull SET path = nullif(owner, owner), x = 777 " +
      "WHERE id = 3").collect()
    val got = snap(dir).where(col("id") <= 4).orderBy("id")
      .select("id", "owner", "x", "path").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) null else r.getString(3))).toSeq
    assert(got == Seq(
      (1L, "u1", 10L, null),   // literal NULL wrote NULL, x kept
      (2L, "u2", 20L, null),   // typed NULL wrote NULL
      (3L, "u0", 777L, null),  // computed NULL wrote NULL, x overwritten
      (4L, "u1", 40L, "/p/4")  // untouched row
    ), s"SET NULL semantics: $got")
    // a computed value that happens to be non-null still overwrites
    spark.sql("UPDATE graft.dml_setnull SET path = concat(owner, '!') " +
      "WHERE id = 4").collect()
    assert(snap(dir).where(col("id") === 4).head().getString(3) == "u1!")
  }

  test("guard rails reject what the changeset semantics cannot honor") {
    val dir = freshTable("dml_guard")
    // assigning the key column
    val e2 = intercept[IllegalArgumentException] {
      spark.sql("UPDATE graft.dml_guard SET id = 99 WHERE id = 1")
    }
    assert(e2.getMessage.contains("key"))
    // target-column references outside the merge condition
    import spark.implicits._
    Seq((1L, 5L)).toDF("id", "x").createOrReplaceTempView("dml_guard_cs")
    val e3 = intercept[IllegalArgumentException] {
      spark.sql(
        """MERGE INTO graft.dml_guard t USING dml_guard_cs c ON t.id = c.id
          |WHEN MATCHED THEN UPDATE SET x = t.x + c.x""".stripMargin)
    }
    assert(e3.getMessage.contains("target column"))
    // EVERY NOT MATCHED action must assign the key — a second insert
    // action omitting it would produce null-keyed rows no later merge
    // could address, so it fails per-action, loudly
    val e4 = intercept[IllegalArgumentException] {
      spark.sql(
        """MERGE INTO graft.dml_guard t USING dml_guard_cs c ON t.id = c.id
          |WHEN NOT MATCHED AND c.x > 0 THEN INSERT (id, x) VALUES (c.id, c.x)
          |WHEN NOT MATCHED THEN INSERT (x) VALUES (c.x)""".stripMargin)
    }
    assert(e4.getMessage.contains("key column id"))
    // INSERT * when the source lacks the key column is the same hazard
    Seq((5L, "/s")).toDF("x", "path").createOrReplaceTempView("dml_guard_nokey")
    val e5 = intercept[IllegalArgumentException] {
      spark.sql(
        """MERGE INTO graft.dml_guard t USING dml_guard_nokey c ON t.id = c.x
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e5.getMessage.contains("key column id") &&
      e5.getMessage.contains("INSERT *"))
    // DML over a name that is no graft-catalog table parses to Spark's
    // own plan (and fails Spark's analysis, not our rewrite)
    intercept[Exception] {
      spark.sql("DELETE FROM not_a_snapshot WHERE x = 1")
    }
    // ordinary SQL is untouched by the injected parser
    assert(spark.sql("SELECT 1 AS one").head().getInt(0) == 1)
  }

  test("CHECK constraints: add validates existing rows, every write path " +
      "enforces on its written rows and aborts with the count") {
    val dir = freshTable("dml_cons")
    assert(spark.sql("ALTER TABLE graft.dml_cons ADD CONSTRAINT x_pos CHECK (x > 0)")
      .head().getLong(0) == 1L)
    // add-time validation: existing rows violating → no commit
    val eAdd = intercept[IllegalStateException] {
      spark.sql("ALTER TABLE graft.dml_cons ADD CONSTRAINT x_small CHECK (x < 100)")
        .collect()
    }
    assert(eAdd.getMessage.contains("existing row(s) violate"))
    assert(SnapshotLog.latestVersion(spark, dir) == 1L)

    def rejected(sql: String, frag: String): Unit = {
      val before = SnapshotLog.latestVersion(spark, dir)
      val m = intercept[IllegalStateException](spark.sql(sql).collect())
        .getMessage
      assert(m.contains("x_pos CHECK (x > 0)") && m.contains(frag),
        s"wanted x_pos + '$frag' in: $m")
      assert(SnapshotLog.latestVersion(spark, dir) == before,
        "a rejected write must not commit")
    }
    // UPDATE (CoW merge path)
    rejected("UPDATE graft.dml_cons SET x = -5 WHERE id = 3", "1 row(s)")
    // MERGE insert + MERGE update, each with its own count
    import spark.implicits._
    Seq((100L, -1L), (101L, -2L)).toDF("id", "x")
      .createOrReplaceTempView("dml_cons_bad")
    rejected(
      """MERGE INTO graft.dml_cons t USING dml_cons_bad c ON t.id = c.id
        |WHEN NOT MATCHED THEN INSERT (id, x) VALUES (c.id, c.x)""".stripMargin,
      "2 row(s)")
    // a PASSING write commits normally
    spark.sql("UPDATE graft.dml_cons SET x = x + 1 WHERE id = 3").collect()
    assert(SnapshotLog.latestVersion(spark, dir) == 2L)
    // INSERT OVERWRITE path enforces too
    val eOw = intercept[IllegalStateException] {
      SnapshotLog.overwrite(spark, dir,
        snap(dir).withColumn("x", col("x") - 10000L), "id", 2)
    }
    assert(eOw.getMessage.contains("INSERT OVERWRITE"))
    // DROP CONSTRAINT lifts enforcement; IF EXISTS of a missing one no-ops
    spark.sql("ALTER TABLE graft.dml_cons DROP CONSTRAINT x_pos").collect()
    spark.sql("ALTER TABLE graft.dml_cons DROP CONSTRAINT IF EXISTS nope").collect()
    spark.sql("UPDATE graft.dml_cons SET x = -5 WHERE id = 3").collect()
    assert(snap(dir).where(col("id") === 3).head().getAs[Long]("x") == -5L)
  }

  test("NOT NULL rides the constraint machinery; constraints survive " +
      "RENAME COLUMN and block DROP COLUMN") {
    val dir = freshTable("dml_nn")
    spark.sql("ALTER TABLE graft.dml_nn ALTER COLUMN owner SET NOT NULL").collect()
    val eNn = intercept[IllegalStateException] {
      spark.sql("UPDATE graft.dml_nn SET owner = nullif(owner, owner) WHERE id = 2")
        .collect()
    }
    assert(eNn.getMessage.contains("notnull_owner CHECK (owner IS NOT NULL)"))
    spark.sql("ALTER TABLE graft.dml_nn ALTER COLUMN owner DROP NOT NULL").collect()
    spark.sql("UPDATE graft.dml_nn SET owner = nullif(owner, owner) WHERE id = 2")
      .collect()
    assert(snap(dir).where(col("id") === 2).head().isNullAt(1))

    // rename: the expr follows the column (and notnull_<c> tracks its
    // name); enforcement keeps working under the new name
    spark.sql("ALTER TABLE graft.dml_nn ADD CONSTRAINT x_pos CHECK (x > 0)").collect()
    spark.sql("ALTER TABLE graft.dml_nn ALTER COLUMN x SET NOT NULL").collect()
    SnapshotLog.renameColumn(spark, dir, "x", "amount")
    val v = SnapshotLog.latestVersion(spark, dir)
    val cons = SnapshotLog.constraintsOf(spark, dir, v).toMap
    assert(cons("x_pos") == "(amount > 0)" || cons("x_pos") == "amount > 0",
      s"expr must follow the rename, got ${cons("x_pos")}")
    assert(cons.contains("notnull_amount") && !cons.contains("notnull_x"))
    val eRn = intercept[IllegalStateException] {
      spark.sql("UPDATE graft.dml_nn SET amount = -1 WHERE id = 4").collect()
    }
    assert(eRn.getMessage.contains("x_pos"))
    // DROP COLUMN of a referenced column is rejected with the fix
    val eDc = intercept[IllegalArgumentException] {
      SnapshotLog.dropColumn(spark, dir, "amount")
    }
    assert(eDc.getMessage.contains("DROP CONSTRAINT"))
    // a RESTORE whose target schema predates the rename cannot keep the
    // live contract (its exprs reference a column the restored schema
    // lacks): rejected loudly, with the fix
    val eRs = intercept[IllegalArgumentException] {
      SnapshotLog.restore(spark, dir, 1L)
    }
    assert(eRs.getMessage.contains("x_pos") &&
      eRs.getMessage.contains("DROP CONSTRAINT"))
    // DESCRIBE DETAIL surfaces the live set
    val detail = spark.sql("DESCRIBE DETAIL graft.dml_nn")
      .select("constraints").head().getString(0)
    assert(detail.contains("x_pos CHECK"))
  }

  test("constraints survive RESTORE and OPTIMIZE when the schema still " +
      "resolves them (the contract, not the state)") {
    val dir = freshTable("dml_cons_rs")
    spark.sql("UPDATE graft.dml_cons_rs SET x = x + 1 WHERE id = 7").collect() // v1
    spark.sql("ALTER TABLE graft.dml_cons_rs ADD CONSTRAINT x_pos CHECK (x > 0)")
      .collect() // v2
    SnapshotLog.restore(spark, dir, 1L) // v3: old rows, live contract
    val v = SnapshotLog.latestVersion(spark, dir)
    assert(SnapshotLog.constraintsOf(spark, dir, v).toMap.contains("x_pos"))
    SnapshotLog.optimize(spark, dir, _ => 1)
    assert(SnapshotLog.constraintsOf(spark, dir,
      SnapshotLog.latestVersion(spark, dir)).toMap.contains("x_pos"))
    val e = intercept[IllegalStateException] {
      spark.sql("UPDATE graft.dml_cons_rs SET x = -1 WHERE id = 7").collect()
    }
    assert(e.getMessage.contains("x_pos"))
  }
}
