package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.SnapshotLog

/** ALTER TABLE RENAME COLUMN / DROP COLUMN as metadata-only commits:
  * pre-rename files keep their bytes and read through the physmap chain,
  * tombstones block resurrection of old physical values, full rewrites
  * retire both, stamps are remapped (rename) or invalidated (drop), and
  * CDC/merge/restore stay correct across mixed-era file sets.
  */
class SchemaRenameDropSpec extends SparkTestBase {

  private def freshWarehouse(): String = {
    val w = Files.createTempDirectory("rencol").toString
    spark.conf.set("spark.graft.catalog.location", w)
    w
  }

  test("rename is metadata-only: same file set, values survive from " +
    "pre-rename files, mixed-era writes compose") {
    val w = freshWarehouse()
    spark.range(0, 20).selectExpr("id", "id * 2 AS a", "id * 3 AS z")
      .createOrReplaceTempView("rc1_in")
    spark.sql("CREATE TABLE graft.rc1 TBLPROPERTIES ('key'='id') AS " +
      "SELECT * FROM rc1_in")
    val dir = s"$w/rc1"
    val vBefore = SnapshotLog.latestVersion(spark, dir)
    val filesBefore = SnapshotLog.manifest(spark, dir, vBefore)

    spark.sql("ALTER TABLE graft.rc1 RENAME COLUMN a TO b")
    val vRen = SnapshotLog.latestVersion(spark, dir)
    assert(SnapshotLog.manifest(spark, dir, vRen) == filesBefore,
      "rename must carry the exact file set by reference")
    assert(SnapshotLog.physMap(spark, dir, vRen) == Map("b" -> Seq("a")))

    // old files' values surface under the new name
    val vals = spark.sql("SELECT id, b FROM graft.rc1 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(vals == (0L until 20L).map(i => (i, i * 2)),
      s"pre-rename values must survive: ${vals.take(5)}")

    // mixed eras: insert new rows (physical name b), update an old row
    // (CoW reads pre-rename files through the chain)
    spark.sql("INSERT INTO graft.rc1 VALUES (100, 200, 300)").collect()
    spark.sql("UPDATE graft.rc1 SET b = 777 WHERE id = 3").collect()
    val after = spark.sql("SELECT id, b, z FROM graft.rc1 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expect = (0L until 20L).map(i =>
      (i, if (i == 3) 777L else i * 2, i * 3)) :+ (100L, 200L, 300L)
    assert(after == expect, s"mixed-era content broken: ${after.take(6)}")

    // filtered read on the renamed column never skips a needed file
    val filtered = spark.sql("SELECT id FROM graft.rc1 WHERE b >= 30 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(filtered == Seq(3L, 15L, 16L, 17L, 18L, 19L, 100L),
      s"filtered read on renamed column: $filtered")

    // time travel is era-exact: v0 still reads the OLD name
    val v0cols = spark.sql("SELECT * FROM graft.rc1 VERSION AS OF 0").columns.toSeq
    assert(v0cols == Seq("id", "a", "z"), s"v0 schema must keep its era: $v0cols")

    // chain composes: b -> c keeps reading the original files
    spark.sql("ALTER TABLE graft.rc1 RENAME COLUMN b TO c")
    assert(SnapshotLog.physMap(spark, dir, SnapshotLog.latestVersion(spark, dir))
      .apply("c") == Seq("b", "a"))
    val c3 = spark.sql("SELECT c FROM graft.rc1 WHERE id = 3").head().getLong(0)
    assert(c3 == 777L)
  }

  test("rename guards: key, partition column, existing and tombstoned " +
    "targets, re-introduction of the old name") {
    val w = freshWarehouse()
    spark.sql("CREATE TABLE graft.rc2 (id BIGINT, a BIGINT, p INT) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('key'='id')")
    spark.sql("INSERT INTO graft.rc2 VALUES (1, 10, 0)").collect()

    def failsWith(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      def msgs(t: Throwable): String =
        if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
      assert(msgs(e).contains(needle), s"$sql -> ${msgs(e)}")
    }
    failsWith("ALTER TABLE graft.rc2 RENAME COLUMN id TO id2", "table key")
    failsWith("ALTER TABLE graft.rc2 RENAME COLUMN p TO q", "partition column")
    failsWith("ALTER TABLE graft.rc2 RENAME COLUMN a TO p", "already exists")

    spark.sql("ALTER TABLE graft.rc2 RENAME COLUMN a TO b")
    // the old physical name is blocked for ADD and as a rename target
    failsWith("ALTER TABLE graft.rc2 ADD COLUMNS (a BIGINT)",
      "previously dropped or renamed away")
    failsWith("ALTER TABLE graft.rc2 RENAME COLUMN b TO a",
      "previously dropped or renamed away")
  }

  test("drop tombstones the name; a full OPTIMIZE retires it and a " +
    "re-added column reads null — never the old values") {
    val w = freshWarehouse()
    spark.range(0, 8).selectExpr("id", "id * 5 AS secret")
      .createOrReplaceTempView("rc3_in")
    spark.sql("CREATE TABLE graft.rc3 TBLPROPERTIES ('key'='id') AS " +
      "SELECT * FROM rc3_in")
    val dir = s"$w/rc3"

    val vBefore = SnapshotLog.latestVersion(spark, dir)
    spark.sql("ALTER TABLE graft.rc3 DROP COLUMN secret")
    val vDrop = SnapshotLog.latestVersion(spark, dir)
    assert(spark.table("graft.rc3").columns.toSeq == Seq("id"))
    assert(SnapshotLog.droppedNames(spark, dir, vDrop) == Set("secret"))
    // same file set by reference — the drop moved no data
    assert(SnapshotLog.manifest(spark, dir, vDrop) ==
      SnapshotLog.manifest(spark, dir, vBefore))

    // resurrection guard: the old physical values still live in files
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.rc3 ADD COLUMNS (secret BIGINT)").collect())
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(e).contains("previously dropped or renamed away"))

    // a full rewrite physically removes the old column; the tombstone
    // retires with it and a fresh ADD of the same name reads all-null
    SnapshotLog.optimize(spark, dir, _ => 2)
    assert(SnapshotLog.droppedNames(spark, dir,
      SnapshotLog.latestVersion(spark, dir)).isEmpty,
      "a full rewrite must retire tombstones")
    spark.sql("ALTER TABLE graft.rc3 ADD COLUMNS (secret BIGINT)").collect()
    val vals = spark.sql("SELECT secret FROM graft.rc3").collect().map(r =>
      if (r.isNullAt(0)) null else r.getLong(0))
    assert(vals.forall(_ == null),
      s"re-added column must NOT resurrect old values: ${vals.take(5).mkString(",")}")
  }

  test("drop of a renamed column tombstones the whole chain; " +
    "key and partition columns cannot be dropped") {
    val w = freshWarehouse()
    spark.sql("CREATE TABLE graft.rc4 (id BIGINT, a BIGINT, p INT) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('key'='id')")
    spark.sql("INSERT INTO graft.rc4 VALUES (1, 10, 0)").collect()
    spark.sql("ALTER TABLE graft.rc4 RENAME COLUMN a TO b")
    spark.sql("ALTER TABLE graft.rc4 DROP COLUMN b")
    val dir = s"$w/rc4"
    assert(SnapshotLog.droppedNames(spark, dir,
      SnapshotLog.latestVersion(spark, dir)) == Set("a", "b"),
      "dropping a renamed column must tombstone every physical name of its chain")
    val e1 = intercept[Exception](
      spark.sql("ALTER TABLE graft.rc4 DROP COLUMN id").collect())
    assert(e1.getMessage.contains("key") ||
      Option(e1.getCause).exists(_.getMessage.contains("key")))
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE graft.rc4 DROP COLUMN p").collect())
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(e2).contains("partition column"))
  }

  test("merge-driven schema evolution cannot resurrect a tombstoned name") {
    val w = freshWarehouse()
    spark.range(0, 6).selectExpr("id", "id AS doomed")
      .createOrReplaceTempView("rc7_in")
    spark.sql("CREATE TABLE graft.rc7 TBLPROPERTIES ('key'='id') AS " +
      "SELECT * FROM rc7_in")
    spark.sql("ALTER TABLE graft.rc7 DROP COLUMN doomed")
    val cs = spark.range(100, 101)
      .selectExpr("'insert' AS op", "id", "id AS doomed")
    val e = intercept[IllegalArgumentException](
      SnapshotLog.merge(spark, s"$w/rc7", cs, "id"))
    assert(e.getMessage.contains("previously dropped or renamed away"),
      e.getMessage)
  }

  test("CDC across a rename reports before-images under the current name; " +
    "restore carries the evolution records") {
    val w = freshWarehouse()
    spark.range(0, 10).selectExpr("id", "id * 2 AS a")
      .createOrReplaceTempView("rc5_in")
    spark.sql("CREATE TABLE graft.rc5 TBLPROPERTIES ('key'='id') AS " +
      "SELECT * FROM rc5_in")
    val dir = s"$w/rc5"
    val vCtas = SnapshotLog.latestVersion(spark, dir)
    spark.sql("ALTER TABLE graft.rc5 RENAME COLUMN a TO b")
    val vRen = SnapshotLog.latestVersion(spark, dir)
    spark.sql("UPDATE graft.rc5 SET b = 999 WHERE id = 4").collect()
    val vUpd = SnapshotLog.latestVersion(spark, dir)

    // the rename commit itself is CDC-invisible (empty file diff)
    assert(SnapshotLog.cdc(spark, dir, vCtas, vRen, "id").isEmpty)
    // the update's before-image comes from a PRE-rename file, under the
    // CURRENT name, with the pre-rename value
    val rows = SnapshotLog.cdc(spark, dir, vRen, vUpd, "id")
      .orderBy("op").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(("update", 4L, 999L)), s"cdc across rename: $rows")
    val signed = SnapshotLog.cdcSigned(spark, dir, vRen, vUpd, "id")
      .orderBy("__sign").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(signed == Seq((4L, 8L, -1), (4L, 999L, 1)),
      s"signed images across rename: $signed")

    // restore to the post-rename version from a later narrower one
    spark.sql("ALTER TABLE graft.rc5 DROP COLUMN b")
    SnapshotLog.restore(spark, dir, vUpd)
    val restored = spark.sql("SELECT id, b FROM graft.rc5 WHERE id IN (3, 4) " +
      "ORDER BY id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(restored == Seq((3L, 6L), (4L, 999L)),
      s"restore must carry the physmap: $restored")
  }

  test("CDC over a window spanning retire-then-readd of a column name " +
    "fails loudly; windows on either side of the re-ADD still read") {
    val w = freshWarehouse()
    spark.range(0, 10).selectExpr("id", "id * 2 AS a")
      .createOrReplaceTempView("rc7_in")
    spark.sql("CREATE TABLE graft.rc7 TBLPROPERTIES ('key'='id') AS " +
      "SELECT * FROM rc7_in")
    val dir = s"$w/rc7"
    val vCtas = SnapshotLog.latestVersion(spark, dir)
    spark.sql("ALTER TABLE graft.rc7 RENAME COLUMN a TO b")
    spark.sql("OPTIMIZE graft.rc7").collect() // full rewrite retires the chain
    spark.sql("ALTER TABLE graft.rc7 ADD COLUMNS (a BIGINT)") // legal re-ADD
    val vReadd = SnapshotLog.latestVersion(spark, dir)
    spark.sql("UPDATE graft.rc7 SET a = 1 WHERE id = 4").collect()
    val vUpd = SnapshotLog.latestVersion(spark, dir)

    // spanning window: 'a' is live at the end AND a prior physical name
    // of 'b' inside the window — the era read cannot disambiguate; the
    // old behavior built a duplicate-column schema or surfaced old 'a'
    // bytes under the re-added column
    val ex = intercept[IllegalStateException] {
      SnapshotLog.cdc(spark, dir, vCtas, vUpd, "id").collect()
    }
    assert(ex.getMessage.contains("re-introduction"), ex.getMessage)

    // a window that starts after the re-ADD composes no colliding chain
    val rows = SnapshotLog.cdc(spark, dir, vReadd, vUpd, "id")
      .select("op", "id", "a", "b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows == Seq(("update", 4L, 1L, 8L)), s"post-readd window: $rows")
  }

  test("OPTIMIZE WHERE on a renamed column prunes with the remapped " +
    "stamps and rewrites only the matching footprint") {
    val w = freshWarehouse()
    val dir = s"$w/rc6"
    // 4 key-clustered files over id 0..39 (a = id so a-ranges cluster too)
    SnapshotLog.init(spark,
      dir, spark.range(0, 40).selectExpr("id", "id AS a"), "id", numFiles = 4)
    spark.conf.set("spark.graft.catalog.location", w)
    spark.sql("ALTER TABLE graft.rc6 RENAME COLUMN a TO b")
    val pred = spark.sessionState.sqlParser.parseExpression("b < 10")
    val c = SnapshotLog.optimize(spark, dir, _ => 1, where = Some(pred))
    assert(c.report.nRewritten == 1,
      s"remapped stamps must scope the footprint to 1 of 4 files: ${c.report}")
    val content = spark.sql("SELECT id, b FROM graft.rc6 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(content == (0L until 40L).map(i => (i, i)),
      "partial rewrite across the rename must preserve content")
  }
}
