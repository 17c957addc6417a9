package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.SnapshotLog

/** Snapshot tables through the `graft` DSv2 TableCatalog
  * ([[graft.sql.GraftTableCatalog]]): CREATE TABLE / CTAS / INSERT INTO /
  * INSERT OVERWRITE / SELECT (+ time travel) / MERGE / UPDATE / DELETE /
  * OPTIMIZE / VACUUM / DESCRIBE HISTORY, all against catalog IDENTIFIERS.
  */
class GraftCatalogSqlSpec extends SparkTestBase {

  private def freshBase(tag: String): String = {
    val base = Files.createTempDirectory(s"graft_cat_$tag").toString
    spark.conf.set("spark.graft.catalog.location", base)
    base
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("CREATE TABLE + INSERT INTO + SELECT round-trip through catalog identifiers") {
    freshBase("crud")
    spark.sql("DROP TABLE IF EXISTS graft.t1")
    spark.sql("CREATE TABLE graft.t1 (id BIGINT, owner STRING, x BIGINT) " +
      "TBLPROPERTIES ('key'='id')")
    assert(spark.sql("SELECT * FROM graft.t1").isEmpty, "fresh table must be empty")

    spark.sql("INSERT INTO graft.t1 SELECT id, concat('u', id % 3), id * 10 " +
      "FROM range(1, 61) AS r(id)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.t1").head().getLong(0) == 60L)

    // keyed INSERT-IF-ABSENT: re-inserting existing keys is a no-op,
    // fresh keys land
    spark.sql("INSERT INTO graft.t1 VALUES (1, 'dup', 999), (1000, 'new', 42)")
    val got = spark.sql("SELECT id, owner, x FROM graft.t1 WHERE id IN (1, 1000)")
    assert(rows(got) == Set("1|u1|10", "1000|new|42"),
      s"insert-if-absent violated: ${rows(got)}")

    // the write went through the log: versions 0 (empty) .. 2
    val dir = spark.sql("SELECT * FROM graft.t1").sparkSession
      .conf.get("spark.graft.catalog.location") + "/t1"
    assert(SnapshotLog.versions(spark, dir) == Seq(0L, 1L, 2L))
  }

  test("CTAS creates and fills in one statement; INSERT OVERWRITE replaces") {
    freshBase("ctas")
    spark.sql("CREATE TABLE graft.agg TBLPROPERTIES ('key'='k') AS " +
      "SELECT id AS k, id * id AS sq FROM range(0, 10) AS r(id)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.agg").head().getLong(0) == 10L)
    assert(spark.sql("SELECT sq FROM graft.agg WHERE k = 7").head().getLong(0) == 49L)

    spark.sql("INSERT OVERWRITE graft.agg SELECT id AS k, id + 1 AS sq " +
      "FROM range(0, 3) AS r(id)")
    assert(rows(spark.sql("SELECT k, sq FROM graft.agg")) ==
      Set("0|1", "1|2", "2|3"), "overwrite must replace the full table")
    // ... as a NEW version: the CTAS content is still time-travel readable
    val latest = spark.sql("DESCRIBE HISTORY graft.agg")
      .agg(max("version")).head().getLong(0)
    assert(latest >= 2L)
    assert(rows(spark.sql(s"SELECT k, sq FROM graft.agg VERSION AS OF ${latest - 1}"))
      == (0L until 10L).map(i => s"$i|${i * i}").toSet)
  }

  test("MERGE / UPDATE / DELETE / OPTIMIZE / VACUUM / DESCRIBE HISTORY against catalog identifiers") {
    import spark.implicits._
    freshBase("dml")
    spark.sql("CREATE TABLE graft.m (id BIGINT, owner STRING, x BIGINT) " +
      "TBLPROPERTIES ('key'='id')")
    spark.sql("INSERT INTO graft.m SELECT id, concat('u', id % 3), id * 10 " +
      "FROM range(1, 61) AS r(id)")

    Seq((10L, 777L), (2000L, 42L)).toDF("id", "x")
      .createOrReplaceTempView("cat_cs")
    val mv = spark.sql(
      """MERGE INTO graft.m t USING cat_cs c ON t.id = c.id
        |WHEN MATCHED THEN UPDATE SET x = c.x
        |WHEN NOT MATCHED THEN INSERT (id, owner, x) VALUES (c.id, 'merged', c.x)
        |""".stripMargin).head().getLong(0)
    assert(mv == 2L, "MERGE must commit version 2")
    assert(spark.sql("SELECT x FROM graft.m WHERE id = 10").head().getLong(0) == 777L)
    assert(spark.sql("SELECT owner FROM graft.m WHERE id = 2000").head().getString(0) == "merged")

    spark.sql("UPDATE graft.m SET x = 0 WHERE id <= 5")
    assert(spark.sql("SELECT sum(x) AS s FROM graft.m WHERE id <= 5").head().getLong(0) == 0L)

    spark.sql("DELETE FROM graft.m WHERE owner = 'u1'")
    assert(spark.sql("SELECT count(*) AS n FROM graft.m WHERE owner = 'u1'")
      .head().getLong(0) == 0L)

    // maintenance by identifier
    val opt = spark.sql("OPTIMIZE graft.m").head()
    assert(opt.getLong(0) == 5L)
    spark.sql("VACUUM graft.m RETAIN 2 VERSIONS")
    assert(SnapshotLog.versions(spark,
      spark.conf.get("spark.graft.catalog.location") + "/m") == Seq(4L, 5L))

    // history: newest first, op labels from the manifest chain
    val hist = spark.sql("DESCRIBE HISTORY graft.m")
      .select("version", "operation").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(hist == Seq(5L -> "optimize", 4L -> "delete"), s"history: $hist")
    assert(spark.sql("DESCRIBE HISTORY graft.m").columns.toSeq ==
      Seq("version", "ts", "operation", "files", "delete_vectors",
        "range_stamps", "txn"))
  }

  test("time travel by identifier: VERSION AS OF via loadTable, TIMESTAMP AS OF via commit stamps") {
    freshBase("tt")
    spark.sql("CREATE TABLE graft.tt (id BIGINT, x BIGINT) TBLPROPERTIES ('key'='id')")
    spark.sql("INSERT INTO graft.tt SELECT id, id FROM range(0, 5) AS r(id)")
    val tsAfterV1 = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(20) // commit stamps are millis; order the next commit after ts
    spark.sql("UPDATE graft.tt SET x = x + 100")

    assert(rows(spark.sql("SELECT id, x FROM graft.tt VERSION AS OF 1")) ==
      (0L until 5L).map(i => s"$i|$i").toSet)
    assert(rows(spark.sql("SELECT id, x FROM graft.tt VERSION AS OF 2")) ==
      (0L until 5L).map(i => s"$i|${i + 100}").toSet)
    // a timestamp between commit 1 and commit 2 resolves to version 1
    assert(rows(spark.sql(
      s"SELECT id, x FROM graft.tt TIMESTAMP AS OF '$tsAfterV1'")) ==
      (0L until 5L).map(i => s"$i|$i").toSet)
    // before the first commit: loud rejection
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.tt TIMESTAMP AS OF '1999-01-01'").collect()
    }
    assert(e.getMessage.contains("predates"))
    // writing to a pinned version is refused
    val e2 = intercept[Exception] {
      spark.sql("INSERT INTO graft.tt VERSION AS OF 1 VALUES (9, 9)")
    }
    assert(e2 != null)
  }

  test("a Scala-API commit and another session's DELETE both show in the next SELECT") {
    import spark.implicits._
    val base = freshBase("fresh")
    val dir = s"$base/fr"
    SnapshotLog.init(spark, dir, (1L to 10L).map(i => (i, i * 10)).toDF("id", "x"),
      "id", numFiles = 2)
    def count(s: org.apache.spark.sql.SparkSession): Long =
      s.sql("SELECT count(*) AS n FROM graft.fr").head().getLong(0)
    assert(count(spark) == 10L)
    // a commit made outside SQL: the identifier resolves the new latest
    SnapshotLog.merge(spark, dir, Seq(("insert", 11L, 110L)).toDF("op", "id", "x"), "id")
    assert(count(spark) == 11L)
    // a second session has its own SQL conf: point its catalog at the
    // same warehouse, and its SELECT and DELETE address the same table
    val other = spark.newSession()
    graft.sql.GraftTableCatalog.withLocation(other, base) {
      assert(count(other) == 11L)
      assert(other.sql("DELETE FROM graft.fr WHERE id = 1").head().getLong(0) == 2L)
    }
    assert(spark.sql("SELECT id FROM graft.fr").as[Long].collect().toSet ==
      (2L to 11L).toSet)
  }

  test("catalog DDL: EXISTS / DROP / SHOW TABLES / namespaces map to directories") {
    val base = freshBase("ddl")
    spark.sql("CREATE TABLE graft.ns.deep (k BIGINT, v STRING) TBLPROPERTIES ('key'='k')")
    spark.sql("INSERT INTO graft.ns.deep VALUES (1, 'a')")
    assert(spark.sql("SELECT v FROM graft.ns.deep WHERE k = 1").head().getString(0) == "a")
    assert(SnapshotLog.versions(spark, s"$base/ns/deep").nonEmpty,
      "namespace must map to a subdirectory")

    spark.sql("CREATE TABLE graft.ns.other (k BIGINT) TBLPROPERTIES ('key'='k')")
    val listed = spark.sql("SHOW TABLES IN graft.ns").select("tableName")
      .collect().map(_.getString(0)).toSet
    assert(listed == Set("deep", "other"), s"SHOW TABLES: $listed")

    spark.sql("DROP TABLE graft.ns.other")
    assert(!spark.catalog.tableExists("graft.ns.other"))
    // DML over a dropped/unknown catalog table falls through to Spark's
    // own analysis error, not a graft rewrite
    intercept[Exception] { spark.sql("DELETE FROM graft.ns.other WHERE k = 1") }
  }

  test("read plan through the catalog is the parquet scan + mask, with filter pushdown intact") {
    freshBase("plan")
    spark.sql("CREATE TABLE graft.p (id BIGINT, x BIGINT) TBLPROPERTIES ('key'='id')")
    spark.sql("INSERT INTO graft.p SELECT id, id * 2 FROM range(0, 1000) AS r(id)")
    spark.sql("DELETE FROM graft.p WHERE id % 100 = 0") // leaves a MoR mask

    val df = spark.sql("SELECT x FROM graft.p WHERE id = 17")
    assert(df.head().getLong(0) == 34L)
    val physical = df.queryExecution.executedPlan.toString
    // the relation was replaced by a real parquet scan (no DSv2 connector
    // row loop), the filter reached it, and the mask is an anti-join
    assert(physical.contains("FileScan parquet"), physical.take(400))
    assert(physical.contains("PushedFilters: [IsNotNull(id), EqualTo(id,17)]"),
      "filter must reach the parquet scan:\n" + physical.take(600))
    assert(df.queryExecution.optimizedPlan.toString.contains("LeftAnti"),
      "delete-vector mask must plan as an anti-join")

    // masked row really is gone through SQL
    assert(spark.sql("SELECT count(*) AS n FROM graft.p").head().getLong(0) == 990L)
  }

  test("namespaces are directories: CREATE / SHOW / USE-in-identifier / DROP") {
    freshBase("ns")
    spark.sql("CREATE NAMESPACE graft.db2")
    assert(spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("db2"))
    spark.sql("CREATE TABLE graft.db2.t (id BIGINT, x BIGINT) " +
      "TBLPROPERTIES ('key'='id')")
    spark.sql("INSERT INTO graft.db2.t VALUES (1, 10)")
    assert(spark.sql("SELECT x FROM graft.db2.t WHERE id = 1").head().getLong(0) == 10L)
    assert(spark.sql("SHOW TABLES IN graft.db2").collect()
      .map(_.getString(1)).contains("t"))
    // non-empty namespace refuses a bare drop; CASCADE removes it
    intercept[Exception](spark.sql("DROP NAMESPACE graft.db2"))
    spark.sql("DROP NAMESPACE graft.db2 CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("db2"))
    // a TABLE directory is not a namespace
    spark.sql("CREATE TABLE graft.plain (id BIGINT) TBLPROPERTIES ('key'='id')")
    assert(!spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("plain"))
    spark.sql("DROP TABLE graft.plain")
  }

  test("ALTER TABLE ADD COLUMNS: metadata-only widen, old rows null, era-scoped time travel") {
    freshBase("alter")
    spark.sql("CREATE TABLE graft.a (id BIGINT, x STRING) TBLPROPERTIES ('key'='id')")
    spark.sql("INSERT INTO graft.a SELECT id, concat('v', id) FROM range(0, 40) AS r(id)")
    val dir = spark.conf.get("spark.graft.catalog.location") + "/a"
    val filesBefore = SnapshotLog.manifest(spark, dir, 1L)

    spark.sql("ALTER TABLE graft.a ADD COLUMNS (quota BIGINT, note STRING)")

    // metadata-only: the new version carries the SAME data files
    assert(SnapshotLog.manifest(spark, dir, 2L) == filesBefore,
      "ALTER must not move data")
    // old rows read the new columns as null; inserts can now carry them
    assert(spark.sql("SELECT count(*) AS n FROM graft.a WHERE quota IS NULL")
      .head().getLong(0) == 40L)
    spark.sql("INSERT INTO graft.a VALUES (100, 'wide', 9, 'hello')")
    assert(spark.sql("SELECT quota, note FROM graft.a WHERE id = 100")
      .head().toSeq == Seq(9L, "hello"))
    // UPDATE can target the new column
    spark.sql("UPDATE graft.a SET quota = 5 WHERE id = 3")
    assert(spark.sql("SELECT quota FROM graft.a WHERE id = 3").head().getLong(0) == 5L)
    // time travel to the pre-alter version shows the schema of its era
    assert(spark.sql("SELECT * FROM graft.a VERSION AS OF 1").columns.toSeq ==
      Seq("id", "x"))

    // rejected shapes fail loudly, not silently (RENAME/DROP COLUMN are
    // supported metadata-only ops since round 15 — SchemaRenameDropSpec —
    // so the rejections left here are retypes and duplicate adds)
    intercept[Exception](
      spark.sql("ALTER TABLE graft.a ALTER COLUMN x TYPE BIGINT"))
    intercept[Exception](spark.sql("ALTER TABLE graft.a ADD COLUMNS (quota BIGINT)"))
  }

  test("TRUNCATE TABLE empties the live version as an ordinary commit; " +
    "history stays time-travel readable") {
    val w = java.nio.file.Files.createTempDirectory("trunc").toString
    spark.conf.set("spark.graft.catalog.location", w)
    spark.sql("CREATE TABLE graft.tr (id BIGINT, x BIGINT) " +
      "TBLPROPERTIES ('key'='id')")
    spark.sql("INSERT INTO graft.tr VALUES (1, 10), (2, 20)").collect()
    val vBefore = graft.operators.SnapshotLog.latestVersion(spark, s"$w/tr")
    spark.sql("TRUNCATE TABLE graft.tr").collect()
    assert(spark.sql("SELECT count(*) AS n FROM graft.tr").head().getLong(0) == 0L)
    assert(spark.table("graft.tr").columns.toSeq == Seq("id", "x"),
      "truncate must keep the schema")
    // the pre-truncate version is still readable, and inserts work after
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.tr VERSION AS OF $vBefore")
      .head().getLong(0) == 2L)
    spark.sql("INSERT INTO graft.tr VALUES (3, 30)").collect()
    assert(spark.sql("SELECT x FROM graft.tr").head().getLong(0) == 30L)
    spark.sql("DROP TABLE IF EXISTS graft.tr")
  }
}
