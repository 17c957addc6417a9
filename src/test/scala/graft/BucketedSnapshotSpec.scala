package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.SnapshotLog

/** `PARTITIONED BY (bucket(N, col))` — the hash layout for uniform keys:
  * every write distributes rows into N stable `pt_graftbucket=` dirs by
  * pmod(xxhash64(col), N), point predicates prune to ONE directory of N
  * at planning time (exact, from layout — before Bloom sidecars), merge
  * planning scopes its footprint by the changeset keys' buckets, and the
  * maintenance surface (OPTIMIZE, restore) keeps the tree.
  */
class BucketedSnapshotSpec extends SparkTestBase {

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"bucket_$tag").toString + "/t"

  test("init writes the bucket tree; a point read opens one bucket " +
    "directory of N; content and full scans are unchanged") {
    val dir = freshDir("init")
    val rows = spark.range(0, 800).selectExpr("id", "id * 3 AS x")
    SnapshotLog.init(spark, dir, rows, "id", numFiles = 8,
      bucketBy = Some(("id", 8)))
    // layout fact: every data file sits in a pt_graftbucket=<b> dir
    val names = SnapshotLog.manifest(spark, dir, 0L)
    assert(names.nonEmpty && names.forall(_.startsWith("pt_graftbucket=")),
      s"bucket layout missing: ${names.take(3)}")
    val buckets = names.map(_.split('/').head).distinct
    assert(buckets.size == 8, s"expected 8 bucket dirs, got $buckets")

    val full = SnapshotLog.read(spark, dir, 0L)
    assert(full.count() == 800)
    assert(filesRead(full) == names.size)

    // the point read prunes to the key's single bucket directory
    val point = SnapshotLog.read(spark, dir, 0L).where(col("id") === 42L)
    val opened = filesRead(point)
    val filesPerBucket = names.groupBy(_.split('/').head).map(_._2.size).max
    assert(opened <= filesPerBucket,
      s"point read must open one bucket dir (≤$filesPerBucket files), got $opened")
    assert(point.select("x").head().getLong(0) == 126L)

    // a type-mismatched literal must NOT prune (xxhash64 is type-
    // sensitive) — conservative, still correct
    val mis = SnapshotLog.read(spark, dir, 0L)
      .where(col("id") === lit(42).cast("int"))
    assert(mis.count() == 1)
  }

  test("ingest shape: per-batch inserts land in the tree and a point " +
    "probe opens ~#batches files, not #batches * N") {
    val dir = freshDir("ingest")
    val n = 8
    SnapshotLog.init(spark, dir,
      spark.range(0, 100).selectExpr("id", "id AS x"), "id", numFiles = n,
      bucketBy = Some(("id", n)))
    // three ingest batches (insert-if-absent merges, the d29 shape)
    (1 to 3).foreach { b =>
      val batch = spark.range(100L * b, 100L * (b + 1))
        .selectExpr("'insert' AS op", "id", "id AS x")
      SnapshotLog.merge(spark, dir, batch, "id")
    }
    val v = SnapshotLog.latestVersion(spark, dir)
    val names = SnapshotLog.manifest(spark, dir, v)
    val point = SnapshotLog.read(spark, dir, v).where(col("id") === 250L)
    val opened = filesRead(point)
    val perBucket = names.groupBy(_.split('/').head).map(_._2.size).max
    assert(opened <= perBucket && opened < names.size,
      s"point probe must stay within one bucket dir: $opened of ${names.size}")
    assert(point.head().getLong(1) == 250L)
  }

  test("merge planning scopes its footprint to the changeset keys' " +
    "buckets (ranges alone cannot prune a hash layout)") {
    val dir = freshDir("scope")
    SnapshotLog.init(spark, dir,
      spark.range(0, 400).selectExpr("id", "id AS x"), "id", numFiles = 8,
      bucketBy = Some(("id", 8)))
    val nFiles = SnapshotLog.manifest(spark, dir, 0L).size
    // update ONE key: only its bucket's file(s) rewrite
    val cs = spark.range(7, 8).selectExpr("'update' AS op", "id", "id * 100 AS x")
    val c = SnapshotLog.merge(spark, dir, cs, "id")
    assert(c.report.nRewritten < nFiles && c.report.nRewritten >= 1,
      s"bucket scope must bound the rewrite: ${c.report} of $nFiles files")
    val got = SnapshotLog.readLatest(spark, dir).where(col("id") === 7L)
      .head().getLong(1)
    assert(got == 700L)
    assert(SnapshotLog.readLatest(spark, dir).count() == 400)
  }

  test("merge bucket scope hashes the TABLE's stamped key type: an " +
    "INT-typed changeset key against a BIGINT-keyed layout still finds " +
    "its files (updates land, re-inserts are deduped)") {
    val dir = freshDir("inttype")
    SnapshotLog.init(spark, dir,
      spark.range(0, 400).selectExpr("id", "id AS x"), "id", numFiles = 8,
      bucketBy = Some(("id", 8)))
    // xxhash64(7: INT) != xxhash64(7: LONG) — an uncast INT source key
    // must not compute wrong buckets and silently drop the update
    val cs = spark.range(7, 8)
      .selectExpr("'update' AS op", "CAST(id AS INT) AS id", "id * 100 AS x")
      .unionByName(spark.range(9, 10)
        .selectExpr("'insert' AS op", "CAST(id AS INT) AS id", "id * 100 AS x"))
    SnapshotLog.merge(spark, dir, cs, "id")
    val t = SnapshotLog.readLatest(spark, dir)
    assert(t.where(col("id") === 7L).head().getLong(1) == 700L,
      "INT-keyed update was dropped by wrong bucket scoping")
    // insert of an existing key: insCheck must SEE the key (same hash
    // hazard) and dedupe it
    assert(t.where(col("id") === 9L).count() == 1)
    assert(t.where(col("id") === 9L).head().getLong(1) == 9L,
      "existing key was duplicated/overwritten by a missed insCheck")
    assert(t.count() == 400)
  }

  test("catalog SQL surface: CREATE PARTITIONED BY (bucket(N, col)), " +
    "partitioning() reports it, maintenance guards hold") {
    val w = Files.createTempDirectory("bucket_cat").toString
    spark.conf.set("spark.graft.catalog.location", w)
    try {
      spark.sql("CREATE TABLE graft.bkt (id BIGINT, x BIGINT) " +
        "PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('key'='id')")
      spark.range(0, 200).selectExpr("id", "id AS x")
        .createOrReplaceTempView("bkt_in")
      spark.sql("INSERT INTO graft.bkt SELECT * FROM bkt_in")
      assert(spark.sql("SELECT count(*) AS n FROM graft.bkt").head().getLong(0) == 200)
      assert(spark.sql("SELECT x FROM graft.bkt WHERE id = 11").head().getLong(0) == 11)

      val tbl = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[graft.sql.GraftTableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array.empty, "bkt"))
      assert(tbl.partitioning().map(_.describe()).toSeq == Seq("bucket(4, id)"),
        tbl.partitioning().map(_.describe()).mkString(","))

      // bucket column cannot be renamed or dropped; ZORDER is rejected
      val dir = s"$w/bkt"
      val e1 = intercept[Exception](
        spark.sql("ALTER TABLE graft.bkt RENAME COLUMN id TO id2").collect())
      def msgs(t: Throwable): String =
        if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
      assert(msgs(e1).contains("key") || msgs(e1).contains("bucket"))
      val e2 = intercept[Exception](
        SnapshotLog.compactZ(spark, dir, "id", "x", 4))
      assert(e2.getMessage.contains("bucket"))

      // OPTIMIZE keeps the tree; point reads still prune afterwards
      SnapshotLog.compact(spark, dir, numFiles = 4)
      val v = SnapshotLog.latestVersion(spark, dir)
      val names = SnapshotLog.manifest(spark, dir, v)
      assert(names.forall(_.startsWith("pt_graftbucket=")),
        s"OPTIMIZE must keep the bucket tree: ${names.take(3)}")
      val point = SnapshotLog.read(spark, dir, v).where(col("id") === 11L)
      val perBucket = names.groupBy(_.split('/').head).map(_._2.size).max
      assert(filesRead(point) <= perBucket)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft.bkt")
    }
  }

  test("OPTIMIZE WHERE with a point predicate on the bucketed column " +
    "rewrites only that bucket's footprint — including retyped literals") {
    val dir = freshDir("optw")
    SnapshotLog.init(spark, dir,
      spark.range(0, 400).selectExpr("id", "id AS x"), "id", numFiles = 8,
      bucketBy = Some(("id", 8)))
    val nFiles = SnapshotLog.manifest(spark, dir, 0L).size
    // parsed predicate: the literal parses as INT, the column is LONG —
    // the probe retypes losslessly and still prunes
    val pred = spark.sessionState.sqlParser.parseExpression("id = 7")
    val c = SnapshotLog.compactWhere(spark, dir, pred,
      targetBytes = Long.MaxValue)
    assert(c.report.nRewritten < nFiles && c.report.nRewritten >= 1,
      s"bucket scope must bound OPTIMIZE WHERE: ${c.report} of $nFiles")
    assert(SnapshotLog.readLatest(spark, dir).count() == 400)
    // a predicate the layout cannot scope (range) stays conservative
    val c2 = SnapshotLog.compactWhere(spark, dir,
      spark.sessionState.sqlParser.parseExpression("id < 1000000"),
      targetBytes = Long.MaxValue)
    assert(c2.report.nRewritten >= 1)
    assert(SnapshotLog.readLatest(spark, dir).count() == 400)
  }

  test("identity + bucket cannot combine; bucket count must be positive") {
    val dir = freshDir("guards")
    val df = spark.range(0, 10).selectExpr("id", "id AS x", "id % 2 AS p")
    val e1 = intercept[IllegalArgumentException](SnapshotLog.init(
      spark, dir, df, "id", 2, partitionBy = Seq("p"),
      bucketBy = Some(("id", 4))))
    assert(e1.getMessage.contains("cannot combine"))
    val e2 = intercept[IllegalArgumentException](SnapshotLog.init(
      spark, dir, df, "id", 2, bucketBy = Some(("id", 0))))
    assert(e2.getMessage.contains(">= 1"))
  }
}
