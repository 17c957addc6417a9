package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.SnapshotLog

/** Hive-style identity partitioning on snapshot tables: layout, declared
  * partition values, static pruning, DYNAMIC partition pruning, DML
  * through the partition tree, partition-scoped OPTIMIZE, and equality
  * with an unpartitioned twin throughout.
  */
class PartitionedSnapshotSpec extends SparkTestBase {

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"part-$tag").toString + "/t"

  private def fixture(n: Int = 600): DataFrame = {
    import spark.implicits._
    (0L until n).map(i => (i, (i % 5).toInt, s"u${i % 7}", i * 3))
      .toDF("id", "day", "owner", "x")
  }

  test("partitioned init: hive layout, manifest-declared values, read equality") {
    val dir = freshDir("init")
    SnapshotLog.init(spark, dir, fixture(), "id", numFiles = 4,
      partitionBy = Seq("day"))
    val names = SnapshotLog.manifest(spark, dir, 0L)
    assert(names.forall(_.startsWith("pt_day=")),
      s"manifest names must carry the partition tree: ${names.take(3)}")
    assert(names.map(_.split('/').head).distinct.sorted ==
      (0 to 4).map(d => s"pt_day=$d"))
    // equality with a flat twin
    val flat = freshDir("init-flat")
    SnapshotLog.init(spark, flat, fixture(), "id", numFiles = 4)
    val a = SnapshotLog.read(spark, dir, 0L).orderBy("id").collect().toSeq
    val b = SnapshotLog.read(spark, flat, 0L)
      .select(SnapshotLog.read(spark, dir, 0L).columns.map(col).toSeq: _*)
      .orderBy("id").collect().toSeq
    assert(a == b)
    // partition columns remain physically present in the files
    // (self-contained CoW planning): a direct file read sees `day`
    val one = new org.apache.hadoop.fs.Path(s"$dir/data/${names.head}")
    assert(spark.read.parquet(one.toString).columns.contains("day"))
  }

  test("static partition pruning and per-partition file grouping") {
    val dir = freshDir("prune")
    SnapshotLog.init(spark, dir, fixture(), "id", numFiles = 4,
      partitionBy = Seq("day"))
    val all = SnapshotLog.read(spark, dir, 0L)
    val total = filesRead(all)
    assert(total >= 5) // at least one file per partition value

    val oneDay = SnapshotLog.read(spark, dir, 0L).where(col("day") === 3)
    val perDay = filesRead(oneDay)
    assert(perDay < total && perDay >= 1,
      s"partition filter must prune: $perDay of $total")
    assert(oneDay.count() == 120)

    // pruning composes with key-range stamps INSIDE the partition
    val both = SnapshotLog.read(spark, dir, 0L)
      .where(col("day") === 3 && col("id") < 50)
    assert(filesRead(both) <= perDay)
    assert(both.count() == 10)

    // the scan declares the partition schema (DPP eligibility)
    assert(snapshotScan(oneDay).relation.partitionSchema.fieldNames.toSeq == Seq("day"))
  }

  test("dynamic partition pruning against a filtered dimension") {
    val dir = freshDir("dpp")
    SnapshotLog.init(spark, dir, fixture(), "id", numFiles = 4,
      partitionBy = Seq("day"))
    import spark.implicits._
    // the dim side needs a SURVIVING selective predicate for the DPP rule
    // to fire — a LocalRelation folds its filter away, so stage the dim
    // as parquet (what a real dimension is) and filter the scan
    val dimDir = freshDir("dpp-dim")
    Seq((0, "drop"), (3, "keep"), (99, "drop")).toDF("d", "tag")
      .write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir).where(col("tag") === "keep")
    val fact = SnapshotLog.read(spark, dir, 0L)
    val joined = fact.join(broadcast(dim), fact("day") === dim("d"))
    assert(joined.collect().length == 120)
    val plan = joined.queryExecution.executedPlan.treeString
    val scan = snapshotScan(joined)
    assert(plan.contains("dynamicpruning"),
      s"expected a DPP filter in the plan:\n$plan")
    // the runtime metric must show fewer files than the full table
    val full = filesRead(SnapshotLog.read(spark, dir, 0L))
    assert(scan.metrics("numFiles").value < full,
      s"DPP must prune files at runtime: ${scan.metrics("numFiles").value} vs $full")
  }

  test("DML through the partition tree: merge, MoR delete, re-insert") {
    import spark.implicits._
    val dir = freshDir("dml")
    SnapshotLog.init(spark, dir, fixture(), "id", numFiles = 4,
      partitionBy = Seq("day"))
    // update moves a row ACROSS partitions (day is payload too)
    val cs = Seq(
      ("update", 10L, 9, null.asInstanceOf[String], 777L),
      ("delete", 11L, 0, null.asInstanceOf[String], 0L),
      ("insert", 9000L, 2, "u-new", 1L))
      .toDF("op", "id", "day", "owner", "x")
      .withColumn("day", when(col("op") === "delete", lit(null: Integer))
        .otherwise(col("day")))
      .withColumn("x", when(col("op") === "delete", lit(null: java.lang.Long))
        .otherwise(col("x")))
    SnapshotLog.merge(spark, dir, cs, "id")
    val v1 = SnapshotLog.latestVersion(spark, dir)
    val t = SnapshotLog.read(spark, dir, v1)
    assert(t.count() == 600) // -1 delete +1 insert
    assert(t.where(col("id") === 10L).select("day", "x").head() ==
      org.apache.spark.sql.Row(9, 777L))
    assert(t.where(col("id") === 11L).count() == 0)
    // the moved row landed in the day=9 partition directory
    val names1 = SnapshotLog.manifest(spark, dir, v1)
    assert(names1.exists(_.startsWith("pt_day=9/")),
      s"cross-partition update must land in its new partition: ${names1.filter(_.contains("=9"))}")
    // new partition prunes
    val d9 = SnapshotLog.read(spark, dir, v1).where(col("day") === 9)
    assert(filesRead(d9) >= 1 && d9.count() == 1)

    // MoR delete: reference-only commit, partition stamps carried
    SnapshotLog.deleteKeys(spark, dir, Seq(20L).toDF("id"), "id")
    val v2 = SnapshotLog.latestVersion(spark, dir)
    assert(SnapshotLog.read(spark, dir, v2).count() == 599)
    assert(filesRead(SnapshotLog.read(spark, dir, v2).where(col("day") === 9)) >= 1)

    // CDC across the partitioned versions
    val changes = SnapshotLog.cdc(spark, dir, 0L, v1, "id")
    assert(changes.count() == 3)
  }

  test("partition-scoped OPTIMIZE WHERE rewrites one partition only") {
    val dir = freshDir("ow")
    SnapshotLog.init(spark, dir, fixture(), "id", numFiles = 4,
      partitionBy = Seq("day"))
    val names0 = SnapshotLog.manifest(spark, dir, 0L)
    val day3 = names0.count(_.startsWith("pt_day=3/"))
    val pred = spark.sessionState.sqlParser.parseExpression("day = 3")
    val c = SnapshotLog.optimize(spark, dir, _ => 1, where = Some(pred))
    assert(c.report.nRewritten == day3,
      s"must rewrite exactly the day=3 files: ${c.report} vs $day3")
    assert(c.report.nUntouched == names0.size - day3)
    val after = SnapshotLog.readLatest(spark, dir)
    assert(after.count() == 600)
    assert(after.where(col("day") === 3).count() == 120)
    // the compacted replacement stays in the partition tree
    val names1 = SnapshotLog.manifest(spark, dir, c.version)
    assert(names1.filter(_.startsWith("pt_day=3/")).nonEmpty)
  }

  test("catalog SQL lifecycle: CREATE PARTITIONED BY, insert, merge, pruned read") {
    val warehouse = Files.createTempDirectory("part-cat").toString
    spark.conf.set("spark.graft.catalog.location", warehouse)
    try {
      fixture().createOrReplaceTempView("part_src")
      spark.sql("CREATE TABLE graft.ptab PARTITIONED BY (day) " +
        "TBLPROPERTIES ('key'='id') AS SELECT * FROM part_src WHERE id < 500")
      spark.sql("INSERT INTO graft.ptab SELECT * FROM part_src WHERE id >= 500")
      spark.sql(
        """MERGE INTO graft.ptab t USING (SELECT 10 AS id, 555 AS nx) c
          |ON t.id = c.id
          |WHEN MATCHED THEN UPDATE SET x = c.nx
          |""".stripMargin).collect()
      val q = spark.sql("SELECT id, day, owner, x FROM graft.ptab WHERE day = 2")
      assert(q.count() == 120)
      assert(spark.sql("SELECT x FROM graft.ptab WHERE id = 10").head().getLong(0) == 555L)
      assert(spark.sql("SELECT count(*) AS n FROM graft.ptab").head().getLong(0) == 600L)
      // partitioning is visible on the table surface
      val tbl = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[graft.sql.GraftTableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array.empty, "ptab"))
      assert(tbl.partitioning().map(_.describe()).toSeq == Seq("day"))
      // rejected: non-identity transforms
      val e = intercept[Exception](spark.sql(
        "CREATE TABLE graft.pbad (id BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))"))
      assert(e.getMessage.contains("identity"), e.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft.ptab")
      spark.sql("DROP TABLE IF EXISTS graft.pbad")
    }
  }

  test("restore, time travel and vacuum respect the partition tree") {
    import spark.implicits._
    val dir = freshDir("restore")
    SnapshotLog.init(spark, dir, fixture(200), "id", numFiles = 2,
      partitionBy = Seq("day"))
    val cs = Seq(("delete", 0L)).toDF("op", "id")
      .withColumn("day", lit(null: Integer))
      .withColumn("owner", lit(null: String))
      .withColumn("x", lit(null: java.lang.Long))
    SnapshotLog.merge(spark, dir, cs, "id")
    assert(SnapshotLog.readLatest(spark, dir).count() == 199)
    assert(SnapshotLog.read(spark, dir, 0L).count() == 200) // time travel
    SnapshotLog.restore(spark, dir, 0L)
    assert(SnapshotLog.readLatest(spark, dir).count() == 200)
    assert(SnapshotLog.partitionCols(spark, dir,
      SnapshotLog.latestVersion(spark, dir)) == Seq("day"))
    // compact keeps the layout; vacuum reclaims replaced partitioned files
    SnapshotLog.optimize(spark, dir, _ => 2)
    val (ms, fs) = SnapshotLog.vacuum(spark, dir,
      retainFrom = SnapshotLog.latestVersion(spark, dir), graceMs = 0L)
    assert(ms > 0 && fs > 0)
    assert(SnapshotLog.readLatest(spark, dir).count() == 200)
    val names = SnapshotLog.manifest(spark, dir,
      SnapshotLog.latestVersion(spark, dir))
    assert(names.forall(_.startsWith("pt_day=")))
  }

  test("OPTIMIZE ZORDER is rejected on a partitioned table") {
    val dir = freshDir("zrej")
    SnapshotLog.init(spark, dir, fixture(100), "id", numFiles = 2,
      partitionBy = Seq("day"))
    val e = intercept[IllegalArgumentException](
      SnapshotLog.optimize(spark, dir, _ => 2, zorder = Seq("id", "x")))
    assert(e.getMessage.contains("partitioned"), e.getMessage)
  }
}
