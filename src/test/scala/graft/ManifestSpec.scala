package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.SnapshotLog
import graft.sources.Manifest
import graft.sources.Stamps.{ColStamp, FileStamp, LongIv, StrIv}

/** The typed snapshot manifest ([[Manifest]]): the line format round-trips,
  * manifests in the earlier line order stay readable, and every commit
  * carries the previous version's metadata by the one rule in
  * [[Manifest.next]].
  */
class ManifestSpec extends SparkTestBase {

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("v", StringType), StructField("w", LongType)))

  private def str(s: String) = UTF8String.fromString(s)

  test("parse(render(m)) == m for a manifest that carries every field") {
    val m = Manifest(
      files = Seq("a.parquet", "pt_c=1/b.parquet"),
      deletes = Seq("d0.parquet", "d1.parquet"),
      ts = Some(1700000000123L),
      op = Some("restore from=3"),
      key = Some("id"),
      schema = Some(schema),
      partCols = Seq("c", "e"),
      bucket = Some(("id", 8)),
      physMap = Map("v" -> Seq("v1", "v0"), "w" -> Seq("w0")),
      dropped = Set("x", "y"),
      constraints = Seq("pos" -> "id > 0", "nn" -> "v IS NOT NULL AND w <> 1"),
      stamps = Map(
        "a.parquet" -> FileStamp(Some(10L), Map(
          "id" -> ColStamp(Some(LongIv(-5L, 9L)), Some(0L)),
          "v" -> ColStamp(Some(StrIv(str("a"), str("z:é"))), None),
          "w" -> ColStamp(None, Some(10L)))),
        "pt_c=1/b.parquet" -> FileStamp(None, Map("id" -> ColStamp(Some(LongIv(3L, 3L)), None)))),
      blooms = Seq("s1.parquet", "s0.parquet"),
      tags = Seq("txn" -> "q/7", "asof" -> "4", "measures" -> "n,total", "basedir" -> "/b"))
    assert(Manifest.parse(m.render) == m)
    // the text is deterministic: files, delete vectors and stamps sorted
    assert(Manifest(files = Seq("b", "a"), deletes = Seq("y", "x")).render ==
      Seq("-x", "-y", "a", "b"))
  }

  test("a manifest in the earlier line order parses; unknown tags kept, malformed stamps dropped") {
    val lines = Seq(
      "# ts=1700000000000",
      "# op=merge",
      "# writer=B",
      "# key=id",
      s"# schema=${schema.json}",
      "# partcols=c",
      "# rows=b.parquet:7",
      "# cstats=b.parquet:id:i:100:199:0",
      "# bloomidx=side1.parquet",
      "# rows=a.parquet:10",
      "# cstats=a.parquet:id:i:1:99:0",
      "# cstats=a.parquet:v:s:YQ==:eg==:-",
      "# cstats=a.parquet:w:i:oops:9:0",
      "# cstats=a.parquet:w:i:3",
      "# rows=a.parquet",
      "# bloomidx=side0.parquet",
      "# physmap=v:v0",
      "# dropped=x",
      "# constraint=pos:id > 0",
      "",
      "-del.parquet",
      "a.parquet",
      "b.parquet")
    val m = Manifest.parse(lines)
    assert(m.files == Seq("a.parquet", "b.parquet"))
    assert(m.deletes == Seq("del.parquet"))
    assert(m.ts.contains(1700000000000L) && m.op.contains("merge"))
    assert(m.key.contains("id") && m.schema.contains(schema))
    assert(m.partCols == Seq("c") && m.bucket.isEmpty)
    assert(m.tags == Seq("writer" -> "B"))
    assert(m.tag("writer").contains("B") && m.tag(Manifest.TxnTag).isEmpty)
    assert(m.stamps == Map(
      "a.parquet" -> FileStamp(Some(10L), Map(
        "id" -> ColStamp(Some(LongIv(1L, 99L)), Some(0L)),
        "v" -> ColStamp(Some(StrIv(str("a"), str("z"))), None))),
      "b.parquet" -> FileStamp(Some(7L), Map("id" -> ColStamp(Some(LongIv(100L, 199L)), Some(0L))))))
    assert(m.blooms == Seq("side1.parquet", "side0.parquet"))
    assert(m.physMap == Map("v" -> Seq("v0")) && m.dropped == Set("x"))
    assert(m.constraints == Seq("pos" -> "id > 0"))
    assert(m.renamedColumn.isEmpty)
    assert(Manifest(op = Some(Manifest.renameOp("a", "b"))).renamedColumn.contains(("a", "b")))
  }

  // ---- the carry rule, per operation, on real tables ----------------

  private def at(dir: String, v: Long): Manifest = SnapshotLog.manifestOf(spark, dir, v)

  /** A 4-file table (key ranges 0-99, 100-199, ...) with a rename chain
    * (`v2` <- `v`), a drop tombstone (`u`), a constraint and, when
    * `bloom`, a Bloom sidecar per commit.
    */
  private def evolvedTable(tag: String, bloom: Boolean = false): String = {
    val dir = Files.createTempDirectory(s"graft_manifest_$tag").toString + "/t"
    withBloom(bloom) {
      SnapshotLog.init(spark, dir, spark.range(0, 400)
        .selectExpr("id", "cast(id % 7 AS string) AS v", "id * 2 AS w", "id AS u"),
        "id", numFiles = 4)
      SnapshotLog.renameColumn(spark, dir, "v", "v2")
      SnapshotLog.dropColumn(spark, dir, "u")
      SnapshotLog.addConstraint(spark, dir, "w_nonneg", "w >= 0")
    }
    dir
  }

  private def withBloom[A](on: Boolean)(body: => A): A = {
    if (on) spark.conf.set(SnapshotLog.BloomIndexKey, "true")
    try body finally spark.conf.unset(SnapshotLog.BloomIndexKey)
  }

  private def updates(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => ("update", i, "new", i * 3)).toDF("op", "id", "v2", "w")
  }

  /** Facts every successor keeps: key, layout, constraints, and stamps
    * for exactly its live files (kept ones unchanged).
    */
  private def assertCarried(m0: Manifest, m1: Manifest): Unit = {
    assert(m1.key == m0.key && m1.partCols == m0.partCols && m1.bucket == m0.bucket)
    assert(m1.constraints == m0.constraints && m1.constraints.nonEmpty)
    assert(m1.stamps.keySet == m1.files.toSet, "stamps for exactly the live files")
    assert(m1.files.filter(m0.files.contains).forall(f => m1.stamps(f) == m0.stamps(f)),
      "a kept file's stamps changed")
    assert(m1.files.forall(f => m1.stamps(f).rows.nonEmpty))
    assert(m1.tags.isEmpty, "caller tags do not carry")
  }

  test("carry: a partial merge keeps evolution, kept files' stamps and every Bloom sidecar") {
    val dir = evolvedTable("partial", bloom = true)
    val v = SnapshotLog.latestVersion(spark, dir)
    val m0 = at(dir, v)
    assert(m0.physMap.nonEmpty && m0.dropped.nonEmpty && m0.blooms.size == 1)
    val c = withBloom(on = true)(SnapshotLog.merge(spark, dir, updates(5L), "id"))
    val m1 = at(dir, c.version)
    assert(c.report.nRewritten == 1 && m1.files.count(m0.files.contains) == 3)
    assertCarried(m0, m1)
    assert(m1.physMap == m0.physMap && m1.dropped == m0.dropped)
    assert(m1.blooms.size == 2 && m0.blooms.forall(m1.blooms.contains))
    assert(m1.op.contains("merge") && m1.deletes == m0.deletes)
  }

  test("carry: a merge that rewrites every file retires evolution but keeps Bloom sidecars; OPTIMIZE drops them") {
    val dir = evolvedTable("fullmerge", bloom = true)
    val m0 = at(dir, SnapshotLog.latestVersion(spark, dir))
    val c = SnapshotLog.merge(spark, dir, updates(5L, 105L, 205L, 305L), "id")
    val m1 = at(dir, c.version)
    assert(m1.files.forall(f => !m0.files.contains(f)), "fixture: not a full rewrite")
    assertCarried(m0, m1)
    assert(m1.physMap.isEmpty && m1.dropped.isEmpty)
    assert(m1.blooms == m0.blooms)
    val c2 = SnapshotLog.optimize(spark, dir, _ => 2)
    val m2 = at(dir, c2.version)
    assertCarried(m1, m2)
    assert(m2.blooms.isEmpty && m2.deletes.isEmpty)
  }

  test("carry: compactWhere keeps evolution while files carry and retires it when none does") {
    val dir = evolvedTable("cw", bloom = true)
    SnapshotLog.deleteKeys(spark, dir, spark.range(150, 151).toDF(), "id")
    val m0 = at(dir, SnapshotLog.latestVersion(spark, dir))
    val parse = spark.sessionState.sqlParser.parseExpression _
    val c1 = SnapshotLog.optimize(spark, dir, _ => 1, where = Some(parse("id < 100")))
    val m1 = at(dir, c1.version)
    assert(c1.report.nRewritten == 1 && m1.files.count(m0.files.contains) == 3)
    assertCarried(m0, m1)
    assert(m1.physMap == m0.physMap && m1.dropped == m0.dropped)
    assert(m1.blooms == m0.blooms)
    val c2 = SnapshotLog.optimize(spark, dir, _ => 1, where = Some(parse("id >= 0")))
    val m2 = at(dir, c2.version)
    assert(m2.files.forall(f => !m1.files.contains(f)), "fixture: not a full rewrite")
    assertCarried(m1, m2)
    assert(m2.physMap.isEmpty && m2.dropped.isEmpty)
    assert(m2.blooms == m1.blooms)
    // a WHERE rewrite keeps the delete vector even when its footprint is
    // every file: only an OPTIMIZE without WHERE drops it
    assert(m2.deletes == m1.deletes && m2.deletes.nonEmpty)
  }

  test("carry: restore takes the target version's files and records, and keeps the live constraints") {
    val dir = evolvedTable("restore", bloom = true)
    val vEvolved = SnapshotLog.latestVersion(spark, dir)
    val target = at(dir, vEvolved)
    SnapshotLog.merge(spark, dir, updates(5L, 105L, 205L, 305L), "id")
    SnapshotLog.addConstraint(spark, dir, "w_small", "w < 100000")
    val live = at(dir, SnapshotLog.latestVersion(spark, dir))
    val c = SnapshotLog.restore(spark, dir, vEvolved)
    val m = at(dir, c.version)
    assert(m.op.contains(s"restore from=$vEvolved"))
    assert(m.files == target.files && m.deletes == target.deletes)
    assert(m.stamps == target.stamps && m.blooms == target.blooms)
    assert(m.physMap == target.physMap && m.dropped == target.dropped)
    assert(m.schema == target.schema && m.key == target.key)
    assert(m.constraints == live.constraints && m.constraints.size == 2)
  }

  test("carry: rename remaps a column's stamps, drop removes its chain's stamps") {
    val dir = Files.createTempDirectory("graft_manifest_rd").toString + "/t"
    SnapshotLog.init(spark, dir, spark.range(0, 400)
      .selectExpr("id", "cast(id % 7 AS string) AS v", "id * 2 AS w"), "id", numFiles = 4)
    val m0 = at(dir, 0)
    assert(m0.files.forall(f => m0.stamps(f).cols.contains("v")))
    val m1 = at(dir, SnapshotLog.renameColumn(spark, dir, "v", "v2").version)
    assert(m1.renamedColumn.contains(("v", "v2")))
    assert(m1.physMap == Map("v2" -> Seq("v")))
    m0.files.foreach { f =>
      assert(m1.stamps(f).cols.get("v2") == m0.stamps(f).cols.get("v"))
      assert(!m1.stamps(f).cols.contains("v"))
      assert(m1.stamps(f).cols - "v2" == m0.stamps(f).cols - "v" && m1.stamps(f).rows == m0.stamps(f).rows)
    }
    val m2 = at(dir, SnapshotLog.dropColumn(spark, dir, "v2").version)
    assert(m2.physMap.isEmpty && m2.dropped == Set("v2", "v"))
    m0.files.foreach { f =>
      assert(m2.stamps(f).cols == m0.stamps(f).cols - "v" && m2.stamps(f).rows == m0.stamps(f).rows)
    }
  }
}
