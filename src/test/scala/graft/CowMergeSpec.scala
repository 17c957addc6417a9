package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.functions._
import graft.operators.{Merge, SnapshotLog, SyntheticShares}
import graft.queries.MigrationQueries.Merge0

/** Copy-on-write keyed MERGE on a snapshot table ([[SnapshotLog.merge]]):
  * only files whose key range intersects the changeset are rewritten,
  * every other file stays referenced byte-identical by the new manifest,
  * and the resulting table is row-for-row the functional merge.
  */
class CowMergeSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def md5(path: String): String =
    MessageDigest.getInstance("MD5").digest(Files.readAllBytes(Paths.get(path)))
      .map("%02x".format(_)).mkString

  /** name -> md5 of every data file the manifest of version `v` lists. */
  private def manifestMd5s(dir: String, v: Long): Map[String, String] =
    SnapshotLog.manifest(spark, dir, v).map(n => n -> md5(s"$dir/data/$n")).toMap

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("id"), col("share_type"), col("uid_owner"), col("item_type"),
        col("item_source"), col("item_target"), col("file_source"), col("file_target"))
      .collect().map(_.mkString("|")).sorted.toSeq

  test("narrow changeset rewrites only the key-footprint files; untouched are byte-identical") {
    val dir = Files.createTempDirectory("graft_cow").toString + "/t"
    // base: the share fixture, committed range-clustered into 8 files
    val base = SyntheticShares.shares(Tables.orders(spark, sfDir))
    SnapshotLog.init(spark, dir, base, "id", numFiles = 8)

    val maxId = base.agg(max("id")).head().getLong(0)
    val cut = maxId / 10 // ids in the lowest ~decile only
    val nullS = lit(null).cast("string")
    val nullI = lit(null).cast("int")
    val nullL = lit(null).cast("long")
    val csUpd = base.where(col("id") <= cut && col("id") % 5 === 0)
      .select(lit(Merge.OpUpdate).as("op"), col("id"),
        nullI.as("share_type"), nullS.as("uid_owner"), nullS.as("item_type"),
        nullS.as("item_source"),
        concat(lit("/cow/"), col("id").cast("string")).as("item_target"),
        nullL.as("file_source"), nullS.as("file_target"))
    val csDel = base.where(col("id") <= cut && col("id") % 9 === 0)
      .select(lit(Merge.OpDelete).as("op"), col("id"),
        nullI.as("share_type"), nullS.as("uid_owner"), nullS.as("item_type"),
        nullS.as("item_source"), nullS.as("item_target"),
        nullL.as("file_source"), nullS.as("file_target"))
    // two inserts: one fresh key (admitted), one existing key (ignored —
    // WHEN NOT MATCHED)
    import spark.implicits._
    val existingId = base.where(col("id") % 5 =!= 0 && col("id") % 9 =!= 0)
      .agg(max("id")).head().getLong(0)
    val csIns = Seq(
      (Merge.OpInsert, maxId + 1000L, 3, "cow_user", "file", "x", "/cow/new", 7L, "/n.dat"),
      (Merge.OpInsert, existingId, 3, "cow_user", "file", "x", "/cow/dup", 7L, "/n.dat"))
      .toDF("op", "id", "share_type", "uid_owner", "item_type",
        "item_source", "item_target", "file_source", "file_target")
    val cs = csUpd.unionByName(csDel).unionByName(csIns)

    // expected affected files, computed independently from the v0 footers
    // and the collected (small) changeset key set
    val ranges = footerRanges(dir, 0L, "id")
    assert(ranges.values.forall(_.nonEmpty), "clustered write must produce key stats")
    val updDelKeys = csUpd.select("id").unionByName(csDel.select("id"))
      .collect().map(_.getLong(0)).toSet
    val expectedAffected = ranges.collect {
      case (n, Some((lo, hi))) if updDelKeys.exists(k => k >= lo && k <= hi) => n
    }.toSet
    assert(expectedAffected.nonEmpty && expectedAffected.size < ranges.size,
      s"fixture degenerate: ${expectedAffected.size} of ${ranges.size} files affected")

    val before = manifestMd5s(dir, 0L)
    val expectedFunctional = rows(Merge(base, cs, "id"))
    val commit = SnapshotLog.merge(spark, dir, cs, "id")
    val report = commit.report

    assert(report.nFilesBefore == ranges.size)
    assert(report.nRewritten == expectedAffected.size,
      s"rewrite count ${report.nRewritten} != key footprint ${expectedAffected.size}")
    assert(report.nUntouched == ranges.size - expectedAffected.size)
    assert(report.nNewFiles >= 1)

    // untouched files: the new manifest still references each by name,
    // and its bytes are unchanged
    val after = manifestMd5s(dir, commit.version)
    before.keySet.filterNot(expectedAffected).foreach { n =>
      assert(after.contains(n), s"untouched file $n missing from the new manifest")
      assert(after(n) == before(n), s"untouched file $n changed bytes")
    }
    // affected files are no longer referenced (replaced by new files)
    expectedAffected.foreach(n =>
      assert(!after.contains(n), s"affected file $n not rewritten"))

    // semantics: the committed table == functional merge (incl. the
    // ignored existing-key insert)
    val got = rows(SnapshotLog.read(spark, dir, commit.version))
    assert(got == expectedFunctional, "CoW result diverged from functional merge")
    assert(!got.exists(_.contains("/cow/dup")), "existing-key insert must be ignored")
    assert(got.exists(_.contains("/cow/new")), "fresh-key insert missing")
  }

  test("changeset outside every file range rewrites nothing and appends inserts") {
    val dir = Files.createTempDirectory("graft_cow2").toString + "/t"
    val base = SyntheticShares.shares(Tables.orders(spark, sfDir))
    SnapshotLog.init(spark, dir, base, "id", numFiles = 4)
    val maxId = base.agg(max("id")).head().getLong(0)
    import spark.implicits._
    val cs = Seq(
      (Merge.OpUpdate, maxId + 5L, null.asInstanceOf[java.lang.Integer], null.asInstanceOf[String],
        null.asInstanceOf[String], null.asInstanceOf[String], "/nowhere",
        null.asInstanceOf[java.lang.Long], null.asInstanceOf[String]),
      (Merge.OpInsert, maxId + 9L, Integer.valueOf(1), "u", "file", "s", "/appended",
        java.lang.Long.valueOf(9L), "/a.dat"))
      .toDF("op", "id", "share_type", "uid_owner", "item_type",
        "item_source", "item_target", "file_source", "file_target")
    val before = manifestMd5s(dir, 0L)
    val commit = SnapshotLog.merge(spark, dir, cs, "id")
    val report = commit.report
    assert(report.nRewritten == 0 && report.nUntouched == report.nFilesBefore)
    assert(report.nNewFiles >= 1)
    val after = manifestMd5s(dir, commit.version)
    before.foreach { case (n, h) => assert(after.get(n).contains(h)) }
    assert(after.size == before.size + report.nNewFiles)
    val v1 = SnapshotLog.read(spark, dir, commit.version)
    assert(v1.count() == base.count() + 1)
    assert(v1.where(col("item_target") === "/appended").count() == 1)
  }

  test("m11's full-footprint CoW equals m09's functional merge row-for-row") {
    val base = SyntheticShares.shares(Tables.orders(spark, sfDir))
    val m11 = SparkEntry.queries("m11_cow_merge")(spark, sfDir)
    assert(rows(m11) == rows(Merge(base, Merge0.changeset(base), "id")))
  }

  test("non-integral key: planning degrades to rewrite-all, never drops updates or admits dup inserts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cow4").toString + "/t"
    // STRING-keyed table: the long-range planner can't use string
    // ranges — the conservative path must treat every file as affected,
    // not cast the keys to all-null and match nothing
    val base = (1 to 50).map(i => (f"k$i%03d", i.toLong)).toDF("k", "x")
    SnapshotLog.init(spark, dir, base, "k", numFiles = 4)
    val cs = Seq(
      (Merge.OpUpdate, "k010", 9999L),
      (Merge.OpDelete, "k020", 0L),
      (Merge.OpInsert, "k030", 7L),   // existing key: must be IGNORED
      (Merge.OpInsert, "zzz1", 42L))  // fresh key: must land
      .toDF("op", "k", "x")
    val commit = SnapshotLog.merge(spark, dir, cs, "k")
    val report = commit.report
    assert(report.nRewritten == report.nFilesBefore,
      s"string key must match all files conservatively, got $report")
    val got = SnapshotLog.read(spark, dir, commit.version).select("k", "x").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("k010") == 9999L, "update silently dropped on non-integral key")
    assert(!got.contains("k020"), "delete silently dropped on non-integral key")
    assert(got("k030") == 30L, "duplicate-key insert admitted on non-integral key")
    assert(got("zzz1") == 42L)
    assert(got.size == 50, s"row count drifted: ${got.size}")
  }
}
