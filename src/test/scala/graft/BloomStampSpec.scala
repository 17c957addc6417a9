package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.SnapshotLog

/** Per-file Bloom key stamps — the hash-key pruning path where min/max
  * ranges are structurally useless: sidecar build at commit, point-probe
  * pruning in lookupKeys AND the plain-read FileIndex, false-positive
  * rate, carry across reference-only commits, vacuum liveness, and
  * result equality with the bloomless twin throughout.
  */
class BloomStampSpec extends SparkTestBase {

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"bloom-$tag").toString + "/t"

  private def xxhash(i: Long): Long =
    // any deterministic scrambler: uniform over the long domain
    java.lang.Long.reverse(i * 0x9E3779B97F4A7C15L) ^ (i * 31)

  private def slice(b: Int, per: Int): DataFrame = {
    import spark.implicits._
    (b.toLong * per until (b + 1).toLong * per)
      .map(i => (xxhash(i), i)).toDF("fp", "doc")
  }

  /** The shape where range stamps are STRUCTURALLY useless: an
    * INGESTED hash-keyed table (d29's fingerprint index) — each merge
    * batch stages its own file, and every batch's uniform keys span the
    * whole domain, so all files' [min, max] overlap completely. (A
    * one-shot range-clustered init is NOT this shape: clustering makes
    * even hash keys disjoint per file — the gap is ingest.)
    */
  private def ingestTable(dir: String, bloom: Boolean, batches: Int = 8,
      per: Int = 500): Unit = {
    def body(): Unit = {
      SnapshotLog.init(spark, dir, slice(0, per), "fp", numFiles = 1)
      (1 until batches).foreach { b =>
        SnapshotLog.merge(spark, dir,
          slice(b, per).selectExpr("'insert' AS op", "fp", "doc"), "fp")
      }
    }
    if (bloom) withBloom(body()) else body()
  }

  private def withBloom[A](body: => A): A = {
    spark.conf.set(SnapshotLog.BloomIndexKey, "true")
    try body finally spark.conf.unset(SnapshotLog.BloomIndexKey)
  }

  test("point reads on a hash key open ~1 file instead of all of them") {
    val dir = freshDir("point")
    val bloomless = freshDir("point-twin")
    ingestTable(dir, bloom = true)
    ingestTable(bloomless, bloom = false)
    val v = SnapshotLog.latestVersion(spark, dir)
    val someKey = xxhash(1234L)

    // the bloomless twin proves ranges are useless here: all 8 files
    val t0 = SnapshotLog.read(spark, bloomless, v).where(col("fp") === someKey)
    assert(filesRead(t0) == 8, "ingested uniform hash keys must defeat range stamps")

    // the bloom-stamped read opens the owning file (+ rare fp hits)
    val t1 = SnapshotLog.read(spark, dir, v).where(col("fp") === someKey)
    assert(filesRead(t1) <= 2, s"bloom must prune to ~1 file, got ${filesRead(t1)}")
    assert(t1.select("doc").head().getLong(0) == 1234L)

    // IN-list probing: a 3-key IN opens at most 3 files (+fp)
    val keys3 = Seq(7L, 99L, 3000L).map(xxhash)
    val t3 = SnapshotLog.read(spark, dir, v).where(col("fp").isin(keys3: _*))
    assert(filesRead(t3) <= 5)
    assert(t3.count() == 3)

    // an ABSENT key opens at most fpp-many files and returns nothing
    val miss = SnapshotLog.read(spark, dir, v).where(col("fp") === 12345L)
    assert(filesRead(miss) <= 2)
    assert(miss.count() == 0)

    // non-point predicates are untouched by blooms (full scan, correct)
    assert(SnapshotLog.read(spark, dir, v).count() == 4000)
  }

  test("false-positive rate: absent-key probes open <= ~fpp of the files") {
    val dir = freshDir("fpr")
    ingestTable(dir, bloom = true)
    val v = SnapshotLog.latestVersion(spark, dir)
    // probe 200 absent keys through lookupKeys; count candidate files
    var candidates = 0L
    (1L to 200L).foreach { i =>
      import spark.implicits._
      val got = SnapshotLog.lookupKeys(spark, dir, v,
        Seq(1000000000L + i).toDF("fp"))
      candidates += got.inputFiles.length
      assert(got.isEmpty)
    }
    // fpp 3% of 8 files = 0.24 expected per probe; allow generous slack
    assert(candidates <= 200 * 2,
      s"absent-key candidates too high: $candidates over 200 probes")
    // present keys always found (no false negatives, ever)
    import spark.implicits._
    val present = SnapshotLog.lookupKeys(spark, dir, v,
      (0L until 50L).map(xxhash).toDF("fp"))
    assert(present.count() == 50)
    assert(present.inputFiles.length <= 8)
  }

  test("blooms survive MoR deletes and merges; results match bloomless twin") {
    import spark.implicits._
    val dir = freshDir("carry")
    val twin = freshDir("carry-twin")
    ingestTable(dir, bloom = true, batches = 4)
    ingestTable(twin, bloom = false, batches = 4)

    val delKey = xxhash(500L)
    SnapshotLog.deleteKeys(spark, dir, Seq(delKey).toDF("fp"), "fp")
    SnapshotLog.deleteKeys(spark, twin, Seq(delKey).toDF("fp"), "fp")
    val v1 = SnapshotLog.latestVersion(spark, dir)
    assert(SnapshotLog.bloomSidecars(spark, dir, v1).nonEmpty,
      "reference-only commits must carry the sidecar lines")
    // deleted key invisible THROUGH the bloom-pruned point read
    val gone = SnapshotLog.read(spark, dir, v1).where(col("fp") === delKey)
    assert(filesRead(gone) <= 2 && gone.count() == 0)

    // a merge's new files get their own sidecar (conf still on)
    val ins = Seq(("insert", 999999L, 77777L)).toDF("op", "fp", "doc")
    withBloom { SnapshotLog.merge(spark, dir, ins, "fp") }
    SnapshotLog.merge(spark, twin, ins, "fp")
    val v2 = SnapshotLog.latestVersion(spark, dir)
    assert(SnapshotLog.bloomSidecars(spark, dir, v2).size >= 2,
      "merge must add a sidecar for its new files")
    val hit = SnapshotLog.read(spark, dir, v2).where(col("fp") === 999999L)
    assert(filesRead(hit) <= 2 && hit.select("doc").head().getLong(0) == 77777L)

    // full equality with the bloomless twin
    val a = SnapshotLog.read(spark, dir, v2).orderBy("fp").collect().toSeq
    val b = SnapshotLog.read(spark, twin, v2).orderBy("fp").collect().toSeq
    assert(a == b)
  }

  test("vacuum keeps live sidecars; compact re-stamps fresh ones") {
    import spark.implicits._
    val dir = freshDir("vac")
    ingestTable(dir, bloom = true, batches = 4)
    withBloom { SnapshotLog.compact(spark, dir, numFiles = 4) }
    val v = SnapshotLog.latestVersion(spark, dir)
    val sidecars = SnapshotLog.bloomSidecars(spark, dir, v)
    assert(sidecars.size == 1, "a full compact drops old sidecar refs")
    SnapshotLog.vacuum(spark, dir, retainFrom = v, graceMs = 0L)
    // the live sidecar survived the sweep; probing still works
    val k = xxhash(10L)
    val got = SnapshotLog.read(spark, dir, v).where(col("fp") === k)
    assert(filesRead(got) <= 2 && got.count() == 1)
  }

  test("type-mismatched probes never prune (hash compatibility is per-type)") {
    import spark.implicits._
    val dir = freshDir("types")
    ingestTable(dir, bloom = true, batches = 4)
    val v = SnapshotLog.latestVersion(spark, dir)
    // an INT literal against the LONG key: catalyst will cast it — the
    // bloom must not produce a false negative through the cast
    val k = xxhash(42L)
    val got = SnapshotLog.read(spark, dir, v)
      .where(col("fp") === lit(k))
    assert(got.count() == 1)
    // lookupKeys with an int-typed key column casts before hashing
    val viaInt = SnapshotLog.lookupKeys(spark, dir, v, Seq(k).toDF("fp"))
    assert(viaInt.count() == 1)
  }
}
