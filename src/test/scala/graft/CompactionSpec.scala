package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Merge, SnapshotLog, Stage}
import graft.sql.SnapshotDml

/** Compaction: OPTIMIZE rewrites a fragmented snapshot table into few
  * right-sized, key-clustered files without changing its rows, and v14's
  * tombstone compaction removes deleted ids from the files it writes.
  */
class CompactionSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  /** The orders table committed as `rounds` insert-only merges, one
    * residue class of `o_orderkey` per round: every data file spans the
    * whole key domain — the layout an append-heavy writer leaves.
    */
  private def fragmented(tag: String, rounds: Int): (String, DataFrame) = {
    val dir = catalogTableDir(tag)
    val orders = Tables.orders(spark, sfDir)
    def slice(r: Int) = orders.where(col("o_orderkey") % rounds === r)
    SnapshotLog.init(spark, dir, slice(0), "o_orderkey", numFiles = 1)
    (1 until rounds).foreach { r =>
      SnapshotLog.merge(spark, dir,
        slice(r).withColumn("op", lit(Merge.OpInsert)), "o_orderkey")
    }
    (dir, orders)
  }

  private def keyRanges(dir: String): Seq[Option[(Long, Long)]] =
    footerRanges(dir, SnapshotLog.latestVersion(spark, dir), "o_orderkey").values.toSeq

  test("fragmented table compacts to ~target-size files with identical rows") {
    val (dir, orders) = fragmented("graft_compact", rounds = 8)
    val fragFiles = keyRanges(dir).size
    assert(fragFiles >= 8, s"fixture not fragmented: $fragFiles files")
    val bytes = SnapshotLog.manifest(spark, dir, SnapshotLog.latestVersion(spark, dir))
      .map(n => new java.io.File(s"$dir/data/$n").length).sum
    assert(bytes > 0)

    spark.conf.set(SnapshotDml.CompactTargetKey, (bytes / 4 + 1).toString)
    val out = try spark.sql("OPTIMIZE graft.graft_compact").head()
      finally spark.conf.unset(SnapshotDml.CompactTargetKey)
    val outFiles = SnapshotLog.manifest(spark, dir, out.getLong(0)).size
    assert(out.getLong(2) == outFiles.toLong)
    assert(outFiles <= 4 && outFiles < fragFiles,
      s"expected <= 4 files after compaction, got $outFiles")
    // rows unchanged: same count and same checksum of a stable projection
    def sig(df: DataFrame) =
      df.agg(count(lit(1)), sum(col("o_orderkey") * col("o_custkey"))).head()
    assert(sig(SnapshotLog.readLatest(spark, dir)) == sig(orders))
  }

  test("v14: compaction physically removes tombstones and probes match v13 row-for-row") {
    val queries = SparkEntry.queries
    val v13 = queries("v13_ann_tombstones")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val v14 = queries("v14_ann_compaction")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(v14.nonEmpty)
    assert(v14.toSeq == v13.toSeq,
      "compacted-index probe diverged from the masked-index probe")
    // the physical facts of the files v14 wrote (the memoized stage; a
    // hit does not run the builder): no tombstoned corpus id, every live
    // row, and at least one but at most the byte-sized plan of files
    // (range partitions can come up empty and write no file)
    import graft.queries.{DedupQueries, SimilarityQueries}
    val compactedDir = Stage.sharedDir(spark, "v14_compacted", sfDir)(
      _ => fail("v14 did not build its compacted stage"))
    val (idx, idxPath) = SimilarityQueries.dupEmbIndexWithPath(spark, sfDir)
    val inputBytes = new java.io.File(idxPath).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum
    val planned = SnapshotDml.fileCount(inputBytes)
    val compacted = spark.read.parquet(compactedDir)
    val actual = compacted.inputFiles.length
    assert(actual >= 1 && actual <= planned,
      s"actual file count $actual outside [1, planned=$planned]")
    val deletedPresent = compacted
      .where(col("vec_id") % SimilarityQueries.TombstoneMod === 0 &&
        col("vec_id") < DedupQueries.BatchIdOffset).count()
    assert(deletedPresent == 0L, "a tombstoned id survived compaction")
    val nTomb = SimilarityQueries.tombstones(spark, sfDir).count()
    assert(nTomb > 0L, "tombstone fixture vacuous")
    assert(compacted.count() == idx.count() - nTomb,
      "compaction changed live-row count")
  }

  test("sorted compaction restores narrow per-file min/max on the sort key") {
    val (dir, orders) = fragmented("graft_compact_sorted", rounds = 8)
    val span = {
      val r = orders.agg(min("o_orderkey"), max("o_orderkey")).head()
      (r.getLong(1) - r.getLong(0)).toDouble
    }
    def avgFrac: Double = {
      val rs = keyRanges(dir)
      assert(rs.forall(_.nonEmpty))
      rs.flatten.map { case (lo, hi) => (hi - lo) / span }.sum / rs.size
    }
    val pre = avgFrac
    assert(pre > 0.9, s"fixture not fragmented: avg per-file key span $pre")
    SnapshotLog.optimize(spark, dir, _ => 4)
    val post = avgFrac
    assert(post < 0.5,
      s"OPTIMIZE left wide per-file ranges (avg frac $pre -> $post)")
    assert(SnapshotLog.readLatest(spark, dir).count() == orders.count())
  }
}
