package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.SnapshotLog
import graft.queries.{DedupQueries, SimilarityQueries}

/** v17's physical facts: the ANN bucket index as a snapshot table —
  * merge-on-read tombstones (zero index files rewritten), pre-delete
  * time travel, and OPTIMIZE materializing the mask away without
  * changing a single probe answer.
  */
class AnnSnapshotSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("MoR tombstones rewrite nothing; time travel keeps the pre-delete index; OPTIMIZE is answer-invariant") {
    val dir = Files.createTempDirectory("graft_annsnap").toString + "/idx"
    val (idx, _) = SimilarityQueries.dupEmbIndexWithPath(spark, sfDir)
    val nAll = idx.count()
    SnapshotLog.init(spark, dir, idx, "vec_id", numFiles = 4)
    val m0 = SnapshotLog.manifest(spark, dir, 0)

    val tomb = SimilarityQueries.tombstones(spark, sfDir)
    val nTomb = tomb.count()
    assert(nTomb > 0, "fixture degenerate: no tombstones")
    val c1 = SnapshotLog.deleteKeys(spark, dir, tomb, "vec_id")

    // merge-on-read: same data files by reference, one delete vector
    assert(SnapshotLog.manifest(spark, dir, c1.version) == m0,
      "tombstone delete rewrote index files")
    assert(SnapshotLog.deletes(spark, dir, c1.version).nonEmpty)
    assert(c1.report.nRewritten == 0)

    // the masked read drops exactly the tombstoned rows
    val masked = SnapshotLog.readLatest(spark, dir)
    assert(masked.count() == nAll - nTomb)
    assert(masked.where(col("vec_id") % SimilarityQueries.TombstoneMod === 0 &&
      col("vec_id") < DedupQueries.BatchIdOffset).isEmpty)

    // time travel: version 0 still serves the PRE-delete index in full
    assert(SnapshotLog.read(spark, dir, 0).count() == nAll)

    // OPTIMIZE: mask materialized away, rows identical, no vector left
    val c2 = SnapshotLog.optimize(spark, dir, _ => 2)
    assert(SnapshotLog.deletes(spark, dir, c2.version).isEmpty,
      "compaction must materialize the delete vector away")
    val compacted = SnapshotLog.read(spark, dir, c2.version)
    assert(compacted.count() == nAll - nTomb)
    // CDC-invisible: the logical table did not change
    assert(SnapshotLog.cdc(spark, dir, c1.version, c2.version, "vec_id").isEmpty)
  }
}
