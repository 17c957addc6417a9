package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** What a copy-on-write merge did to the table's files. */
final case class CowMergeReport(
    nFilesBefore: Int,    // data files in the table before the merge
    nRewritten: Int,      // files whose key range intersected the upd/del footprint
    nUntouched: Int,      // files carried over byte-identical (referenced, never copied)
    nNewFiles: Int)       // files written (rewritten data + admitted inserts)

/** The key-clustered writer [[SnapshotLog]]'s merge, OPTIMIZE and stage
  * writes run on. Narrow per-file key ranges are what let merge planning
  * prune a rewrite down to the changeset's key footprint.
  */
object CowMerge {

  /** Write `df` as a parquet table clustered by `key` into `numFiles`
    * range-partitioned, in-partition-sorted files — the layout that keeps
    * per-file footer min/max narrow so CoW planning prunes well.
    */
  def writeKeyed(df: DataFrame, key: String, numFiles: Int, dir: String): Unit =
    df.repartitionByRange(numFiles, col(key))
      .sortWithinPartitions(col(key))
      .write.mode("overwrite").parquet(dir)
}
