package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file key-range stats read from parquet footers (the planning input
  * of a copy-on-write merge). `hasStats=false` files (no footer min/max
  * for the key) are treated as affected by every key — conservative, so
  * planning can only over-rewrite, never drop a matching row.
  */
final case class CowFileStats(file: String, lo: Long, hi: Long, hasStats: Boolean)

/** What a copy-on-write merge did to the table's files. */
final case class CowMergeReport(
    nFilesBefore: Int,    // data files in the table before the merge
    nRewritten: Int,      // files whose key range intersected the upd/del footprint
    nUntouched: Int,      // files carried over byte-identical (referenced, never copied)
    nNewFiles: Int)       // files written (rewritten data + admitted inserts)

/** The copy-on-write planning and layout pieces [[SnapshotLog]]'s merge,
  * OPTIMIZE and stage writes run on: the key-clustered writer
  * ([[writeKeyed]]), per-file key ranges from parquet footers
  * ([[keyRangesOf]]) and the changeset-key-to-file range join
  * ([[matchFiles]]). Planning reads footers or manifest stamps, never
  * data, and narrow per-file ranges are what let it prune a merge's
  * rewrite down to the changeset's key footprint.
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

  /** Per-file [min, max] of integral column `key` from the parquet
    * footers of `files` (the committed file set of a [[SnapshotLog]]
    * version) — metadata reads only (one ranged footer fetch per file),
    * never a data scan. Files without usable stats come back
    * `hasStats=false`.
    */
  def keyRangesOf(spark: SparkSession, files: Seq[Path], key: String): Seq[CowFileStats] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        var lo = Long.MaxValue
        var hi = Long.MinValue
        var ok = true
        reader.getFooter.getBlocks.forEach { block =>
          val col = block.getColumns.asInstanceOf[java.util.List[
            org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]]
          var found = false
          col.forEach { c =>
            if (c.getPath.toDotString == key) {
              found = true
              val st = c.getStatistics
              if (st == null || !st.hasNonNullValue) ok = false
              else {
                val (mn, mx) = (st.genericGetMin, st.genericGetMax) match {
                  case (a: java.lang.Long, b: java.lang.Long) => (a.longValue, b.longValue)
                  case (a: java.lang.Integer, b: java.lang.Integer) =>
                    (a.longValue, b.longValue)
                  case _ => ok = false; (0L, 0L)
                }
                if (ok) { lo = math.min(lo, mn); hi = math.max(hi, mx) }
              }
            }
          }
          if (!found) ok = false
        }
        if (ok && lo <= hi) CowFileStats(p.toString, lo, hi, hasStats = true)
        else CowFileStats(p.toString, Long.MinValue, Long.MaxValue, hasStats = false)
      } finally reader.close()
    }
  }

  /** Files from `ranges` whose [lo, hi] intersects any key in `keys` —
    * the broadcast range join of planning. `keys` is changeset-sized;
    * `ranges` is |files|-rows and broadcast.
    *
    * The long-range stats only exist for INTEGRAL keys ([[keyRangesOf]]).
    * For any other key type planning degrades to the conservative answer
    * — every file matches (so the merge rewrites everything, correct but
    * unpruned) — rather than casting the keys to long, which for e.g. a
    * string key yields all-null → zero matches → updates and deletes
    * silently dropped.
    */
  private[operators] def matchFiles(spark: SparkSession, ranges: Seq[CowFileStats],
      keys: DataFrame): Seq[String] = {
    if (ranges.isEmpty) return Nil
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral = keys.schema.head.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }
    if (!integral) return if (keys.isEmpty) Nil else ranges.map(_.file)
    import spark.implicits._
    val rdf = ranges.toDF()
    keys.select(col(keys.columns.head).cast("long").as("__k")).na.drop().distinct()
      .join(broadcast(rdf),
        !col("hasStats") || (col("__k") >= col("lo") && col("__k") <= col("hi")))
      .select("file").distinct()
      .as[String].collect().toSeq
  }
}
