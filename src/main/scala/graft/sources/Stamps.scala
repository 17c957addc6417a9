package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** TYPED, NULL-AWARE per-file column statistics for manifest stamping —
  * the one per-file statistics format of a snapshot manifest, covering
  * every orderable column a real table filters on, the key included
  * (merge planning, point lookups and CDC take the key's interval from
  * here).
  *
  * A stamp for (file, column) is a [[ColStamp]]: an optional min/max
  * interval (absent when footer stats are unusable or the column is
  * entirely null in the file) plus an optional NULL COUNT. The null
  * count is what makes null-sensitive predicates (`IS NULL`,
  * `IS NOT NULL`, `col IS DISTINCT FROM v`) prunable at all — parquet
  * min/max exclude nulls by construction, so an interval alone can
  * never prove anything about them. A [[FileStamp]] adds the file's row
  * count, which turns "all rows null" into a provable fact
  * (`nulls == rows`).
  *
  * Two interval kinds cover the orderable types:
  *  - [[LongIv]]: byte/short/int/long, DATE (days since epoch — parquet
  *    int32 stats ARE days) and TIMESTAMP/TIMESTAMP_NTZ (micros —
  *    parquet int64 stats ARE micros, matching the Catalyst literal
  *    encodings exactly, so no conversion is ever applied to either
  *    side);
  *  - [[StrIv]]: strings under Spark's binary UTF-8 collation. Parquet
  *    orders string min/max by UNSIGNED byte comparison — the same
  *    order `UTF8String.compareTo` uses — so footer bounds are valid
  *    Spark bounds verbatim. Values longer than [[MaxStrBytes]] drop
  *    the interval for that file (a truncated max is not a sound upper
  *    bound without increment-and-pad machinery); category-like columns
  *    — the ones equality predicates actually hit — fit comfortably.
  *
  * INT96 timestamps (legacy writers) carry no usable footer stats and
  * simply produce no interval — conservative, never wrong. Floating
  * point is excluded on purpose: parquet min/max with NaNs present are
  * unreliable by spec.
  *
  * Reading is one footer fetch per file, paid once by the committing
  * writer and amortized over ALL stamped columns; [[MaxStampedCols]]
  * bounds the manifest metadata to O(16) lines per file — the
  * Delta-style "first N columns" data-skipping budget. The stamps'
  * manifest line encoding is [[Manifest]]'s.
  */
object Stamps {

  /** Interval of a column's non-null values within one file. */
  sealed trait Iv
  final case class LongIv(lo: Long, hi: Long) extends Iv
  final case class StrIv(lo: UTF8String, hi: UTF8String) extends Iv

  /** Per-(file, column) stamp: min/max interval over NON-NULL values
    * (None = unusable/all-null), and the column's null count in the
    * file (None = footer didn't record it).
    */
  final case class ColStamp(iv: Option[Iv], nulls: Option[Long])

  /** Per-file stamp set: the file's row count plus its column stamps.
    * Files or columns never stamped are simply absent — evaluation is
    * conservative there.
    */
  final case class FileStamp(rows: Option[Long], cols: Map[String, ColStamp]) {
    def nonEmpty: Boolean = rows.nonEmpty || cols.nonEmpty
  }

  /** Longest string (UTF-8 bytes) stamped as an interval bound. */
  val MaxStrBytes = 64

  /** Most columns stamped per file (key always first). */
  val MaxStampedCols = 16

  private def kindOf(dt: DataType): Option[Char] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
        TimestampType | TimestampNTZType => Some('i')
    case StringType => Some('s')
    case _ => None
  }

  /** The columns a commit stamps: the key first, then schema order,
    * supported types only, capped. Columns whose NAME would break the
    * colon-separated manifest grammar are skipped (never quoted).
    */
  def stampColumns(schema: StructType, key: String): Seq[StructField] = {
    val ordered = schema.fields.filter(_.name == key) ++
      schema.fields.filterNot(_.name == key)
    ordered.filter(f => kindOf(f.dataType).nonEmpty &&
      !f.name.contains(':') && !f.name.contains('\n'))
      .take(MaxStampedCols).toSeq
  }

  /** Footer stats of `files` for the supported columns of `schema`
    * (key-first, capped — [[stampColumns]]): given (manifest name, path)
    * pairs, returns manifest name -> [[FileStamp]]. The manifest name is
    * the stamp key throughout (it may be a partition-relative path, not
    * just a base name). One footer fetch per file; data pages are never
    * read.
    */
  def read(spark: SparkSession, files: Seq[(String, Path)], schema: StructType,
      key: String): Map[String, FileStamp] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val cols = stampColumns(schema, key)
    files.map { case (name, p) =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val blocks = reader.getFooter.getBlocks
        var rows = 0L
        blocks.forEach(b => rows += b.getRowCount)
        val stamps = cols.flatMap { f =>
          statOf(blocks, f).map(f.name -> _)
        }.toMap
        name -> FileStamp(Some(rows), stamps)
      } finally reader.close()
    }.toMap
  }

  /** One column's stamp across a file's row groups. Interval validity:
    * every block must either carry usable min/max for the column or be
    * provably ALL-NULL in it (numNulls == rowCount — such a block
    * contributes no values, so skipping it keeps the union exact). Null
    * counts are summed iff every block records one.
    */
  private def statOf(
      blocks: java.util.List[org.apache.parquet.hadoop.metadata.BlockMetaData],
      f: StructField): Option[ColStamp] = {
    val wantStr = f.dataType == StringType
    var nulls = 0L
    var nullsKnown = true
    var ivOk = true
    var any = false
    var loL = Long.MaxValue; var hiL = Long.MinValue
    var loS: Array[Byte] = null; var hiS: Array[Byte] = null
    def cmpB(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
    var found = false
    blocks.forEach { block =>
      var inBlock = false
      block.getColumns.forEach { c =>
        if (c.getPath.toDotString == f.name) {
          inBlock = true
          val st = c.getStatistics
          if (st == null) { ivOk = false; nullsKnown = false }
          else {
            if (st.isNumNullsSet) nulls += st.getNumNulls else nullsKnown = false
            if (st.hasNonNullValue) {
              any = true
              (st.genericGetMin, st.genericGetMax) match {
                case (a: java.lang.Long, b: java.lang.Long) if !wantStr =>
                  loL = math.min(loL, a.longValue); hiL = math.max(hiL, b.longValue)
                case (a: java.lang.Integer, b: java.lang.Integer) if !wantStr =>
                  loL = math.min(loL, a.longValue); hiL = math.max(hiL, b.longValue)
                case (a: org.apache.parquet.io.api.Binary,
                      b: org.apache.parquet.io.api.Binary) if wantStr =>
                  val ab = a.getBytes; val bb = b.getBytes
                  if (ab.length > MaxStrBytes || bb.length > MaxStrBytes) ivOk = false
                  else {
                    if (loS == null || cmpB(ab, loS) < 0) loS = ab
                    if (hiS == null || cmpB(bb, hiS) > 0) hiS = bb
                  }
                case _ => ivOk = false
              }
            } else if (!(st.isNumNullsSet && st.getNumNulls == block.getRowCount)) {
              // no values recorded, yet not provably all-null: unusable
              ivOk = false
            }
          }
        }
      }
      if (!inBlock) {
        // column physically absent from this block (schema-evolved file
        // read through a wider stamp never lands here — stamps are
        // written from the file's own footer — but stay conservative)
        ivOk = false; nullsKnown = false
      }
      found = found || inBlock
    }
    if (!found) return None
    val iv: Option[Iv] =
      if (!ivOk || !any) None
      else if (wantStr && loS != null)
        Some(StrIv(UTF8String.fromBytes(loS), UTF8String.fromBytes(hiS)))
      else if (!wantStr && loL <= hiL) Some(LongIv(loL, hiL))
      else None
    val nn = if (nullsKnown) Some(nulls) else None
    if (iv.isEmpty && nn.isEmpty) None else Some(ColStamp(iv, nn))
  }
}
