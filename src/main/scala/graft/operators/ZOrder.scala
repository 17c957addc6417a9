package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout: interleave the bits of two integer
  * dimensions and cluster files by the interleaved value, so rows close in
  * EITHER dimension land in few files. Parquet footers then carry narrow
  * per-file (and per-row-group) min/max for BOTH columns, and a scan
  * filtered on either dimension skips most files. A single-column sort
  * layout only ever skips on its leading column — the trailing dimension's
  * min/max spans the whole domain in every file.
  *
  * This is a WRITE-side operator: pay one clustering
  * shuffle at layout time, harvest it on every subsequent scan. At 100 TB
  * the skip ratio is the difference between touching 1/numFiles of the
  * data and touching all of it; the clustering itself is one
  * `repartitionByRange` + in-partition sort — the same cost as any total
  * sort of the table.
  *
  * The z-value is composed from shiftright/and/or Column primitives, so it
  * stays inside whole-stage codegen; no UDF, no custom expression needed.
  */
object ZOrder {

  /** 2-D Morton code of `a` (even bit positions) and `b` (odd positions).
    * Inputs must already lie in [0, 2^bits) — callers with wider or
    * negative domains normalize first (rank, offset, or scale); with 21
    * bits each the result fits a positive long.
    */
  def zvalue(a: Column, b: Column, bits: Int = 21): Column =
    zvalueN(Seq(a, b), bits)

  /** k-D Morton code: bit `i` of dimension `j` lands at interleaved
    * position `i*k + j` (dimension 0 owns the LOW bit of each group, so
    * the 2-D case reproduces [[zvalue]] exactly). The product `k * bits`
    * must stay below 63 for a positive long — on wide fact tables a
    * 3-column interleave at the default 16 bits is routine (48 result
    * bits); 21/2, 16/3, 12/5, 8/7 all fit.
    */
  def zvalueN(cols: Seq[Column], bits: Int): Column = {
    val k = cols.length
    require(k >= 2, s"z-order needs at least 2 columns, got $k")
    require(bits >= 1 && k * bits <= 62,
      s"$k columns at $bits bits = ${k * bits} result bits — must stay " +
        "<= 62 for a positive long z-value (lower the bit budget)")
    (for { i <- 0 until bits; (c, j) <- cols.zipWithIndex } yield
      shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * k + j))
      .reduce(_ bitwiseOR _)
  }

  /** Normalize `c` into [0, 2^bits) by linear min/max scaling — the
    * equal-bit-budget step interleaving REQUIRES: raw domains of different
    * widths would let the wider column own all the high bits and the
    * z-order degenerate into a single-column sort. Linear scaling fits
    * roughly-uniform domains (keys, timestamps); heavily skewed columns
    * should be mapped through quantile boundaries instead (same idea as
    * range-partition ids), which composes here by pre-computing the rank
    * column before calling [[withZ]].
    */
  private def scaled(c: Column, lo: Column, hi: Column, bits: Int): Column =
    // subtract in DOUBLE, not the column's native integer type: an
    // IntegerType domain wider than Int.MaxValue (or a LongType one wider
    // than Long.MaxValue) would overflow `c - lo` into negative scaled
    // values and garbage z-values; double loses at most ulp-level
    // precision, irrelevant against a <= 2^21 bucket grid
    least(lit((1L << bits) - 1),
      floor((c.cast("double") - lo.cast("double")) /
          (hi.cast("double") - lo.cast("double") + 1.0d) * (1L << bits))
        .cast("long"))

  /** The column [[withZ]] adds. */
  val ZCol = "__z"

  /** `df` plus [[ZCol]], the z-value of integer `cols` (k >= 2): every
    * dimension scaled into the shared bit budget (the min/max bounds ride
    * a one-row broadcast — no driver-side loop), then interleaved. The
    * per-dimension budget is 16 bits through k=3 and `62 / k` beyond (the
    * curve keeps its locality, the grid just coarsens — file-skip
    * granularity, not correctness). Range-clustering files on [[ZCol]]
    * ([[SnapshotLog.writeClustered]]) gives each file a contiguous curve
    * segment, so per-file (and per-row-group) min/max is narrow in every
    * dimension.
    */
  def withZ(df: DataFrame, cols: Seq[String]): DataFrame = {
    val k = cols.length
    val b = math.min(16, 62 / k)
    val bounds = df.agg(
      min(col(cols.head)).as(s"__lo0"), (
        max(col(cols.head)).as(s"__hi0") +:
        cols.tail.zipWithIndex.flatMap { case (c, i) =>
          Seq(min(col(c)).as(s"__lo${i + 1}"), max(col(c)).as(s"__hi${i + 1}"))
        }): _*)
      .withColumn("__j", lit(1))
    df.withColumn("__j", lit(1))
      .join(broadcast(bounds), Seq("__j"))
      .withColumn(ZCol, zvalueN(
        cols.zipWithIndex.map { case (c, i) =>
          scaled(col(c), col(s"__lo$i"), col(s"__hi$i"), b) }, b))
      .drop("__j" +: cols.indices.flatMap(i => Seq(s"__lo$i", s"__hi$i")): _*)
  }
}
