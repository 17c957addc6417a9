package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{SnapshotLog, ZOrder}

/** Z-order layout: per-file min/max must be narrow in BOTH clustered
  * dimensions (that is the whole point — a file-skipping index for two
  * columns at once), where a single-column sort leaves the trailing
  * dimension's per-file range spanning the full domain.
  */
class ZOrderSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"
  private val NumFiles = 8

  test("zvalue interleaves bits (known points) and is codegen-composable") {
    // (a=0b11, b=0b00) -> even positions set: 0b0101; (a=0, b=0b11) -> odd: 0b1010
    val r = sel(
      ZOrder.zvalue(lit(3L), lit(0L), 2),
      ZOrder.zvalue(lit(0L), lit(3L), 2),
      ZOrder.zvalue(lit(3L), lit(3L), 2))
    assert(r.getLong(0) == 5L && r.getLong(1) == 10L && r.getLong(2) == 15L)
    // locality: adjacent (a,b) cells share high bits => close z-values
    val z1 = sel(ZOrder.zvalue(lit(10L), lit(20L))).getLong(0)
    val z2 = sel(ZOrder.zvalue(lit(11L), lit(20L))).getLong(0)
    assert(math.abs(z1 - z2) < 4)
  }

  test("zvalueN: 3-D interleave (known points), 2-D case reproduces zvalue, bit-budget guard") {
    // k=3, bits=2: dim j owns positions i*3 + j. a=0b11 -> 0b001001 = 9;
    // b=0b11 -> 0b010010 = 18; c=0b11 -> 0b100100 = 36; all -> 63
    val r = sel(
      ZOrder.zvalueN(Seq(lit(3L), lit(0L), lit(0L)), 2),
      ZOrder.zvalueN(Seq(lit(0L), lit(3L), lit(0L)), 2),
      ZOrder.zvalueN(Seq(lit(0L), lit(0L), lit(3L)), 2),
      ZOrder.zvalueN(Seq(lit(3L), lit(3L), lit(3L)), 2))
    assert(r.getLong(0) == 9L && r.getLong(1) == 18L &&
      r.getLong(2) == 36L && r.getLong(3) == 63L)
    // the k=2 path IS zvalue (same bit placement)
    val two = sel(ZOrder.zvalue(lit(10L), lit(20L), 5),
      ZOrder.zvalueN(Seq(lit(10L), lit(20L)), 5))
    assert(two.getLong(0) == two.getLong(1))
    // 62-bit positivity guard
    intercept[IllegalArgumentException] {
      ZOrder.zvalueN(Seq(lit(1L), lit(1L), lit(1L)), 21)
    }
    intercept[IllegalArgumentException] { ZOrder.zvalueN(Seq(lit(1L)), 4) }
  }

  test("3-column z-layout: per-file ranges narrow in ALL THREE dims") {
    import spark.implicits._
    // three mutually-scrambled dims over a 4096-point domain
    val rows = (0L until 4096L).map(i =>
      (i, (i * 37L) % 4096L, (i * 101L) % 4096L)).toDF("a", "b", "c")
    val zDir = Files.createTempDirectory("graft_z3").toString + "/z"
    SnapshotLog.writeClustered(ZOrder.withZ(rows, Seq("a", "b", "c")),
      Seq(ZOrder.ZCol), 16, zDir, drop = Seq(ZOrder.ZCol))
    val spans = spark.read.parquet(zDir)
      .groupBy(input_file_name())
      .agg(min("a"), max("a"), min("b"), max("b"), min("c"), max("c"))
      .collect()
    assert(spans.length == 16)
    def avgFrac(lo: Int, hi: Int): Double =
      spans.map(r => (r.getLong(hi) - r.getLong(lo)) / 4096.0).sum / spans.length
    // a single-column sort leaves two trailing dims at ~1.0 each; the
    // 3-D curve must keep the average per-file span well below that in
    // EVERY dim (16 files over a 2^12 grid at 3 dims: expect ~0.5)
    Seq(avgFrac(1, 2), avgFrac(3, 4), avgFrac(5, 6)).zip(Seq("a", "b", "c"))
      .foreach { case (f, d) =>
        assert(f < 0.8, s"dim $d average per-file span fraction $f not narrowed")
      }
  }

  test("z-clustered files have narrow min/max in both dims; sorted layout only in one") {
    val li = Tables.lineitem(spark, sfDir).select("l_partkey", "l_suppkey")
    val zDir = Files.createTempDirectory("graft_zorder").toString + "/z"
    val sDir = Files.createTempDirectory("graft_zorder").toString + "/s"
    SnapshotLog.writeClustered(ZOrder.withZ(li, Seq("l_partkey", "l_suppkey")),
      Seq(ZOrder.ZCol), NumFiles, zDir, drop = Seq(ZOrder.ZCol))
    li.repartitionByRange(NumFiles, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(sDir)

    def fileRanges(dir: String): Seq[(Long, Long, Long, Long)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(min("l_partkey"), max("l_partkey"), min("l_suppkey"), max("l_suppkey"))
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq

    val (pLo, pHi, sLo, sHi) = {
      val r = li.agg(min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val pSpan = (pHi - pLo).toDouble
    val sSpan = (sHi - sLo).toDouble

    def avgFrac(rs: Seq[(Long, Long, Long, Long)], suppkey: Boolean): Double =
      rs.map { case (pa, pb, sa, sb) =>
        if (suppkey) (sb - sa) / sSpan else (pb - pa) / pSpan
      }.sum / rs.size

    val z = fileRanges(zDir)
    val s = fileRanges(sDir)
    assert(z.size == NumFiles && s.size == NumFiles)

    // single-column layout: partkey ranges are tight but suppkey spans
    // ~the full domain in every file (no skipping possible on suppkey)
    assert(avgFrac(s, suppkey = false) < 0.2,
      s"sorted layout partkey frac ${avgFrac(s, suppkey = false)}")
    assert(avgFrac(s, suppkey = true) > 0.8,
      s"sorted layout suppkey frac ${avgFrac(s, suppkey = true)}")
    // z-order: BOTH dims materially narrower than the full span per file
    assert(avgFrac(z, suppkey = false) < 0.7,
      s"z layout partkey frac ${avgFrac(z, suppkey = false)}")
    assert(avgFrac(z, suppkey = true) < 0.7,
      s"z layout suppkey frac ${avgFrac(z, suppkey = true)}")

    // skipping: a narrow suppkey predicate must intersect fewer z files
    val probeLo = sLo + (sHi - sLo) / 2
    val probeHi = probeLo // single-point probe
    def touched(rs: Seq[(Long, Long, Long, Long)]): Int =
      rs.count { case (_, _, sa, sb) => sa <= probeHi && sb >= probeLo }
    assert(touched(z) < touched(s),
      s"z files touched ${touched(z)} !< sorted ${touched(s)}")

    // layout changes bytes, not rows: same multiset of (partkey, suppkey)
    assert(spark.read.parquet(zDir).count() == li.count())
  }
}
