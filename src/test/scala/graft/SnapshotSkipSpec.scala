package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import graft.operators.SnapshotLog
import graft.sources.SnapshotFileIndex

/** Manifest-stat file skipping on snapshot reads: the tri-state interval
  * evaluator, the FileIndex pruning decision, the executed-plan fact
  * (numFiles metric), and end-to-end equality with the unpruned answer —
  * including through delete vectors, Z-order second-dimension stamps and
  * the catalog SQL path.
  */
class SnapshotSkipSpec extends SparkTestBase {

  import graft.sources.Stamps
  import graft.sources.Stamps.{ColStamp, FileStamp, LongIv, StrIv}

  private def id = AttributeReference("id", LongType)()
  private def other = AttributeReference("x", StringType)()
  private val caseInsensitive: (String, String) => Boolean =
    (a, b) => a.equalsIgnoreCase(b)

  /** Legacy-shaped stamp: interval only, null count unknown. */
  private def ev(e: Expression, lo: Long, hi: Long): Option[Boolean] =
    SnapshotFileIndex.evalOnStamps(e,
      FileStamp(None, Map("id" -> ColStamp(Some(LongIv(lo, hi)), None))),
      caseInsensitive)

  /** Null-aware stamp: interval + null count + file row count. */
  private def evN(e: Expression, lo: Long, hi: Long, nulls: Long,
      rows: Long): Option[Boolean] =
    SnapshotFileIndex.evalOnStamps(e,
      FileStamp(Some(rows), Map("id" -> ColStamp(
        if (nulls == rows) None else Some(LongIv(lo, hi)), Some(nulls)))),
      caseInsensitive)

  test("interval verdicts: comparison atoms, both operand orders") {
    // file holds keys [10, 20] — the SKIP side (Some(false) = TRUE on no
    // row) never needs null knowledge: a null row is never TRUE under a
    // null-strict comparison
    assert(ev(EqualTo(id, Literal(5L)), 10, 20).contains(false))
    assert(ev(EqualTo(id, Literal(15L)), 10, 20).isEmpty)
    assert(ev(EqualTo(Literal(15L), id), 10, 20).isEmpty)
    assert(ev(LessThan(id, Literal(10L)), 10, 20).contains(false))
    assert(ev(LessThan(id, Literal(15L)), 10, 20).isEmpty)
    assert(ev(LessThanOrEqual(id, Literal(9L)), 10, 20).contains(false))
    assert(ev(GreaterThan(id, Literal(20L)), 10, 20).contains(false))
    assert(ev(GreaterThanOrEqual(id, Literal(21L)), 10, 20).contains(false))
    // reversed operands flip the comparison
    assert(ev(LessThan(Literal(25L), id), 10, 20).contains(false)) // 25 < id
    // int literal against long key still participates
    assert(ev(EqualTo(id, Literal(5, IntegerType)), 10, 20).contains(false))

    // definite-TRUE claims (every row TRUE) need a ZERO null count — a
    // null row makes a comparison NULL, not TRUE. Interval-only stamps
    // answer unknown; null-counted stamps answer definitely.
    assert(ev(LessThan(id, Literal(25L)), 10, 20).isEmpty)
    assert(evN(LessThan(id, Literal(25L)), 10, 20, nulls = 0, rows = 11).contains(true))
    assert(evN(LessThan(id, Literal(25L)), 10, 20, nulls = 1, rows = 12).isEmpty)
    assert(ev(EqualTo(id, Literal(15L)), 15, 15).isEmpty)
    assert(evN(EqualTo(id, Literal(15L)), 15, 15, 0, 3).contains(true))
    assert(evN(LessThanOrEqual(id, Literal(20L)), 10, 20, 0, 11).contains(true))
    assert(evN(GreaterThan(id, Literal(9L)), 10, 20, 0, 11).contains(true))
    assert(evN(GreaterThanOrEqual(id, Literal(10L)), 10, 20, 0, 11).contains(true))
    assert(evN(GreaterThan(Literal(25L), id), 10, 20, 0, 11).contains(true)) // 25 > id
    // an ALL-NULL column satisfies no comparison at all
    assert(evN(LessThan(id, Literal(25L)), 0, 0, nulls = 7, rows = 7).contains(false))
    assert(evN(EqualTo(id, Literal(15L)), 0, 0, nulls = 7, rows = 7).contains(false))
  }

  test("interval verdicts: IN, Kleene AND/OR/NOT, unsupported -> unknown") {
    assert(ev(In(id, Seq(Literal(1L), Literal(2L))), 10, 20).contains(false))
    assert(ev(In(id, Seq(Literal(1L), Literal(15L))), 10, 20).isEmpty)
    assert(ev(In(id, Seq(Literal(1L), Literal(15L))), 15, 15).isEmpty) // nulls unknown
    assert(evN(In(id, Seq(Literal(1L), Literal(15L))), 15, 15, 0, 3).contains(true))
    assert(ev(InSet(id, Set[Any](1L, 2L)), 10, 20).contains(false))
    // NOT IN: skip when every non-null value must match a member
    assert(evN(Not(In(id, Seq(Literal(15L)))), 15, 15, 0, 3).contains(false))
    // NOT IN with a NULL member is TRUE on no row at all
    assert(ev(Not(In(id, Seq(Literal(99L), Literal(null, LongType)))), 10, 20)
      .contains(false))
    // And short-circuits on definite-false even when the other side is unknown
    val unknown = EqualTo(other, Literal("a"))
    assert(ev(And(unknown, EqualTo(id, Literal(5L))), 10, 20).contains(false))
    assert(ev(And(unknown, EqualTo(id, Literal(15L))), 10, 20).isEmpty)
    // Or needs both sides definite-false to prune
    assert(ev(Or(EqualTo(id, Literal(5L)), EqualTo(id, Literal(25L))), 10, 20)
      .contains(false))
    assert(ev(Or(unknown, EqualTo(id, Literal(5L))), 10, 20).isEmpty)
    // negated comparisons flip the operator exactly (3VL): works with or
    // without null counts
    assert(ev(Not(LessThan(id, Literal(25L))), 10, 20).contains(false))
    assert(ev(Not(EqualTo(id, Literal(15L))), 10, 20).isEmpty)
    // De Morgan through the connectives under negation
    assert(ev(Not(Or(EqualTo(id, Literal(15L)), unknown)), 10, 20).isEmpty)
    assert(ev(Not(And(LessThan(id, Literal(5L)), unknown)), 10, 20).isEmpty)
    assert(evN(Not(And(LessThan(id, Literal(25L)), GreaterThan(id, Literal(5L)))),
      10, 20, 0, 11).contains(false))
    // comparison against a NULL literal is NULL on every row — TRUE on
    // none, positively or negated: skippable
    assert(ev(EqualTo(id, Literal(null, LongType)), 10, 20).contains(false))
    assert(ev(Not(EqualTo(id, Literal(null, LongType))), 10, 20).contains(false))
    // IS NULL prunes from null counts, not intervals
    assert(ev(IsNull(id), 10, 20).isEmpty)
    assert(evN(IsNull(id), 10, 20, nulls = 0, rows = 11).contains(false))
    assert(evN(IsNull(id), 10, 20, nulls = 2, rows = 11).isEmpty)
    assert(evN(IsNull(id), 0, 0, nulls = 7, rows = 7).contains(true))
    assert(evN(IsNotNull(id), 0, 0, nulls = 7, rows = 7).contains(false))
    assert(evN(IsNotNull(id), 10, 20, nulls = 0, rows = 11).contains(true))
    assert(evN(Not(IsNull(id)), 0, 0, nulls = 7, rows = 7).contains(false))
  }

  test("EqualNullSafe never skips on min/max alone: stamps are blind to nulls") {
    // a file stamped [5, 5] may ALSO hold nulls (parquet min/max exclude
    // them): `NOT (col <=> 5)` / `col IS DISTINCT FROM 5` is TRUE on
    // those null rows, so an eq-style verdict would skip the file and
    // silently drop them. Without a null count the negated form must
    // stay unknown; WITH one it turns definite in both directions.
    assert(ev(EqualNullSafe(id, Literal(99L)), 5, 5).contains(false)) // sound: null rows are FALSE under <=>
    assert(ev(EqualNullSafe(id, Literal(5L)), 5, 5).isEmpty)
    assert(ev(Not(EqualNullSafe(id, Literal(5L))), 5, 5).isEmpty)
    assert(ev(Not(EqualNullSafe(Literal(5L), id)), 5, 5).isEmpty)
    // null-counted: zero nulls make IS DISTINCT FROM prunable...
    assert(evN(Not(EqualNullSafe(id, Literal(5L))), 5, 5, 0, 3).contains(false))
    assert(evN(EqualNullSafe(id, Literal(5L)), 5, 5, 0, 3).contains(true))
    // ...and out-of-range IS DISTINCT FROM is TRUE everywhere even WITH
    // nulls (null <=> 99 is FALSE, negation TRUE)
    assert(evN(Not(EqualNullSafe(id, Literal(99L))), 5, 5, 1, 4).contains(true))
    // <=> NULL is IS NULL
    assert(evN(EqualNullSafe(id, Literal(null, LongType)), 10, 20, 0, 11).contains(false))
    assert(evN(Not(EqualNullSafe(id, Literal(null, LongType))), 10, 20, 0, 11).contains(true))
  }

  test("string and typed verdicts: equality, range, prefix") {
    import org.apache.spark.unsafe.types.UTF8String
    val cat = AttributeReference("cat", StringType)()
    def s(x: String) = UTF8String.fromString(x)
    def evS(e: Expression, lo: String, hi: String, nulls: Long = 0,
        rows: Long = 10): Option[Boolean] =
      SnapshotFileIndex.evalOnStamps(e,
        FileStamp(Some(rows), Map("cat" -> ColStamp(
          Some(StrIv(s(lo), s(hi))), Some(nulls)))), caseInsensitive)
    assert(evS(EqualTo(cat, Literal("news")), "ads", "forum").contains(false))
    assert(evS(EqualTo(cat, Literal("blog")), "ads", "forum").isEmpty)
    assert(evS(EqualTo(cat, Literal("news")), "news", "news").contains(true))
    assert(evS(LessThan(cat, Literal("ads")), "news", "wiki").contains(false))
    assert(evS(GreaterThanOrEqual(cat, Literal("news")), "news", "wiki").contains(true))
    // LIKE 'p%' prefix pruning under binary order
    assert(evS(StartsWith(cat, Literal("z")), "ads", "forum").contains(false))
    assert(evS(StartsWith(cat, Literal("a")), "ads", "az").contains(true))
    assert(evS(StartsWith(cat, Literal("f")), "ads", "forum").isEmpty)
    assert(evS(Not(StartsWith(cat, Literal("a"))), "ads", "az").contains(false))
    // date/timestamp literals participate as their internal long encodings
    val day = AttributeReference("day", org.apache.spark.sql.types.DateType)()
    def evD(e: Expression, lo: Long, hi: Long): Option[Boolean] =
      SnapshotFileIndex.evalOnStamps(e,
        FileStamp(Some(10L), Map("day" -> ColStamp(
          Some(LongIv(lo, hi)), Some(0L)))), caseInsensitive)
    assert(evD(EqualTo(day, Literal(100, org.apache.spark.sql.types.DateType)),
      200, 300).contains(false))
    assert(evD(GreaterThan(day, Literal(150, org.apache.spark.sql.types.DateType)),
      200, 300).contains(true))
  }

  test("multi-column verdicts: each atom prunes on its own column's range") {
    val grp = AttributeReference("grp", LongType)()
    val stamp = FileStamp(Some(11L), Map(
      "id" -> ColStamp(Some(LongIv(10L, 20L)), Some(0L)),
      "grp" -> ColStamp(Some(LongIv(3L, 3L)), Some(0L))))
    def ev2(e: Expression) = SnapshotFileIndex.evalOnStamps(e, stamp, caseInsensitive)
    assert(ev2(EqualTo(grp, Literal(4L))).contains(false))
    assert(ev2(EqualTo(grp, Literal(3L))).contains(true))
    assert(ev2(And(EqualTo(grp, Literal(3L)), EqualTo(id, Literal(15L)))).isEmpty)
    assert(ev2(And(EqualTo(grp, Literal(3L)), EqualTo(id, Literal(5L)))).contains(false))
  }

  // ---- end-to-end over a real snapshot table --------------------------

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"skip-$tag").toString + "/t"

  private def fixture(n: Int = 800): DataFrame = {
    import spark.implicits._
    (0L until n).map(i => (i, s"row$i", (i % 7).toInt)).toDF("id", "x", "grp")
  }

  test("key predicates skip whole files at planning time; answers unchanged") {
    val dir = freshDir("e2e")
    SnapshotLog.init(spark, dir, fixture(), "id", numFiles = 8)
    val full = SnapshotLog.read(spark, dir, 0L)
    assert(filesRead(full) == 8) // no predicate: nothing skipped

    val point = SnapshotLog.read(spark, dir, 0L).where(col("id") === 42L)
    assert(filesRead(point) == 1, "a point query must open exactly 1 file")
    assert(point.select("x").as[String](spark.implicits.newStringEncoder)
      .collect().toSeq == Seq("row42"))

    val range = SnapshotLog.read(spark, dir, 0L)
      .where(col("id") >= 0L && col("id") < 100L)
    assert(filesRead(range) == 1, "a 100-of-800 range must open 1 of 8 files")
    assert(range.count() == 100)

    val in = SnapshotLog.read(spark, dir, 0L)
      .where(col("id").isin(5L, 790L))
    assert(filesRead(in) == 2, "a 2-point IN must open 2 files")
    assert(in.count() == 2)

    // string columns are stamped too: equality on x skips the files
    // whose [min, max] byte range excludes the value
    val byStr = SnapshotLog.read(spark, dir, 0L).where(col("x") === "row7")
    assert(filesRead(byStr) < 8, "string stamps must skip files")
    assert(byStr.count() == 1)

    // a predicate no stamp can answer (expression over the column) keeps
    // every file but stays correct
    val nonKey = SnapshotLog.read(spark, dir, 0L)
      .where(length(col("x")) === 5 && col("x").endsWith("7"))
    assert(filesRead(nonKey) == 8)
    assert(nonKey.count() == 9) // row17, row27 ... row97 (5-char names only)

    // empty-result predicate: all files skipped
    val none = SnapshotLog.read(spark, dir, 0L).where(col("id") === 100000L)
    assert(filesRead(none) == 0)
    assert(none.count() == 0)

    // the point read stays at 1 file as the table grows: the same fixture
    // at 10x the rows over 64 files
    val big = freshDir("e2e-10x")
    SnapshotLog.init(spark, big, fixture(8000), "id", numFiles = 64)
    assert(filesRead(SnapshotLog.read(spark, big, 0L)) == 64)
    assert(filesRead(SnapshotLog.read(spark, big, 0L).where(col("id") === 42L)) == 1,
      "a point query must open exactly 1 file of 64 too")
  }

  test("skipping composes with delete vectors and survives merges") {
    import spark.implicits._
    val dir = freshDir("mor")
    SnapshotLog.init(spark, dir, fixture(), "id", numFiles = 8)
    SnapshotLog.deleteKeys(spark, dir, Seq(42L, 43L).toDF("id"), "id")
    val v = SnapshotLog.latestVersion(spark, dir)
    val got = SnapshotLog.read(spark, dir, v).where(col("id").between(40L, 45L))
    assert(got.select("id").as[Long].collect().sorted.toSeq ==
      Seq(40L, 41L, 44L, 45L)) // masked keys absent through the pruned scan

    // a merge commits fresh files with fresh stamps; pruning still plans
    val cs = Seq(("insert", 5000L, "new", 1)).toDF("op", "id", "x", "grp")
    SnapshotLog.merge(spark, dir, cs, "id")
    val v2 = SnapshotLog.latestVersion(spark, dir)
    val hi = SnapshotLog.read(spark, dir, v2).where(col("id") === 5000L)
    assert(hi.count() == 1)
    val all = SnapshotLog.read(spark, dir, v2)
    assert(all.count() == 799) // 800 - 2 deleted + 1 inserted
  }

  test("Z-order stamps let reads skip on the SECOND dimension; carried by MoR deletes") {
    import spark.implicits._
    val dir = freshDir("zord")
    // two roughly-independent long dims so the Morton layout splits both
    val rows = (0L until 1024L).map(i => (i, (i * 37L) % 1024L, s"r$i"))
      .toDF("id", "d2", "x")
    SnapshotLog.init(spark, dir, rows, "id", numFiles = 4)
    SnapshotLog.compactZ(spark, dir, "id", "d2", numFiles = 16)
    val v = SnapshotLog.latestVersion(spark, dir)

    // point filter on the second dimension: a key-sorted layout reads all
    // 16 files (d2 spans the domain in each); the z-layout + colrange
    // stamps must skip most of them
    val byD2 = SnapshotLog.read(spark, dir, v).where(col("d2") === 111L)
    assert(filesRead(byD2) <= 8, "second-dimension filter must skip files")
    assert(byD2.select("id").as[Long].collect().toSeq ==
      Seq((0L until 1024L).find(i => (i * 37L) % 1024L == 111L).get))

    // the key still prunes (curve-segmented, wider but bounded ranges)
    val byKey = SnapshotLog.read(spark, dir, v).where(col("id") === 5L)
    assert(filesRead(byKey) <= 8)
    assert(byKey.count() == 1)

    // a reference-only commit (MoR delete) carries the colrange stamps
    SnapshotLog.deleteKeys(spark, dir, Seq(0L).toDF("id"), "id")
    val v2 = SnapshotLog.latestVersion(spark, dir)
    val afterDel = SnapshotLog.read(spark, dir, v2).where(col("d2") === 111L)
    assert(filesRead(afterDel) <= 8, "colrange stamps must survive a MoR delete")
    assert(afterDel.count() == 1)
  }

  test("OPTIMIZE ZORDER BY (a, b, c): 3-dim SQL statement, stamps skip on every dimension") {
    import spark.implicits._
    val dir = freshDir("zord3")
    val rows = (0L until 2048L).map(i =>
      (i, (i * 37L) % 2048L, (i * 101L) % 2048L, s"r$i"))
      .toDF("id", "d2", "d3", "x")
    SnapshotLog.init(spark, dir, rows, "id", numFiles = 4)
    graft.sql.SnapshotDml.register(spark, "zord3", dir)
    val out = spark.sql("OPTIMIZE zord3 ZORDER BY (id, d2, d3)").collect()
    assert(out.head.getLong(2) >= 1L)
    // CTAS-sized OPTIMIZE may produce few files on tiny data; re-cluster
    // with a fixed fan-out for a meaningful skip metric
    SnapshotLog.compactZ(spark, dir, Seq("id", "d2", "d3"), numFiles = 16)
    val v = SnapshotLog.latestVersion(spark, dir)
    // a point filter on EACH dimension must skip files (a key-sorted
    // layout reads all 16 for d2/d3 — their per-file span would be the
    // whole domain)
    Seq("id" -> 5L, "d2" -> 111L, "d3" -> 707L).foreach { case (c, pt) =>
      val q = SnapshotLog.read(spark, dir, v).where(col(c) === pt)
      assert(filesRead(q) <= 10, s"filter on $c must skip files")
      assert(q.count() >= 1)
    }
    // one column is a sort, not a curve — rejected loudly
    val e = intercept[IllegalArgumentException] {
      spark.sql("OPTIMIZE zord3 ZORDER BY (id)")
    }
    assert(e.getMessage.contains("at least 2"))
  }

  test("catalog SQL reads skip through the resolution rule") {
    val warehouse = Files.createTempDirectory("skip-cat").toString
    spark.conf.set("spark.graft.catalog.location", warehouse)
    try {
      fixture().createOrReplaceTempView("skip_src")
      spark.sql("CREATE TABLE graft.skiptest TBLPROPERTIES ('key'='id') " +
        "AS SELECT * FROM skip_src")
      val q = spark.sql("SELECT x FROM graft.skiptest WHERE id = 42")
      assert(filesRead(q) <= 2, // CTAS sizes files by data volume, >= 1 file
        "identifier read with a key predicate must skip non-matching files")
      assert(q.collect().map(_.getString(0)).toSeq == Seq("row42"))
    } finally spark.sql("DROP TABLE IF EXISTS graft.skiptest")
  }

  test("null-aware skipping end-to-end: IS NULL, IS NOT NULL, IS DISTINCT FROM") {
    import spark.implicits._
    val dir = freshDir("nulls")
    // ids 0..99 -> file A: d = 5 everywhere EXCEPT one null; x = "alpha"
    // ids 100..199 -> file B: d = 6..10, no nulls; x = "beta"
    val rows = (0L until 200L).map { i =>
      val d: java.lang.Long =
        if (i == 50L) null else if (i < 100L) java.lang.Long.valueOf(5L)
        else java.lang.Long.valueOf(6L + i % 5)
      (i, d, if (i < 100L) "alpha" else "beta")
    }.toDF("id", "d", "x")
    SnapshotLog.init(spark, dir, rows, "id", numFiles = 2)

    // IS NULL opens only the file that HAS nulls
    val isNull = SnapshotLog.read(spark, dir, 0L).where(col("d").isNull)
    assert(filesRead(isNull) == 1)
    assert(isNull.select("id").as[Long].collect().toSeq == Seq(50L))

    // IS DISTINCT FROM 5 must KEEP file A (its null row satisfies it —
    // the hazard: lo == hi == 5 but nulls > 0) and the answer must hold
    // the null row plus all of file B
    val distinct5 = SnapshotLog.read(spark, dir, 0L)
      .where(!(col("d") <=> 5L))
    assert(distinct5.count() == 101L, "the null row must survive IS DISTINCT FROM")
    assert(distinct5.where(col("id") === 50L).count() == 1)

    // on the null-free file, IS DISTINCT FROM its constant value skips
    val distinct6to10 = SnapshotLog.read(spark, dir, 0L)
      .where(!(col("d") <=> 5L) && col("x") === "beta")
    assert(filesRead(distinct6to10) == 1) // string stamp alone prunes file A
    // and a no-null single-value file IS skipped by IS DISTINCT FROM:
    val dir2 = freshDir("nonull")
    val clean = (0L until 200L)
      .map(i => (i, if (i < 100L) 5L else 6L + i % 5)).toDF("id", "d")
    SnapshotLog.init(spark, dir2, clean, "id", numFiles = 2)
    val d2 = SnapshotLog.read(spark, dir2, 0L).where(!(col("d") <=> 5L))
    assert(filesRead(d2) == 1, "zero-null [5,5] file must be skipped")
    assert(d2.count() == 100L)

    // IS NOT NULL skips nothing here (both files have non-null rows) but
    // stays correct; on an all-null column file it would skip (unit-
    // tested above)
    val notNull = SnapshotLog.read(spark, dir, 0L).where(col("d").isNotNull)
    assert(notNull.count() == 199L)
  }

  test("typed stamps end-to-end: string equality, LIKE prefix, timestamp range") {
    import spark.implicits._
    val dir = freshDir("typed")
    val rows = (0L until 300L).map { i =>
      val cat = if (i < 100L) "ads" else if (i < 200L) "news" else "wiki"
      val ts = java.sql.Timestamp.valueOf(f"2024-01-${1 + i / 10}%02d 00:00:00")
      (i, cat, ts)
    }.toDF("id", "cat", "ts")
    SnapshotLog.init(spark, dir, rows, "id", numFiles = 3)

    val eq = SnapshotLog.read(spark, dir, 0L).where(col("cat") === "news")
    assert(filesRead(eq) == 1, "string equality must open 1 of 3 files")
    assert(eq.count() == 100)

    val like = SnapshotLog.read(spark, dir, 0L).where(col("cat").like("w%"))
    assert(filesRead(like) == 1, "LIKE prefix must open 1 of 3 files")
    assert(like.count() == 100)

    val t = SnapshotLog.read(spark, dir, 0L)
      .where(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-25 00:00:00")))
    assert(filesRead(t) <= 2, "timestamp range must skip early files")
    assert(t.count() == rows.where(col("ts") >=
      lit(java.sql.Timestamp.valueOf("2024-01-25 00:00:00"))).count())

    // stamps survive a MoR delete (reference-only commit carries cstats)
    SnapshotLog.deleteKeys(spark, dir, Seq(150L).toDF("id"), "id")
    val v2 = SnapshotLog.latestVersion(spark, dir)
    val eq2 = SnapshotLog.read(spark, dir, v2).where(col("cat") === "news")
    assert(filesRead(eq2) == 1, "typed stamps must survive a MoR delete")
    assert(eq2.count() == 99)
  }

  test("OPTIMIZE WHERE scopes its footprint by typed stamps too") {
    import spark.implicits._
    val dir = freshDir("owtyped")
    val rows = (0L until 300L).map { i =>
      (i, if (i < 100L) "ads" else if (i < 200L) "news" else "wiki")
    }.toDF("id", "cat")
    SnapshotLog.init(spark, dir, rows, "id", numFiles = 3)
    val pred = spark.sessionState.sqlParser.parseExpression("cat = 'news'")
    val c = SnapshotLog.compactWhere(spark, dir, pred, targetBytes = 1L << 30)
    assert(c.report.nRewritten == 1 && c.report.nUntouched == 2,
      s"string predicate must bound the footprint, got ${c.report}")
    assert(SnapshotLog.readLatest(spark, dir).count() == 300)
  }

  test("unstamped files are never skipped; evolved schema reads through") {
    import spark.implicits._
    val dir = freshDir("evo")
    SnapshotLog.init(spark, dir, fixture(200), "id", numFiles = 4)
    // evolve: add a column via schema-evolving merge
    val cs = Seq(("insert", 9000L, "wide", 3, 1.5)).toDF("op", "id", "x", "grp", "w")
    SnapshotLog.merge(spark, dir, cs, "id")
    val v = SnapshotLog.latestVersion(spark, dir)
    val got = SnapshotLog.read(spark, dir, v).where(col("id") < 10L)
    assert(got.columns.contains("w"))
    assert(got.count() == 10)
    assert(got.where(col("w").isNotNull).count() == 0) // old files read through
    val wide = SnapshotLog.read(spark, dir, v).where(col("id") === 9000L)
    assert(wide.select("w").head().getDouble(0) == 1.5)
  }
}
