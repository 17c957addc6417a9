package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Merge, SnapshotLog, SyntheticShares}

/** Sizes and the statement cycle of the `dml` workload. */
final case class DmlConfig(rows: Int, mergeUpdates: Int, mergeInserts: Int,
                           mergeDeletes: Int, updateModulus: Int, deleteModulus: Int,
                           cycle: Seq[String])

/** The DML half of the `sql` workload: a snapshot table driven through
  * SQL on the `graft` catalog. One CTAS, then a fixed cycle of MERGE /
  * UPDATE / DELETE / OPTIMIZE commits mixed with point lookups, VERSION AS
  * OF reads and `table_changes` scans. The final table must equal the
  * [[Merge.apply]] fold of the same changesets.
  */
final class DmlClient(ctx: Ctx, cfg: DmlConfig) {
  import ctx.spark
  import spark.implicits._

  private val table = "graft.shares"
  private val dir = ctx.args.runDir.resolve("catalog").resolve("shares").toString
  private val setupSeeds = new scala.util.Random(ctx.args.seed)
  private var base: DataFrame = _
  private var gen: DmlGen = _
  private val folds = mutable.ArrayBuffer.empty[DataFrame => DataFrame]
  private val liveAt = mutable.Map.empty[Long, Long]
  private var changedRows = 0L
  private val commits = Seq("merge", "update", "delete", "optimize")

  def setup(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val orders = Gen.orders(setupSeeds.nextLong(), cfg.rows)
    base = SyntheticShares.shares(orders.toDF()).localCheckpoint()
    base.createOrReplaceTempView("pb_dml_src")
    spark.sql(s"CREATE TABLE $table TBLPROPERTIES ('key'='id') AS SELECT * FROM pb_dml_src")
    gen = new DmlGen(ctx.args.seed, orders.map(_.o_orderkey))
    folds.clear()
    liveAt.clear()
    liveAt(SnapshotLog.latestVersion(spark, dir)) = gen.liveCount
  }

  private def nulls(df: DataFrame, op: String, keep: Map[String, org.apache.spark.sql.Column]) =
    df.select(lit(op).as("op") +: col("id") +: base.columns.toSeq.filter(_ != "id").map { c =>
      keep.getOrElse(c, lit(null).cast(base.schema(c).dataType)).as(c)
    }: _*)

  private def commit(kind: String)(sql: => String): Unit = {
    val stmt = sql
    val (_, s) = Clock.timed(ctx.layer(s"SnapshotDml.$kind")(spark.sql(stmt).collect()))
    ctx.op("commit", s * 1000)
    liveAt(SnapshotLog.latestVersion(spark, dir)) = gen.liveCount
  }

  /** Rows a commit changes, counted over traced units. */
  private def changed(n: Int): Unit = if (ctx.tracing) changedRows += n

  private def read[T](kind: String)(body: => T): T = {
    val (out, s) = Clock.timed(ctx.layer(s"SnapshotRead.$kind")(body))
    ctx.op("read", s * 1000)
    out
  }

  private def statement(kind: String): Unit = kind match {
    case "merge" =>
      val cs = gen.merge(cfg.mergeUpdates, cfg.mergeInserts, cfg.mergeDeletes).toDF()
      changed(cfg.mergeUpdates + cfg.mergeInserts + cfg.mergeDeletes)
      cs.createOrReplaceTempView("pb_cs")
      val cols = base.columns.mkString(", ")
      commit("merge") {
        s"""MERGE INTO $table t USING pb_cs c ON t.id = c.id
           |WHEN MATCHED AND c.op = 'delete' THEN DELETE
           |WHEN MATCHED AND c.op = 'update' THEN
           |  UPDATE SET item_target = c.item_target, file_target = c.file_target
           |WHEN NOT MATCHED AND c.op = 'insert' THEN
           |  INSERT ($cols) VALUES (${base.columns.map("c." + _).mkString(", ")})
           |""".stripMargin
      }
      folds += (ref => Merge(ref, cs, "id"))
    case "update" =>
      val (m, r) = gen.predicate(cfg.updateModulus)
      changed(gen.countWhere(m, r))
      commit("update")(s"UPDATE $table SET share_type = share_type + 1 WHERE id % $m = $r")
      folds += (ref => Merge(ref, nulls(ref.where(col("id") % m === r), Merge.OpUpdate,
        Map("share_type" -> (col("share_type") + 1))), "id"))
    case "delete" =>
      val (m, r) = gen.predicate(cfg.deleteModulus)
      changed(gen.deleteWhere(m, r))
      commit("delete")(s"DELETE FROM $table WHERE id % $m = $r")
      folds += (ref => Merge(ref, nulls(ref.where(col("id") % m === r), Merge.OpDelete, Map.empty), "id"))
    case "optimize" =>
      commit("optimize")(s"OPTIMIZE $table")
    case "lookup" =>
      val k = gen.lookupKey()
      val n = read("lookup")(spark.sql(s"SELECT * FROM $table WHERE id = $k").collect().length)
      if (n != 1) ctx.fail(s"lookup of live key $k returned $n rows")
    case "version_read" =>
      val v = gen.pastVersion(liveAt.keys.max)
      val n = read("version")(
        spark.sql(s"SELECT count(*) FROM $table VERSION AS OF $v").head().getLong(0))
      liveAt.get(v).filter(_ != n).foreach(e => ctx.fail(s"version $v has $n rows, expected $e"))
    case "table_changes" =>
      val latest = liveAt.keys.max
      read("changes")(spark.sql(
        s"SELECT count(*) FROM table_changes('$table', ${math.max(0L, latest - 2)}, $latest)")
        .head().getLong(0))
  }

  def attempt(kind: String): Unit = {
    ctx.attempted += 1
    try statement(kind)
    catch { case e: Exception => ctx.fail(s"$kind: ${e.getMessage}") }
  }

  def cycle: Seq[String] = cfg.cycle

  /** One statement of each kind warms every code path a cycle uses. */
  def warmup(): Unit = cfg.cycle.distinct.foreach(attempt)

  def finish(): Unit = {
    val expected = folds.foldLeft(base)((ref, f) => f(ref).localCheckpoint())
    val actual = spark.table(table)
    ctx.attempted += 1
    if (!(actual.exceptAll(expected).isEmpty && expected.exceptAll(actual).isEmpty))
      ctx.fail("final table differs from the Merge.apply fold of the changesets")
  }

  def detail: Seq[(String, Double, String)] = {
    def p(kind: String, q: Double) =
      ctx.opMs.get(kind).filter(_.nonEmpty).map(xs => Stats.percentile(xs.toSeq, q)).getOrElse(0.0)
    Seq(("commit_p50_ms", p("commit", 50), "ms"), ("commit_p90_ms", p("commit", 90), "ms"),
      ("read_p50_ms", p("read", 50), "ms"))
  }

  def layerMetrics(n: Int): Map[String, Double] = {
    val perOp = commits.flatMap { k =>
      val s = ctx.stat(s"SnapshotDml.$k")
      val c = math.max(s.calls, 1L).toDouble
      Seq(s"SnapshotDml.planning_ms.$k" -> s.totals.planningS * 1000 / c,
        s"SnapshotLog.jobs_per_commit.$k" -> s.totals.jobs / c,
        s"SnapshotLog.driver_gap_ms.$k" -> (s.wallS - s.busyS) * 1000 / c,
        s"SnapshotLog.fs_read_ops_per_commit.$k" -> s.fs.readOps / c,
        s"SnapshotLog.fs_write_ops_per_commit.$k" -> s.fs.writeOps / c)
    }
    val commitStats = commits.map(k => ctx.stat(s"SnapshotDml.$k"))
    val lookups = ctx.stat("SnapshotRead.lookup").totals
    val latest = SnapshotLog.latestVersion(spark, dir)
    (perOp ++ Seq(
      "SnapshotLog.bytes_per_changed_row" ->
        commitStats.map(_.fs.bytesWritten).sum.toDouble / math.max(changedRows, 1L),
      "SnapshotLog.files_live" -> SnapshotLog.manifest(spark, dir, latest).size.toDouble,
      "SnapshotLog.versions" -> (latest + 1).toDouble,
      "SnapshotFileIndex.files_read_ratio" ->
        lookups.snapshotFilesRead.toDouble / math.max(lookups.snapshotFilesIndexed, 1L)
    )).toMap
  }
}
