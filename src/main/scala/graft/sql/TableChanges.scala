package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{col, lit}
import graft.operators.{Merge, SnapshotLog}

/** The SQL CDC surface: `table_changes('t', startVersion [, endVersion])`
  * as a real table-valued function, registered through
  * `SparkSessionExtensions.injectTableFunction` (see
  * [[graft.GraftExtensions]]) so it composes with arbitrary SQL — joins,
  * filters, aggregates over the change feed all plan normally:
  *
  * {{{
  *   SELECT * FROM table_changes('graft.t', 2, 4) WHERE _change_type = 'update'
  * }}}
  *
  * Output: the table's own columns (endVersion's schema) plus
  * `_change_type` ([[Merge]]'s op constants: insert/update/delete, the
  * after-image convention of [[SnapshotLog.cdc]] — deletes carry null
  * payload) and `_commit_version` (the version that committed the
  * change). No `_commit_timestamp` column: commit times are wall-clock
  * stamps, not recomputable facts, and belong to DESCRIBE HISTORY.
  *
  * Scale shape: ONE [[SnapshotLog.cdc]] file-diff per version in the
  * window — each reads only that commit's changed files (plus the
  * masked-key footprint of shared files), never the whole table, so the
  * cost is proportional to what actually changed, exactly the
  * [[graft.streaming.SnapshotStreams.readChanges]] batch contract. The
  * per-version attribution is what the streaming source cannot give
  * (it composes a window into one delta); the TVF keeps the versions
  * apart because `_commit_version` is the point of the SQL surface.
  *
  * Version-0 special case: a table's birth commit has no predecessor to
  * diff against, so its "changes" are its full content as inserts — the
  * same bootstrap convention [[graft.streaming.SnapshotStreams.readChanges]]
  * uses for a feed that starts at the beginning.
  *
  * Windows that span a schema evolution (ADD/RENAME/DROP COLUMN) are
  * rejected loudly: each per-version diff emits in ITS version's schema,
  * and silently null-filling the union (or remapping old names) would
  * misrepresent which column a change touched. Split the window at the
  * evolution commit — each half is then exact.
  */
object TableChanges {

  val FnName = "table_changes"

  /** The change rows of versions `fromV..toV` (inclusive) of the
    * snapshot table at `tableDir` — see the object doc for the column
    * contract.
    */
  def changes(spark: SparkSession, tableDir: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV >= 0, s"$FnName: startVersion must be >= 0, got $fromV")
    require(toV >= fromV,
      s"$FnName: endVersion $toV is below startVersion $fromV")
    val vs = SnapshotLog.versions(spark, tableDir)
    require(vs.nonEmpty, s"$tableDir has no committed versions")
    require(toV <= vs.max,
      s"$FnName: endVersion $toV is beyond the latest committed version " +
        s"${vs.max} of $tableDir")
    // every step diffs (v-1, v): the whole closed manifest range
    // [max(fromV-1, 0), toV] must still be retained
    val needed = (math.max(fromV - 1, 0) to toV).filterNot(vs.contains)
    if (needed.nonEmpty) throw new IllegalStateException(
      s"version(s) ${needed.mkString(",")} of $tableDir were vacuumed — " +
        s"$FnName needs every manifest in the window (and the " +
        "predecessor of its first version) retained; start from a " +
        "retained version")
    val steps = (fromV to toV).map { v =>
      val key = SnapshotLog.tableKey(spark, tableDir, v)
      val step =
        if (v == 0L) {
          val boot = SnapshotLog.read(spark, tableDir, 0L)
          boot.select(lit(Merge.OpInsert).as("op") +:
            boot.columns.map(col).toSeq: _*)
        } else SnapshotLog.cdc(spark, tableDir, v - 1, v, key)
      v -> step.withColumn("_commit_version", lit(v))
    }
    val want = steps.last._2.columns.toSeq
    steps.foreach { case (v, df) =>
      if (df.columns.toSeq != want) throw new IllegalStateException(
        s"$FnName window ($fromV, $toV) of $tableDir spans a schema " +
          s"evolution: version $v's changes have columns " +
          s"(${df.columns.mkString(", ")}) but version $toV's are " +
          s"(${want.mkString(", ")}) — split the window at the " +
          "evolution commit so each half reports exact columns")
    }
    // table columns first (endVersion's order), then the CDC metadata —
    // `op` surfaced under its SQL name
    val tableCols = want.filterNot(c => c == "op" || c == "_commit_version")
    steps.map(_._2).reduce(_.unionByName(_))
      .select(tableCols.map(col) ++
        Seq(col("op").as("_change_type"), col("_commit_version")): _*)
  }

  /** The `injectTableFunction` registration tuple. The builder runs at
    * analysis time: arguments must be literals (a graft-catalog
    * identifier such as `'graft.t'`, and integer version bounds), and the
    * returned plan is the change-rows DataFrame's logical plan — parquet
    * diffs and key joins the outer query composes over like any other
    * relation.
    */
  def registration: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(FnName),
      new ExpressionInfo(TableChanges.getClass.getName, FnName),
      (args: Seq[Expression]) => build(args))

  private def build(args: Seq[Expression]): LogicalPlan = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"$FnName(table string, startVersion [, endVersion]): $msg")
    if (args.length < 2 || args.length > 3)
      bad(s"got ${args.length} argument(s)")
    val spark = SparkSession.active
    def evalLit(e: Expression, what: String): Any = {
      if (!e.foldable) bad(s"$what must be a literal, got $e")
      val v = e.eval()
      if (v == null) bad(s"$what must not be null")
      v
    }
    val name = evalLit(args(0), "table") match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => bad(s"table must be a string, got $other")
    }
    def ver(e: Expression, what: String): Long = evalLit(e, what) match {
      case i: Int  => i.toLong
      case l: Long => l
      case other   => bad(s"$what must be an integer version, got $other")
    }
    val tgt = SnapshotDml.resolveTarget(spark, name.split('.').toSeq)
      .getOrElse(bad(s"'$name' is not a graft-catalog snapshot table " +
        "identifier (graft.<table>)"))
    val from = ver(args(1), "startVersion")
    val to = args.lift(2).map(ver(_, "endVersion"))
      .getOrElse(SnapshotLog.latestVersion(spark, tgt.dir))
    changes(spark, tgt.dir, from, to).queryExecution.logical
  }
}
