package graft.sql

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, Cast, CaseWhen, EqualTo, Expression, Literal, NamedExpression, Not, Or}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructType}
import graft.operators.{Merge, SnapshotCommit, SnapshotLog}

/** SQL DML against [[SnapshotLog]] tables — `MERGE INTO` / `UPDATE` /
  * `DELETE FROM` as plain SQL text over a [[GraftTableCatalog]]
  * identifier (`graft.t`), the surface a SQL-only user needs to WRITE the
  * lakehouse layer. Reads of the same identifier, time travel included,
  * resolve through the catalog's `loadTable`.
  *
  * The Spark-native route, not a hand-rolled dialect: Spark's OWN parser
  * already turns the three statements into [[MergeIntoTable]] /
  * [[UpdateTable]] / [[DeleteFromTable]] logical plans — they just fail
  * analysis for non-DSv2 tables. [[GraftSqlParser]] (injected via
  * `SparkSessionExtensions.injectParser`, see [[graft.GraftExtensions]])
  * delegates all parsing to the session's parser and then REWRITES those
  * three nodes — when and only when the target is a graft-catalog
  * identifier — into runnable commands executing the corresponding log
  * operation:
  *
  *  - `DELETE FROM t WHERE p`  -> [[SnapshotLog.deleteKeys]] (merge-on-
  *    read: one key-list parquet + one manifest create, zero rewrites);
  *  - `UPDATE t SET ... WHERE p` -> a partial-update changeset through
  *    [[SnapshotLog.merge]] (copy-on-write, footprint-bounded);
  *  - `MERGE INTO t USING s ON t.k = s.k WHEN ...` -> the full changeset
  *    through [[SnapshotLog.merge]].
  *
  * Every statement returns one row: the committed version. m17 certifies
  * the MERGE path against the m09/m11 DuckDB oracle (same changeset, via
  * SQL text); SqlDmlSpec pins UPDATE/DELETE and the documented limits.
  *
  * Semantics inherit [[Merge.apply]]'s MERGE contract, with the limits
  * stated loudly rather than silently diverging:
  *  - matched UPDATE is exact SQL: unassigned columns keep base values,
  *    and an ASSIGNED column always overwrites — `SET c = NULL` (literal
  *    or computed) writes NULL via the [[Merge.SetNullCol]] sidecar.
  *    MERGE INTO's UPDATE actions keep the null-means-keep changeset
  *    contract (the m09-pinned partial-update semantic);
  *  - MATCHED / NOT MATCHED conditions and assignment values may
  *    reference the SOURCE row only (the standard streaming-upsert
  *    shape); a target-column reference is rejected loudly;
  *  - `WHEN NOT MATCHED BY SOURCE` clauses see the TARGET row only
  *    (there is no source row) — the reference rule flips, and the
  *    unmatched-target set is computed as one anti-join on the key.
  */
object SnapshotDml {

  /** A resolved DML target: the identifier the statement used and the
    * table directory. Plain strings only: commands hold one of these as a
    * case-class member, and QueryPlan's reflection must see no
    * expressions in it.
    */
  final case class Target(display: String, dir: String)

  private def catalogOf(session: SparkSession, name: String)
      : Option[GraftTableCatalog] =
    try session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalogManager.catalog(name) match {
        case g: GraftTableCatalog => Some(g)
        case _                    => None
      }
    catch { case scala.util.control.NonFatal(_) => None }

  /** Resolve a statement name `<catalog>.<ns...>.<table>` to a
    * snapshot-table target through a configured [[GraftTableCatalog]]
    * (the identifier must resolve to a table with at least one committed
    * version).
    */
  private[sql] def resolveTarget(session: SparkSession,
      parts: Seq[String]): Option[Target] = parts match {
    case cat +: rest if rest.nonEmpty =>
      catalogOf(session, cat).flatMap { c =>
        val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
          rest.init.toArray, rest.last)
        val dir = c.tableDir(ident)
        if (SnapshotLog.versions(session, dir).nonEmpty)
          Some(Target(parts.mkString("."), dir))
        else None
      }
    case _ => None
  }

  // ------------------------------------------------------------------
  // Parse-tree rewrite
  // ------------------------------------------------------------------

  /** (resolved target, optional alias) of a DML target plan, when it is a
    * graft-catalog identifier.
    */
  private def target(session: SparkSession,
      plan: LogicalPlan): Option[(Target, Option[String])] =
    plan match {
      case SubqueryAlias(ident, u: UnresolvedRelation) =>
        resolveTarget(session, u.multipartIdentifier).map(t => (t, Some(ident.name)))
      case u: UnresolvedRelation =>
        resolveTarget(session, u.multipartIdentifier).map(t => (t, None))
      case _ => None
    }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"graft snapshot DML: $msg")

  /** Opaque holder for the statement's UNRESOLVED pieces (conditions,
    * assignments, the merge source plan). The commands are LEAF plans,
    * but QueryPlan reflects over case-class members — an Expression
    * stored directly would be collected into `expressions` and the
    * analyzer would try (and fail) to resolve it against the leaf's
    * nonexistent children. A plain non-Product class is invisible to
    * that reflection; the pieces resolve where they belong — inside
    * run(), against the snapshot read / the analyzed merge source.
    */
  final class Raw[A](val value: A) {
    override def toString: String = "raw"
  }
  private def raw[A](a: A): Raw[A] = new Raw(a)

  /** Reject expressions referencing the TARGET relation (by alias or
    * table name): everything outside the merge condition must be
    * computable from the source row alone.
    */
  private def requireSourceOnly(e: Expression, targetNames: Set[String],
      where: String): Unit =
    e.foreach {
      case a: UnresolvedAttribute if a.nameParts.length > 1 &&
          targetNames(a.nameParts.head.toLowerCase) =>
        fail(s"$where references target column ${a.name}; only source " +
          "columns are supported outside the merge condition")
      case _ => ()
    }

  /** Rewrite a freshly parsed plan: the DML and constraint nodes over a
    * graft-catalog identifier become runnable commands; everything else
    * passes through untouched.
    */
  def rewrite(session: SparkSession, plan: LogicalPlan): LogicalPlan = plan match {
    case d: DeleteFromTable =>
      target(session, d.table).map { case (t, alias) =>
        SnapshotDeleteCommand(t, alias, raw(d.condition))
      }.getOrElse(d)
    case u: UpdateTable =>
      target(session, u.table).map { case (t, alias) =>
        val assigns = u.assignments.map(assignmentOf(_, "UPDATE SET"))
        SnapshotUpdateCommand(t, alias, raw((assigns, u.condition)))
      }.getOrElse(u)
    case m: MergeIntoTable =>
      target(session, m.targetTable).map { case (t, alias) =>
        SnapshotMergeCommand(t, alias,
          raw((m.sourceTable, m.mergeCondition, m.matchedActions,
            m.notMatchedActions, m.notMatchedBySourceActions,
            m.withSchemaEvolution)))
      }.getOrElse(m)
    // ALTER TABLE ... ADD CONSTRAINT name CHECK (expr): Spark's own
    // grammar (4.1 constraints SPIP) parses it; for snapshot targets the
    // node becomes the metadata-only [[SnapshotLog.addConstraint]]
    // commit (with its one-time full-table validation). The parsed
    // CheckConstraint carries the ORIGINAL condition SQL — that text is
    // what gets stamped and later re-parsed at enforcement.
    case a: AddCheckConstraint =>
      a.child.collectFirst { case u: UnresolvedRelation =>
        u.multipartIdentifier }
        .flatMap(resolveTarget(session, _))
        .map(t => SnapshotAddConstraintCommand(t, a.checkConstraint.name,
          a.checkConstraint.condition))
        .getOrElse(a)
    case d: DropConstraint =>
      (d.table match {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
          resolveTarget(session, u.multipartIdentifier)
        case _ => None
      }).map { t =>
        if (d.cascade) fail("DROP CONSTRAINT ... CASCADE is not supported " +
          "on snapshot tables (constraints have no dependents)")
        SnapshotDropConstraintCommand(t, d.name, d.ifExists)
      }.getOrElse(d)
    // ALTER COLUMN c SET/DROP NOT NULL: rides the constraint machinery
    // as `c IS NOT NULL` under the reserved name `notnull_<c>` — CHECK
    // violation semantics make that exact (NULL IS NOT NULL is FALSE).
    // Any other column alteration keeps the existing loud rejection
    // (type changes would misread old physical values).
    case ac: AlterColumns =>
      (ac.table match {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
          resolveTarget(session, u.multipartIdentifier)
        case _ => None
      }).map { t =>
        val nullability = ac.specs.map { sp =>
          if (sp.newDataType.nonEmpty || sp.newComment.nonEmpty ||
              sp.newPosition.nonEmpty || sp.newDefaultExpression.nonEmpty)
            fail("ALTER COLUMN on snapshot tables supports only SET/DROP " +
              "NOT NULL: type changes would misread old physical columns")
          val nn = sp.newNullability.getOrElse(
            fail("ALTER COLUMN without SET/DROP NOT NULL is a no-op"))
          (sp.column.name.mkString("."), !nn)
        }
        SnapshotNotNullCommand(t, nullability)
      }.getOrElse(ac)
    case p => p
  }

  private def assignmentOf(a: Assignment, where: String): (String, Expression) =
    a.key match {
      case k: UnresolvedAttribute => (k.nameParts.last, a.value)
      case other => fail(s"$where assigns to unsupported target $other")
    }

  // ------------------------------------------------------------------
  // Command execution helpers
  // ------------------------------------------------------------------

  private def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.graftshim.CatalystBridge.ofRows(s, plan)

  /** The latest version's table state + key + schema, with the DML
    * statement's alias applied so qualified references resolve.
    */
  private def tableState(s: SparkSession, t: Target,
      alias: Option[String]): (String, Long, String, StructType, LogicalPlan) = {
    val dir = t.dir
    val v = SnapshotLog.latestVersion(s, dir)
    val key = SnapshotLog.tableKey(s, dir, v)
    val snap = SnapshotLog.read(s, dir, v)
    val base = snap.queryExecution.analyzed
    val aliased = alias.fold(base)(a => SubqueryAlias(a, base))
    (dir, v, key, snap.schema, aliased)
  }

  private def nullOf(schema: StructType, c: String): Expression =
    Literal.create(null, schema(c).dataType)

  /** First-match-wins guards: action i fires iff its condition holds and
    * no earlier action's does (None = unconditional) — SQL MERGE's clause
    * ordering, reproduced as catalyst boolean algebra.
    */
  private def firstMatchGuards[A](actions: Seq[(Option[Expression], A)])
      : Seq[(Expression, A)] = {
    var earlier: Option[Expression] = None
    actions.map { case (cond, a) =>
      val c = cond.getOrElse(Literal.TrueLiteral)
      val guard = earlier.fold(c)(e => And(Not(e), c))
      earlier = Some(earlier.fold(c)(e => Or(e, c)))
      (guard, a)
    }
  }

  private def caseOf(branches: Seq[(Expression, Expression)],
      otherwise: Expression): Expression =
    if (branches.isEmpty) otherwise
    else CaseWhen(branches, Some(otherwise))

  /** Result contract of every DML command: the committed version. */
  private[sql] val VersionOutput: Seq[AttributeReference] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  private def versionRow(c: SnapshotCommit): Seq[Row] = Seq(Row(c.version))

  // ------------------------------------------------------------------
  // Maintenance statements (no Spark grammar to piggyback on: the
  // delegate parser would throw on the raw text, so these two match the
  // statement TEXT before delegation — the Delta-style maintenance
  // surface, accepted only for graft-catalog identifiers)
  // ------------------------------------------------------------------

  private val Name = """[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*"""
  private val OptimizeRe =
    s"""(?is)\\s*OPTIMIZE\\s+($Name)\\s*(?:ZORDER\\s+BY\\s*\\(([^)]*)\\))?\\s*(?:WHERE\\s+(.*?))?\\s*;?\\s*""".r
  private val VacuumRe =
    s"""(?is)\\s*VACUUM\\s+($Name)\\s+RETAIN\\s+(\\d+)\\s+VERSIONS\\s*;?\\s*""".r
  private val HistoryRe =
    s"""(?is)\\s*DESCRIBE\\s+HISTORY\\s+($Name)\\s*;?\\s*""".r
  private val DetailRe =
    s"""(?is)\\s*DESCRIBE\\s+DETAIL\\s+($Name)\\s*;?\\s*""".r
  private val RestoreRe =
    s"""(?is)\\s*RESTORE\\s+(?:TABLE\\s+)?($Name)\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*""".r
  private val RestoreTsRe =
    s"""(?is)\\s*RESTORE\\s+(?:TABLE\\s+)?($Name)\\s+TO\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'\\s*;?\\s*""".r

  /** Pre-delegation text match: Some(command) for a maintenance
    * statement over a graft-catalog identifier, None otherwise (the text
    * goes to the delegate parser untouched).
    */
  def maintenance(session: SparkSession, sqlText: String): Option[LogicalPlan] = {
    def t(name: String): Option[Target] =
      resolveTarget(session, name.split('.').toSeq)
    sqlText match {
      case OptimizeRe(name, zlist, where) =>
        if (zlist != null && where != null)
          fail("OPTIMIZE: ZORDER BY and WHERE cannot combine — a partial " +
            "rewrite of a Morton layout would leave mixed clustering; " +
            "z-order the footprint's table fully, or drop the predicate")
        // a present-but-empty WHERE is a malformed statement, not a
        // request for a FULL compaction — silently degrading it would
        // turn a typo into a table-sized rewrite
        if (where != null && where.trim.isEmpty)
          fail("OPTIMIZE ... WHERE needs a predicate (empty WHERE clause)")
        // n-column interleave: every name must be a plain identifier and
        // there must be at least two (one column is a sort, not a curve)
        val zcols = Option(zlist).map { l =>
          val cols = l.split(',').map(_.trim).toSeq
          cols.foreach(c => if (!c.matches("[A-Za-z_][A-Za-z0-9_]*"))
            fail(s"OPTIMIZE ... ZORDER BY: bad column name '$c'"))
          if (cols.length < 2)
            fail("ZORDER BY needs at least 2 columns (one column is a " +
              "plain sort — OPTIMIZE already key-clusters)")
          cols
        }
        t(name).map(SnapshotOptimizeCommand(_, zcols, Option(where)))
      case VacuumRe(name, k) =>
        t(name).map(SnapshotVacuumCommand(_, k.toInt))
      case HistoryRe(name) =>
        t(name).map(DescribeHistoryCommand(_))
      case DetailRe(name) =>
        t(name).map(DescribeDetailCommand(_))
      case RestoreRe(name, v) =>
        t(name).map(SnapshotRestoreCommand(_, v.toLong))
      case RestoreTsRe(name, ts) =>
        t(name).map { tgt =>
          // the same session-timezone cast + at-or-before stamp
          // resolution TIMESTAMP AS OF reads use
          val cast = Cast(Literal(org.apache.spark.unsafe.types.UTF8String
              .fromString(ts), org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.TimestampType,
            Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
          val micros = cast.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          if (micros == null) fail(s"RESTORE: cannot parse timestamp '$ts'")
          SnapshotRestoreCommand(tgt, SnapshotLog.versionAt(session, tgt.dir,
            micros.asInstanceOf[Long] / 1000L))
        }
      case _ => None
    }
  }

  /** Session conf key for [[SnapshotOptimizeCommand]]'s target file
    * size; default 128 MB — the parquet sweet spot.
    */
  val CompactTargetKey = "spark.graft.compactTargetBytes"
  val DefaultCompactTargetBytes: Long = 128L * 1024 * 1024

  /** Output file count of a rewrite of `bytes` bytes: one file per
    * `targetBytes`, rounded up, at least 1.
    */
  def fileCount(bytes: Long, targetBytes: Long = DefaultCompactTargetBytes): Int =
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt

  /** `OPTIMIZE name [ZORDER BY (a, b)] [WHERE pred]` —
    * [[SnapshotLog.optimize]] with the file count sized from the
    * footprint's bytes ([[fileCount]]), committed as the next version.
    * The WHERE predicate is parsed by Spark's own expression grammar and
    * evaluated against the manifest stamps, so a key-range maintenance
    * job on a 100 TB table costs its footprint, not the table. Returns
    * (version, files_before, files_after).
    */
  final case class SnapshotOptimizeCommand(target: Target,
      zorder: Option[Seq[String]],
      where: Option[String] = None) extends LeafRunnableCommand {
    override def output: Seq[AttributeReference] = Seq(
      AttributeReference("version", LongType, nullable = false)(),
      AttributeReference("files_before", LongType, nullable = false)(),
      AttributeReference("files_after", LongType, nullable = false)())
    override def run(s: SparkSession): Seq[Row] = {
      val dir = target.dir
      val targetBytes = s.conf.getOption(CompactTargetKey).map(_.toLong)
        .getOrElse(DefaultCompactTargetBytes)
      val c = SnapshotLog.optimize(s, dir,
        names => fileCount(SnapshotLog.dataBytes(s, dir, names), targetBytes),
        where.map(s.sessionState.sqlParser.parseExpression),
        zorder.getOrElse(Nil))
      Seq(Row(c.version, c.report.nFilesBefore.toLong, c.report.nNewFiles.toLong))
    }
  }

  /** `VACUUM name RETAIN <k> VERSIONS` — [[SnapshotLog.vacuum]] keeping
    * the newest k versions (the grace window applies as always). Returns
    * (manifests_deleted, files_deleted).
    */
  final case class SnapshotVacuumCommand(target: Target, retainVersions: Int)
      extends LeafRunnableCommand {
    override def output: Seq[AttributeReference] = Seq(
      AttributeReference("manifests_deleted", LongType, nullable = false)(),
      AttributeReference("files_deleted", LongType, nullable = false)())
    override def run(s: SparkSession): Seq[Row] = {
      if (retainVersions < 1) fail("VACUUM must retain at least 1 version")
      val latest = SnapshotLog.latestVersion(s, target.dir)
      val (nM, nF) = SnapshotLog.vacuum(s, target.dir,
        retainFrom = math.max(0L, latest - retainVersions + 1))
      Seq(Row(nM.toLong, nF.toLong))
    }
  }

  /** `RESTORE [TABLE] name TO VERSION AS OF <v>` — commits the old
    * version's exact state as the new latest ([[SnapshotLog.restore]]):
    * metadata-only (files referenced by name), the restored-over
    * versions still time-travel readable, so a restore is undoable by
    * another restore. Returns (version, restored_from).
    */
  final case class SnapshotRestoreCommand(target: Target, toVersion: Long)
      extends LeafRunnableCommand {
    override def output: Seq[AttributeReference] = Seq(
      AttributeReference("version", LongType, nullable = false)(),
      AttributeReference("restored_from", LongType, nullable = false)())
    override def run(s: SparkSession): Seq[Row] = {
      val c = SnapshotLog.restore(s, target.dir, toVersion)
      Seq(Row(c.version, toVersion))
    }
  }

  /** `DESCRIBE DETAIL name` — one row summarizing the LIVE version:
    * location, key, version, commit time, file/delete-vector counts,
    * total data bytes, schema json, and — when the table is a
    * MATERIALIZED VIEW ([[graft.operators.MaterializedView]]) — its
    * STALENESS surface: the base version its rows reflect (`asof`), the
    * base's latest committed version, and the lag between them (0 =
    * current; the number a refresh scheduler actually monitors). Null
    * for plain tables. Manifest metadata plus one status call per live
    * file for the sizes; no data file is read.
    */
  final case class DescribeDetailCommand(target: Target)
      extends LeafRunnableCommand {
    override def output: Seq[AttributeReference] = Seq(
      AttributeReference("location", org.apache.spark.sql.types.StringType)(),
      AttributeReference("key", org.apache.spark.sql.types.StringType)(),
      AttributeReference("version", LongType, nullable = false)(),
      AttributeReference("ts", org.apache.spark.sql.types.TimestampType)(),
      AttributeReference("num_files", LongType, nullable = false)(),
      AttributeReference("num_delete_vectors", LongType, nullable = false)(),
      AttributeReference("size_bytes", LongType, nullable = false)(),
      AttributeReference("schema_json", org.apache.spark.sql.types.StringType)(),
      AttributeReference("view_asof_base_version", LongType)(),
      AttributeReference("base_latest_version", LongType)(),
      AttributeReference("staleness_versions", LongType)(),
      // layout: "pcol,..." identity tree / "bucket(N, col)" hash tree,
      // null = flat key-clustered; evolution: the live rename chains and
      // drop tombstones ("renamed:b<-a;dropped:x"), null = none pending
      // (records retire at the next full rewrite)
      AttributeReference("layout", org.apache.spark.sql.types.StringType)(),
      AttributeReference("evolution", org.apache.spark.sql.types.StringType)(),
      // "name CHECK (expr); ..." in add order, null = unconstrained
      AttributeReference("constraints", org.apache.spark.sql.types.StringType)())
    override def run(s: SparkSession): Seq[Row] = {
      val dir = target.dir
      val v = SnapshotLog.latestVersion(s, dir)
      val m = SnapshotLog.manifestOf(s, dir, v)
      val lag = graft.operators.MaterializedView.staleness(s, dir)
      val layout =
        if (m.partCols.nonEmpty) m.partCols.mkString(",")
        else m.bucket.map { case (c, n) => s"bucket($n, $c)" }.orNull
      val evolution = {
        val parts =
          m.physMap.toSeq.sortBy(_._1).map { case (l, olds) =>
            s"renamed:$l<-${olds.mkString("<-")}"
          } ++ (if (m.dropped.isEmpty) Nil
                else Seq(s"dropped:${m.dropped.toSeq.sorted.mkString(",")}"))
        if (parts.isEmpty) null else parts.mkString(";")
      }
      Seq(Row(dir, SnapshotLog.tableKey(s, dir, v), v,
        m.ts.map(ms => new java.sql.Timestamp(ms)).orNull,
        m.files.size.toLong, m.deletes.size.toLong,
        SnapshotLog.dataBytes(s, dir, m.files), m.schema.map(_.json).orNull,
        lag.map(_._1).map(Long.box).orNull,
        lag.map(_._2).map(Long.box).orNull,
        lag.map(_._3).map(Long.box).orNull,
        layout, evolution,
        if (m.constraints.isEmpty) null
        else m.constraints.map { case (n, e) => s"$n CHECK ($e)" }.mkString("; ")))
    }
  }

  /** `ALTER TABLE name ADD CONSTRAINT c CHECK (expr)` —
    * [[SnapshotLog.addConstraint]]: one full-table validation at add
    * time, then metadata-only commit; every later write enforces the
    * check on its written rows and aborts with the violation count.
    */
  final case class SnapshotAddConstraintCommand(target: Target,
      cname: String, condition: String) extends LeafRunnableCommand {
    override def output: Seq[AttributeReference] = VersionOutput
    override def run(s: SparkSession): Seq[Row] =
      versionRow(SnapshotLog.addConstraint(s, target.dir, cname, condition))
  }

  /** `ALTER TABLE name DROP CONSTRAINT [IF EXISTS] c`. */
  final case class SnapshotDropConstraintCommand(target: Target,
      cname: String, ifExists: Boolean) extends LeafRunnableCommand {
    override def output: Seq[AttributeReference] = VersionOutput
    override def run(s: SparkSession): Seq[Row] = {
      val v = SnapshotLog.latestVersion(s, target.dir)
      if (ifExists && !SnapshotLog.constraintsOf(s, target.dir, v)
          .exists(_._1.equalsIgnoreCase(cname)))
        Seq(Row(v)) // nothing to drop, no empty commit
      else versionRow(SnapshotLog.dropConstraint(s, target.dir, cname))
    }
  }

  /** `ALTER TABLE name ALTER COLUMN c SET NOT NULL` (and DROP NOT NULL):
    * each column's nullability ban is the constraint
    * `notnull_<c>: c IS NOT NULL` — added (with the add-time full
    * validation) or dropped per spec, one commit per column.
    */
  final case class SnapshotNotNullCommand(target: Target,
      cols: Seq[(String, Boolean)]) extends LeafRunnableCommand {
    override def output: Seq[AttributeReference] = VersionOutput
    override def run(s: SparkSession): Seq[Row] = {
      require(cols.forall(!_._1.contains('.')),
        "nested column NOT NULL is not supported")
      val last = cols.map { case (c, setNotNull) =>
        if (setNotNull)
          SnapshotLog.addConstraint(s, target.dir, s"notnull_$c",
            s"$c IS NOT NULL")
        else SnapshotLog.dropConstraint(s, target.dir, s"notnull_$c")
      }.last
      versionRow(last)
    }
  }

  /** `DESCRIBE HISTORY name` — the manifest chain as rows, newest first:
    * version, commit wall-time, operation label, data-file /
    * delete-vector counts, `range_stamps` (files with a `rows=` stat
    * stamp), streaming txn stamp. Pure
    * manifest metadata ([[SnapshotLog.history]]); no data file is read.
    */
  final case class DescribeHistoryCommand(target: Target)
      extends LeafRunnableCommand {
    override def output: Seq[AttributeReference] = Seq(
      AttributeReference("version", LongType, nullable = false)(),
      AttributeReference("ts", org.apache.spark.sql.types.TimestampType)(),
      AttributeReference("operation", org.apache.spark.sql.types.StringType)(),
      AttributeReference("files", LongType, nullable = false)(),
      AttributeReference("delete_vectors", LongType, nullable = false)(),
      AttributeReference("range_stamps", LongType, nullable = false)(),
      AttributeReference("txn", org.apache.spark.sql.types.StringType)())
    override def run(s: SparkSession): Seq[Row] = {
      SnapshotLog.history(s, target.dir).map {
        case (v, ts, op, files, dels, ranges, txn) =>
          Row(v, ts.map(ms => new java.sql.Timestamp(ms)).orNull,
            op.orNull, files.toLong, dels.toLong, ranges.toLong, txn.orNull)
      }
    }
  }

  // ------------------------------------------------------------------
  // The commands
  // ------------------------------------------------------------------

  /** `DELETE FROM name [alias] WHERE cond` — merge-on-read: commits the
    * matching keys as a delete vector, rewriting nothing.
    */
  final case class SnapshotDeleteCommand(target: Target, alias: Option[String],
      dml: Raw[Expression]) extends LeafRunnableCommand {
    override def output: Seq[AttributeReference] = VersionOutput
    override def run(s: SparkSession): Seq[Row] = {
      val condition = dml.value
      val (dir, _, key, _, aliased) = tableState(s, target, alias)
      val keys = ofRows(s,
        Project(Seq(UnresolvedAttribute.quoted(key)), Filter(condition, aliased)))
      versionRow(SnapshotLog.deleteKeys(s, dir, keys, key))
    }
  }

  /** `UPDATE name [alias] SET c = e, ... [WHERE cond]` — a partial-update
    * changeset (unassigned columns null = keep base) merged copy-on-write.
    */
  final case class SnapshotUpdateCommand(target: Target, alias: Option[String],
      dml: Raw[(Seq[(String, Expression)], Option[Expression])])
      extends LeafRunnableCommand {
    override def output: Seq[AttributeReference] = VersionOutput
    override def run(s: SparkSession): Seq[Row] = {
      val (assigns, condition) = dml.value
      val (dir, _, key, schema, aliased) = tableState(s, target, alias)
      val assigned = assigns.toMap
      if (assigned.contains(key)) fail(s"UPDATE must not assign the key column $key")
      assigned.foreach { case (c, _) =>
        if (!schema.fieldNames.contains(c)) fail(s"UPDATE SET unknown column $c")
      }
      val payload = schema.fieldNames.filterNot(_ == key).toSeq
      // `SET c = NULL` (literal or computed): a null changeset value means
      // "keep base" in the partial-update contract, so EXPLICIT assignment
      // is carried per row in the [[Merge.SetNullCol]] sidecar — column
      // names this row assigned whose value evaluated null — giving
      // UPDATE exact SQL semantics (an assigned column always overwrites)
      val setNull: Expression = org.apache.spark.sql.catalyst.expressions
        .CreateArray(assigned.keys.toSeq.sorted.map { c =>
          org.apache.spark.sql.catalyst.expressions.If(
            org.apache.spark.sql.catalyst.expressions.IsNull(
              Cast(assigned(c), schema(c).dataType)),
            Literal(org.apache.spark.unsafe.types.UTF8String.fromString(c),
              org.apache.spark.sql.types.StringType),
            Literal.create(null, org.apache.spark.sql.types.StringType))
        })
      val projections: Seq[NamedExpression] =
        (Alias(Literal(Merge.OpUpdate), "op")() +:
          Alias(UnresolvedAttribute.quoted(key), key)() +:
          payload.map { c =>
            val value = assigned.get(c)
              .map(v => Cast(v, schema(c).dataType))
              .getOrElse(nullOf(schema, c))
            Alias(value, c)()
          }) :+ Alias(setNull, Merge.SetNullCol)()
      val filtered = condition.fold(aliased)(c => Filter(c, aliased))
      val cs = ofRows(s, Project(projections, filtered))
      versionRow(SnapshotLog.merge(s, dir, cs, key))
    }
  }

  /** `MERGE INTO name [alias] USING src ON name.key = src.expr WHEN ...`
    * — the source rows become a [[Merge.apply]]-shaped changeset: each
    * row emits its first-matching MATCHED action's op (update/delete) and
    * its first-matching NOT MATCHED action's insert, and the merge's own
    * key joins select which applies (an update/delete of an absent key
    * and an insert of a present key are both no-ops, exactly SQL MERGE).
    */
  final case class SnapshotMergeCommand(target: Target, alias: Option[String],
      dml: Raw[(LogicalPlan, Expression, Seq[MergeAction], Seq[MergeAction],
        Seq[MergeAction], Boolean)])
      extends LeafRunnableCommand {
    override def output: Seq[AttributeReference] = VersionOutput

    override def run(s: SparkSession): Seq[Row] = {
      val (source, mergeCondition, matchedActions, notMatchedActions,
        notMatchedBySourceActions, withSchemaEvolution) = dml.value
      val (dir, _, key, targetSchema, aliasedTarget) = tableState(s, target, alias)
      // qualified target references may use the alias, the full dotted
      // name, or its last part (`t.x` for `graft.ns.t`)
      val targetNames = Set(target.display.toLowerCase,
        target.display.split('.').last.toLowerCase) ++ alias.map(_.toLowerCase)
      val srcDf = ofRows(s, source)
      val srcCols = srcDf.columns.toSet
      // MERGE WITH SCHEMA EVOLUTION: source columns the target lacks
      // widen the changeset (SnapshotLog.merge stamps the evolved schema;
      // untouched files read through it as null). Without the keyword,
      // extra source columns are simply not target columns — dropped.
      val schema: StructType =
        if (!withSchemaEvolution) targetSchema
        else StructType(targetSchema.fields ++
          srcDf.schema.fields.filter(f => f.name != "op" && f.name != key &&
            !targetSchema.fieldNames.contains(f.name)))
      val payload = schema.fieldNames.filterNot(_ == key).toSeq

      // the source-side key expression, extracted from `ON t.key = <e>`
      val srcKey = sourceKeyExpr(mergeCondition, key, targetNames)

      def guardAll(e: Expression, where: String): Expression = {
        requireSourceOnly(e, targetNames, where); e
      }
      // an assignment to a column the (possibly evolved) schema lacks
      // would otherwise be silently dropped by the per-column chains
      def checkAssigns(assigns: Seq[(String, Expression)], where: String,
          allowKey: Boolean): Seq[(String, Expression)] = {
        assigns.foreach { case (c, _) =>
          if (!allowKey && c == key)
            fail(s"$where must not assign the key column $key")
          if (!schema.fieldNames.contains(c))
            fail(s"$where assigns unknown column $c" +
              (if (withSchemaEvolution) ""
               else " (MERGE WITH SCHEMA EVOLUTION widens from the source)"))
        }
        assigns
      }

      // MATCHED actions -> op chain + per-column update values
      val matchedGuards = firstMatchGuards(matchedActions.map {
        case a: DeleteAction =>
          (a.condition.map(guardAll(_, "WHEN MATCHED AND")), Left(()))
        case a: UpdateAction =>
          (a.condition.map(guardAll(_, "WHEN MATCHED AND")),
            Right(checkAssigns(a.assignments.map(assignmentOf(_, "UPDATE SET")),
              "UPDATE SET", allowKey = false)))
        case a: UpdateStarAction =>
          // UPDATE SET *: every target payload column present in the
          // source, by name (the source's `op` discriminator and other
          // extras are simply not target columns)
          (a.condition.map(guardAll(_, "WHEN MATCHED AND")),
            Right(payload.filter(srcCols.contains)
              .map(c => c -> (UnresolvedAttribute.quoted(c): Expression))))
        case other => fail(s"unsupported MATCHED action $other")
      })
      val matchedCs: Option[LogicalPlan] =
        if (matchedGuards.isEmpty) None
        else {
          val opExpr = caseOf(matchedGuards.map {
            case (g, Left(_))  => (g, Literal(Merge.OpDelete))
            case (g, Right(_)) => (g, Literal(Merge.OpUpdate))
          }, Literal.create(null, org.apache.spark.sql.types.StringType))
          val colValues = payload.map { c =>
            val branches = matchedGuards.collect {
              case (g, Right(assigns)) if assigns.exists(_._1 == c) =>
                val v = assigns.find(_._1 == c).get._2
                requireSourceOnly(v, targetNames, s"UPDATE SET $c")
                (g, Cast(v, schema(c).dataType): Expression)
            }
            Alias(caseOf(branches, nullOf(schema, c)), c)()
          }
          Some(Project(
            Alias(opExpr, "op")() +: Alias(srcKey, key)() +: colValues,
            srcDf.queryExecution.analyzed))
        }

      // NOT MATCHED actions -> insert rows
      val insertGuards = firstMatchGuards(notMatchedActions.map {
        case a: InsertAction =>
          (a.condition.map(guardAll(_, "WHEN NOT MATCHED AND")),
            checkAssigns(a.assignments.map(assignmentOf(_, "INSERT")),
              "INSERT", allowKey = true))
        case a: InsertStarAction =>
          // INSERT *: target columns present in the source, by name;
          // absent ones insert as null (the source's `op` discriminator
          // and any other extra columns are simply not target columns)
          (a.condition.map(guardAll(_, "WHEN NOT MATCHED AND")),
            (key +: payload).filter(srcCols.contains)
              .map(c => c -> (UnresolvedAttribute.quoted(c): Expression)))
        case other => fail(s"unsupported NOT MATCHED action $other")
      })
      val insertCs: Option[LogicalPlan] =
        if (insertGuards.isEmpty) None
        else {
          val opExpr = caseOf(
            insertGuards.map { case (g, _) => (g, Literal(Merge.OpInsert)) },
            Literal.create(null, org.apache.spark.sql.types.StringType))
          def valueOf(c: String): Expression =
            caseOf(insertGuards.collect {
              case (g, assigns) if assigns.exists(_._1 == c) =>
                val v = assigns.find(_._1 == c).get._2
                requireSourceOnly(v, targetNames, s"INSERT $c")
                (g, Cast(v, schema(c).dataType): Expression)
            }, nullOf(schema, c))
          // EVERY insert action must assign the key — not just some: with
          // multiple NOT MATCHED actions, a row firing a keyless action
          // would fall to the key chain's null default and land as a
          // null-keyed row no later merge or delete vector can address.
          // Fail per offending action (INSERT * is keyless exactly when
          // the source lacks the key column).
          notMatchedActions.zip(insertGuards).foreach {
            case (action, (_, assigns)) if !assigns.exists(_._1 == key) =>
              val what = action match {
                case _: InsertStarAction =>
                  s"INSERT * (the source has no `$key` column)"
                case _ => "INSERT"
              }
              fail(s"NOT MATCHED action `$what` must supply the key column $key")
            case _ => ()
          }
          Some(Project(
            Alias(opExpr, "op")() +:
              Alias(caseOf(insertGuards.collect {
                case (g, assigns) if assigns.exists(_._1 == key) =>
                  (g, Cast(assigns.find(_._1 == key).get._2,
                    schema(key).dataType): Expression)
              }, Literal.create(null, schema(key).dataType)), key)() +:
              payload.map(c => Alias(valueOf(c), c)()),
            srcDf.queryExecution.analyzed))
        }

      // NOT MATCHED BY SOURCE actions -> ops over TARGET rows whose key
      // has no source match: the conditions and UPDATE values evaluate
      // over the TARGET row (there is no source row), so here the
      // reference rule flips — source-qualified references are rejected.
      val srcAlias: Option[String] = source match {
        case SubqueryAlias(id, _) => Some(id.name.toLowerCase)
        case _                    => None
      }
      def guardTargetOnly(e: Expression, where: String): Expression = {
        e.foreach {
          case a: UnresolvedAttribute if a.nameParts.length > 1 &&
              srcAlias.contains(a.nameParts.head.toLowerCase) =>
            fail(s"$where references source column ${a.name}; NOT MATCHED " +
              "BY SOURCE clauses see only the target row")
          case _ => ()
        }
        e
      }
      val nmbsGuards = firstMatchGuards(notMatchedBySourceActions.map {
        case a: DeleteAction =>
          (a.condition.map(guardTargetOnly(_, "WHEN NOT MATCHED BY SOURCE AND")),
            Left(()))
        case a: UpdateAction =>
          (a.condition.map(guardTargetOnly(_, "WHEN NOT MATCHED BY SOURCE AND")),
            Right(checkAssigns(a.assignments.map(assignmentOf(_, "UPDATE SET")),
              "NOT MATCHED BY SOURCE UPDATE SET", allowKey = false)))
        case other => fail(s"unsupported NOT MATCHED BY SOURCE action $other")
      })
      val nmbsCs: Option[LogicalPlan] =
        if (nmbsGuards.isEmpty) None
        else {
          val srcKeys = Project(
            Seq(Alias(srcKey, "__graft_src_key")()),
            srcDf.queryExecution.analyzed)
          val unmatched = org.apache.spark.sql.catalyst.plans.logical.Join(
            aliasedTarget, srcKeys,
            org.apache.spark.sql.catalyst.plans.LeftAnti,
            Some(EqualTo(UnresolvedAttribute.quoted(key),
              UnresolvedAttribute.quoted("__graft_src_key"))),
            org.apache.spark.sql.catalyst.plans.logical.JoinHint.NONE)
          val opExpr = caseOf(nmbsGuards.map {
            case (g, Left(_))  => (g, Literal(Merge.OpDelete))
            case (g, Right(_)) => (g, Literal(Merge.OpUpdate))
          }, Literal.create(null, org.apache.spark.sql.types.StringType))
          val colValues = payload.map { c =>
            val branches = nmbsGuards.collect {
              case (g, Right(assigns)) if assigns.exists(_._1 == c) =>
                val v = guardTargetOnly(assigns.find(_._1 == c).get._2,
                  s"UPDATE SET $c")
                (g, Cast(v, schema(c).dataType): Expression)
            }
            Alias(caseOf(branches, nullOf(schema, c)), c)()
          }
          Some(Project(
            Alias(opExpr, "op")() +:
              Alias(UnresolvedAttribute.quoted(key), key)() +: colValues,
            unmatched))
        }

      val parts = (matchedCs.toSeq ++ insertCs.toSeq ++ nmbsCs.toSeq)
        .map(ofRows(s, _))
      if (parts.isEmpty) fail("MERGE needs at least one WHEN clause")
      val cs = parts.reduce(_ unionByName _).where(col("op").isNotNull)
      versionRow(SnapshotLog.merge(s, dir, cs, key))
    }

    /** Extract the SOURCE side of `ON target.key = <source expr>`. */
    private def sourceKeyExpr(mergeCondition: Expression, key: String,
        targetNames: Set[String]): Expression = {
      def isTargetKey(e: Expression): Boolean = e match {
        case a: UnresolvedAttribute =>
          val parts = a.nameParts.map(_.toLowerCase)
          parts.last == key.toLowerCase &&
            (parts.length == 1 || targetNames(parts.init.last))
        case _ => false
      }
      mergeCondition match {
        case EqualTo(l, r) if isTargetKey(l) =>
          requireSourceOnly(r, targetNames, "ON"); r
        case EqualTo(l, r) if isTargetKey(r) =>
          requireSourceOnly(l, targetNames, "ON"); l
        case other => fail("merge condition must be `target.<key> = <source " +
          s"expr>` on the table key `$key`, got $other")
      }
    }
  }
}

/** Parser injected by [[graft.GraftExtensions]]: delegate everything,
  * then rewrite freshly parsed DML over graft-catalog identifiers into
  * [[SnapshotDml]] commands. Statements over anything else — and every
  * other parser entry point — pass through byte-identical.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  @throws[ParseException]
  override def parsePlan(sqlText: String): LogicalPlan =
    SnapshotDml.maintenance(session, sqlText)
      .getOrElse(SnapshotDml.rewrite(session, delegate.parsePlan(sqlText)))
  @throws[ParseException]
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  @throws[ParseException]
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  @throws[ParseException]
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  @throws[ParseException]
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  @throws[ParseException]
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  @throws[ParseException]
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  @throws[ParseException]
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  @throws[ParseException]
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
