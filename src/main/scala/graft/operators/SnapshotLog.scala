package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructField, StructType}
import graft.sources.{Manifest, Stamps}
import graft.sources.Manifest.{Carry, Written}

/** What a copy-on-write commit did to the table's files. */
final case class CowMergeReport(
    nFilesBefore: Int,    // data files in the table before the commit
    nRewritten: Int,      // files read and rewritten (the commit's footprint)
    nUntouched: Int,      // files carried over byte-identical (referenced, never copied)
    nNewFiles: Int)       // files written

/** A committed table version: the log version number plus the file-level
  * merge report that produced it (v0's report is all-new-files).
  */
final case class SnapshotCommit(version: Long, report: CowMergeReport)

/** Thrown when a manifest commit loses the exclusive-create race — the
  * optimistic-concurrency signal: re-read the table state and re-run the
  * merge (the standard transaction-log retry protocol).
  */
final class ConcurrentCommitException(msg: String)
    extends IllegalStateException(msg)

/** Manifest-committed versioned parquet table. A commit by directory
  * rename would (a) leave a crash window between the final renames and
  * (b) not exist as an atomic operation on object stores, where a 100 TB
  * table actually lives. This operator keeps the rename out of the
  * commit path entirely:
  *
  *  - DATA FILES ARE IMMUTABLE. Every write lands under `data/` with a
  *    globally-unique name and is never modified or moved afterwards.
  *  - A VERSION IS A MANIFEST, not a directory listing: `_log/N.manifest`
  *    lists the data file names that constitute version N. Readers never
  *    list `data/` — a half-written data file is invisible because no
  *    manifest references it.
  *  - COMMIT = one exclusive create of the next manifest file
  *    (`FileSystem.create(path, overwrite = false)` — atomic on HDFS and
  *    local; on S3-class stores the same protocol runs over a conditional
  *    PUT). Two concurrent committers race for the same version number;
  *    the loser gets [[ConcurrentCommitException]] and must re-plan
  *    against the winner's manifest — optimistic concurrency, no locks.
  *  - A crash anywhere before the manifest create leaves only orphan data
  *    files, reclaimed by [[vacuum]]; a crash after it is a completed
  *    commit. There is no window in which a reader can observe a partial
  *    table.
  *
  * What the log buys beyond crash safety, at metadata cost only (old
  * manifests are file-count-sized lists; old data files persist exactly
  * as long as retention wants them):
  *
  *  - TIME TRAVEL: [[read]](v) reconstructs any retained version — the
  *    merge that produced v+1 rewrote only its key footprint, so v and
  *    v+1 SHARE every untouched file (referenced by both manifests, never
  *    copied — byte identity for free, the CoW sharing CowMergeSpec
  *    proves by name and md5).
  *  - CDC READS FROM FILE DIFFS: [[cdc]](v0, v1) reads ONLY the files the
  *    two manifests do not share. A changeset touching 0.1% of a 100 TB
  *    table yields a diff scan of ~0.1% of its files; rows rewritten
  *    unchanged (CoW rewrites whole files) cancel in the before/after
  *    key join and cost nothing downstream. Deriving the same diff
  *    without the log is two full-table scans and a 100 TB join.
  *  - MERGE-ON-READ DELETES: [[deleteKeys]] commits a key-list delete
  *    vector instead of rewriting anything — dropping 0.01% of a 100 TB
  *    table is one small parquet write + one manifest create; readers
  *    pay one anti-join until [[optimize]] materializes. The one key-mask
  *    subtlety — re-inserting a masked key — is handled by [[merge]]
  *    with a scoped CoW of the masked row's file (mask purged only after
  *    its physical row is gone), which is exactly the invariant that
  *    keeps [[cdc]] sound across delete vectors.
  *  - [[optimize]] (OPTIMIZE) rewrites the logical table into fresh
  *    clustered files as a NEW version — masked rows materialized
  *    away, small files coalesced, old versions untouched.
  *  - [[vacuum]] deletes data files no RETAINED manifest references
  *    (expired versions + crash orphans) — retention is a policy knob,
  *    not a correctness one.
  *
  * Merge semantics are [[Merge.apply]]'s, planned file-level from
  * per-file key ranges ([[matchFiles]]; insert admission scoped to the
  * insert footprint); m11 certifies the merged table and m12 the
  * CDC output against DuckDB, and SnapshotLogSpec/CowMergeSpec pin the
  * physical facts.
  *
  * The manifest's line grammar and sizing are [[Manifest]]'s; this
  * object owns the table-directory layout (`data/`, `_log/`), the
  * commit protocol and the operations.
  */
object SnapshotLog {

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val LogDirName = "_log"
  private val DataDirName = "data"
  private def logDir(table: Path) = new Path(table, LogDirName)
  private def dataDir(table: Path) = new Path(table, DataDirName)

  /** True for the directory names a snapshot table keeps under its root. */
  private[graft] def isLayoutDir(name: String): Boolean =
    name == LogDirName || name == DataDirName

  /** The manifest directory of `tableDir` (what a version feed tails). */
  private[graft] def logDirOf(tableDir: String): Path = logDir(new Path(tableDir))
  private def manifestPath(table: Path, v: Long) =
    new Path(logDir(table), f"$v%06d.manifest")

  /** Committed versions, ascending (empty = not a snapshot table). */
  def versions(spark: SparkSession, tableDir: String): Seq[Long] = {
    val table = new Path(tableDir)
    val hfs = fs(spark, table)
    if (!hfs.exists(logDir(table))) return Nil
    hfs.listStatus(logDir(table)).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".manifest"))
      .map(_.stripSuffix(".manifest").toLong)
      .sorted
  }

  // ---- Latest-version pointer ----------------------------------------
  //
  // `versions()` lists the whole `_log` — O(#commits) per call, the
  // dominant planning cost on a long-lived table (10^4 commits = 10^4
  // statuses per query). Every commit therefore re-creates a tiny
  // `_log/_latest` HINT (Delta's `_last_checkpoint` shape) so
  // steady-state planning reads ONE small file. The hint is strictly
  // ADVISORY: it is verified against the manifest set on every read
  // (the hinted manifest must exist and its successor must not) and any
  // mismatch — crashed writer, racing commit, foreign tool — falls back
  // to the listing. The underscore prefix keeps it invisible to Spark's
  // file sources (the `readVersionFeed` stream tails the same dir).

  private def latestHintPath(table: Path) = new Path(logDir(table), "_latest")

  private def writeLatestHint(hfs: FileSystem, table: Path, v: Long): Unit =
    try {
      val tmp = new Path(logDir(table),
        s"._latest.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = hfs.create(tmp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      // rename-overwrite is not atomic on every FS; the hint is advisory
      // and read-verified, so a lost race only costs one fallback listing
      if (!hfs.rename(tmp, latestHintPath(table))) {
        hfs.delete(latestHintPath(table), false)
        if (!hfs.rename(tmp, latestHintPath(table))) hfs.delete(tmp, false)
      }
    } catch { case _: java.io.IOException => () }

  private def readLatestHint(hfs: FileSystem, table: Path): Option[Long] =
    try {
      val p = latestHintPath(table)
      if (!hfs.exists(p)) None
      else {
        val in = hfs.open(p)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        s.toLongOption
      }
    } catch { case _: java.io.IOException => None }

  def latestVersion(spark: SparkSession, tableDir: String): Long = {
    val table = new Path(tableDir)
    val hfs = fs(spark, table)
    readLatestHint(hfs, table) match {
      case Some(v) if hfs.exists(manifestPath(table, v)) &&
          !hfs.exists(manifestPath(table, v + 1)) => v
      case _ =>
        val vs = versions(spark, tableDir)
        require(vs.nonEmpty, s"no committed versions under $tableDir")
        vs.last
    }
  }


  /** All data files under `dir`, recursing into partition
    * subdirectories via plain `listStatus` — NOT `listFiles(recursive)`,
    * whose LocatedFileStatus materialization stats permissions per file
    * (a subprocess per file on the local filesystem: ~8 ms each, i.e.
    * seconds of pure planning overhead at a few hundred files and
    * unusable at 10^5).
    */
  private def listDataFiles(hfs: FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    hfs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) listDataFiles(hfs, st.getPath) else Seq(st)
    }

  /** Read-through cache of parsed manifests: a manifest is IMMUTABLE once
    * committed (commit = exclusive create, never rewrite), so its parse
    * is process-lifetime cacheable — and every planning step reads it
    * (schema, key, physmap, partition spec, stamps, constraints). On
    * local disk a re-read is milliseconds; against an object store each
    * is a 20-100 ms round trip, so an uncached log walk dominates
    * planning latency at cluster scale. Invalidation: [[vacuum]] drops
    * expired versions and [[init]] / the catalog's DROP/RENAME TABLE drop
    * the directory's entries (a re-created table at the same path must
    * never see its predecessor's manifests). A FOREIGN process's vacuum
    * cannot invalidate this JVM's cache — a stale hit then fails at the
    * data-file scan instead of the manifest open, the same terminal
    * outcome the retention contract already assigns to reading an
    * expired version.
    */
  private val manifestCache = new LruCache[(String, Long), Manifest](512)

  private[graft] def invalidateManifestCache(tableDir: String): Unit =
    manifestCache.invalidateIf(_._1 == tableDir)

  /** Version `v` of `tableDir`, parsed once ([[Manifest]]). */
  private[graft] def manifestOf(spark: SparkSession, tableDir: String,
      v: Long): Manifest =
    manifestCache.getOrLoad((tableDir, v)) {
      val table = new Path(tableDir)
      val in = fs(spark, table).open(manifestPath(table, v))
      try Manifest.parse(scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList)
      finally in.close()
    }

  /** DATA file names (relative to `data/`) of version `v`, as committed
    * (sorted — manifest content is deterministic).
    */
  def manifest(spark: SparkSession, tableDir: String, v: Long): Seq[String] =
    manifestOf(spark, tableDir, v).files

  /** Delete-vector file names of version `v` (parquet key lists under
    * `data/`): rows whose key they hold are logically absent from this
    * version without their data file having been rewritten — the
    * merge-on-read delete path.
    */
  def deletes(spark: SparkSession, tableDir: String, v: Long): Seq[String] =
    manifestOf(spark, tableDir, v).deletes

  /** The table's key column, as stamped into every manifest — what lets
    * [[read]] apply delete vectors without the caller re-supplying it.
    */
  def tableKey(spark: SparkSession, tableDir: String, v: Long): String =
    keyOf(manifestOf(spark, tableDir, v), tableDir, v)

  private def keyOf(m: Manifest, tableDir: String, v: Long): String =
    m.key.getOrElse(sys.error(s"version $v of $tableDir has no key= stamp"))

  /** Version `v`'s LOGICAL schema, as stamped into its manifest — how the
    * table evolves without touching data: a version whose schema gained a
    * column reads old files THROUGH the wider schema (parquet resolves
    * columns by name; absent ones come back null), so schema resolution
    * is a metadata lookup, never a footer sweep of a 100 TB file set
    * (`mergeSchema`'s cost). Absent on manifests committed by raw
    * [[commit]] calls — readers fall back to file-derived schema.
    */
  def tableSchema(spark: SparkSession, tableDir: String, v: Long): Option[StructType] =
    manifestOf(spark, tableDir, v).schema

  /** [[tableSchema]], or the schema of the version's files when the
    * manifest stamps none (raw commits).
    */
  private def schemaOf(spark: SparkSession, tableDir: String, v: Long): StructType =
    tableSchema(spark, tableDir, v).getOrElse(read(spark, tableDir, v).schema)

  // ---- Column rename/drop without column-mapping ids -----------------
  //
  // Parquet read-through resolves columns BY NAME, so a rename cannot be
  // purely declarative while pre-rename files live: their physical column
  // still carries the OLD name. The design here (the id-free alternative
  // to Delta's column mapping): a rename is a metadata-only commit that
  // records the column's PRIOR physical names as a `physmap=` chain, and
  // every read widens its scan schema with the chain and takes the first
  // non-null (each file physically holds exactly ONE name of a chain —
  // enforced by tombstoning, below). A drop is a metadata-only commit
  // that removes the column from the stamped schema and TOMBSTONES its
  // name (plus its whole chain): re-introducing a tombstoned name would
  // resurrect the old physical values still sitting in unrewritten files,
  // so ADD/RENAME-to/merge-evolution of those names is rejected loudly.
  // Both records retire at the next FULL rewrite (OPTIMIZE / INSERT
  // OVERWRITE): once no live file predates the evolution, reads are plain
  // again — rename costs one manifest write now and a (documented)
  // pruning tax on the renamed column until compaction naturally retires
  // it. Time travel is era-exact for free: each version's manifest
  // carries its own map.

  /** Renamed columns of version `v`: logical name -> prior physical
    * names, newest first.
    */
  def physMap(spark: SparkSession, tableDir: String, v: Long): Map[String, Seq[String]] =
    manifestOf(spark, tableDir, v).physMap

  /** Names tombstoned by DROP COLUMN as of version `v` — dead physical
    * names still present in live files, unavailable for re-introduction.
    */
  def droppedNames(spark: SparkSession, tableDir: String, v: Long): Set[String] =
    manifestOf(spark, tableDir, v).dropped

  // ---- WRITE-TIME CONSTRAINTS (CHECK / NOT NULL) ---------------------
  //
  // The reference's defining sink behavior is a VALIDATED write
  // (main.go:232-238 asserts rows-affected after every upsert);
  // table-level constraints generalize that theme: a CHECK expression
  // stamped into the manifest chain, enforced on every commit's WRITTEN
  // rows — violations abort the commit with the offending row count,
  // before any manifest lands. NOT NULL rides the same machinery as a
  // `col IS NOT NULL` check (SQL CHECK semantics make that exact: a
  // violation is the expression evaluating to FALSE, and
  // `NULL IS NOT NULL` IS false — whereas for any other check a NULL
  // result passes, per the standard).
  //
  // Scale shape: the constraint set is CARRIED manifest metadata (like
  // the schema stamp) — resolution is one metadata read, never a replay
  // of the version chain; enforcement is one aggregate over the rows a
  // commit is already writing (the CoW footprint / the changeset), never
  // a table scan. The only full-table validation is the one ADD
  // CONSTRAINT itself runs, once, at add time — Delta's rule.

  /** The CHECK constraints stamped on version `v`, in add order: (name,
    * single-line check SQL, re-parsed by the session at enforcement
    * time).
    */
  def constraintsOf(spark: SparkSession, tableDir: String,
      v: Long): Seq[(String, String)] =
    manifestOf(spark, tableDir, v).constraints

  /** Abort unless every row of `df` (the rows a commit is about to
    * write) satisfies every stamped constraint — ONE aggregate pass
    * computing all violation counts together, run only when constraints
    * exist. The error carries per-constraint counts: the validated-write
    * contract, generalized.
    */
  private def enforceConstraints(spark: SparkSession, tableDir: String,
      m: Manifest, df: DataFrame, what: String): Unit = {
    val cons = m.constraints
    if (cons.nonEmpty) {
      val counts = df.agg(
        sum(when(expr(cons.head._2) <=> lit(false), 1L).otherwise(0L))
          .as(cons.head._1),
        cons.tail.map { case (n, e) =>
          sum(when(expr(e) <=> lit(false), 1L).otherwise(0L)).as(n) }: _*)
        .collect().head
      val violated = cons.zipWithIndex.flatMap { case ((n, e), i) =>
        val c = if (counts.isNullAt(i)) 0L else counts.getLong(i)
        if (c > 0) Some(s"$n CHECK ($e): $c row(s)") else None
      }
      if (violated.nonEmpty) throw new IllegalStateException(
        s"$what into $tableDir violates table constraint(s) " +
          s"${violated.mkString("; ")} — commit aborted, no version " +
          "was created")
    }
  }

  /** The column names a constraint expression references (resolver-
    * compared downstream) — parsed, never regexed.
    */
  private def constraintRefs(spark: SparkSession, exprSql: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(exprSql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.last
    }

  /** `ALTER TABLE ADD CONSTRAINT name CHECK (expr)`: validates the
    * expression analyzes to BOOLEAN over the live schema, validates
    * EXISTING rows (the one full scan, at add time), then commits the
    * stamp metadata-only — same files, constraint carried by every
    * successor.
    */
  def addConstraint(spark: SparkSession, tableDir: String, name: String,
      exprSql: String): SnapshotCommit = {
    val v = latestVersion(spark, tableDir)
    val m = manifestOf(spark, tableDir, v)
    val key = keyOf(m, tableDir, v)
    val cur = schemaOf(spark, tableDir, v)
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name must be a plain identifier, got '$name'")
    require(!exprSql.contains('\n') && !exprSql.contains('\r'),
      "constraint expression must be single-line (it is stamped as one " +
        "manifest meta line)")
    val existing = m.constraints
    require(!existing.exists(_._1.equalsIgnoreCase(name)),
      s"constraint $name already exists on $tableDir (DROP CONSTRAINT " +
        "first to replace it)")
    val resolver = spark.sessionState.conf.resolver
    constraintRefs(spark, exprSql).foreach(c =>
      require(cur.fieldNames.exists(resolver(_, c)),
        s"constraint $name references unknown column $c " +
          s"(table columns: ${cur.fieldNames.mkString(", ")})"))
    val snap = read(spark, tableDir, v)
    val checked = snap.select(expr(exprSql).as("__check"))
    require(checked.schema.head.dataType ==
      org.apache.spark.sql.types.BooleanType,
      s"CHECK expression must be BOOLEAN, got " +
        s"${checked.schema.head.dataType.simpleString}: $exprSql")
    val bad = snap.where(expr(exprSql) <=> lit(false)).count()
    if (bad > 0) throw new IllegalStateException(
      s"cannot add constraint $name CHECK ($exprSql) to $tableDir: " +
        s"$bad existing row(s) violate it")
    commitMetadata(spark, tableDir, v, m.next(s"add-constraint $name", key, cur)
      .copy(constraints = existing :+ (name -> exprSql)))
  }

  /** `ALTER TABLE DROP CONSTRAINT name` — metadata-only commit without
    * the stamp.
    */
  def dropConstraint(spark: SparkSession, tableDir: String,
      name: String): SnapshotCommit = {
    val v = latestVersion(spark, tableDir)
    val m = manifestOf(spark, tableDir, v)
    val key = keyOf(m, tableDir, v)
    val cur = schemaOf(spark, tableDir, v)
    require(m.constraints.exists(_._1.equalsIgnoreCase(name)),
      s"no constraint $name on $tableDir (have: " +
        s"${m.constraints.map(_._1).mkString(", ")})")
    commitMetadata(spark, tableDir, v, m.next(s"drop-constraint $name", key, cur)
      .copy(constraints = m.constraints.filterNot(_._1.equalsIgnoreCase(name))))
  }

  /** Commit `next` — a metadata-only successor of version `v`, every file
    * carried by reference — as version `v + 1`.
    */
  private def commitMetadata(spark: SparkSession, tableDir: String, v: Long,
      next: Manifest): SnapshotCommit = {
    commit(spark, new Path(tableDir), v + 1, next)
    val n = next.files.size
    SnapshotCommit(v + 1, CowMergeReport(n, 0, n, 0))
  }

  /** Every name that may still exist physically in live files under a
    * meaning OTHER than its current logical one — blocked for ADD, for
    * RENAME targets and for merge-driven schema evolution.
    */
  private def blockedNames(m: Manifest): Set[String] =
    m.physMap.values.flatten.toSet ++ m.dropped

  /** Scan schema widened with each renamed column's prior physical names
    * (all chain fields nullable: any given file holds exactly one of
    * them). Identity when no column was ever renamed.
    */
  private[graft] def eraSchema(schema: StructType,
      pm: Map[String, Seq[String]]): StructType =
    if (pm.isEmpty) schema
    else StructType(schema.fields.flatMap { f =>
      pm.get(f.name) match {
        case Some(olds) => f.copy(nullable = true) +:
          olds.map(o => org.apache.spark.sql.types.StructField(
            o, f.dataType, nullable = true)).toArray
        case None => Array(f)
      }
    })

  /** Logical projection over an [[eraSchema]] scan: renamed columns take
    * the first non-null of their name chain, everything else passes
    * through.
    */
  private[graft] def eraProjection(schema: StructType,
      pm: Map[String, Seq[String]]): Seq[org.apache.spark.sql.Column] =
    schema.fields.toSeq.map { f =>
      pm.get(f.name) match {
        case Some(olds) => coalesce((f.name +: olds).map(col): _*).as(f.name)
        case None       => col(f.name)
      }
    }

  /** Read `paths` in version-era LOGICAL space — the one parquet read
    * helper every internal consumer of raw table files must use, or a
    * pre-rename file's values silently null out.
    */
  private def readEra(spark: SparkSession, schema: StructType,
      pm: Map[String, Seq[String]], paths: Seq[String]): DataFrame =
    if (pm.isEmpty) spark.read.schema(schema).parquet(paths: _*)
    else spark.read.schema(eraSchema(schema, pm)).parquet(paths: _*)
      .select(eraProjection(schema, pm): _*)

  // ---- Per-file statistics -------------------------------------------
  //
  // Every committing op reads the footers of the files it just wrote,
  // once ([[stage]]: commit-footprint-sized work), and stamps
  // their typed stamps ([[Stamps]]) into the manifest; reference-carrying
  // commits carry the stamps of the files they keep ([[Manifest.next]]).
  // Merge planning, point lookups,
  // CDC B-parts, predicate-scoped compaction and read-side skipping all
  // plan from ONE manifest read instead of a footer fetch per file — at
  // 100 TB (10^5 files) that replaces 10^5 driver-side ranged reads per
  // operation with a metadata file the planner already reads. A file
  // with no `rows=` line (a raw [[commit]]) falls back to a footer read
  // through the same [[Stamps.read]].

  /** Manifest name of a full data-file path: relative to `data/` — the
    * base name on flat layouts, `pt_c=v/part-...` on partitioned ones.
    */
  private def relName(table: Path, full: String): String = {
    val prefix = dataDir(table).toString + "/"
    if (full.startsWith(prefix)) full.substring(prefix.length)
    else full.substring(full.lastIndexOf('/') + 1)
  }

  /** Per-file key intervals of version `v`, keyed by full path (what
    * [[matchFiles]]'s planning join returns). A file with a `rows=` stamp
    * takes its key's stamped interval; an unstamped file's comes from
    * one footer read. None — no integral interval (a string key, an
    * all-null or statless key column) — matches every key.
    */
  private[graft] def keyIntervals(spark: SparkSession, tableDir: String, v: Long,
      key: String): Seq[(String, Option[Stamps.LongIv])] = {
    val table = new Path(tableDir)
    val m = manifestOf(spark, tableDir, v)
    val names = m.files
    val stamped = m.stamps.filter(_._2.rows.nonEmpty)
    val missing = names.filterNot(stamped.contains)
    val footers =
      if (missing.isEmpty) Map.empty[String, Stamps.FileStamp]
      else {
        val keyType = m.schema
          .flatMap(_.find(_.name == key)).fold[DataType](LongType)(_.dataType)
        Stamps.read(spark, missing.map(n => n -> new Path(dataDir(table), n)),
          StructType(Seq(StructField(key, keyType))), key)
      }
    val stamps = stamped ++ footers
    names.map { n =>
      new Path(dataDir(table), n).toString ->
        stamps.get(n).flatMap(_.cols.get(key)).flatMap(_.iv).collect {
          case iv: Stamps.LongIv => iv
        }
    }
  }

  /** Files from `ranges` whose key interval intersects any key in `keys`
    * — the broadcast range join of planning. `keys` is changeset-sized;
    * `ranges` is |files|-rows and broadcast.
    *
    * The intervals are only compared for INTEGRAL keys. For any other key
    * type planning degrades to the conservative answer — every file
    * matches (so the merge rewrites everything, correct but unpruned) —
    * rather than casting the keys to long, which for e.g. a string key
    * yields all-null → zero matches → updates and deletes silently
    * dropped.
    */
  private def matchFiles(spark: SparkSession,
      ranges: Seq[(String, Option[Stamps.LongIv])], keys: DataFrame): Seq[String] = {
    if (ranges.isEmpty) return Nil
    val integral = keys.schema.head.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }
    if (!integral) return if (keys.isEmpty) Nil else ranges.map(_._1)
    import spark.implicits._
    val rdf = ranges.map { case (f, iv) =>
      (f, iv.fold(Long.MinValue)(_.lo), iv.fold(Long.MaxValue)(_.hi), iv.nonEmpty)
    }.toDF("file", "lo", "hi", "hasStats")
    keys.select(col(keys.columns.head).cast("long").as("__k")).na.drop().distinct()
      .join(broadcast(rdf),
        !col("hasStats") || (col("__k") >= col("lo") && col("__k") <= col("hi")))
      .select("file").distinct()
      .as[String].collect().toSeq
  }

  /** The keys of delete-vector files `names`, read with the one-field
    * schema of the table's key type — no footer-inference job. Every
    * vector is written in that type ([[deleteKeys]], [[merge]]'s purge).
    * `keyType` is None only on a raw-commit table with no schema stamp,
    * which infers.
    */
  private def readDeleteKeys(spark: SparkSession, table: Path,
      names: Seq[String], key: String, keyType: Option[DataType]): DataFrame = {
    val paths = names.map(n => new Path(dataDir(table), n).toString)
    keyType match {
      case Some(t) => spark.read.schema(StructType(Seq(StructField(key, t)))).parquet(paths: _*)
      case None    => spark.read.parquet(paths: _*).select(key)
    }
  }

  /** The table as of version `v` — any retained version, not just the
    * latest (time travel). Delete vectors, if the version carries any,
    * are applied as one anti-join on the stamped key (the merge-on-read
    * path: the masked rows' data files were never rewritten). Files older
    * than the version's stamped schema read THROUGH it: columns the table
    * gained since a file was written come back null, unrewritten.
    *
    * The scan is backed by [[graft.sources.SnapshotFileIndex]] over the
    * manifest's commit-time stat stamps, so a key predicate on the
    * returned frame SKIPS whole data files at planning time (`WHERE key
    * = k` on a key-clustered 100 TB table opens ~1 file) — same physical
    * parquet scan otherwise, pushdown/pruning/codegen unchanged. Files
    * without a stamp are always scanned; no footer is ever fetched for
    * pruning (stamps or nothing — read() stays metadata-cost).
    */
  def read(spark: SparkSession, tableDir: String, v: Long): DataFrame = {
    val table = new Path(tableDir)
    val m = manifestOf(spark, tableDir, v)
    val names = m.files
    val data =
      if (names.isEmpty) {
        // empty version (freshly created table): schema-only frame
        m.schema.fold(spark.read)(s => spark.read.schema(s)).parquet()
      } else {
        val nameSet = names.toSet
        val hfs = fs(spark, table)
        val dataUri = java.net.URI.create(
          hfs.makeQualified(dataDir(table)).toUri.toString + "/")
        val byName = listDataFiles(hfs, dataDir(table)).flatMap { st =>
          val rel = dataUri.relativize(st.getPath.toUri).getPath
          if (nameSet(rel)) Some(rel -> st) else None
        }.toMap
        val missing = names.filterNot(byName.contains)
        require(missing.isEmpty,
          s"version $v of $tableDir references data files that do not " +
            s"exist (vacuumed or corrupt): ${missing.take(3).mkString(",")}")
        val schema = m.schema.getOrElse(
          spark.read.parquet(names.map(n =>
            new Path(dataDir(table), n).toString): _*).schema)
        val pcols = m.partCols
        val pvals =
          if (pcols.isEmpty) Map.empty[String, org.apache.spark.sql.catalyst.InternalRow]
          else names.map(n => n -> partValuesOf(n, pcols, schema)).toMap
        val bloomProbe =
          if (m.blooms.isEmpty) None
          else {
            val key = keyOf(m, tableDir, v)
            Some(graft.sources.SnapshotFileIndex.BloomProbe(key,
              schema(key).dataType,
              () => m.blooms.flatMap(n =>
                loadBloomSidecar(spark, new Path(dataDir(table), n).toString))
                .toMap))
          }
        val bucketProbe = m.bucket.map {
          case (c, n) => graft.sources.SnapshotFileIndex.BucketProbe(
            c, schema(c).dataType, n,
            names.flatMap(nm => bucketOfName(nm).map(nm -> _)).toMap)
        }
        // renamed columns: scan the physical-name-widened schema, then
        // project each chain's first non-null back to the logical name
        // (identity when the table never renamed — the common case)
        val pm = m.physMap
        val scanned = graft.sources.SnapshotFileIndex.scan(spark, table,
          names.map(n => n -> byName(n)), m.stamps,
          eraSchema(schema, pm), pcols, pvals, bloomProbe, bucketProbe)
        if (pm.isEmpty) scanned
        else scanned.select(eraProjection(schema, pm): _*)
      }
    if (m.deletes.isEmpty) data
    else {
      val key = keyOf(m, tableDir, v)
      data.join(readDeleteKeys(spark, table, m.deletes, key,
        Some(data.schema(key).dataType)), Seq(key), "left_anti")
    }
  }

  def readLatest(spark: SparkSession, tableDir: String): DataFrame =
    read(spark, tableDir, latestVersion(spark, tableDir))

  /** Stamp-pruned point lookup: the rows of version `v` whose key is in
    * `keys`, reading ONLY the data files whose stamped key range can hold
    * one of them — on a key-clustered 100 TB table a point lookup touches
    * ~1 file, not the table. Planning is [[matchFiles]]' broadcast range
    * join over the key intervals (metadata cost, |files| rows);
    * delete-vector masks still apply, so a MoR-deleted key returns
    * nothing.
    */
  def lookupKeys(spark: SparkSession, tableDir: String, v: Long,
      keys: DataFrame): DataFrame = {
    val table = new Path(tableDir)
    val m = manifestOf(spark, tableDir, v)
    val key = keyOf(m, tableDir, v)
    val rangeHit = matchFiles(spark, keyIntervals(spark, tableDir, v, key), keys)
    // per-file Bloom stamps close the hash-key gap: when ranges cannot
    // prune (uniform keys — every file's range spans the domain), the
    // sidecar verdicts cut the candidates to ~fpp of the files
    val keyType = m.schema.map(_(key).dataType).getOrElse(LongType)
    // hash-bucket layout: drop candidates whose bucket directory no
    // lookup key hashes into (exact, one ≤N-row distinct job)
    val bucketHit = m.bucket match {
      case Some((c, n)) if c == key && rangeHit.nonEmpty =>
        val buckets = keys
          .select(pmod(xxhash64(col(keys.columns.head).cast(keyType)), lit(n))
            .cast("int").as("b"))
          .distinct().collect().map(_.getInt(0)).toSet
        rangeHit.filter(f =>
          bucketOfName(relName(table, f)).forall(buckets.contains))
      case _ => rangeHit
    }
    val hit = bloomPruneFiles(spark, table, m.blooms, bucketHit, keys, keyType)
    if (hit.isEmpty) return read(spark, tableDir, v).where(lit(false))
    val raw = m.schema match {
      case Some(s) => readEra(spark, s, m.physMap, hit)
      case None    => spark.read.parquet(hit: _*)
    }
    val data = raw
      .join(keys.select(col(keys.columns.head).as(key)), Seq(key), "left_semi")
    if (m.deletes.isEmpty) data
    else data.join(readDeleteKeys(spark, table, m.deletes, key,
      Some(data.schema(key).dataType)), Seq(key), "left_anti")
  }

  /** Exclusive-create commit of manifest `v`. Atomic winner-takes-the-
    * version; losers get [[ConcurrentCommitException]]. Only the
    * ALREADY-EXISTS signal is mapped to the race exception — a transient
    * I/O or permission failure is rethrown as what it is, so callers'
    * retry loops ([[commitWithRetry]]) never spin on a broken filesystem
    * believing they lost a race.
    */
  private[graft] def commit(spark: SparkSession, table: Path, v: Long,
      m: Manifest): Unit = {
    val hfs = fs(spark, table)
    hfs.mkdirs(logDir(table))
    val p = manifestPath(table, v)
    def race(e: Exception) = new ConcurrentCommitException(
      s"version $v already committed under $table (${e.getMessage}); " +
        "re-read the latest manifest and re-plan the merge")
    val isLocal = hfs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      hfs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    val out: java.io.OutputStream =
      if (isLocal) {
        // Hadoop's RawLocalFileSystem.create(overwrite = false) is
        // exists-then-truncate — a TOCTOU window ACROSS PROCESSES in
        // which two committers can both "win" the same version and the
        // second truncates the first (SnapshotRaceSpec's two-JVM race
        // hits it). On a local filesystem the exclusive create must be
        // the kernel's O_EXCL, which nio CREATE_NEW maps to — atomic
        // against every process on the host. (HDFS creates are atomic
        // server-side and S3-class stores run a conditional PUT, so the
        // Hadoop path below is already sound off-host.)
        try java.nio.file.Files.newOutputStream(
          java.nio.file.Paths.get(p.toUri.getPath),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        catch {
          case e: java.nio.file.FileAlreadyExistsException => throw race(e)
        }
      } else try hfs.create(p, false)
      catch {
        case e: org.apache.hadoop.fs.FileAlreadyExistsException => throw race(e)
        case e: java.nio.file.FileAlreadyExistsException        => throw race(e)
        // some FileSystem impls signal the lost create race as a bare
        // IOException — only the post-hoc existence check separates it
        // from a genuine I/O failure, which must propagate unchanged
        case e: java.io.IOException if hfs.exists(p) => throw race(e)
      }
    // every commit stamps its wall-clock time — what TIMESTAMP AS OF and
    // DESCRIBE HISTORY resolve against (Delta's commit-timestamp analogue,
    // riding the same atomic create as the commit itself)
    val lines = m.copy(ts = Some(System.currentTimeMillis())).render
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    // the commit IS the manifest create above; the pointer is advisory
    // acceleration, written after the fact and verified on read
    writeLatestHint(hfs, table, v)
  }

  /** Wall-clock commit time of version `v` (millis), as stamped by
    * [[commit]]; None for manifests committed by pre-stamp code.
    */
  def commitTimeMs(spark: SparkSession, tableDir: String, v: Long): Option[Long] =
    manifestOf(spark, tableDir, v).ts

  /** TIMESTAMP AS OF resolution: the LATEST version whose commit stamp is
    * <= `tsMillis` — Delta's rule, robust to the (bounded) wall-clock skew
    * of racing writers because version order, not stamp order, decides
    * what a version contains. A timestamp before the first commit is an
    * error (there was no table to read), as is a table whose retained
    * manifests carry no stamps. Cost: one manifest-metadata read per
    * retained version — metadata, never data.
    */
  def versionAt(spark: SparkSession, tableDir: String, tsMillis: Long): Long = {
    val stamped = commitTimes(spark, tableDir, "TIMESTAMP AS OF")
    val hit = stamped.filter(_._2 <= tsMillis)
    require(hit.nonEmpty, s"timestamp $tsMillis predates the first " +
      s"retained commit (${stamped.head._2}) of $tableDir")
    hit.last._1
  }

  /** The EARLIEST retained version committed at or after `tsMillis` —
    * [[versionAt]]'s streaming twin (`startingTimestamp` wants "changes
    * from this instant onward", so it resolves forward where time travel
    * resolves backward). Fails when every retained commit predates the
    * timestamp: the caller asked to start in the future of the log.
    */
  def versionAtOrAfter(spark: SparkSession, tableDir: String,
      tsMillis: Long): Long = {
    val stamped = commitTimes(spark, tableDir, "startingTimestamp")
    val hit = stamped.filter(_._2 >= tsMillis)
    require(hit.nonEmpty, s"timestamp $tsMillis is after the latest " +
      s"retained commit (${stamped.last._2}) of $tableDir — nothing to " +
      "start from (commit newer versions first, or omit the option)")
    hit.head._1
  }

  /** (version, commit millis) of every retained stamped version,
    * ascending by version; `what` names the caller in the errors.
    */
  private def commitTimes(spark: SparkSession, tableDir: String,
      what: String): Seq[(Long, Long)] = {
    val vs = versions(spark, tableDir)
    require(vs.nonEmpty, s"no committed versions under $tableDir")
    val stamped = vs.flatMap(v => commitTimeMs(spark, tableDir, v).map(v -> _))
    require(stamped.nonEmpty, s"no commit-time stamps under $tableDir — " +
      s"$what needs manifests committed by stamp-aware code")
    stamped
  }

  /** One row per retained version — the DESCRIBE HISTORY surface:
    * (version, ts millis, operation, data files, delete-vector files,
    * files with a row-count stamp, txn stamp). All from the manifest
    * chain; no data file is touched.
    */
  def history(spark: SparkSession, tableDir: String)
      : Seq[(Long, Option[Long], Option[String], Int, Int, Int, Option[String])] =
    versions(spark, tableDir).sorted(Ordering[Long].reverse).map { v =>
      val m = manifestOf(spark, tableDir, v)
      (v, m.ts, m.op, m.files.size, m.deletes.size,
        m.stamps.count(_._2.rows.nonEmpty), m.tag(Manifest.TxnTag))
    }

  /** Stage immutable data files under `data/` via `write(scratchDir)` and
    * return their MANIFEST NAMES — paths relative to `data/`: plain part
    * names for flat layouts, `pt_<col>=<value>/part-...` for partitioned
    * ones (subdirectories are preserved by the move). Spark part-file
    * names carry the write job's UUID — globally unique, so staged files
    * from different commits never collide, even inside a shared partition
    * directory.
    */
  /** Per-session refcount for the staging timestamp-encoding override:
    * parquet writers read the SESSION conf (there is no per-write
    * option), so overlapping stagings in one session must share one
    * set/restore pair — a naive set-then-restore interleaving could
    * stage INT96 files (stats silently lost) or leave the session
    * pinned. First staging in saves + sets; last one out restores.
    */
  private val tsOverrides =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, (Int, String)]()

  private def stageWith(spark: SparkSession, table: Path)
      (write: String => Unit): Seq[String] = {
    val hfs = fs(spark, table)
    val scratch = new Path(table, s".stage-${java.util.UUID.randomUUID().toString.take(8)}")
    // Spark's legacy INT96 parquet timestamps carry NO footer min/max, so
    // a timestamp column staged under the default encoding could never be
    // range-stamped. Stage writes always use the modern int64-micros
    // physical form (readable by every reader, stats defined; INT96 is
    // deprecated upstream) — refcount-scoped to the overlapping writes,
    // conf restored by the last one out.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    tsOverrides.compute(spark, (_, cur) =>
      if (cur == null) {
        val old = spark.conf.get(tsKey)
        spark.conf.set(tsKey, "TIMESTAMP_MICROS")
        (1, old)
      } else (cur._1 + 1, cur._2))
    try write(scratch.toString)
    finally tsOverrides.compute(spark, (_, cur) =>
      if (cur._1 == 1) { spark.conf.set(tsKey, cur._2); null }
      else (cur._1 - 1, cur._2))
    hfs.mkdirs(dataDir(table))
    // URI.relativize needs the directory form (trailing slash) AND the
    // same scheme as the listed statuses (which come back qualified), or
    // it returns the input absolute path unchanged
    val base = java.net.URI.create(
      hfs.makeQualified(scratch).toUri.toString + "/")
    def collect(dir: Path): Seq[String] =
      hfs.listStatus(dir).toSeq
        .filter(st => !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .flatMap { st =>
          if (st.isDirectory) collect(st.getPath)
          else Seq(base.relativize(st.getPath.toUri).getPath)
        }
    val names = collect(scratch)
    names.foreach { n =>
      val dst = new Path(dataDir(table), n)
      hfs.mkdirs(dst.getParent)
      require(hfs.rename(new Path(scratch, n), dst), s"stage move failed: $n")
    }
    hfs.delete(scratch, true)
    names
  }

  /** Directory-column prefix of partitioned staging: partition columns
    * stay PHYSICALLY present in every data file (so CoW rewrites, CDC
    * diffs and point lookups read files self-contained, no path
    * re-inference) — the layout directories are written from duplicated
    * `pt_<col>` copies that `partitionBy` then strips. Readers map the
    * prefixed directory names back to the real columns.
    */
  private[graft] val PartDirPrefix = "pt_"

  /** The one range-clustered file writer: range-partition `df` into
    * `numFiles` partitions on `order`, sort each partition by it, drop
    * the helper columns `drop` and write Hive-style directories from
    * `dirs`. Each file then holds one contiguous slice of `order`, so
    * its footer min/max on the leading columns stays narrow — what CoW
    * planning, [[lookupKeys]] and read-side skipping prune on. Table
    * writes reach it through [[stage]].
    */
  private[graft] def writeClustered(df: DataFrame, order: Seq[String],
      numFiles: Int, out: String, dirs: Seq[String] = Nil,
      drop: Seq[String] = Nil): Unit =
    df.repartitionByRange(numFiles, order.map(col): _*)
      .sortWithinPartitions(order.map(col): _*)
      .drop(drop: _*)
      .write.partitionBy(dirs: _*).mode("overwrite").parquet(out)

  /** Stage `df` as new data files in `layout`'s clustering
    * ([[writeClustered]]) and stamp them:
    *  - flat: key order;
    *  - identity partitions: `pt_<col>` directories, (pcols, key) order —
    *    one file per partition value per range;
    *  - hash buckets: bucket directories, (bucket, key) order — stamps
    *    still prune WITHIN a bucket;
    *  - `zorder`: the scaled Morton value of those columns
    *    ([[ZOrder.withZ]]), flat.
    * Then ONE footer pass over the new files — the only footer read each
    * file ever needs: typed `rows=`/`cstats=` stamps for every supported
    * column, key first ([[Stamps]]), plus the commit's Bloom sidecar
    * under [[BloomIndexKey]].
    */
  private def stage(spark: SparkSession, table: Path, df: DataFrame,
      key: String, numFiles: Int, schema: StructType, layout: Manifest,
      zorder: Seq[String] = Nil): Written = {
    val names = stageWith(spark, table) { out =>
      if (zorder.nonEmpty)
        writeClustered(ZOrder.withZ(df, zorder), Seq(ZOrder.ZCol), numFiles,
          out, drop = Seq(ZOrder.ZCol))
      else layout.bucket match {
        case Some((c, n)) =>
          writeClustered(df.withColumn(BucketDirCol, bucketExpr(c, n)),
            Seq(BucketDirCol, key), numFiles, out, dirs = Seq(BucketDirCol))
        case None =>
          val pcols = layout.partCols
          val dirCols = pcols.map(PartDirPrefix + _)
          val withDirs = pcols.zip(dirCols).foldLeft(df) { case (d, (c, dc)) =>
            d.withColumn(dc, col(c))
          }
          writeClustered(withDirs, pcols :+ key, numFiles, out, dirs = dirCols)
      }
    }
    val stats = Stamps.read(spark,
      names.map(n => n -> new Path(dataDir(table), n)), schema, key)
    val rowsOf = stats.flatMap { case (n, st) => st.rows.map(n -> _) }
    Written(names, stats, writeBloomSidecar(spark, table, names, key, rowsOf))
  }

  /** The table's partition columns, as stamped at [[init]] and carried by
    * every commit; Nil for unpartitioned tables.
    */
  def partitionCols(spark: SparkSession, tableDir: String, v: Long): Seq[String] =
    manifestOf(spark, tableDir, v).partCols

  // ---- HASH-BUCKET layout (`PARTITIONED BY (bucket(N, col))`) --------
  //
  // The layout lever for UNIFORM HASH KEYS, where key clustering and
  // range stamps are structurally useless (every file's min/max spans
  // the domain — d29's shape): every write distributes its rows into N
  // stable directories by `pmod(xxhash64(col), N)` and declares the
  // spec in the manifest, so a point predicate on the bucketed column
  // prunes to ONE directory of N at planning time — from layout alone,
  // before (and independent of) the per-file Bloom sidecars. The bucket
  // function matches the Bloom convention (xxhash64 over the column's
  // own type), so the same type-exactness gate applies to probe
  // literals. Unlike identity partitions the bucket column is usually
  // the TABLE KEY — that is the point — and the synthetic directory
  // value is planning metadata, never a logical column.

  /** The synthetic bucket directory column ([[PartDirPrefix]]-prefixed
    * like identity partition dirs, so the existing path parsing, vacuum
    * recursion and carry machinery see nothing new).
    */
  private val BucketDirCol = PartDirPrefix + "graftbucket"

  /** The table's hash-bucket spec (column, bucket count), as stamped at
    * [[init]] and carried by every commit; None for unbucketed tables.
    */
  def partitionBucket(spark: SparkSession, tableDir: String,
      v: Long): Option[(String, Int)] =
    manifestOf(spark, tableDir, v).bucket

  /** A manifest name's bucket, parsed from its directory segment; None
    * for flat names (delete vectors, unbucketed history).
    */
  private[graft] def bucketOfName(name: String): Option[Int] =
    name.split('/').dropRight(1)
      .find(_.startsWith(BucketDirCol + "="))
      .map(_.substring(BucketDirCol.length + 1).toInt)

  /** The write-side bucket function — MUST stay in lockstep with the
    * read-side probe ([[graft.sources.SnapshotFileIndex.BucketProbe]]):
    * pmod(xxhash64(col), n).
    */
  private def bucketExpr(c: String, n: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col(c)), lit(n)).cast("int")

  /** Partition values of a manifest name, parsed from its `pt_c=v` path
    * segments in `pcols` order, cast to the stamped schema's types by
    * Spark's own literal-cast rules (the values were escaped by Spark's
    * partition writer; `__HIVE_DEFAULT_PARTITION__` is the null marker).
    */
  private def partValuesOf(name: String, pcols: Seq[String],
      schema: StructType): org.apache.spark.sql.catalyst.InternalRow = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val segs = name.split('/').dropRight(1).flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0 || !seg.startsWith(PartDirPrefix)) None
      else Some(seg.substring(PartDirPrefix.length, i) ->
        ExternalCatalogUtils.unescapePathName(seg.substring(i + 1)))
    }.toMap
    val values = pcols.map { c =>
      segs.get(c) match {
        case None => null
        case Some(ExternalCatalogUtils.DEFAULT_PARTITION_NAME) => null
        case Some(raw) =>
          org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions.Literal(
              org.apache.spark.unsafe.types.UTF8String.fromString(raw),
              org.apache.spark.sql.types.StringType),
            schema(c).dataType,
            Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
            .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values.toArray)
  }

  // ---- Per-file Bloom key stamps -------------------------------------
  //
  // Min/max range stamps are structurally USELESS for uniform hash keys
  // (every file's range spans the domain — d29's documented gap): the
  // fix every lakehouse format ships is a per-file BLOOM FILTER on the
  // key, consulted for point/IN predicates. Blooms are ~1 bit-something
  // per row (fpp 3%), far too big for manifest text lines, so each
  // commit writes ONE parquet SIDECAR under `data/` holding
  // (file name, serialized bloom) rows for its new files and references
  // it from the manifest ([[Manifest.blooms]]). Reference-carrying commits
  // carry the references; full rewrites drop them and stamp fresh ones;
  // vacuum keeps sidecars of retained versions alive. Probing
  // ([[lookupKeys]], [[read]]'s FileIndex) matches Spark's own
  // runtime-filter convention — BloomFilterAggregate over
  // `xxhash64(key)`, probed with `mightContainLong` — and a file not
  // covered by any sidecar is simply always a candidate, so a table
  // with mixed bloom/bloomless history degrades, never breaks.

  /** Session conf gate: when true, every commit stamps per-file key
    * Blooms (opt-in — it costs one extra key-column pass per commit; the
    * win is point lookups on HASH-distributed keys, where range stamps
    * cannot prune).
    */
  val BloomIndexKey = "spark.graft.bloomIndex"

  /** Target false-positive rate of the per-file blooms. */
  private val BloomFpp = 0.03

  /** Point-lookup shape cap: probing is for key lists, not joins. */
  private val BloomProbeMaxKeys = 4096

  /** Bloom sidecar file names referenced by version `v`'s manifest. */
  def bloomSidecars(spark: SparkSession, tableDir: String, v: Long): Seq[String] =
    manifestOf(spark, tableDir, v).blooms

  /** The Bloom sidecar over just-written files `names` (none unless
    * [[BloomIndexKey]] is set): its manifest name, in a one-element list.
    */
  private def writeBloomSidecar(spark: SparkSession, table: Path,
      names: Seq[String], key: String,
      rowsOf: Map[String, Long]): Seq[String] = {
    if (names.isEmpty ||
        !spark.conf.getOption(BloomIndexKey).exists(_.toBoolean)) return Nil
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.graftshim.CatalystBridge
    // per-file sizing via row-count MAGNITUDE buckets (files within one
    // power of 4 share a filter size): BloomFilterAggregate's size is a
    // per-job constant, so a skewed commit sized from its largest file
    // would pay that file's bitSize for every small sibling — grouping
    // bounds the waste at 4x while keeping job count log-bounded
    val fallbackRows = rowsOf.values.foldLeft(1024L)(math.max)
    val groups = names.groupBy { n =>
      val r = math.max(1L, rowsOf.getOrElse(n, fallbackRows))
      var m = 1024L
      while (m < r) m *= 4
      m
    }
    val prefix = java.net.URI.create(
      fs(spark, table).makeQualified(dataDir(table)).toUri.toString + "/")
    val rows = groups.toSeq.sortBy(_._1).flatMap { case (cap, ns) =>
      val paths = ns.map(n => new Path(dataDir(table), n).toString)
      val numBits = org.apache.spark.util.sketch.BloomFilter
        .create(cap, BloomFpp).bitSize()
      val agg = CatalystBridge.column(new BloomFilterAggregate(
        UnresolvedAttribute("__h"), Literal(cap), Literal(numBits))
        .toAggregateExpression())
      spark.read.parquet(paths: _*)
        .select(col("_metadata").getField("file_path").as("__f"),
          xxhash64(col(key)).as("__h"))
        .groupBy("__f").agg(agg.as("bloom"))
        .collect().toSeq.map { r =>
          val rel = prefix.relativize(java.net.URI.create(r.getString(0))).getPath
          org.apache.spark.sql.Row(rel, r.getAs[Array[Byte]]("bloom"))
        }
    }
    val schema = StructType(Seq(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("bloom",
        org.apache.spark.sql.types.BinaryType)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    stageWith(spark, table)(out => df.coalesce(1).write.mode("overwrite").parquet(out))
  }

  /** Sidecar contents, cached per PATH: sidecars are immutable once
    * committed (same contract as data files — vacuum deletes, never
    * rewrites), so a loaded one is valid for the process lifetime. The
    * cache is what makes repeated point probes pay the sidecar scan
    * ONCE, not per query; bounded LRU (hot entries survive a standing
    * service juggling more paths than the capacity — no clear-all
    * churn), and advisory — a cold process just reloads.
    */
  private val bloomSidecarCache =
    new LruCache[String, Map[String, org.apache.spark.util.sketch.BloomFilter]](256)

  private def loadBloomSidecar(spark: SparkSession,
      path: String): Map[String, org.apache.spark.util.sketch.BloomFilter] =
    bloomSidecarCache.getOrLoad(path) {
      spark.read.parquet(path).collect()
        .map(r => r.getString(0) ->
          org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))).toMap
    }

  /** Bloom verdicts over a version's `sidecars`: the subset of
    * `hit` (full paths) whose per-file Bloom may contain at least one of
    * `keys` — files not covered by any sidecar always survive. A no-op
    * when the version has no sidecars, when the key list exceeds
    * point-lookup shape, or when the keys' type differs from the key
    * column's (hash compatibility is per-type).
    */
  private def bloomPruneFiles(spark: SparkSession, table: Path,
      sidecars: Seq[String], hit: Seq[String], keys: DataFrame,
      keyType: org.apache.spark.sql.types.DataType): Seq[String] = {
    if (sidecars.isEmpty || hit.isEmpty) return hit
    val hashed = keys
      .select(xxhash64(col(keys.columns.head).cast(keyType)).as("h"))
      .distinct().limit(BloomProbeMaxKeys + 1).collect().map(_.getLong(0))
    if (hashed.length > BloomProbeMaxKeys) return hit
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftshim.CatalystBridge
    val hitNames = hit.map(f => relName(table, f))
    val probe = CatalystBridge.column(
      graft.functions.BloomAnyMightContainExpr(
        UnresolvedAttribute("bloom"),
        Literal.create(hashed, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))))
    val verdicts = spark.read
      .parquet(sidecars.map(n => new Path(dataDir(table), n).toString): _*)
      .where(col("file").isin(hitNames: _*))
      .select(col("file"), probe.as("may"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    hit.filter(f => verdicts.getOrElse(relName(table, f), true))
  }

  /** Create the table at version 0 from `df`, clustered by `key` —
    * optionally under a Hive-style identity partition layout
    * (`partitionBy`): one directory tree per partition-value tuple,
    * key-clustered files within, partition values served from directory
    * metadata at scan time (static pruning + DPP) while staying
    * physically present in every file (self-contained CoW planning).
    */
  def init(spark: SparkSession, tableDir: String, df: DataFrame, key: String,
      numFiles: Int, tags: Seq[(String, String)] = Nil,
      partitionBy: Seq[String] = Nil,
      bucketBy: Option[(String, Int)] = None): SnapshotCommit = {
    val table = new Path(tableDir)
    require(versions(spark, tableDir).isEmpty, s"$tableDir already initialized")
    // a table re-created at a dropped table's path must never read its
    // predecessor's cached manifests
    invalidateManifestCache(tableDir)
    require(partitionBy.isEmpty || bucketBy.isEmpty,
      "identity PARTITIONED BY and bucket(N, col) cannot combine")
    // '__set_null' is the UPDATE SET-NULL changeset sidecar, recognized
    // by name ([[Merge.SetNullCol]]) — a table owning it as a payload
    // column would have merges misread it; reject at birth, like the
    // stamp-safety checks below
    require(!df.columns.contains(Merge.SetNullCol),
      s"column name ${Merge.SetNullCol} is reserved for the UPDATE " +
        "SET-NULL changeset sidecar and cannot be a table column")
    partitionBy.foreach { c =>
      require(df.columns.contains(c), s"partition column $c is not a column")
      require(c != key, s"the table key $key cannot be a partition column")
      require(!c.contains(',') && !c.contains(':') && !c.contains('/'),
        s"partition column name not stamp-safe: '$c'")
    }
    bucketBy.foreach { case (c, n) =>
      require(df.columns.contains(c), s"bucket column $c is not a column")
      require(n >= 1, s"bucket count must be >= 1, got $n")
      require(!c.contains(',') && !c.contains(':') && !c.contains('/'),
        s"bucket column name not stamp-safe: '$c'")
    }
    val m0 = Manifest(key = Some(key), partCols = partitionBy, bucket = bucketBy)
    val written = stage(spark, table, df, key, numFiles, df.schema, m0)
    commit(spark, table, 0L,
      m0.next("init", key, df.schema, Carry.Replace(written), tags))
    SnapshotCommit(0L, CowMergeReport(0, 0, 0, written.files.size))
  }

  /** The merge-source materialization decision (see the comment at the
    * use site): persist exactly when the changeset plan carries a
    * non-deterministic expression.
    */
  private[graft] def shouldMaterialize(cs: DataFrame): Boolean =
    cs.queryExecution.analyzed.exists(
      _.expressions.exists(e => e.find(!_.deterministic).nonEmpty))

  /** Apply changeset `cs` ([[Merge.apply]]'s contract) to the latest
    * version, copy-on-write, committing the result as the next version.
    * Planning prunes the rewrite to the files whose stamped key range
    * holds an update or delete key, and scopes insert admission to the
    * files that could hold an insert key; untouched files are REFERENCED
    * by the new manifest, never moved, and the old version remains
    * readable.
    */
  def merge(spark: SparkSession, tableDir: String, cs: DataFrame,
      key: String, tags: Seq[(String, String)] = Nil): SnapshotCommit = {
    val table = new Path(tableDir)
    val v = latestVersion(spark, tableDir)
    val m = manifestOf(spark, tableDir, v)
    val names = m.files
    val delNames = m.deletes
    // SCHEMA EVOLUTION: changeset columns the base lacks widen the
    // table's stamped schema for v+1 — rewritten/inserted files carry
    // them physically, every untouched file keeps its bytes and reads
    // through the wider stamp as null. The changeset must carry every
    // payload column of the EVOLVED schema (nulls = untouched), the same
    // contract Merge.apply enforces.
    val baseSchema = m.schema.getOrElse(
      spark.read.parquet(new Path(dataDir(table), names.head).toString).schema)
    val widening = cs.schema.fields.filter(f => f.name != "op" && f.name != key &&
      f.name != Merge.SetNullCol && !baseSchema.fieldNames.contains(f.name))
    val pm = m.physMap
    widening.foreach(f => require(!blockedNames(m).contains(f.name),
      s"changeset column ${f.name} was previously dropped or renamed away " +
        "and live files still hold its old physical values — re-introducing " +
        "it would resurrect them; OPTIMIZE the table first"))
    val evolved = StructType(baseSchema.fields ++ widening)
    def readEvolved(paths: Seq[String]): DataFrame =
      readEra(spark, evolved, pm, paths)
    val keyType = baseSchema(key).dataType
    val delKeys: Option[DataFrame] =
      if (delNames.isEmpty) None
      else Some(readDeleteKeys(spark, table, delNames, key, Some(keyType)))
    def masked(df: DataFrame): DataFrame =
      delKeys.fold(df)(dk => df.join(dk, Seq(key), "left_anti"))
    // planning ranges from the manifest's commit-time stamps — one
    // metadata read, not a footer fetch per file
    val ranges = keyIntervals(spark, tableDir, v, key)
    // on a hash-bucketed KEY the range join cannot prune (every file
    // spans the domain), but the LAYOUT can: a candidate file whose
    // bucket directory no changeset key hashes into is out of the
    // footprint — one ≤N-row distinct-bucket job per key set
    val pb = partitionBucket(spark, tableDir, v)
    def bucketScope(candidates: Seq[String], keyDf: DataFrame): Seq[String] =
      pb match {
        case Some((c, n)) if c == key && candidates.nonEmpty =>
          // hash over the TABLE's stamped key type, never the changeset's
          // own: xxhash64 is type-sensitive, and a changeset key arriving
          // as a narrower integral (INT source keys coerced fine by the
          // join/union paths) would compute wrong buckets and silently
          // drop the truly-affected files from the CoW footprint — the
          // same cast [[lookupKeys]] and the read-side probe apply
          val buckets = keyDf
            .select(pmod(xxhash64(col(key).cast(keyType)), lit(n))
              .cast("int").as("b"))
            .distinct().collect().map(_.getInt(0)).toSet
          candidates.filter(f =>
            bucketOfName(relName(table, f)).forall(buckets.contains))
        case _ => candidates
      }

    // MERGE-SOURCE MATERIALIZATION: footprint planning, the masked-key
    // probe, the admission check and the final write each evaluate the
    // changeset — 4-6 evaluations — and a NON-DETERMINISTIC source
    // (rand() sampling, a non-idempotent UDF, an unstable limit) could
    // disagree between the planned footprint and the written rows:
    // silently wrong CoW. So a changeset whose plan carries any
    // non-deterministic expression is ALWAYS persisted first (the same
    // reason Delta materializes its merge source). A deterministic
    // changeset is NOT persisted by default: it is the write BATCH
    // (bounded) and usually derives from page-cached columnar input, so
    // recomputation is cheaper than the cache's serialize-into-block-
    // store pass — MEASURED at sf0.1: always-persist cost +20-25% across
    // the merge-lifecycle suite (m12/m17/m23/m24/d31 A-B, r16).
    val doMat = shouldMaterialize(cs)
    val csM =
      if (doMat) cs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else cs
    try {
    val updDel = csM.where(col("op").isin(Merge.OpUpdate, Merge.OpDelete))
    val ins = csM.where(col("op") === Merge.OpInsert)
    val insKeys = ins.select(col(key))
    // Re-inserting a MERGE-on-read-deleted key forces a scoped CoW of the
    // masked row's file(s): the new row must land while the old physical
    // row goes away, or the key-based mask (purged below) would either
    // swallow the new row or resurrect the old one. Cost is the insert's
    // masked-key footprint, not the table.
    val maskedIns: Option[DataFrame] =
      delKeys.map(dk => insKeys.join(dk, Seq(key), "left_semi"))
    val maskedHitFiles = maskedIns match {
      case Some(mi) if !ins.isEmpty =>
        bucketScope(matchFiles(spark, ranges, mi), mi)
      case _ => Nil
    }
    val updDelKeys = updDel.select(col(key))
    val affected = bucketScope(
      matchFiles(spark, ranges, updDelKeys), updDelKeys).toSet ++
      maskedHitFiles
    val insCheck = bucketScope(matchFiles(spark, ranges, insKeys), insKeys)
    val untouchedNames = names.filterNot(n =>
      affected.contains(new Path(dataDir(table), n).toString))

    val rewritten: Option[DataFrame] =
      if (affected.isEmpty) None
      else Some(Merge(masked(readEvolved(affected.toSeq)), updDel, key))

    val payload = evolved.fieldNames.filterNot(_ == key).toSeq
    val admitted: Option[DataFrame] =
      if (ins.isEmpty) None
      else {
        val insRows = ins.select(col(key) +: payload.map(col): _*)
        Some(
          if (insCheck.isEmpty) insRows
          else insRows.join(
            masked(readEvolved(insCheck).select(col(key))),
            Seq(key), "left_anti"))
      }

    // Delete vectors survive the merge (they still mask untouched files)
    // EXCEPT keys this merge re-inserts: those are purged — their masked
    // physical rows were rewritten away via maskedHitFiles above.
    val newDelNames: Seq[String] = (delKeys, maskedIns) match {
      case (Some(dk), Some(mi)) if !ins.isEmpty && !mi.isEmpty =>
        val remaining = dk.join(insKeys, Seq(key), "left_anti")
        if (remaining.isEmpty) Nil
        else stageWith(spark, table)(
          writeClustered(remaining.select(col(key).cast(keyType)), Seq(key), 1, _))
      case _ => delNames
    }

    val newData = (rewritten, admitted) match {
      case (Some(r), Some(i)) => Some(r.unionByName(i))
      case (Some(r), None)    => Some(r)
      case (None, Some(i))    => Some(i)
      case (None, None)       => None
    }
    // write-time constraints: validate the rows this merge WRITES (the
    // CoW footprint + admitted inserts — never the whole table) before
    // any file is staged
    newData.foreach(df => enforceConstraints(spark, tableDir, m, df, "MERGE"))
    // stat stamps: untouched files carry theirs forward; only the files
    // this merge WROTE get a footer read
    val written = newData.fold(Written(Nil, Map.empty, Nil))(df =>
      stage(spark, table, df, key, math.max(1, affected.size), evolved, m))
    commit(spark, table, v + 1,
      m.next("merge", key, evolved, Carry.Keep(untouchedNames, written), tags)
        .copy(deletes = newDelNames))
    SnapshotCommit(v + 1, CowMergeReport(names.size, affected.size,
      untouchedNames.size, written.files.size))
    } finally { if (doMat) csM.unpersist(blocking = false); () }
  }

  /** Full-replacement commit (REPLACE TABLE AS ... / INSERT OVERWRITE):
    * the next version's file set is `df`, key-clustered; previous
    * versions stay time-travel-readable until vacuumed. The right op when
    * the table is SMALL and derived (a maintained view, a dimension
    * snapshot) — for a big table use [[merge]], whose write is footprint-
    * bounded.
    */
  def overwrite(spark: SparkSession, tableDir: String, df: DataFrame,
      key: String, numFiles: Int, tags: Seq[(String, String)] = Nil): SnapshotCommit = {
    val table = new Path(tableDir)
    val v = latestVersion(spark, tableDir)
    val m = manifestOf(spark, tableDir, v)
    enforceConstraints(spark, tableDir, m, df, "INSERT OVERWRITE")
    val written = stage(spark, table, df, key, numFiles, df.schema, m)
    commit(spark, table, v + 1,
      m.next("overwrite", key, df.schema, Carry.Replace(written), tags))
    SnapshotCommit(v + 1,
      CowMergeReport(m.files.size, m.files.size, 0, written.files.size))
  }

  /** MERGE-ON-READ delete: commit `keys` as a delete vector — NO data
    * file is rewritten (every data line is carried by reference; the
    * report shows zero rewrites), so dropping 0.01% of a 100 TB table is
    * one small parquet write + one manifest create, against CoW's
    * footprint rewrite. Readers pay one anti-join until [[optimize]]
    * materializes. Successive calls consolidate into ONE vector file
    * (cost stays O(deleted keys), not O(delete commits)). Deleting an
    * absent key is a harmless no-op mask, same as MERGE's delete
    * semantics.
    */
  def deleteKeys(spark: SparkSession, tableDir: String, keys: DataFrame,
      key: String): SnapshotCommit = {
    val table = new Path(tableDir)
    val v = latestVersion(spark, tableDir)
    val m = manifestOf(spark, tableDir, v)
    val old = m.deletes
    val schema = schemaOf(spark, tableDir, v)
    // the vector holds the table's key type, whatever `keys` arrives as
    val keyType = schema(key).dataType
    val given = keys.select(col(key).cast(keyType))
    val all =
      if (old.isEmpty) given.distinct()
      else readDeleteKeys(spark, table, old, key, Some(keyType))
        .unionByName(given).distinct()
    val newDel = stageWith(spark, table)(writeClustered(all, Seq(key), 1, _))
    // every data file is carried by reference — its stat stamps too
    commitMetadata(spark, tableDir, v,
      m.next("delete", key, schema).copy(deletes = newDel))
  }

  /** OPTIMIZE: rewrite the table's footprint into `numFiles(footprint)`
    * freshly clustered files ([[stage]]) and commit them as the next
    * version. Old versions stay readable; the rewritten-away bytes are
    * reclaimed by [[vacuum]]'s retention policy, not by this call.
    *
    *  - No `where`: the footprint is every live file. Masked rows are
    *    materialized away, and the commit REPLACES the file set: delete
    *    vectors, Bloom sidecars and retired evolution chains drop.
    *  - `where`: FOOTPRINT-BOUNDED — only the files whose stamped
    *    intervals might hold rows matching the predicate (the same
    *    tri-state evaluation [[read]]'s FileIndex prunes with, run at the
    *    write side) plus, on a bucketed table, only the bucket
    *    directories a point predicate pins. Everything else is carried by
    *    reference, so a maintenance job on a 100 TB table whose hot key
    *    range is 0.5% of the files costs 0.5% of a full OPTIMIZE.
    *    Unstamped files are conservatively rewritten (they might match;
    *    rewriting also gives them stamps). Masked rows inside the
    *    footprint are materialized away, but the VECTOR IS KEPT even when
    *    the footprint is every file: carried files may still hold masked
    *    physical rows, and a stale entry for a physically absent key is
    *    read-correct (the anti-join misses nothing) and re-insert-correct
    *    ([[merge]]'s scoped-CoW purge re-checks physically). An empty
    *    footprint commits nothing and returns the current version.
    *  - `zorder`: the rewritten files cluster on the MORTON CURVE of
    *    those integer columns instead of the key ([[ZOrder.withZ]]; the
    *    per-dimension bit budget shrinks as `62 / k`), so footer min/max
    *    is narrow on EVERY dimension and scans filtered on any one of
    *    them skip files. Not on partitioned or bucketed tables (the
    *    rewrite would break their directory trees), and not with `where`
    *    (a partial rewrite would leave mixed clustering).
    *
    * `numFiles` sizes the rewrite from the footprint's file names: the
    * SQL command's byte rule ([[graft.sql.SnapshotDml.fileCount]]), or a
    * constant.
    */
  def optimize(spark: SparkSession, tableDir: String,
      numFiles: Seq[String] => Int,
      where: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None,
      zorder: Seq[String] = Nil): SnapshotCommit = {
    val table = new Path(tableDir)
    val v = latestVersion(spark, tableDir)
    val m = manifestOf(spark, tableDir, v)
    val key = keyOf(m, tableDir, v)
    if (zorder.nonEmpty) {
      require(where.isEmpty, "OPTIMIZE ZORDER cannot take a predicate: a " +
        "partial rewrite of a Morton layout would leave mixed clustering")
      require(m.partCols.isEmpty,
        "OPTIMIZE ZORDER is not supported on a partitioned table: a Morton " +
          "rewrite would break the Hive partition tree; compact per " +
          "partition (OPTIMIZE ... WHERE) instead")
      require(m.bucket.isEmpty,
        "OPTIMIZE ZORDER is not supported on a bucketed table: a Morton " +
          "rewrite would break the hash-bucket directories")
    }
    val (hit, carried) = where.fold((m.files, Seq.empty[String]))(footprint(spark, m, _))
    if (where.nonEmpty && hit.isEmpty)
      return SnapshotCommit(v, CowMergeReport(m.files.size, 0, m.files.size, 0))
    val (data, schema) = where match {
      case None =>
        val all = read(spark, tableDir, v)
        (all, all.schema)
      case Some(_) =>
        val schema = schemaOf(spark, tableDir, v)
        val hitData = readEra(spark, schema, m.physMap,
          hit.map(n => new Path(dataDir(table), n).toString))
        (if (m.deletes.isEmpty) hitData
        else hitData.join(readDeleteKeys(spark, table, m.deletes, key,
          Some(schema(key).dataType)), Seq(key), "left_anti"), schema)
    }
    val written = stage(spark, table, data, key, numFiles(hit), schema, m, zorder)
    val (op, carry) =
      if (where.nonEmpty) ("optimize-where", Carry.Keep(carried, written))
      else if (zorder.nonEmpty) ("optimize-zorder", Carry.Replace(written))
      else ("optimize", Carry.Replace(written))
    commit(spark, table, v + 1, m.next(op, key, schema, carry))
    SnapshotCommit(v + 1,
      CowMergeReport(m.files.size, hit.size, carried.size, written.files.size))
  }

  /** [[optimize]]'s WHERE footprint: (files to rewrite, files to carry). */
  private def footprint(spark: SparkSession, m: Manifest,
      pred: org.apache.spark.sql.catalyst.expressions.Expression): (Seq[String], Seq[String]) = {
    val resolver = spark.sessionState.conf.resolver
    val (stampHit, stampCarried) = m.files.partition { n =>
      m.stamps.get(n) match {
        case Some(fsStamp) if fsStamp.nonEmpty =>
          !graft.sources.SnapshotFileIndex.evalOnStamps(pred, fsStamp, resolver)
            .contains(false)
        case _ => true // unstamped: might match — rewrite (and gain stamps)
      }
    }
    // hash-bucket layout: a point predicate on the bucketed column scopes
    // the footprint to its bucket directories — the same exact pruning
    // the read-side FileIndex runs, at the write side, where range stamps
    // are structurally blind on a uniform hash key
    val bucketSkipped = m.bucket match {
      case Some((c, n)) =>
        val colType = m.schema.flatMap(s => s.fields.find(f => resolver(f.name, c)).map(_.dataType))
        colType.flatMap(t => graft.sources.SnapshotFileIndex.pointBuckets(
          Seq(pred), c, t, n, resolver)) match {
          case Some(bs) =>
            stampHit.filterNot(nm => bucketOfName(nm).forall(bs.contains)).toSet
          case None => Set.empty[String]
        }
      case None => Set.empty[String]
    }
    (stampHit.filterNot(bucketSkipped), stampCarried ++ stampHit.filter(bucketSkipped))
  }

  /** Total bytes of the data files `names` of `tableDir` — what OPTIMIZE
    * sizes its rewrite from and DESCRIBE DETAIL reports; one status call
    * per file, never a directory listing.
    */
  private[graft] def dataBytes(spark: SparkSession, tableDir: String, names: Seq[String]): Long = {
    val table = new Path(tableDir)
    val hfs = fs(spark, table)
    names.map(n => hfs.getFileStatus(new Path(dataDir(table), n)).getLen).sum
  }

  /** The shared CDC machinery: the A-part full-outer join over the two
    * manifests' file diff with the `op` column attached (null = a row CoW
    * rewrote without change — both images equal), the payload column
    * list, and the B-part full BEFORE rows (merge-on-read deletes — keys
    * newly masked in v1 whose physical row lives in a SHARED data file,
    * where no file diff can catch them; footer-pruned to the masked keys'
    * footprint, semi-joined so masking an absent key is not a change).
    * A and B are disjoint by the single-physical-copy invariant: a key's
    * row is either in the diff (A) or shared (B), and un-delete without a
    * file rewrite cannot happen ([[merge]] purges a mask only after
    * rewriting the masked row's file).
    */
  private def cdcParts(spark: SparkSession, tableDir: String, v0: Long,
      v1: Long, key: String): (DataFrame, Seq[String], Option[DataFrame]) = {
    val man0 = manifestOf(spark, tableDir, v0)
    val man1 = manifestOf(spark, tableDir, v1)
    val m0 = man0.files.toSet
    val m1 = man1.files.toSet
    val table = new Path(tableDir)
    val sch0 = man0.schema
    val sch1 = man1.schema
    val keyType = sch1.orElse(sch0).flatMap(_.find(_.name == key)).map(_.dataType)
    def delKeysOf(m: Manifest): Option[DataFrame] =
      if (m.deletes.isEmpty) None
      else Some(readDeleteKeys(spark, table, m.deletes, key, keyType))
    def maskWith(df: DataFrame, dk: Option[DataFrame]): DataFrame =
      dk.fold(df)(k => df.join(k, Seq(key), "left_anti"))
    val dk0 = delKeysOf(man0)
    val dk1 = delKeysOf(man1)
    // both sides read in v1's LOGICAL space, through a physmap composed
    // over the WHOLE window: v1's own chains don't suffice, because a
    // full rewrite inside (v0, v1] retires them while the before side
    // still reads v0-era files — so each rename commit's (from, to)
    // ([[Manifest.renamedColumn]]) is replayed backwards from v1's names
    // and unioned with both endpoint maps (one manifest read per window
    // version). A pre-rename before-image then surfaces
    // under the CURRENT column name; columns v1 gained read null on the
    // old side (the existing alignment semantic) and columns v1 dropped
    // are simply absent from the diff.
    val pm1: Map[String, Seq[String]] = {
      val pmEnd = man1.physMap
      val pmStart = man0.physMap
      val renames = versions(spark, tableDir)
        .filter(x => x > v0 && x <= v1).sorted
        .flatMap(x => manifestOf(spark, tableDir, x).renamedColumn)
      sch1 match {
        case Some(s) if renames.nonEmpty || pmEnd.nonEmpty || pmStart.nonEmpty =>
          val composed = s.fieldNames.toSeq.map { f =>
            var name = f
            val prior = scala.collection.mutable.ArrayBuffer.empty[String]
            renames.reverse.foreach { case (from, to) =>
              if (to == name) { prior += from; name = from }
            }
            f -> (pmEnd.getOrElse(f, Seq.empty) ++ prior ++
              pmStart.getOrElse(name, Seq.empty)).distinct.filterNot(_ == f)
          }.filter(_._2.nonEmpty).toMap
          // a chain entry that is ALSO a live v1 column means the window
          // spans a retire (full rewrite) and a re-ADD of the same name:
          // the era read cannot tell old physical values of the chain
          // apart from the re-added column's own — eraSchema would even
          // duplicate the field. No silent filter (before-images would
          // quietly read null); fail with the fix.
          val live = s.fieldNames.toSet
          composed.foreach { case (f, chain) =>
            chain.find(live.contains).foreach(c =>
              throw new IllegalStateException(
                s"CDC window ($v0, $v1] of $tableDir spans the retirement " +
                  s"and re-introduction of column name '$c' (live at $v1 " +
                  s"but also a prior physical name of '$f') — the era " +
                  "read cannot disambiguate the two meanings; narrow the " +
                  "window to end before the re-ADD (or start after it)"))
          }
          composed
        case _ => pmEnd
      }
    }
    def readNames(ns: Iterable[String], sch: Option[StructType]): DataFrame =
      if (ns.isEmpty) read(spark, tableDir, v1).where(lit(false))
      else sch match {
        case Some(s) => readEra(spark, s, pm1,
          ns.map(n => new Path(dataDir(table), n).toString).toSeq)
        case None => spark.read
          .parquet(ns.map(n => new Path(dataDir(table), n).toString).toSeq: _*)
      }

    // A-part: rows whose DATA FILE is in exactly one version, each side
    // under its own version's delete mask. The BEFORE side is aligned to
    // v1's logical schema — columns the table gained between the versions
    // read as null on the old side, so an update that populated a new
    // column reports null -> value, exactly the semantic change.
    val after = maskWith(readNames(m1 -- m0, sch1), dk1)
    val before0 = maskWith(readNames(m0 -- m1, sch1.orElse(sch0)), dk0)
    val before = after.columns.filterNot(before0.columns.contains)
      .foldLeft(before0)((df, c) =>
        df.withColumn(c, lit(null).cast(after.schema(c).dataType)))
    val payload = after.columns.filterNot(_ == key).toSeq
    val b = before.as("b")
    val a = after.as("a")
    // foldLeft, not reduce: a key-only table has no payload columns, and
    // its rows genuinely cannot "change" — updates are impossible, so the
    // changed predicate is the false literal, not an empty-reduce crash
    val changed = payload.map(c => !(col(s"b.$c") <=> col(s"a.$c")))
      .foldLeft(lit(false))(_ || _)
    val joined = b.join(a, col(s"b.$key") === col(s"a.$key"), "full_outer")
      .withColumn("op",
        when(col(s"a.$key").isNull, Merge.OpDelete)
          .when(col(s"b.$key").isNull, Merge.OpInsert)
          .when(changed, Merge.OpUpdate))

    val bRows: Option[DataFrame] = dk1.map(k1 => maskWith(k1, dk0)).flatMap { newlyMasked =>
      val shared = m0 & m1
      if (shared.isEmpty) None
      else {
        val sharedRanges = keyIntervals(spark, tableDir, v1, key)
          .filter { case (f, _) => shared(relName(table, f)) }
        val hit = matchFiles(spark, sharedRanges, newlyMasked)
        if (hit.isEmpty) None
        else {
          val raw = sch1 match {
            case Some(s) => readEra(spark, s, pm1, hit)
            case None    => spark.read.parquet(hit: _*)
          }
          Some(raw.join(newlyMasked, Seq(key), "left_semi")
            .select(col(key) +: payload.map(col): _*))
        }
      }
    }
    (joined, payload, bRows)
  }

  /** Changed rows between two committed versions, computed from the
    * manifests' FILE DIFF: only files present in exactly one of the two
    * versions are read. Output: `op` ([[Merge]]'s constants), the key,
    * and the after-image payload (null for deletes); rows rewritten
    * without change cancel in the key join and are not emitted.
    */
  def cdc(spark: SparkSession, tableDir: String, v0: Long, v1: Long,
      key: String): DataFrame = {
    val (joined, payload, bRows) = cdcParts(spark, tableDir, v0, v1, key)
    val aPart = joined
      .where(col("op").isNotNull)
      .select(col("op") +: coalesce(col(s"b.$key"), col(s"a.$key")).as(key) +:
        payload.map(c => col(s"a.$c").as(c)): _*)
    val bPart = bRows.map { rows =>
      val nulled = payload.map(c =>
        lit(null).cast(rows.schema(c).dataType).as(c))
      rows.select(lit(Merge.OpDelete).as("op") +: col(key) +: nulled: _*)
    }
    bPart.fold(aPart)(bp => aPart.unionByName(bp.select(aPart.columns.map(col): _*)))
  }

  /** [[cdc]] re-shaped as SIGNED change images — the input incremental
    * view maintenance wants ([[IncrementalView.applyCdc]]): one row per
    * image in the table's own schema plus `__sign`: every vanished row
    * (delete, or the BEFORE side of an update) at -1, every appeared row
    * (insert, or the AFTER side of an update) at +1. Rows rewritten
    * without change emit nothing, so any additive aggregate maintained
    * from this stream moves by exactly the semantic delta. Same file-diff
    * scan bound as [[cdc]]: only non-shared files (plus the masked-key
    * footprint of shared files) are ever read.
    */
  def cdcSigned(spark: SparkSession, tableDir: String, v0: Long, v1: Long,
      key: String): DataFrame = {
    val (joined, payload, bRows) = cdcParts(spark, tableDir, v0, v1, key)
    val minus = joined.where(col("op").isin(Merge.OpDelete, Merge.OpUpdate))
      .select(col(s"b.$key").as(key) +: payload.map(c => col(s"b.$c").as(c)) :+
        lit(-1).as("__sign"): _*)
    val plus = joined.where(col("op").isin(Merge.OpInsert, Merge.OpUpdate))
      .select(col(s"a.$key").as(key) +: payload.map(c => col(s"a.$c").as(c)) :+
        lit(1).as("__sign"): _*)
    val aPart = minus.unionByName(plus)
    bRows.fold(aPart)(rows =>
      aPart.unionByName(rows.withColumn("__sign", lit(-1))))
  }

  /** Re-run `plan` on [[ConcurrentCommitException]] — the optimistic-
    * concurrency retry loop every multi-writer deployment needs: `plan`
    * must RE-READ the table state each attempt (every committing op here
    * does — [[merge]]/[[deleteKeys]]/[[optimize]] resolve `latestVersion`
    * on entry), so the loser of a version race re-plans against the
    * winner's manifest instead of blindly re-creating the same file.
    * Only the race signal retries; any other failure propagates on the
    * first throw (see [[commit]]'s exception discipline).
    */
  def commitWithRetry[A](maxAttempts: Int = 5)(plan: => A): A = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 1
    while (true) {
      try return plan
      catch {
        case e: ConcurrentCommitException =>
          if (attempt >= maxAttempts) throw e
          attempt += 1
      }
    }
    sys.error("unreachable")
  }

  /** Grace window [[vacuum]] applies before reclaiming an UNREFERENCED
    * file: a concurrent commit stages its data files under `data/`
    * BEFORE its manifest create, so a zero-grace sweep could delete an
    * in-flight commit's files and leave the winning manifest referencing
    * nothing. 15 minutes bounds the stage-to-commit window of any sane
    * writer by orders of magnitude.
    */
  val DefaultVacuumGraceMs: Long = 15L * 60 * 1000

  /** RESTORE: commit `toVersion`'s exact state as the NEW latest version
    * — one manifest write referencing that version's data files, delete
    * vectors, schema/key stamps and per-file stat stamps, all by name
    * (nothing moves; the restored-over versions stay time-travel
    * readable until vacuumed, so a restore is itself undoable by another
    * restore). This is the recovery path time travel exists for: a bad
    * merge on a 100 TB table is undone at metadata cost. Requires
    * `toVersion` to still be retained (vacuumed versions cannot come
    * back — their files are gone).
    */
  def restore(spark: SparkSession, tableDir: String, toVersion: Long): SnapshotCommit = {
    val latest = latestVersion(spark, tableDir)
    require(versions(spark, tableDir).contains(toVersion),
      s"version $toVersion of $tableDir is not committed (or was vacuumed)")
    val to = manifestOf(spark, tableDir, toVersion)
    val key = keyOf(to, tableDir, toVersion)
    val schema = schemaOf(spark, tableDir, toVersion)
    val live = manifestOf(spark, tableDir, latest)
    // the LIVE constraint set rides the restore (see the carry below) —
    // which is only coherent if the restored schema still resolves every
    // expr; a restore past a rename/drop that a constraint references
    // must say so, not poison every later write with an analysis error
    locally {
      val resolver = spark.sessionState.conf.resolver
      live.constraints.foreach { case (n, e) =>
        constraintRefs(spark, e).foreach(c =>
          require(schema.fieldNames.exists(resolver(_, c)),
            s"cannot RESTORE $tableDir to version $toVersion: live " +
              s"constraint $n CHECK ($e) references column $c, which " +
              s"that version's schema lacks — DROP CONSTRAINT $n first"))
      }
    }
    // the restored rows are not revalidated against the live constraint
    // set the restore keeps — the documented Delta-style asymmetry; ADD
    // CONSTRAINT is the only full-table validation
    commitMetadata(spark, tableDir, latest,
      live.next(s"restore from=$toVersion", key, schema, Carry.Restore(to)))
  }

  /** ALTER TABLE's metadata-only schema commit: the next version carries
    * the SAME file set (and delete vectors and per-file stat stamps —
    * all by reference) under a WIDER stamped schema. No data
    * moves: files older than the new schema read THROUGH it, the added
    * columns null — the same read-through contract schema-evolving
    * merges already rely on ([[tableSchema]]). On a 100 TB table this is
    * one manifest write; prior versions keep their own narrower stamp
    * (time travel shows the schema of its era).
    *
    * Only ADDITIVE evolution is offered. New fields must be nullable
    * (every existing row has no value). Drops are rejected because
    * read-through resolves parquet columns BY NAME: re-adding a
    * previously-dropped name would resurrect the old physical values in
    * old files — the failure Delta prevents with column-mapping ids;
    * without ids, refusing the drop is the honest contract. Renames and
    * type changes are rejected for the same physical reason.
    */
  def addColumns(spark: SparkSession, tableDir: String,
      added: Seq[org.apache.spark.sql.types.StructField]): SnapshotCommit = {
    require(added.nonEmpty, "ALTER TABLE ADD COLUMNS: no columns given")
    val v = latestVersion(spark, tableDir)
    val m = manifestOf(spark, tableDir, v)
    val key = keyOf(m, tableDir, v)
    val cur = schemaOf(spark, tableDir, v)
    val resolver = spark.sessionState.conf.resolver
    added.foreach { f =>
      require(f.nullable,
        s"new column ${f.name} must be nullable: existing rows have no value for it")
      require(!cur.fieldNames.exists(resolver(_, f.name)),
        s"column ${f.name} already exists")
      require(f.name != Merge.SetNullCol,
        s"column name ${Merge.SetNullCol} is reserved for the UPDATE " +
          "SET-NULL changeset sidecar")
    }
    val blocked = blockedNames(m)
    added.foreach(f => require(!blocked.exists(resolver(_, f.name)),
      s"column name ${f.name} was previously dropped or renamed away and " +
        "live files still hold its old physical values — re-introducing it " +
        "would resurrect them; OPTIMIZE the table first (a full rewrite " +
        "retires the tombstone)"))
    commitMetadata(spark, tableDir, v,
      m.next("altertable", key, StructType(cur.fields ++ added)))
  }

  /** `ALTER TABLE RENAME COLUMN` as a METADATA-ONLY commit (see the
    * physmap design note above [[physMap]]): same file set, schema
    * renamed, the old name recorded as the column's physical-name chain,
    * per-file stat stamps REMAPPED to the new name (an interval describes
    * values — a rename doesn't change them, so old files stay prunable by
    * predicate-scoped maintenance under the new name). The table key and
    * partition columns cannot be renamed: every delete vector, range
    * stamp and clustering invariant is keyed on the former, and the
    * latter ARE directory names. The old name joins the blocked set until
    * a full rewrite retires the chain.
    */
  def renameColumn(spark: SparkSession, tableDir: String, from: String,
      to: String): SnapshotCommit = {
    val v = latestVersion(spark, tableDir)
    val m = manifestOf(spark, tableDir, v)
    val key = keyOf(m, tableDir, v)
    val cur = schemaOf(spark, tableDir, v)
    val resolver = spark.sessionState.conf.resolver
    require(cur.fieldNames.exists(resolver(_, from)),
      s"RENAME COLUMN: no column $from in ${cur.fieldNames.mkString(",")}")
    require(!cur.fieldNames.exists(resolver(_, to)),
      s"RENAME COLUMN: column $to already exists")
    require(!resolver(from, key),
      s"renaming the table key $key is not supported: delete vectors, " +
        "range stamps and key clustering are all keyed on it")
    require(!m.partCols.exists(resolver(_, from)),
      s"renaming partition column $from is not supported: partition " +
        "values are directory names")
    require(!m.bucket.exists(b => resolver(b._1, from)),
      s"renaming bucket column $from is not supported: the bucket " +
        "layout is keyed on it")
    require(!to.contains(',') && !to.contains(':') && !to.contains('/'),
      s"new column name not stamp-safe: '$to'")
    require(to != Merge.SetNullCol,
      s"column name ${Merge.SetNullCol} is reserved for the UPDATE " +
        "SET-NULL changeset sidecar")
    require(!blockedNames(m).exists(resolver(_, to)),
      s"column name $to was previously dropped or renamed away and live " +
        "files still hold its old physical values — OPTIMIZE the table " +
        "first (a full rewrite retires the tombstone)")
    val fromExact = cur.fieldNames.find(resolver(_, from)).get
    val next = StructType(cur.fields.map(f =>
      if (resolver(f.name, from)) f.copy(name = to) else f))
    // constraints follow the rename: exprs referencing the old name are
    // re-parsed, the attribute substituted, and the stamp re-emitted in
    // THIS commit — the table's contract survives its columns' renames
    val renamedCons = m.constraints.map { case (n0, e) =>
      // a NOT NULL ban tracks its column by NAME (notnull_<col>) so
      // DROP NOT NULL keeps finding it after the rename
      val n = if (n0.equalsIgnoreCase(s"notnull_$fromExact")) s"notnull_$to"
              else n0
      if (!constraintRefs(spark, e).exists(resolver(_, fromExact))) (n, e)
      else (n, spark.sessionState.sqlParser.parseExpression(e).transform {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.nameParts.length == 1 && resolver(a.nameParts.head, fromExact) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(to)
      }.sql)
    }
    commitMetadata(spark, tableDir, v,
      m.next(Manifest.renameOp(fromExact, to), key, next, Carry.Rename(fromExact, to))
        .copy(constraints = renamedCons))
  }

  /** `ALTER TABLE DROP COLUMN` as a METADATA-ONLY commit: same file set
    * under a narrower stamped schema — the physical values stay in the
    * files, unread (by-name resolution never selects them), and the name
    * plus its whole rename chain is TOMBSTONED so no later ADD/RENAME can
    * resurrect them; the tombstone retires at the next full rewrite. The
    * dropped column's stat stamps are invalidated with it (no predicate
    * can reference the name again while the tombstone lives).
    */
  def dropColumn(spark: SparkSession, tableDir: String,
      name: String): SnapshotCommit = {
    val v = latestVersion(spark, tableDir)
    val m = manifestOf(spark, tableDir, v)
    val key = keyOf(m, tableDir, v)
    val cur = schemaOf(spark, tableDir, v)
    val resolver = spark.sessionState.conf.resolver
    require(cur.fieldNames.exists(resolver(_, name)),
      s"DROP COLUMN: no column $name in ${cur.fieldNames.mkString(",")}")
    require(!resolver(name, key), s"cannot drop the table key $key")
    require(!m.partCols.exists(resolver(_, name)),
      s"cannot drop partition column $name: partition values are " +
        "directory names")
    require(!m.bucket.exists(b => resolver(b._1, name)),
      s"cannot drop bucket column $name: the bucket layout is keyed on it")
    val nameExact = cur.fieldNames.find(resolver(_, name)).get
    m.constraints.foreach { case (n, e) =>
      require(!constraintRefs(spark, e).exists(resolver(_, nameExact)),
        s"cannot drop column $nameExact: constraint $n CHECK ($e) " +
          s"references it — DROP CONSTRAINT $n first")
    }
    val next = StructType(cur.fields.filterNot(f => resolver(f.name, name)))
    commitMetadata(spark, tableDir, v,
      m.next(s"drop-column $nameExact", key, next, Carry.Drop(nameExact)))
  }

  /** Delete manifests below `retainFrom` and every data file no retained
    * manifest references (expired versions' exclusive files + crash
    * orphans never committed), plus crashed `.stage-*` scratch dirs.
    * Returns (manifests deleted, data files deleted — staged scratch
    * files included).
    *
    * Reader contract: versions >= retainFrom stay fully readable forever;
    * a time-travel read of a version being EXPIRED by this call is only
    * safe while the files it scans survive — pin retention (retainFrom)
    * at or below the oldest version any in-flight reader holds, exactly
    * Delta's retention-duration rule. Unreferenced files younger than
    * `graceMs` are NEVER deleted (nor are young scratch dirs): they may
    * be an in-flight commit's staged output, invisible only because its
    * manifest hasn't landed yet (see [[DefaultVacuumGraceMs]]).
    */
  def vacuum(spark: SparkSession, tableDir: String, retainFrom: Long,
      graceMs: Long = DefaultVacuumGraceMs): (Int, Int) = {
    val table = new Path(tableDir)
    val hfs = fs(spark, table)
    val (expired, retained) = versions(spark, tableDir).partition(_ < retainFrom)
    require(retained.nonEmpty, s"vacuum would delete every version of $tableDir")
    manifestCache.invalidateIf { case (d, ver) =>
      d == tableDir && ver < retainFrom }
    val live = retained.flatMap { v =>
      val m = manifestOf(spark, tableDir, v)
      m.files ++ m.deletes ++ m.blooms
    }.toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val dataUri = java.net.URI.create(
      hfs.makeQualified(dataDir(table)).toUri.toString + "/")
    val dead = listDataFiles(hfs, dataDir(table)).flatMap { st =>
      val rel = dataUri.relativize(st.getPath.toUri).getPath
      if (!live(rel) && st.getModificationTime < cutoff) Some(rel) else None
    }
    dead.foreach(n => hfs.delete(new Path(dataDir(table), n), false))
    // crashed stage scratch: a writer that died between stageWith's write
    // and its renames leaves a .stage-* dir no manifest will ever
    // reference — reclaim it under the same grace window
    val staleStages = hfs.listStatus(table).toSeq
      .filter(st => st.getPath.getName.startsWith(".stage-") &&
        st.getModificationTime < cutoff)
    var nStaged = 0
    staleStages.foreach { st =>
      nStaged += hfs.listStatus(st.getPath).length
      hfs.delete(st.getPath, true)
    }
    expired.foreach(v => hfs.delete(manifestPath(table, v), false))
    (expired.size, dead.size + nStaged)
  }
}
