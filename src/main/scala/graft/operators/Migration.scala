package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PathFns._

/** The reference pipeline (labkode/cernbox-migration-database main.go:241-322)
  * re-expressed as declarative Spark lineage:
  *
  *   scan -> filter/project (pushed) -> enrichment JOIN against a namespace
  *   snapshot -> 3-way router (when/otherwise) -> versions-folder resolution
  *   JOIN on a *derived* key -> change-set / audit / error side-outputs ->
  *   functional keyed update.
  *
  * The reference does a per-row RPC point lookup per share (main.go:272) under
  * a 20-wide semaphore (main.go:260-271); at 100 TB that's the architecture
  * that dies first. Here the EOS namespace is a DataFrame (bulk snapshot or
  * DSv2 source) and every lookup becomes one equi-join that Catalyst plans as
  * broadcast or shuffled hash join — no driver materialization, no per-row
  * subprocess.
  *
  * Null semantics diverge deliberately from the reference (documented in
  * SURVEY §7.3): `file_source IS NULL` would be silently looked up as inode 0
  * (main.go:272, `.Int64` on an invalid NullInt64); we route it to the error
  * side-output instead.
  */
object Migration {

  /** Decision labels, mirroring the reference's audit lines (main.go:281,285,289,309). */
  object Decision {
    val AlreadyMigrated = "ALREADY_MIGRATED" // main.go:280-283
    val NotUnderHome    = "NOT_UNDER_HOME"   // main.go:284-287
    val Version         = "VERSION"          // main.go:288-303
    val Regular         = "REGULAR"          // main.go:304-315
    val ErrorMissing    = "ERROR_MISSING_META" // lookup miss / null key (main.go:273)
    val ErrorNoFolder   = "ERROR_MISSING_VERSIONS_FOLDER" // main.go:292-294
  }

  /** S1 twin (main.go:86-97): filter + 6/16-column projection + sort, all of
    * which Catalyst pushes into the scan (PushedFilters + ReadSchema).
    */
  def scanShares(shares: DataFrame, user: Option[String] = None): DataFrame = {
    val base = shares
      .where(col("share_type") === 3 && col("item_type") === "file")
    val filtered = user.fold(base)(u => base.where(col("uid_owner") === u))
    filtered
      .select("id", "share_type", "item_source", "item_target", "file_source", "file_target")
      .orderBy("id")
  }

  /** J1 (main.go:272): enrich each share with namespace metadata, keyed on
    * inode. A left join so misses stay visible for the error channel (K4).
    * `ns` columns are prefixed `meta_` to keep the output schema stable.
    */
  def enrich(shares: DataFrame, ns: DataFrame): DataFrame = {
    val meta = ns.select(
      col("ino").as("meta_ino"), col("file").as("meta_path"),
      col("uid").as("meta_uid"), col("gid").as("meta_gid"),
      col("size").as("meta_size"))
    shares.join(meta, shares("file_source") === meta("meta_ino"), "left")
  }

  /** C1 (main.go:280-315): the 3-way router as one `when` chain — a single
    * pass, never three re-scans. Order of the guards matches the reference.
    */
  def route(enriched: DataFrame, userPrefix: String = "/eos/scratch/user/"): DataFrame =
    enriched.withColumn("decision",
      when(col("meta_ino").isNull, Decision.ErrorMissing)
        .when(isVersionsFolder(col("meta_path")), Decision.AlreadyMigrated)
        .when(!underPrefix(col("meta_path"), userPrefix), Decision.NotUnderHome)
        .when(pointsToVersion(col("meta_path")), Decision.Version)
        .otherwise(Decision.Regular))

  /** J2/J3 (main.go:141-146, 290-291): resolve the versions FOLDER for every
    * share that needs an update, via ONE join on a decision-dependent derived
    * key (dirname for VERSION rows, `dir/.sys.v#.base` for REGULAR rows) —
    * one shuffle instead of two filtered re-joins.
    *
    * `createdInode(id)` simulates the reference's create-if-absent
    * (main.go:148-173): when a REGULAR row's versions folder is missing from
    * the namespace, the connector would create it; functionally we assign it
    * a deterministic inode so the change-set is still a pure function of the
    * inputs. At runtime this Column is replaced by the connector's read-back.
    */
  def resolveVersionsFolder(routed: DataFrame, ns: DataFrame,
                            createdInode: Column): DataFrame = {
    val folders = ns.select(col("ino").as("vf_ino"), col("file").as("vf_path"))
    val lookupKey =
      when(col("decision") === Decision.Version, pathDirname(col("meta_path")))
        .when(col("decision") === Decision.Regular, versionsPath(col("meta_path")))
        .otherwise(lit(null).cast("string"))
    routed
      .withColumn("vf_key", lookupKey)
      .join(folders, col("vf_key") === col("vf_path"), "left")
      .withColumn("versions_ino",
        when(col("decision") === Decision.Version, col("vf_ino"))
          .when(col("decision") === Decision.Regular,
            coalesce(col("vf_ino"), createdInode))
          .otherwise(lit(null).cast("long")))
      .withColumn("versions_path",
        when(col("decision") === Decision.Version, col("vf_path"))
          .when(col("decision") === Decision.Regular,
            coalesce(col("vf_path"), col("vf_key")))
          .otherwise(lit(null).cast("string")))
      .drop("vf_ino", "vf_path", "vf_key")
  }

  /** K1 change-set (main.go:218,228): the four rewritten columns, with the
    * reference's exact int->string / "/"-prefix formatting.
    */
  def changeset(resolved: DataFrame): DataFrame =
    resolved
      .where(col("versions_ino").isNotNull)
      .select(
        col("id"),
        col("versions_ino").cast("string").as("new_item_source"),
        concat(lit("/"), col("versions_ino").cast("string")).as("new_item_target"),
        col("versions_ino").as("new_file_source"),
        concat(lit("/"), pathBasename(col("versions_path"))).as("new_file_target"))

  /** K3 audit side-output: one `(id, decision)` record per scanned share. */
  def audit(resolved: DataFrame): DataFrame =
    resolved.select(col("id"), col("decision"))

  /** The reference's per-share audit RECORD line (main.go:277), including the
    * F8 int->string formatting and the F10 `strconv.Quote`d EOS path.
    * Null-tolerant where the reference's NullInt64/NullString `.Int64`/
    * `.String` accessors yield zero values ("" / 0).
    */
  def auditLine(enriched: DataFrame): DataFrame =
    enriched
      .where(col("meta_ino").isNotNull)
      .select(col("id"), concat(
        lit("RECORD: "), col("id").cast("string"),
        lit(" info:file id:"), col("id").cast("string"),
        lit(" share_type:"), col("share_type").cast("string"),
        lit(" item_source:"), coalesce(col("item_source"), lit("")),
        lit(" item_target:"), coalesce(col("item_target"), lit("")),
        lit(" file_source:"), coalesce(col("file_source"), lit(0L)).cast("string"),
        lit(" file_target:"), coalesce(col("file_target"), lit("")),
        lit(" eospath:"), quoted(col("meta_path")),
        lit(" uid:"), col("meta_uid"), lit(" gid:"), col("meta_gid")).as("line"))

  /** K4 error side-output (continue-on-error): lookup misses and VERSION rows
    * whose parent folder vanished. The pipeline never fails for one row.
    */
  def errors(resolved: DataFrame): DataFrame =
    resolved
      .withColumn("error",
        when(col("decision") === Decision.ErrorMissing, Decision.ErrorMissing)
          .when(col("decision") === Decision.Version && col("versions_ino").isNull,
            Decision.ErrorNoFolder)
          .otherwise(lit(null).cast("string")))
      .where(col("error").isNotNull)
      .select(col("id"), col("error"))

  /** Functional keyed update (K1, main.go:222-238): join the change-set back
    * on the primary key and replace the four columns. The reference's
    * "exactly one row affected" assertion is structurally guaranteed here by
    * joining on the PK of the original table; dangling change-set ids can be
    * audited with an anti-join.
    */
  def applyChangeset(shares: DataFrame, cs: DataFrame): DataFrame =
    shares.join(cs, Seq("id"), "left")
      .withColumn("item_source", coalesce(col("new_item_source"), col("item_source")))
      .withColumn("item_target", coalesce(col("new_item_target"), col("item_target")))
      .withColumn("file_source", coalesce(col("new_file_source"), col("file_source")))
      .withColumn("file_target", coalesce(col("new_file_target"), col("file_target")))
      .drop("new_item_source", "new_item_target", "new_file_source", "new_file_target")

  /** K1 validation (main.go:232-238): the reference asserts every UPDATE hits
    * exactly one row and reports "share id does not exist anymore" otherwise.
    * Functionally that's an anti-join of the change-set against the target
    * table's primary key: every dangling id becomes an error record.
    * (≥2-rows-affected cannot happen here: `id` is the PK and the join is on
    * it — duplicates would surface in `applyChangeset` as a row explosion.)
    */
  val ErrorShareDeleted = "ERROR_SHARE_DELETED" // main.go:236 "does not exist anymore"
  def validateChangeset(cs: DataFrame, target: DataFrame): DataFrame =
    cs.join(target.select("id"), Seq("id"), "left_anti")
      .select(col("id"), lit(ErrorShareDeleted).as("error"))

  /** P7 (main.go:255-258): the reference aborts when the scan yields no rows.
    * Cheap at any scale: `isEmpty` only evaluates one partition until a row
    * is found — never a full count.
    */
  def requireNonEmpty(scanned: DataFrame): DataFrame = {
    if (scanned.isEmpty)
      throw new IllegalStateException("no shares found in the database (main.go:256)")
    scanned
  }

  /** C3 (main.go:156-172): retry-with-backoff for external connectors. The
    * reference hot-loops 5 reads with no sleep; this adds exponential backoff
    * with a deterministic cap. Used by connector code inside
    * `foreachPartition` and by the JDBC sink — never on the driver hot
    * path. `maxRetries` counts attempts (1 = no retry). A
    * `SQLNonTransientException` (duplicate key, missing table, bad SQL)
    * is rethrown at once: no retry can make it succeed.
    */
  def retryWithBackoff[T](maxRetries: Int = 5, initialDelayMs: Long = 100,
                          maxDelayMs: Long = 5000)(op: () => T): T = {
    var attempt = 0
    var delay = initialDelayMs
    while (true) {
      try return op()
      catch {
        case e: java.sql.SQLNonTransientException => throw e
        case e: Exception =>
          attempt += 1
          if (attempt >= maxRetries) throw e
          Thread.sleep(delay)
          delay = math.min(delay * 2, maxDelayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** K2 dry-run (main.go:31,219-221): plan-only mode materializes the
    * change-set (what WOULD be written) and skips the apply — the returned
    * table is byte-identical to the input.
    */
  def run(shares: DataFrame, ns: DataFrame, createdInode: Column,
          dryRun: Boolean = false,
          userPrefix: String = "/eos/scratch/user/",
          user: Option[String] = None): DataFrame = {
    val resolved = resolvedPipeline(shares, ns, createdInode, userPrefix, user)
    val cs = changeset(resolved)
    if (dryRun) shares else applyChangeset(shares, cs)
  }

  /** Whole pipeline: scan -> enrich -> route -> resolve. The three sinks
    * (changeset/audit/errors) all branch from the returned frame; callers
    * materializing more than one sink should write it as a stage table
    * first ([[Stage.table]]) so the decision-dependent derived columns are
    * computed once, not re-inlined into every sink projection.
    */
  def resolvedPipeline(shares: DataFrame, ns: DataFrame, createdInode: Column,
                       userPrefix: String = "/eos/scratch/user/",
                       user: Option[String] = None): DataFrame =
    resolveVersionsFolder(route(enrich(scanShares(shares, user), ns), userPrefix),
      ns, createdInode)
}
