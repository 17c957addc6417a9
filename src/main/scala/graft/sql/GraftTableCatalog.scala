package graft.sql

import java.util
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.operators.SnapshotLog

/** [[SnapshotLog]] tables as a first-class Spark catalog — the DSv2
  * `TableCatalog` surface and the one way SQL names a snapshot table: by
  * IDENTIFIER (`graft.db.t`), resolved afresh on every query:
  *
  * {{{
  *   spark.sql.catalog.graft=graft.sql.GraftTableCatalog
  *   spark.graft.catalog.location=/warehouse            // session conf
  *
  *   CREATE TABLE graft.t (id BIGINT, x BIGINT) TBLPROPERTIES ('key'='id')
  *   CREATE TABLE graft.agg TBLPROPERTIES ('key'='k') AS SELECT ...
  *   INSERT INTO graft.t SELECT ...        -- keyed insert-if-absent
  *   INSERT OVERWRITE graft.t SELECT ...   -- full-replacement commit
  *   SELECT * FROM graft.t                 -- always the LATEST version
  *   SELECT * FROM graft.t VERSION AS OF 3 -- loadTable(ident, version)
  *   SELECT * FROM graft.t TIMESTAMP AS OF '...' -- commit-stamp resolution
  *   MERGE INTO graft.t ... / UPDATE graft.t ... / DELETE FROM graft.t ...
  *   OPTIMIZE graft.t / VACUUM graft.t RETAIN 3 VERSIONS
  *   DESCRIBE HISTORY graft.t
  * }}}
  *
  * Identifier -> directory mapping is namespace-as-path under the base
  * location (`graft.db.t` -> `<base>/db/t`), so the catalog itself holds
  * NO state: existence is "has a committed manifest", listing is a
  * directory walk, and two sessions pointed at the same base location see
  * the same tables — the object-store-native layout, with all consistency
  * carried by the log's exclusive-create commits, never by this class.
  *
  * Integration is the standard lakehouse-extension split (the pattern
  * Delta Lake ships): the catalog resolves identifiers to [[
  * GraftSnapshotTable]]s, WRITES run through the DSv2 V1-fallback write
  * path ([[TableCapability.V1_BATCH_WRITE]] — `INSERT INTO` / CTAS /
  * `INSERT OVERWRITE` arrive as one driver-side DataFrame and commit
  * through [[SnapshotLog]]), and READS are planned by [[
  * GraftCatalogRelations]], an injected resolution rule that swaps the
  * relation for the version's parquet scan + delete-vector mask — so a
  * SELECT pays exactly the plan the DataFrame API pays (pushdown, pruning,
  * masks), not a row-at-a-time connector.
  *
  * The base location is read PER CALL from the active session
  * (`spark.graft.catalog.location`), falling back to the catalog's own
  * `spark.sql.catalog.graft.location` option: Spark caches catalog plugin
  * instances per name for the session's lifetime, and a boot-time-frozen
  * location would make the catalog untestable and un-repointable.
  */
class GraftTableCatalog extends TableCatalog with SupportsNamespaces {
  import GraftTableCatalog.LocationKey

  private var catalogName: String = _
  private var bootLocation: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    bootLocation = Option(options.get("location"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def base: String =
    spark.conf.getOption(LocationKey).orElse(bootLocation).getOrElse(
      throw new IllegalStateException(
        s"catalog $catalogName needs a base location: set $LocationKey " +
          s"(session conf) or spark.sql.catalog.$catalogName.location"))

  /** `graft.db.t` -> `<base>/db/t`. Parts must be path-safe: an
    * identifier that walks the filesystem (`..`, separators) is rejected
    * loudly — identifiers are names, not paths.
    */
  def tableDir(ident: Identifier): String = {
    val parts = ident.namespace.toSeq :+ ident.name
    parts.foreach { p =>
      require(p.nonEmpty && !p.contains("/") && !p.contains("\\") && p != "." &&
        p != "..", s"identifier part not path-safe: '$p'")
    }
    (base +: parts).mkString("/")
  }

  private def exists(dir: String): Boolean =
    SnapshotLog.versions(spark, dir).nonEmpty

  override def tableExists(ident: Identifier): Boolean = exists(tableDir(ident))

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!exists(dir)) throw new NoSuchTableException(ident)
    GraftSnapshotTable(catalogName, ident, dir, pinned = None)
  }

  /** `VERSION AS OF <v>` — the analyzer routes the time-travel suffix of a
    * catalog identifier here; the returned table is pinned and read-only.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!exists(dir)) throw new NoSuchTableException(ident)
    val v = version.toLong
    require(SnapshotLog.versions(spark, dir).contains(v),
      s"version $v of ${ident.name} is not committed (or was vacuumed)")
    GraftSnapshotTable(catalogName, ident, dir, pinned = Some(v))
  }

  /** `TIMESTAMP AS OF <ts>` — micros in, resolved to the latest version
    * whose commit stamp is at or before it ([[SnapshotLog.versionAt]]).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    if (!exists(dir)) throw new NoSuchTableException(ident)
    val v = SnapshotLog.versionAt(spark, dir, timestampMicros / 1000L)
    GraftSnapshotTable(catalogName, ident, dir, pinned = Some(v))
  }

  /** `CREATE TABLE [PARTITIONED BY (c, ...)]` — inits the log at version
    * 0 with an EMPTY file set of the declared schema. The table key comes
    * from `TBLPROPERTIES ('key'='<col>')`, defaulting to the first
    * column. IDENTITY partition transforms are honored: every write
    * commits its files under a Hive-style partition tree, partition
    * values are declared per file in the manifest, and reads prune
    * statically and dynamically (DPP) on them
    * ([[graft.sources.SnapshotFileIndex]]). Bucket/temporal transforms
    * (`days(ts)`, `bucket(n, c)`) are rejected — the log's second-level
    * layout lever is key clustering + Z-order, not derived partitions.
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    // identity column(s) OR one bucket(N, col) — the hash-layout lever
    // for uniform keys; temporal transforms (days(ts), ...) stay
    // rejected (the log's second-level lever is key clustering + Z-order)
    val (pcols, bucket) = partitions.toSeq match {
      case Seq(t) if t.name == "bucket" =>
        val refs = t.references
        require(refs.length == 1 && refs.head.fieldNames.length == 1,
          s"unsupported bucket reference ${t.describe}")
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value().isInstanceOf[Number] =>
            l.value().asInstanceOf[Number].intValue
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform without a bucket count: ${t.describe}"))
        (Nil, Some((refs.head.fieldNames.head, n)))
      case ts => (ts.map { t =>
        require(t.name == "identity",
          s"only identity PARTITIONED BY columns and bucket(N, col) are " +
            s"supported, got $t")
        val refs = t.references
        require(refs.length == 1 && refs.head.fieldNames.length == 1,
          s"unsupported partition reference ${t.describe}")
        refs.head.fieldNames.head
      }, None)
    }
    val dir = tableDir(ident)
    if (exists(dir)) throw new TableAlreadyExistsException(ident)
    val key = Option(properties.get("key")).getOrElse(schema.fieldNames.head)
    require(schema.fieldNames.contains(key),
      s"table property key='$key' is not a column of ${schema.fieldNames.mkString(",")}")
    pcols.foreach(c => require(schema.fieldNames.contains(c),
      s"PARTITIONED BY column $c is not a column of the schema"))
    bucket.foreach { case (c, _) => require(schema.fieldNames.contains(c),
      s"bucket column $c is not a column of the schema") }
    val empty = spark.createDataFrame(
      new util.ArrayList[org.apache.spark.sql.Row](), schema)
    SnapshotLog.init(spark, dir, empty, key, numFiles = 1,
      partitionBy = pcols, bucketBy = bucket)
    GraftSnapshotTable(catalogName, ident, dir, pinned = None)
  }

  /** `ALTER TABLE graft.t ADD COLUMNS / RENAME COLUMN / DROP COLUMN` —
    * all METADATA-ONLY commits:
    *
    *  - ADD ([[SnapshotLog.addColumns]]): same file set under a wider
    *    stamped schema, old files reading the new columns as null.
    *  - RENAME ([[SnapshotLog.renameColumn]]): schema renamed, the old
    *    name recorded as a physical-name chain the read path coalesces
    *    through (pre-rename files keep their bytes); the table key and
    *    partition columns cannot be renamed.
    *  - DROP ([[SnapshotLog.dropColumn]]): schema narrowed, the name (and
    *    its rename chain) tombstoned against re-introduction until a full
    *    rewrite retires the old physical values — the id-free answer to
    *    the resurrection hazard Delta's column-mapping ids exist for.
    *
    * Type changes / property changes stay rejected (a retype would
    * misread old physical values). MERGE WITH SCHEMA EVOLUTION remains
    * the DML-side way a table widens.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!exists(dir)) throw new NoSuchTableException(ident)
    changes.toList match {
      case (r: TableChange.RenameColumn) :: Nil =>
        require(r.fieldNames.length == 1,
          s"nested column renames are not supported: ${r.fieldNames.mkString(".")}")
        SnapshotLog.renameColumn(spark, dir, r.fieldNames.head, r.newName)
      case ds if ds.nonEmpty && ds.forall(_.isInstanceOf[TableChange.DeleteColumn]) =>
        ds.foreach { case d: TableChange.DeleteColumn =>
          require(d.fieldNames.length == 1,
            s"nested column drops are not supported: ${d.fieldNames.mkString(".")}")
          SnapshotLog.dropColumn(spark, dir, d.fieldNames.head)
        }
      case as if as.nonEmpty && as.forall(_.isInstanceOf[TableChange.AddColumn]) =>
        val added = as.map { case add: TableChange.AddColumn =>
          require(add.fieldNames.length == 1,
            s"nested column adds are not supported: ${add.fieldNames.mkString(".")}")
          require(add.isNullable,
            s"ADD COLUMNS ${add.fieldNames.head}: new columns must be nullable " +
              "(existing rows have no value for them)")
          StructField(add.fieldNames.head, add.dataType, nullable = true)
        }
        SnapshotLog.addColumns(spark, dir, added)
      case other =>
        throw new UnsupportedOperationException(
          s"ALTER TABLE on snapshot tables supports ADD COLUMNS, RENAME " +
            s"COLUMN and DROP COLUMN, got " +
            other.map(_.getClass.getSimpleName).mkString(",") +
            ": type changes would misread old physical columns " +
            "(no column-mapping ids)")
    }
    GraftSnapshotTable(catalogName, ident, dir, pinned = None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!exists(dir)) return false
    SnapshotLog.invalidateManifestCache(dir)
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    if (!exists(from)) throw new NoSuchTableException(oldIdent)
    val to = tableDir(newIdent)
    if (exists(to)) throw new TableAlreadyExistsException(newIdent)
    SnapshotLog.invalidateManifestCache(from)
    val hfs = new Path(from).getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.mkdirs(new Path(to).getParent)
    require(hfs.rename(new Path(from), new Path(to)),
      s"rename $from -> $to failed")
  }

  // ---- SupportsNamespaces: namespaces ARE directories ----------------
  //
  // `CREATE NAMESPACE graft.db` = mkdir, `SHOW NAMESPACES` = directory
  // walk (a namespace is any directory that is not itself a table),
  // `DROP NAMESPACE` = delete-if-empty. Stateless like everything else
  // here: two sessions pointed at one base location see one truth, and
  // namespace metadata/properties are intentionally unsupported (a
  // directory carries none).

  private def nsDir(namespace: Array[String]): Path =
    new Path((base +: namespace.toSeq).mkString("/"))

  override def namespaceExists(namespace: Array[String]): Boolean = {
    if (namespace.isEmpty) return true
    val p = nsDir(namespace)
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.exists(p) && hfs.getFileStatus(p).isDirectory && !exists(p.toString)
  }

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val p = nsDir(namespace)
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hfs.exists(p)) {
      if (namespace.isEmpty) return Array.empty
      throw new NoSuchNamespaceException(namespace.toSeq)
    }
    hfs.listStatus(p).toSeq
      .filter(st => st.isDirectory && !exists(st.getPath.toString) &&
        !SnapshotLog.isLayoutDir(st.getPath.getName))
      .map(st => namespace :+ st.getPath.getName)
      .toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace.toSeq)
    val m = new util.HashMap[String, String]()
    m.put("location", nsDir(namespace).toString)
    m
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    namespace.foreach { p =>
      require(p.nonEmpty && !p.contains("/") && !p.contains("\\") && p != "." &&
        p != "..", s"namespace part not path-safe: '$p'")
    }
    val p = nsDir(namespace)
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hfs.exists(p)) throw new org.apache.spark.sql.catalyst.analysis
      .NamespaceAlreadyExistsException(namespace)
    require(hfs.mkdirs(p), s"mkdir $p failed")
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "namespaces are plain directories; they carry no alterable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace.toSeq)
    if (!cascade && (listTables(namespace).nonEmpty || listNamespaces(namespace).nonEmpty))
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    val p = nsDir(namespace)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Listing = one directory walk under the namespace: a table is any
    * child directory with a committed manifest. Metadata-only, no state.
    */
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = new Path((base +: namespace.toSeq).mkString("/"))
    val hfs = nsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hfs.exists(nsDir)) {
      if (namespace.isEmpty) return Array.empty
      throw new NoSuchNamespaceException(namespace.toSeq)
    }
    hfs.listStatus(nsDir).toSeq
      .filter(st => st.isDirectory && exists(st.getPath.toString))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }
}

object GraftTableCatalog {

  /** Session conf key for the warehouse root the catalog maps
    * identifiers under. Read per call — see the class doc.
    */
  val LocationKey = "spark.graft.catalog.location"

  /** Run `body` with `spark`'s `graft` catalog pointed at the warehouse
    * root `location`, then restore the session's previous location, or
    * unset it if there was none. Also registers the catalog class: a
    * session that [[graft.GraftSession]] did not build lacks it. A plan
    * analyzed inside `body` keeps the tables it resolved there.
    */
  def withLocation[A](spark: SparkSession, location: String)(body: => A): A = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftTableCatalog].getName)
    val previous = spark.conf.getOption(LocationKey)
    spark.conf.set(LocationKey, location)
    try body
    finally previous.fold(spark.conf.unset(LocationKey))(spark.conf.set(LocationKey, _))
  }
}

/** A [[SnapshotLog]] table resolved through [[GraftTableCatalog]] —
  * optionally PINNED at a time-travel version. Schema is the version's
  * manifest-stamped logical schema (one metadata read at loadTable time,
  * never a footer sweep). Capabilities:
  *
  *  - [[TableCapability.V1_BATCH_WRITE]]: `INSERT INTO` appends through
  *    [[SnapshotLog.merge]] as an all-`insert` changeset — on a KEYED
  *    table that is INSERT-IF-ABSENT (an existing key is a no-op, exactly
  *    MERGE's NOT MATCHED contract); use MERGE/UPDATE to change existing
  *    rows. The write arrives as one driver-side DataFrame (the V1
  *    fallback seam) and commits atomically; the data write itself is
  *    fully distributed.
  *  - [[TableCapability.TRUNCATE]]: `INSERT OVERWRITE` becomes a
  *    full-replacement commit ([[SnapshotLog.overwrite]]) — prior
  *    versions stay time-travel-readable until vacuumed.
  *
  *  - [[TableCapability.MICRO_BATCH_READ]]: `spark.readStream.table`
  *    tails the table's commit feed — offsets are log versions, each
  *    micro-batch delivers the appended rows of its version range
  *    ([[graft.streaming.SnapshotMicroBatchStream]]; update/delete
  *    commits fail loudly unless `skipChangeCommits=true`).
  *
  * BATCH reads carry NO capability on purpose: [[GraftCatalogRelations]]
  * replaces the relation with the version's parquet scan during
  * resolution, so the scan path is Spark's own (pushdown, pruning,
  * delete-vector mask as an anti-join) rather than a connector loop.
  */
final case class GraftSnapshotTable(catalogName: String, ident: Identifier,
    dir: String, pinned: Option[Long])
    extends Table with SupportsWrite with SupportsRead with TruncatableTable {

  /** `TRUNCATE TABLE graft.t` — a full-replacement commit with an empty
    * row set: schema, key, layout and HISTORY survive (prior versions
    * stay time-travel readable until vacuumed — truncation is an
    * ordinary undoable commit, not a directory wipe).
    */
  override def truncateTable(): Boolean = {
    require(pinned.isEmpty,
      s"cannot truncate ${name()} pinned at VERSION AS OF ${pinned.get}")
    val s = SparkSession.active
    SnapshotLog.overwrite(s, dir,
      SnapshotLog.readLatest(s, dir).where(
        org.apache.spark.sql.functions.lit(false)),
      key, numFiles = 1)
    true
  }

  override def name(): String =
    (catalogName +: ident.namespace.toSeq :+ ident.name).mkString(".")

  /** The version this table object reads: the pin, or latest AT LOAD TIME
    * (resolved once per loadTable so one query's plan is one version —
    * the snapshot-isolation read every lakehouse layer gives). Resolution
    * uses `SparkSession.active` at CONSTRUCTION: sound under Spark's
    * session-per-planner model (the catalog builds a fresh table object
    * per loadTable on the planning session's thread), and deliberately
    * NOT re-resolved later even though the object outlives the call — a
    * version pinned at load is the whole point.
    */
  val snapshotVersion: Long = {
    val spark = SparkSession.active
    pinned.getOrElse(SnapshotLog.latestVersion(spark, dir))
  }

  // Table.version(): String is DSv2's table-version handle — ours IS the
  // log version
  override def version(): String = snapshotVersion.toString

  val key: String = SnapshotLog.tableKey(SparkSession.active, dir, snapshotVersion)

  override def partitioning(): Array[Transform] = {
    val spark = SparkSession.active
    val identity = SnapshotLog.partitionCols(spark, dir, snapshotVersion)
      .map(org.apache.spark.sql.connector.expressions.Expressions.identity)
    val bucket = SnapshotLog.partitionBucket(spark, dir, snapshotVersion)
      .map { case (c, n) =>
        org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
      }
    (identity ++ bucket).toArray
  }

  override lazy val schema: StructType = {
    val spark = SparkSession.active
    SnapshotLog.tableSchema(spark, dir, snapshotVersion)
      .getOrElse(SnapshotLog.read(spark, dir, snapshotVersion).schema)
  }

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("key", key)
    m.put("location", dir)
    m.put("version", snapshotVersion.toString)
    m
  }

  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.V1_BATCH_WRITE)
    s.add(TableCapability.TRUNCATE)
    s.add(TableCapability.STREAMING_WRITE)
    s.add(TableCapability.MICRO_BATCH_READ)
    s
  }

  /** The streaming read path ([[TableCapability.MICRO_BATCH_READ]]).
    * Batch SELECTs never reach this — [[GraftCatalogRelations]] swaps the
    * relation at resolution — so the scan built here only ever serves
    * `readStream`. The schema is frozen at scan build (structured
    * streaming's contract); a time-travel-pinned table cannot stream (a
    * pin is one version, a stream is the feed of versions).
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    require(pinned.isEmpty,
      s"cannot stream ${name()} pinned at VERSION AS OF ${pinned.get}: " +
        "a time-travel pin is one version, a stream is the version feed")
    val skipChanges = options.getBoolean("skipChangeCommits", false)
    val maxVersions = Option(options.get("maxVersionsPerTrigger")).map(_.toInt)
    // "subscribe from here" instead of the full-snapshot bootstrap — at
    // 100 TB a new consumer rarely wants the whole table replayed. A
    // timestamp resolves FORWARD to the earliest commit at or after it
    // (the streaming direction; time travel resolves backward), then
    // rides the same version offset.
    val startVersion = Option(options.get("startingVersion")).map(_.toLong)
    val startTs = Option(options.get("startingTimestamp")).map { ts =>
      val cast = org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(ts),
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.TimestampType,
        Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
      val micros = cast.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      require(micros != null, s"cannot parse startingTimestamp '$ts'")
      SnapshotLog.versionAtOrAfter(SparkSession.active, dir,
        micros.asInstanceOf[Long] / 1000L)
    }
    require(startVersion.isEmpty || startTs.isEmpty,
      "startingVersion and startingTimestamp cannot combine — they are " +
        "two spellings of the same start offset")
    val starting = startVersion.orElse(startTs)
    val frozenSchema = schema
    val tableKey = key
    () => new org.apache.spark.sql.connector.read.Scan {
      override def readSchema(): StructType = frozenSchema
      override def description(): String = s"graft-snapshot-stream ${name()}"
      override def toMicroBatchStream(checkpointLocation: String)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
        new graft.streaming.SnapshotMicroBatchStream(dir, tableKey,
          frozenSchema, checkpointLocation, skipChanges, maxVersions,
          starting)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinned.isEmpty,
      s"cannot write to ${name()} pinned at VERSION AS OF ${pinned.get}")
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
            val s = data.sparkSession
            if (replace || overwrite) {
              // size the replacement like OPTIMIZE sizes compaction:
              // keep the current version's file count as the floor
              val files = math.max(1,
                SnapshotLog.manifest(s, dir,
                  SnapshotLog.latestVersion(s, dir)).size)
              SnapshotLog.overwrite(s, dir, data, key, files)
            } else {
              val cs = data.selectExpr(("'insert' AS op" +:
                data.columns.map(c => s"`$c`")): _*)
              SnapshotLog.merge(s, dir, cs, key)
            }
            ()
          }
        // `df.writeStream.toTable("graft.t")`: exactly-once epoch commits
        // through the manifest txn-stamp protocol — same insert-if-absent
        // semantics as the batch INSERT INTO path above
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          require(!replace,
            s"streaming INSERT OVERWRITE into ${name()} is not supported; " +
              "use append output mode")
          new graft.streaming.SnapshotStreamingWrite(dir, key,
            info.schema(), info.queryId())
        }
      }
    }
  }
}

/** Injected resolution rule ([[graft.GraftExtensions]]): plan READS of
  * [[GraftSnapshotTable]] relations as the version's snapshot read — the
  * same [[SnapshotLog.read]] plan the DataFrame API builds (stamped
  * schema, delete-vector anti-join), alias-projected onto the relation's
  * output attributes so every reference already resolved against the
  * relation keeps its expression id. Write positions are left alone: an
  * `INSERT INTO` target must stay a relation for the V1-fallback write
  * path to claim ([[InsertIntoStatement]]'s table child is collected and
  * skipped by reference; `AppendData`/`OverwriteByExpression` hold their
  * target outside `children`, unreachable by this transform anyway).
  */
case class GraftCatalogRelations(session: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    lazy val writeTargets = plan.collect {
      case i: InsertIntoStatement => i.table
    }
    plan.resolveOperatorsDown {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftSnapshotTable] &&
            !writeTargets.exists(_ eq r) =>
        val t = r.table.asInstanceOf[GraftSnapshotTable]
        val read = SnapshotLog.read(session, t.dir, t.snapshotVersion)
          .queryExecution.analyzed
        val byName = read.output.map(a => a.name -> a).toMap
        // exprId-preserving projection: parents referencing r.output
        // resolve against the replacement unchanged
        val projections = r.output.map { tgt =>
          Alias(byName(tgt.name), tgt.name)(
            exprId = tgt.exprId, qualifier = tgt.qualifier)
        }
        Project(projections, read)
    }
  }
}
