package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Q, Tables}
import graft.operators.{Migration, Stage, SyntheticShares}
import graft.sql.GraftTableCatalog

/** The reference migration pipeline (main.go:241-322) as oracle-checked
  * queries. Inputs are the deterministic [[SyntheticShares]] fixtures (both
  * engines rebuild them from the same `orders` parquet), so every stage —
  * scan, routed audit, change-set, errors, functional apply, K1 validation —
  * hash-matches a DuckDB twin built from the CTEs below.
  */
object MigrationQueries {

  /** Deterministic stand-in for create-if-absent (main.go:152): the inode the
    * connector's read-back would return, as a pure function of the share id.
    */
  private def createdInode = lit(SyntheticShares.CreatedInodeOffset) + col("id")

  /** The resolved pipeline, WRITTEN as a stage table before the side-output
    * projections branch off it. Without the barrier, Catalyst's projection
    * collapse inlines the decision-dependent regex trees (dirname /
    * basename / versionsPath) into every downstream column — the changeset
    * projection alone carries five copies — and both the optimizer and the
    * per-row evaluation pay for each copy. A 100 TB run would write
    * `resolved` to a table for exactly the same reason: many sinks, one
    * computation.
    */
  private def resolved(s: SparkSession, d: String): DataFrame =
    Stage.sharedTable(s, "m_resolved", d) {
      val orders = Tables.orders(s, d)
      Migration.resolvedPipeline(
        SyntheticShares.shares(orders), SyntheticShares.eosNamespace(orders),
        createdInode)
    }

  // ---------------------------------------------------------------------
  // DuckDB oracle: the same pipeline as SQL CTEs (path fns inlined).
  // ---------------------------------------------------------------------

  /** DuckDB twin of [[graft.functions.PathFns.pathCleanSlashes]] (the
    * `path.Clean` subset the router applies before the parent-dir split,
    * main.go:278): collapse `//` runs, strip one trailing slash.
    */
  private def cleanSql(c: String): String =
    s"regexp_replace(regexp_replace($c, '/{2,}', '/', 'g'), '(.)/$$', '\\1')"

  /** Go `path.Dir` on clean absolute paths (main.go:143,290). */
  private def dirSql(c: String): String =
    s"(CASE WHEN regexp_replace($c, '/[^/]*$$', '') = '' THEN '/' " +
      s"ELSE regexp_replace($c, '/[^/]*$$', '') END)"

  /** Go `path.Base` (main.go:144,228,280). */
  private def baseSql(c: String): String = s"regexp_extract($c, '[^/]*$$')"

  /** `path.Join(dir, ".sys.v#." + base)` (main.go:143-145). */
  private def versionsPathSql(c: String): String =
    s"(CASE WHEN ${dirSql(c)} = '/' THEN '/.sys.v#.' || ${baseSql(c)} " +
      s"ELSE ${dirSql(c)} || '/.sys.v#.' || ${baseSql(c)} END)"

  /** Shared CTE pipeline: scan -> enrich -> route -> resolve (+ changeset). */
  private val ctes: String =
    s"""WITH ${SyntheticShares.sharesSql},
       |${SyntheticShares.nsSql},
       |scanned AS (
       |  SELECT id, share_type, item_source, item_target, file_source, file_target
       |  FROM shares WHERE share_type = 3 AND item_type = 'file'
       |),
       |enriched AS (
       |  SELECT s.*, n.ino AS meta_ino, n.file AS meta_path, n.uid AS meta_uid,
       |         n.gid AS meta_gid, n.size AS meta_size
       |  FROM scanned s LEFT JOIN ns n ON s.file_source = n.ino
       |),
       |routed AS (
       |  SELECT *,
       |    CASE WHEN meta_ino IS NULL THEN 'ERROR_MISSING_META'
       |         WHEN starts_with(${baseSql("meta_path")}, '.sys.v#.') THEN 'ALREADY_MIGRATED'
       |         WHEN NOT starts_with(meta_path, '/eos/scratch/user/') THEN 'NOT_UNDER_HOME'
       |         WHEN starts_with(${baseSql(dirSql(cleanSql("meta_path")))}, '.sys.v#.') THEN 'VERSION'
       |         ELSE 'REGULAR' END AS decision
       |  FROM enriched
       |),
       |keyed AS (
       |  SELECT *,
       |    CASE WHEN decision = 'VERSION' THEN ${dirSql("meta_path")}
       |         WHEN decision = 'REGULAR' THEN ${versionsPathSql("meta_path")}
       |         ELSE NULL END AS vf_key
       |  FROM routed
       |),
       |resolved AS (
       |  SELECT k.*,
       |    CASE WHEN k.decision = 'VERSION' THEN f.ino
       |         WHEN k.decision = 'REGULAR' THEN COALESCE(f.ino, ${SyntheticShares.CreatedInodeOffset} + k.id)
       |         ELSE NULL END AS versions_ino,
       |    CASE WHEN k.decision = 'VERSION' THEN f.file
       |         WHEN k.decision = 'REGULAR' THEN COALESCE(f.file, k.vf_key)
       |         ELSE NULL END AS versions_path
       |  FROM keyed k LEFT JOIN ns f ON k.vf_key = f.file
       |),
       |changeset AS (
       |  SELECT id, CAST(versions_ino AS VARCHAR) AS new_item_source,
       |         '/' || CAST(versions_ino AS VARCHAR) AS new_item_target,
       |         versions_ino AS new_file_source,
       |         '/' || ${baseSql("versions_path")} AS new_file_target
       |  FROM resolved WHERE versions_ino IS NOT NULL
       |)""".stripMargin

  val entries: Seq[Q] = Seq(

    // S1/P1-P3 (main.go:86-97): filter + projection + sort, pushed to scan.
    Q("m01_scan_shares",
      s"""$ctes
         |SELECT * FROM scanned ORDER BY id""".stripMargin) { (s, d) =>
      Migration.scanShares(SyntheticShares.shares(Tables.orders(s, d)))
    },

    // K3 audit (main.go:277-315): one (id, decision) record per scanned share.
    Q("m02_route_audit",
      s"""$ctes
         |SELECT id, decision FROM resolved ORDER BY id""".stripMargin) { (s, d) =>
      Migration.audit(resolved(s, d)).orderBy("id")
    },

    // K1 change-set (main.go:218,228): exact int->string / "/"-prefix formats.
    Q("m03_changeset",
      s"""$ctes
         |SELECT * FROM changeset ORDER BY id""".stripMargin) { (s, d) =>
      Migration.changeset(resolved(s, d)).orderBy("id")
    },

    // K4 errors (main.go:273,292-294): lookup misses + vanished folders.
    Q("m04_errors",
      s"""$ctes
         |SELECT id,
         |       CASE WHEN decision = 'ERROR_MISSING_META' THEN 'ERROR_MISSING_META'
         |            ELSE 'ERROR_MISSING_VERSIONS_FOLDER' END AS error
         |FROM resolved
         |WHERE decision = 'ERROR_MISSING_META'
         |   OR (decision = 'VERSION' AND versions_ino IS NULL)
         |ORDER BY id""".stripMargin) { (s, d) =>
      Migration.errors(resolved(s, d)).orderBy("id")
    },

    // K1 functional apply (main.go:222-231): PK join-back, column replacement.
    Q("m05_apply_changeset",
      s"""$ctes
         |SELECT s.id, s.share_type, s.uid_owner, s.item_type,
         |       COALESCE(c.new_item_source, s.item_source) AS item_source,
         |       COALESCE(c.new_item_target, s.item_target) AS item_target,
         |       COALESCE(c.new_file_source, s.file_source) AS file_source,
         |       COALESCE(c.new_file_target, s.file_target) AS file_target
         |FROM shares s LEFT JOIN changeset c ON s.id = c.id
         |ORDER BY s.id""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      val shares = SyntheticShares.shares(orders)
      Migration.applyChangeset(shares, Migration.changeset(resolved(s, d)))
        .select("id", "share_type", "uid_owner", "item_type",
          "item_source", "item_target", "file_source", "file_target")
        .orderBy("id")
    },

    // K3/F8/F10 audit RECORD line (main.go:277): exact int->string formatting
    // + strconv.Quote'd EOS path, one line per enriched share.
    Q("m07_audit_lines",
      s"""$ctes
         |SELECT id,
         |       'RECORD: ' || id || ' info:file id:' || id
         |       || ' share_type:' || share_type
         |       || ' item_source:' || COALESCE(item_source, '')
         |       || ' item_target:' || COALESCE(item_target, '')
         |       || ' file_source:' || COALESCE(file_source, 0)
         |       || ' file_target:' || COALESCE(file_target, '')
         |       || ' eospath:' || '"' ||
         |         replace(replace(replace(replace(meta_path,
         |           '\\', '\\\\'), '"', '\\"'), chr(10), '\\n'), chr(9), '\\t')
         |       || '"'
         |       || ' uid:' || meta_uid || ' gid:' || meta_gid AS line
         |FROM enriched WHERE meta_ino IS NOT NULL
         |ORDER BY id""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      Migration.auditLine(
        Migration.enrich(
          Migration.scanShares(SyntheticShares.shares(orders)),
          SyntheticShares.eosNamespace(orders)))
        .orderBy("id")
    },

    // F5/F6 KV-record parse (main.go:182-207): synthesize raw EOS
    // `file info -m` records from the ns fixture — length-prefixed `file=`
    // value with an EMBEDDED SPACE (the reason the length prefix exists),
    // plus pino=/treesize= keys placed BEFORE ino=/size= so an unanchored
    // key match would capture the wrong field — then parse everything back.
    Q("m08_kv_parse",
      s"""WITH ${SyntheticShares.sharesSql},
         |${SyntheticShares.nsSql},
         |spaced AS (
         |  SELECT ino, replace(file, '.dat', ' copy.dat') AS f, uid, gid, size FROM ns
         |),
         |raw AS (
         |  SELECT 'keylength.file=' || CAST(length(f) AS VARCHAR)
         |         || ' file=' || f
         |         || ' pino=' || CAST(ino + 1 AS VARCHAR)
         |         || ' ino=' || CAST(ino AS VARCHAR)
         |         || ' uid=' || uid || ' gid=' || gid
         |         || ' treesize=' || CAST(size * 2 AS VARCHAR)
         |         || ' size=' || CAST(size AS VARCHAR) AS r
         |  FROM spaced
         |)
         |SELECT CAST(regexp_extract(r, '(?:^| )ino=([^ ]*)', 1) AS BIGINT) AS ino,
         |       substring(r,
         |                 15 + length(regexp_extract(r, '^keylength\\.file=([0-9]+)', 1)) + 7,
         |                 CAST(regexp_extract(r, '^keylength\\.file=([0-9]+)', 1) AS INT)) AS file,
         |       regexp_extract(r, '(?:^| )uid=([^ ]*)', 1) AS uid,
         |       regexp_extract(r, '(?:^| )gid=([^ ]*)', 1) AS gid,
         |       CAST(regexp_extract(r, '(?:^| )size=([^ ]*)', 1) AS BIGINT) AS size
         |FROM raw ORDER BY ino""".stripMargin) { (s, d) =>
      graft.GraftNative.ensure(s)
      val ns = SyntheticShares.eosNamespace(Tables.orders(s, d))
      val raw = ns
        .withColumn("f", replace(col("file"), lit(".dat"), lit(" copy.dat")))
        .select(concat(
          lit("keylength.file="), length(col("f")).cast("string"),
          lit(" file="), col("f"),
          lit(" pino="), (col("ino") + 1).cast("string"),
          lit(" ino="), col("ino").cast("string"),
          lit(" uid="), col("uid"), lit(" gid="), col("gid"),
          lit(" treesize="), (col("size") * 2).cast("string"),
          lit(" size="), col("size").cast("string")).as("r"))
      // one-pass native parse (graft_kv_parse) instead of five regexp
      // scans per record; value-identical to PathFns.kvIno/kvFile/... by
      // NativeExprsSpec
      raw.select(graft.GraftNative.kvParse(col("r")).as("kv"))
        .select(col("kv.ino").as("ino"), col("kv.file").as("file"),
          col("kv.uid").as("uid"), col("kv.gid").as("gid"),
          col("kv.size").as("size"))
        .orderBy("ino")
    },

    // K1 validation (main.go:232-238): dangling change-set ids -> error rows.
    // Target simulates concurrently-deleted shares (id % 29 = 0 vanished).
    Q("m06_changeset_validation",
      s"""$ctes
         |SELECT c.id, 'ERROR_SHARE_DELETED' AS error
         |FROM changeset c
         |WHERE NOT EXISTS (SELECT 1 FROM shares s
         |                  WHERE s.id = c.id AND s.id % 29 <> 0)
         |ORDER BY c.id""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      val target = SyntheticShares.shares(orders).where(col("id") % 29 =!= 0)
      Migration.validateChangeset(Migration.changeset(resolved(s, d)), target)
        .orderBy("id")
    },

    // General keyed MERGE (m09): the insert/update/delete changeset
    // applied to the share table — the superset of K1's update-only
    // apply (m05) and the batch analogue of the streaming epoch ledger.
    // Fixture ops are disjoint by modulus: every 9th id is deleted, every
    // remaining 5th partially updated (only the two target paths; nulls
    // keep base values — the coalesce semantics), and every 11th id
    // spawns an insert keyed far above the real id range. The functional
    // result is [[graft.operators.Merge]]'s three-join plan (update
    // equi-join + delete anti-join + not-matched-insert anti-join, all
    // hash-partitioned on the same key); the physical JDBC form of the
    // same changeset is MergeSpec's embedded-Derby e2e.
    Q("m09_keyed_merge", Merge0.keyedMergeSql) { (s, d) =>
      import graft.operators.Merge
      val shares = SyntheticShares.shares(Tables.orders(s, d))
      Merge(shares, Merge0.changeset(shares), "id").orderBy("id")
    },

    // SCD2 history build (m10): the slowly-changing-dimension type-2
    // backfill — turn a keyed change log into validity intervals
    // (valid_from / valid_to / is_current), the standard warehouse shape
    // for "what did this row look like at version v". Fixture change log:
    // version 0 is every share's base item_target, and versions 1..3
    // update disjoint-modulus slices (%7, %5, %3 — overlapping ids get
    // multi-row histories). The interval construction is ONE window pass:
    // valid_to = lead(valid_from) over (key, version order), open
    // interval = current row — no self-join, no per-key loop. Scale
    // shape: one hash partition by key + in-partition sort (keys are
    // uniform; the window never sees more rows per key than that key's
    // versions); incremental maintenance of an EXISTING history is m09's
    // MERGE machinery (close the open interval, insert the new one) —
    // this query is the batch backfill twin.
    Q("m10_scd2_history",
      s"""WITH ${SyntheticShares.sharesSql},
         |ch AS (
         |  SELECT id, CAST(0 AS BIGINT) AS valid_from, item_target FROM shares
         |  UNION ALL
         |  SELECT id, CAST(1 AS BIGINT), '/v1/' || CAST(id AS VARCHAR) FROM shares WHERE id % 7 = 0
         |  UNION ALL
         |  SELECT id, CAST(2 AS BIGINT), '/v2/' || CAST(id AS VARCHAR) FROM shares WHERE id % 5 = 0
         |  UNION ALL
         |  SELECT id, CAST(3 AS BIGINT), '/v3/' || CAST(id AS VARCHAR) FROM shares WHERE id % 3 = 0
         |)
         |SELECT id, valid_from, valid_to, item_target, valid_to IS NULL AS is_current
         |FROM (
         |  SELECT id, valid_from, item_target,
         |         LEAD(valid_from) OVER (PARTITION BY id ORDER BY valid_from) AS valid_to
         |  FROM ch
         |)
         |ORDER BY id, valid_from""".stripMargin) { (s, d) =>
      val shares = SyntheticShares.shares(Tables.orders(s, d))
      def upd(v: Int, m: Int) = shares.where(col("id") % m === 0)
        .select(col("id"), lit(v.toLong).as("valid_from"),
          concat(lit(s"/v$v/"), col("id").cast("string")).as("item_target"))
      val ch = shares.select(col("id"), lit(0L).as("valid_from"), col("item_target"))
        .unionByName(upd(1, 7)).unionByName(upd(2, 5)).unionByName(upd(3, 3))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy("valid_from")
      ch.withColumn("valid_to", lead("valid_from", 1).over(w))
        .withColumn("is_current", col("valid_to").isNull)
        .select("id", "valid_from", "valid_to", "item_target", "is_current")
        .orderBy("id", "valid_from")
    },

    // Copy-on-write parquet keyed MERGE (m11) — the lakehouse sink: the
    // SAME changeset as m09 applied to the share table stored AS PARQUET
    // FILES through [[graft.operators.SnapshotLog.merge]], which plans
    // affected files from the key ranges stamped in the manifest,
    // rewrites only those, references every other file unchanged from
    // the new manifest, and admits inserts against a key-column scan of
    // only the files that could hold them. The table is m12's ("m12_snap":
    // 8 files range-clustered by id at v0, the m09 changeset merged at
    // v1). The oracle is m09's DuckDB MERGE twin verbatim, so the
    // committed table is certified hash-equal to the functional merge;
    // CowMergeSpec pins the physical facts (untouched files kept by name,
    // rewrite count = key footprint). This fixture's changeset touches
    // every file (updates hit every 5th id), so the narrow-footprint path
    // is CowMergeSpec's job, and this entry certifies SEMANTICS at full
    // footprint.
    Q("m11_cow_merge", Merge0.keyedMergeSql) { (s, d) =>
      import graft.operators.{SnapshotLog, Stage}
      val dir = Stage.sharedDir(s, "m12_snap", d) { out =>
        val shares = SyntheticShares.shares(Tables.orders(s, d))
        SnapshotLog.init(s, out, shares, "id", numFiles = 8)
        SnapshotLog.merge(s, out, Merge0.changeset(shares), "id")
      }
      SnapshotLog.readLatest(s, dir)
        .select("id", "share_type", "uid_owner", "item_type", "item_source",
          "item_target", "file_source", "file_target")
        .orderBy("id")
    },

    // Snapshot-log CDC (m12) — the transaction-log layer under m11's
    // copy-on-write merge ([[graft.operators.SnapshotLog]]): the table is
    // a manifest-committed file set (commit = ONE exclusive manifest
    // create, no directory rename — the protocol that survives object
    // stores), versions share untouched files by reference, and "what
    // changed between v0 and v1" is computed from the manifests' FILE
    // DIFF — only files present in exactly one version are read, so a
    // changeset touching 0.1% of a 100 TB table diffs at 0.1% scan cost.
    // This entry inits the share table at v0, merges the m09 changeset to
    // v1, and returns cdc(v0, v1): op + key + after-image. Rows CoW
    // happened to rewrite unchanged cancel in the before/after key join —
    // the oracle derives the SEMANTIC change rows (delete/update/insert
    // by the fixture's disjoint moduli) with no knowledge of file
    // boundaries, so a single spuriously-emitted rewrite row fails the
    // hash. Time travel (v0 still byte-readable after the merge),
    // commit-race exclusivity, and vacuum are SnapshotLogSpec's.
    Q("m12_snapshot_cdc", Merge0.snapshotCdcSql) { (s, d) =>
      import graft.operators.{SnapshotLog, Stage}
      val dir = Stage.sharedDir(s, "m12_snap", d) { out =>
        val shares = SyntheticShares.shares(Tables.orders(s, d))
        SnapshotLog.init(s, out, shares, "id", numFiles = 8)
        SnapshotLog.merge(s, out, Merge0.changeset(shares), "id")
      }
      SnapshotLog.cdc(s, dir, 0L, 1L, "id")
        .select("op", "id", "share_type", "uid_owner", "item_type",
          "item_source", "item_target", "file_source", "file_target")
        .orderBy("id")
    },

    // Merge-on-read deletes + masked CoW merge (m13): the SAME final
    // state as m09/m11, reached down the MoR path — the %9 deletes
    // commit as a delete VECTOR (zero data files rewritten: dropping
    // rows from a 100 TB table is one key-list parquet + one manifest
    // create), then the update/insert remainder of the changeset merges
    // copy-on-write UNDER the mask (masked rows dropped physically from
    // rewritten files, mask carried for untouched ones, admission checks
    // mask-aware). The oracle is m09's DuckDB MERGE twin VERBATIM — the
    // two physical routes are certified to converge on one logical
    // table. The mask subtleties (update of a masked key is a no-op,
    // re-insert forces a scoped rewrite + purge, compaction is
    // CDC-invisible) are MorDeleteSpec's.
    Q("m13_mor_delete", Merge0.keyedMergeSql) { (s, d) =>
      import graft.operators.{Merge, SnapshotLog, Stage}
      val dir = Stage.sharedDir(s, "m13_mor", d) { out =>
        val shares = SyntheticShares.shares(Tables.orders(s, d))
        SnapshotLog.init(s, out, shares, "id", numFiles = 8)
        SnapshotLog.deleteKeys(s, out,
          shares.where(col("id") % 9 === 0).select("id"), "id")
        SnapshotLog.merge(s, out,
          Merge0.changeset(shares).where(col("op") =!= Merge.OpDelete), "id")
      }
      SnapshotLog.readLatest(s, dir)
        .select("id", "share_type", "uid_owner", "item_type", "item_source",
          "item_target", "file_source", "file_target")
        .orderBy("id")
    },

    // Incremental view maintenance from CDC (m14): the per-owner
    // aggregate (row count, sum of file_source, sum of file_target
    // length) maintained ACROSS the m12 merge by absorbing the signed
    // change images — never re-aggregating the base. The standing view is
    // a WRITTEN stage (|groups| rows); the maintenance job scans only
    // that stage plus the file-diff CDC, so at 100 TB the per-changeset
    // cost is the changeset's footprint, not the table
    // ([[graft.operators.IncrementalView]]). The oracle recomputes the
    // aggregate from scratch over the merged table — a plan the engine
    // never runs — so the hash gate proves maintenance ≡ recompute:
    // deletes debit their group, the %11 inserts create the brand-new
    // 'merge_user' group, updates land as (-before, +after) pairs (the
    // file_target length change), and CoW-rewritten-unchanged rows
    // contribute exactly nothing. Group-moving updates, emptied groups,
    // chained deltas, and the MoR-delete path are IncrementalViewSpec's.
    Q("m14_incremental_view", Merge0.incViewSql) { (s, d) =>
      import graft.operators.{IncrementalView, SnapshotLog, Stage}
      val dir = Stage.sharedDir(s, "m12_snap", d) { out =>
        val shares = SyntheticShares.shares(Tables.orders(s, d))
        SnapshotLog.init(s, out, shares, "id", numFiles = 8)
        SnapshotLog.merge(s, out, Merge0.changeset(shares), "id")
      }
      val measures = Seq(
        "sum_fs" -> col("file_source"),
        "sum_ftl" -> length(col("file_target")).cast("long"))
      val view0 = Stage.sharedTable(s, "m14_view0", d) {
        IncrementalView.build(SnapshotLog.read(s, dir, 0L), "uid_owner", measures)
      }
      IncrementalView.applyCdc(view0,
          SnapshotLog.cdcSigned(s, dir, 0L, 1L, "id"), "uid_owner", measures)
        .orderBy("uid_owner")
    },

    // Schema evolution on the snapshot table (m15): a merge whose
    // changeset carries a column the table never had (`quota`) widens the
    // version's STAMPED schema — rewritten and inserted files carry the
    // column physically, every untouched file keeps its exact bytes and
    // reads through the wider stamp as null. At 100 TB this is the only
    // viable add-column: the alternative (rewriting the table, or
    // mergeSchema's footer sweep of every file at every read) costs a
    // full pass; here evolution costs the changeset's footprint and
    // schema resolution is one manifest line. The %13 updates set quota
    // on existing rows, the %17 inserts arrive with it; everyone else
    // reads back null through files that predate the column. Old-version
    // reads keep the old shape, evolved CDC, and compaction
    // materialization are SchemaEvolutionSpec's.
    Q("m15_schema_evolution", Merge0.evolveSql) { (s, d) =>
      import graft.operators.{Merge, SnapshotLog, Stage}
      val dir = Stage.sharedDir(s, "m15_evo", d) { out =>
        val shares = SyntheticShares.shares(Tables.orders(s, d))
        SnapshotLog.init(s, out, shares, "id", numFiles = 8)
        SnapshotLog.merge(s, out, Merge0.evolveChangeset(shares), "id")
      }
      SnapshotLog.readLatest(s, dir)
        .select("id", "share_type", "uid_owner", "item_type", "item_source",
          "item_target", "file_source", "file_target", "quota")
        .orderBy("id")
    },

    // Footer-pruned point lookup on the snapshot table (m16): the
    // reference's whole reason to exist is keyed point access (S2/S3
    // inode lookups); this is that access pattern against the lakehouse
    // layer. `SnapshotLog.lookupKeys` plans from footer key min/max
    // exactly like the CoW merge — on the key-clustered table the %97
    // probe set reads only the files whose range can hold one of its
    // keys, never the table (MaterializedViewSpec pins the 1-of-4 scan
    // fact; at 100 TB this is the difference between a point lookup and
    // a table scan). Runs against m12's POST-MERGE version, so deleted
    // probe keys (%9) must come back absent and updated ones (%5) with
    // their merged payload — the oracle recomputes both from the moduli.
    Q("m16_point_lookup",
      s"""WITH ${Merge0.keyedMergeCtes}
         |SELECT id, share_type, uid_owner, item_type, item_source,
         |       item_target, file_source, file_target
         |FROM merged WHERE id IN (SELECT id FROM shares WHERE id % 97 = 0)
         |ORDER BY id""".stripMargin) { (s, d) =>
      import graft.operators.{SnapshotLog, Stage}
      val dir = Stage.sharedDir(s, "m12_snap", d) { out =>
        val shares = SyntheticShares.shares(Tables.orders(s, d))
        SnapshotLog.init(s, out, shares, "id", numFiles = 8)
        SnapshotLog.merge(s, out, Merge0.changeset(shares), "id")
      }
      val probes = SyntheticShares.shares(Tables.orders(s, d))
        .where(col("id") % 97 === 0).select("id")
      SnapshotLog.lookupKeys(s, dir, 1L, probes)
        .select("id", "share_type", "uid_owner", "item_type", "item_source",
          "item_target", "file_source", "file_target")
        .orderBy("id")
    },

    // SQL DML surface (m17): the m09 changeset applied VIA SQL TEXT — one
    // `MERGE INTO graft.m17t` statement parsed by the session's own parser
    // (GraftExtensions injects [[graft.sql.GraftSqlParser]]), rewritten to
    // a runnable command, executed through [[SnapshotLog.merge]]'s
    // copy-on-write transaction-log path. The oracle is m09/m11's DuckDB
    // MERGE twin VERBATIM, so the SQL entry surface is certified
    // hash-equal to both the functional merge and the Scala-API CoW
    // merge: a SQL-only user writes the lakehouse table with zero
    // semantic drift. UPDATE/DELETE statements and the guard rails are
    // SqlDmlSpec's.
    Q("m17_sql_merge", Merge0.keyedMergeSql) { (s, d) =>
      import graft.operators.{SnapshotLog, Stage}
      val base = Stage.sharedDir(s, "m17_sql", d) { out =>
        GraftTableCatalog.withLocation(s, out) {
          val shares = SyntheticShares.shares(Tables.orders(s, d))
          SnapshotLog.init(s, s"$out/m17t", shares, "id", numFiles = 8)
          Merge0.changeset(shares).createOrReplaceTempView("m17_cs")
          s.sql(
            """MERGE INTO graft.m17t t USING m17_cs c ON t.id = c.id
              |WHEN MATCHED AND c.op = 'delete' THEN DELETE
              |WHEN MATCHED AND c.op = 'update' THEN
              |  UPDATE SET item_target = c.item_target, file_target = c.file_target
              |WHEN NOT MATCHED AND c.op = 'insert' THEN INSERT *
              |""".stripMargin).collect()
          ()
        }
      }
      SnapshotLog.readLatest(s, s"$base/m17t")
        .select("id", "share_type", "uid_owner", "item_type", "item_source",
          "item_target", "file_source", "file_target")
        .orderBy("id")
    },

    // The DSv2 TableCatalog surface (m18): the SAME post-merge table as
    // m09/m11/m17, built ENTIRELY through catalog identifiers — CTAS
    // creates `graft.m18t` from half the shares, `INSERT INTO` appends
    // the other half (the V1-fallback write path committing through the
    // log), `MERGE INTO graft.m18t` applies the m09 changeset by
    // identifier, and the result is read back with a plain
    // `SELECT ... FROM graft.m18t` (the injected resolution rule plans it
    // as the version's parquet scan + mask). Same oracle as m09, so the
    // whole catalog lifecycle is hash-certified against the functional
    // merge. DDL (DROP/SHOW/rename), time travel by identifier, and
    // plan-shape facts are GraftCatalogSqlSpec's.
    Q("m18_catalog_table", Merge0.keyedMergeSql) { (s, d) =>
      import graft.operators.Stage
      val base = Stage.sharedDir(s, "m18_cat", d) { out =>
        GraftTableCatalog.withLocation(s, out) {
          val shares = SyntheticShares.shares(Tables.orders(s, d))
          shares.createOrReplaceTempView("m18_shares")
          s.sql("CREATE TABLE graft.m18t TBLPROPERTIES ('key'='id') AS " +
            "SELECT * FROM m18_shares WHERE id % 2 = 0")
          s.sql("INSERT INTO graft.m18t SELECT * FROM m18_shares WHERE id % 2 = 1")
          Merge0.changeset(shares).createOrReplaceTempView("m18_cs")
          s.sql(
            """MERGE INTO graft.m18t t USING m18_cs c ON t.id = c.id
              |WHEN MATCHED AND c.op = 'delete' THEN DELETE
              |WHEN MATCHED AND c.op = 'update' THEN
              |  UPDATE SET item_target = c.item_target, file_target = c.file_target
              |WHEN NOT MATCHED AND c.op = 'insert' THEN INSERT *
              |""".stripMargin).collect()
          ()
        }
      }
      GraftTableCatalog.withLocation(s, base) {
        s.sql("""SELECT id, share_type, uid_owner, item_type, item_source,
                |       item_target, file_source, file_target
                |FROM graft.m18t ORDER BY id""".stripMargin)
      }
    },

    // Streaming CDC source under the hash gate (m19): tail the m12
    // snapshot table's commit feed with the REAL streaming source
    // ([[graft.streaming.SnapshotStreams.readChanges]], AvailableNow) and
    // fold every delivered signed delta into an EMPTY per-owner aggregate
    // — the bootstrap batch delivers v0's +1 images, the composed delta
    // covers the merge, and the fold must land exactly on the oracle's
    // from-scratch recompute over the merged table (m14's oracle). This
    // is the end-to-end loop a continuously-maintained 100 TB view runs:
    // per batch it reads manifest TEXT plus the file diff, never the
    // table; a checkpoint is created fresh per run so the stream always
    // replays the full feed. Restart/replay/vacuum-gap semantics are
    // SnapshotStreamSourceSpec's.
    Q("m19_stream_cdc_fold", Merge0.incViewSql) { (s, d) =>
      import graft.operators.{IncrementalView, SnapshotLog, Stage}
      import graft.streaming.SnapshotStreams
      val dir = Stage.sharedDir(s, "m12_snap", d) { out =>
        val shares = SyntheticShares.shares(Tables.orders(s, d))
        SnapshotLog.init(s, out, shares, "id", numFiles = 8)
        SnapshotLog.merge(s, out, Merge0.changeset(shares), "id")
      }
      val ckpt = java.nio.file.Files.createTempDirectory("m19_ckpt").toString
      var deltas = Vector.empty[DataFrame]
      val q = SnapshotStreams.readChanges(s, dir, "id") { (signed, _, _) =>
          deltas :+= signed
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val measures = Seq(
        "sum_fs" -> col("file_source"),
        "sum_ftl" -> length(col("file_target")).cast("long"))
      val empty = IncrementalView.build(
        SnapshotLog.read(s, dir, 0L).limit(0), "uid_owner", measures)
      IncrementalView.applyCdc(empty, deltas.reduce(_ unionByName _),
          "uid_owner", measures)
        .orderBy("uid_owner")
    },

    // Manifest-stat FILE SKIPPING on a plain snapshot read (m20): the
    // same post-merge table as m16, but accessed as a declarative
    // range scan — `read(v).where(id <= cut)` — with the pruning done by
    // [[graft.sources.SnapshotFileIndex]] at PLANNING time from the
    // manifest's commit-time range stamps (no lookupKeys call, no footer
    // fetch: Spark's FileSourceStrategy hands the pushed key predicate
    // to the index, which answers from metadata). On the key-clustered
    // 8-file fixture the bottom-5% range opens 1 file; at 100 TB the
    // same plan opens ~0.5% of 10^5 files before a single byte of data
    // is read. SnapshotSkipSpec pins the numFiles-metric facts (1-of-8
    // point reads, 0-file empty ranges, non-key predicates keep all
    // files) and equality with the unpruned answer; this entry certifies
    // the pruned scan's CONTENT against the merged-table oracle.
    Q("m20_skipping_scan",
      s"""WITH ${Merge0.keyedMergeCtes}
         |SELECT id, share_type, uid_owner, item_type, item_source,
         |       item_target, file_source, file_target
         |FROM merged WHERE id <= (SELECT MAX(id) FROM shares) // 20
         |ORDER BY id""".stripMargin) { (s, d) =>
      import graft.operators.{SnapshotLog, Stage}
      val dir = Stage.sharedDir(s, "m12_snap", d) { out =>
        val shares = SyntheticShares.shares(Tables.orders(s, d))
        SnapshotLog.init(s, out, shares, "id", numFiles = 8)
        SnapshotLog.merge(s, out, Merge0.changeset(shares), "id")
      }
      val cut = SyntheticShares.shares(Tables.orders(s, d))
        .agg(max(col("id"))).head().getLong(0) / 20L
      SnapshotLog.read(s, dir, 1L).where(col("id") <= cut)
        .select("id", "share_type", "uid_owner", "item_type", "item_source",
          "item_target", "file_source", "file_target")
        .orderBy("id")
    },

    // DDL-side schema evolution (m21): m15's logical table produced
    // through the CATALOG instead of the merge API — CTAS, then `ALTER
    // TABLE ADD COLUMNS (quota)` (a metadata-only commit: same file set,
    // wider stamp, [[SnapshotLog.addColumns]]), then SQL UPDATE fills the
    // %13 quotas and SQL INSERT delivers the %17 inserts carrying the
    // new column. Same oracle as m15, so DDL evolution is hash-certified
    // EQUAL to merge-driven evolution: two entry surfaces, one semantic.
    // Rejection shapes (drop/rename/non-null adds/duplicate adds) are
    // GraftCatalogSqlSpec's.
    Q("m21_alter_table", Merge0.evolveSql) { (s, d) =>
      import graft.operators.Stage
      val base = Stage.sharedDir(s, "m21_alter", d) { out =>
        GraftTableCatalog.withLocation(s, out) {
          val shares = SyntheticShares.shares(Tables.orders(s, d))
          shares.createOrReplaceTempView("m21_shares")
          s.sql("CREATE TABLE graft.m21t TBLPROPERTIES ('key'='id') AS " +
            "SELECT * FROM m21_shares")
          s.sql("ALTER TABLE graft.m21t ADD COLUMNS (quota BIGINT)")
          s.sql("UPDATE graft.m21t SET quota = id * 3 WHERE id % 13 = 0").collect()
          s.sql(
            s"""INSERT INTO graft.m21t
               |SELECT id + ${Merge0.InsertIdOffset}, CAST(4 AS INT), 'evo_user',
               |       'file', CAST(id AS STRING),
               |       concat('/evo/', CAST(id AS STRING)), id,
               |       concat('/e', CAST(id AS STRING), '.dat'), id * 7
               |FROM m21_shares WHERE id % 17 = 0""".stripMargin).collect()
          ()
        }
      }
      GraftTableCatalog.withLocation(s, base) {
        s.sql("""SELECT id, share_type, uid_owner, item_type, item_source,
                |       item_target, file_source, file_target, quota
                |FROM graft.m21t ORDER BY id""".stripMargin)
      }
    },

    // RESTORE (m22): the recovery path time travel exists FOR — commit a
    // bad merge (m09's changeset, standing in for the incident), then
    // `RESTORE TABLE graft.m22t TO VERSION AS OF 0` via SQL text. The
    // restore is one manifest write referencing v0's files/stamps by name
    // ([[SnapshotLog.restore]] — metadata cost on a 100 TB table; the
    // merge's files stay time-travel readable, so the restore is itself
    // undoable). The read-back must be byte-equal to the ORIGINAL shares
    // — the oracle recomputes them from orders directly, so a single row
    // the restore failed to put back (or resurrect wrongly) breaks the
    // hash. History/undo-the-undo/vacuumed-version rejection are
    // SqlDmlSpec's.
    Q("m22_restore",
      s"""WITH ${SyntheticShares.sharesSql}
         |SELECT id, share_type, uid_owner, item_type, item_source,
         |       item_target, file_source, file_target
         |FROM shares ORDER BY id""".stripMargin) { (s, d) =>
      import graft.operators.{SnapshotLog, Stage}
      val base = Stage.sharedDir(s, "m22_restore", d) { out =>
        GraftTableCatalog.withLocation(s, out) {
          val shares = SyntheticShares.shares(Tables.orders(s, d))
          val dir = s"$out/m22t"
          SnapshotLog.init(s, dir, shares, "id", numFiles = 8)
          SnapshotLog.merge(s, dir, Merge0.changeset(shares), "id")
          s.sql("RESTORE TABLE graft.m22t TO VERSION AS OF 0").collect()
          ()
        }
      }
      SnapshotLog.readLatest(s, s"$base/m22t")
        .select("id", "share_type", "uid_owner", "item_type", "item_source",
          "item_target", "file_source", "file_target")
        .orderBy("id")
    },

    // PARTITIONED catalog tables (m23): the m18 lifecycle under a
    // Hive-style identity partition layout — `CREATE TABLE ...
    // PARTITIONED BY (share_type)` CTAS, keyed INSERT, the m09 MERGE via
    // SQL — read back through a PARTITION-PRUNED `WHERE share_type = 3`.
    // Every write commits its files under one directory tree per
    // partition value with the values DECLARED per file in the manifest
    // ([[graft.operators.SnapshotLog]] `partcols=`); the read plans as
    // real Hive partitions (static pruning + dynamic partition pruning —
    // PartitionedSnapshotSpec pins the plan facts: per-partition file
    // groups, DPP filter, cross-partition update movement), and the
    // oracle recomputes the same slice relationally, so the whole
    // partitioned lifecycle is hash-certified EQUAL to the flat one. At
    // 100 TB this is the first-level layout lever: a partition predicate
    // never opens a file outside its subtree, and maintenance
    // (OPTIMIZE ... WHERE day = X) scopes to the partition's footprint.
    Q("m23_partitioned_table",
      s"""WITH ${Merge0.keyedMergeCtes}
         |SELECT id, share_type, uid_owner, item_type, item_source,
         |       item_target, file_source, file_target
         |FROM merged WHERE share_type = 3 ORDER BY id""".stripMargin) { (s, d) =>
      import graft.operators.Stage
      val base = Stage.sharedDir(s, "m23_part", d) { out =>
        GraftTableCatalog.withLocation(s, out) {
          val shares = SyntheticShares.shares(Tables.orders(s, d))
          shares.createOrReplaceTempView("m23_shares")
          s.sql("CREATE TABLE graft.m23t PARTITIONED BY (share_type) " +
            "TBLPROPERTIES ('key'='id') AS SELECT * FROM m23_shares WHERE id % 2 = 0")
          s.sql("INSERT INTO graft.m23t SELECT * FROM m23_shares WHERE id % 2 = 1")
          Merge0.changeset(shares).createOrReplaceTempView("m23_cs")
          s.sql(
            """MERGE INTO graft.m23t t USING m23_cs c ON t.id = c.id
              |WHEN MATCHED AND c.op = 'delete' THEN DELETE
              |WHEN MATCHED AND c.op = 'update' THEN
              |  UPDATE SET item_target = c.item_target, file_target = c.file_target
              |WHEN NOT MATCHED AND c.op = 'insert' THEN INSERT *
              |""".stripMargin).collect()
          ()
        }
      }
      GraftTableCatalog.withLocation(s, base) {
        s.sql("""SELECT id, share_type, uid_owner, item_type, item_source,
                |       item_target, file_source, file_target
                |FROM graft.m23t WHERE share_type = 3 ORDER BY id""".stripMargin)
      }
    },

    // Native streaming ingest into a catalog table (m24):
    // `writeStream.toTable("graft.m24t")` — the DSv2 STREAMING_WRITE path
    // ([[graft.streaming.SnapshotStreamingWrite]]): executors stage each
    // epoch's rows as parquet, the driver commits them as an
    // insert-if-absent merge with the epoch's `txn=` stamp riding the
    // atomic manifest create (exactly-once across restarts — replay
    // semantics are SnapshotStreamingWriteSpec's). Half the share table
    // arrives via CTAS, the other half STREAMS in from a file feed; the
    // oracle recomputes all shares from orders, so a dropped or doubled
    // epoch breaks the hash.
    Q("m24_streaming_ingest",
      s"""WITH ${SyntheticShares.sharesSql}
         |SELECT id, share_type, uid_owner, item_type, item_source,
         |       item_target, file_source, file_target
         |FROM shares ORDER BY id""".stripMargin) { (s, d) =>
      import graft.operators.Stage
      val base = Stage.sharedDir(s, "m24_stream", d) { out =>
        GraftTableCatalog.withLocation(s, out) {
          val shares = SyntheticShares.shares(Tables.orders(s, d))
          shares.createOrReplaceTempView("m24_shares")
          s.sql("CREATE TABLE graft.m24t TBLPROPERTIES ('key'='id') AS " +
            "SELECT * FROM m24_shares WHERE id % 2 = 0")
          val feed = s"$out/feed"
          shares.where(col("id") % 2 === 1).write.parquet(feed)
          val ckpt = java.nio.file.Files.createTempDirectory("m24_ckpt").toString
          val q = s.readStream.schema(shares.schema).parquet(feed)
            .writeStream
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .toTable("graft.m24t")
          q.awaitTermination()
          ()
        }
      }
      GraftTableCatalog.withLocation(s, base) {
        s.sql("""SELECT id, share_type, uid_owner, item_type, item_source,
                |       item_target, file_source, file_target
                |FROM graft.m24t ORDER BY id""".stripMargin)
      }
    },

    // Native streaming READ of a catalog table (m25): `spark.readStream
    // .table("graft.m25t")` — the DSv2 MICRO_BATCH_READ path
    // ([[graft.streaming.SnapshotMicroBatchStream]]), the missing half of
    // m24's by-name streaming surface: offsets are log versions, the
    // first batch bootstraps with the earliest version's content, later
    // batches deliver each version range's appended rows (file-diff
    // bounded — manifest text plus the new files, never a table rescan).
    // Half the share table arrives via CTAS (v0), the other half as a
    // keyed INSERT (v1); the stream drains into a parquet fold whose
    // union must hash-equal the oracle's from-scratch share recompute —
    // a dropped bootstrap row, a doubled version or a phantom image
    // breaks it. Restart/replay/change-commit/vacuum-gap semantics are
    // SnapshotMicroBatchReadSpec's.
    Q("m25_streaming_read",
      s"""WITH ${SyntheticShares.sharesSql}
         |SELECT id, share_type, uid_owner, item_type, item_source,
         |       item_target, file_source, file_target
         |FROM shares ORDER BY id""".stripMargin) { (s, d) =>
      import graft.operators.Stage
      val base = Stage.sharedDir(s, "m25_streamread", d) { out =>
        GraftTableCatalog.withLocation(s, out) {
          val shares = SyntheticShares.shares(Tables.orders(s, d))
          shares.createOrReplaceTempView("m25_shares")
          s.sql("CREATE TABLE graft.m25t TBLPROPERTIES ('key'='id') AS " +
            "SELECT * FROM m25_shares WHERE id % 2 = 0")
          s.sql("INSERT INTO graft.m25t SELECT * FROM m25_shares WHERE id % 2 = 1")
          ()
        }
      }
      GraftTableCatalog.withLocation(s, base) {
        // fresh checkpoint + accumulator per run: the stream replays the
        // full feed and folds it batch-by-batch (eagerly — the staged
        // micro-batch deltas are reclaimed as each batch commits)
        val scratch = java.nio.file.Files.createTempDirectory("m25").toString
        val acc = s"$scratch/acc"
        val q = s.readStream.table("graft.m25t")
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(acc)
            ()
          }
          .option("checkpointLocation", s"$scratch/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(acc)
          .select("id", "share_type", "uid_owner", "item_type", "item_source",
            "item_target", "file_source", "file_target")
          .orderBy("id")
      }
    },

    // Column RENAME + DROP as metadata-only DDL (m26): CTAS the share
    // table, `ALTER TABLE ... RENAME COLUMN file_target TO target_path`
    // (one manifest write — pre-rename files keep their bytes and read
    // through the physmap chain, [[graft.operators.SnapshotLog
    // .renameColumn]]), a SQL UPDATE whose copy-on-write rewrite MIXES
    // eras (its footprint files are pre-rename, the rewritten ones
    // post-rename), then `DROP COLUMN item_source` (schema narrowed,
    // name tombstoned against resurrection). The oracle recomputes the
    // same final state relationally under the NEW column name, so a
    // single nulled-out pre-rename value or a resurrected dropped value
    // breaks the hash. Guard shapes (key/partition renames, tombstone
    // blocks, retire-on-OPTIMIZE, CDC across the rename) are
    // SchemaRenameDropSpec's.
    Q("m26_rename_drop_column",
      s"""WITH ${SyntheticShares.sharesSql}
         |SELECT id, share_type, uid_owner, item_type, item_target,
         |       file_source,
         |       CASE WHEN id % 13 = 0 THEN file_target || '.r'
         |            ELSE file_target END AS target_path
         |FROM shares ORDER BY id""".stripMargin) { (s, d) =>
      import graft.operators.Stage
      val base = Stage.sharedDir(s, "m26_rename", d) { out =>
        GraftTableCatalog.withLocation(s, out) {
          val shares = SyntheticShares.shares(Tables.orders(s, d))
          shares.createOrReplaceTempView("m26_shares")
          s.sql("CREATE TABLE graft.m26t TBLPROPERTIES ('key'='id') AS " +
            "SELECT * FROM m26_shares")
          s.sql("ALTER TABLE graft.m26t RENAME COLUMN file_target TO target_path")
          s.sql("UPDATE graft.m26t SET target_path = concat(target_path, '.r') " +
            "WHERE id % 13 = 0").collect()
          s.sql("ALTER TABLE graft.m26t DROP COLUMN item_source")
          ()
        }
      }
      GraftTableCatalog.withLocation(s, base) {
        s.sql("""SELECT id, share_type, uid_owner, item_type, item_target,
                |       file_source, target_path
                |FROM graft.m26t ORDER BY id""".stripMargin)
      }
    },

    // UPDATE SET c = NULL (m27): the partial-update changeset reads a
    // null value as "keep base", so explicit NULL assignment rides the
    // [[graft.operators.Merge.SetNullCol]] sidecar — per-row column names
    // the UPDATE assigned whose value evaluated null — giving SQL UPDATE
    // exact standard semantics. Every 7th share's item_target is nulled
    // (a COMPUTED null: nullif exercises the runtime path, not a folded
    // literal); the oracle recomputes with CASE, so a "kept" value that
    // should have been nulled — or a nulled neighbor column — breaks the
    // hash. Literal/typed/mixed-assignment shapes are SqlDmlSpec's.
    Q("m27_update_set_null",
      s"""WITH ${SyntheticShares.sharesSql}
         |SELECT id, share_type, uid_owner, item_type, item_source,
         |       CASE WHEN id % 7 = 0 THEN NULL ELSE item_target END AS item_target,
         |       file_source, file_target
         |FROM shares ORDER BY id""".stripMargin) { (s, d) =>
      import graft.operators.Stage
      val base = Stage.sharedDir(s, "m27_setnull", d) { out =>
        GraftTableCatalog.withLocation(s, out) {
          val shares = SyntheticShares.shares(Tables.orders(s, d))
          shares.createOrReplaceTempView("m27_shares")
          s.sql("CREATE TABLE graft.m27t TBLPROPERTIES ('key'='id') AS " +
            "SELECT * FROM m27_shares")
          s.sql("UPDATE graft.m27t SET item_target = nullif(item_target, item_target) " +
            "WHERE id % 7 = 0").collect()
          ()
        }
      }
      GraftTableCatalog.withLocation(s, base) {
        s.sql("""SELECT id, share_type, uid_owner, item_type, item_source,
                |       item_target, file_source, file_target
                |FROM graft.m27t ORDER BY id""".stripMargin)
      }
    },

    // SQL CDC surface (m28): the change feed read back as a TABLE-VALUED
    // FUNCTION — `SELECT ... FROM table_changes('graft.m28t', 1, 2)`
    // ([[graft.sql.TableChanges]], injected via
    // `SparkSessionExtensions.injectTableFunction` so it composes inside
    // arbitrary SQL). The lifecycle drives BOTH physical change routes:
    // version 1 is the m09 changeset applied through `MERGE INTO`
    // (copy-on-write file diff), version 2 a `DELETE ... WHERE` (merge-
    // on-read delete vector — the CDC B-part), and the TVF attributes
    // every row to its committing version. The oracle recomputes the
    // same window relationally from the changeset moduli: a row
    // mis-attributed, double-counted across the window, or a CoW-
    // rewritten-but-unchanged row not cancelled breaks the hash.
    Q("m28_table_changes", Merge0.tableChangesSql) { (s, d) =>
      import graft.operators.{SnapshotLog, Stage}
      val base = Stage.sharedDir(s, "m28_tvf", d) { out =>
        GraftTableCatalog.withLocation(s, out) {
          val shares = SyntheticShares.shares(Tables.orders(s, d))
          SnapshotLog.init(s, s"$out/m28t", shares, "id", numFiles = 8)
          Merge0.changeset(shares).createOrReplaceTempView("m28_cs")
          s.sql(
            """MERGE INTO graft.m28t t USING m28_cs c ON t.id = c.id
              |WHEN MATCHED AND c.op = 'delete' THEN DELETE
              |WHEN MATCHED AND c.op = 'update' THEN
              |  UPDATE SET item_target = c.item_target, file_target = c.file_target
              |WHEN NOT MATCHED AND c.op = 'insert' THEN INSERT *
              |""".stripMargin).collect()
          s.sql("DELETE FROM graft.m28t WHERE id % 13 = 0").collect()
          ()
        }
      }
      // the stage is memoized: the body may not have run, so the read
      // names the catalog location itself
      GraftTableCatalog.withLocation(s, base) {
        s.sql(
          """SELECT id, share_type, uid_owner, item_type, item_source,
            |       item_target, file_source, file_target,
            |       _change_type, _commit_version
            |FROM table_changes('graft.m28t', 1, 2)
            |ORDER BY _commit_version, id""".stripMargin)
      }
    },

    // Write-time constraints (m29): the reference's defining sink
    // behavior is a VALIDATED write (`main.go:232-238` asserts
    // rows-affected after every upsert); CHECK + NOT NULL constraints
    // are that theme generalized to the lakehouse surface. The lifecycle
    // adds `CHECK (file_source >= 0)` and `uid_owner NOT NULL`, fires
    // two VIOLATING updates (each must abort WITHOUT committing — the
    // try/catch swallows the error, and if enforcement were broken the
    // poisoned rows would land and break the oracle hash), then applies
    // a passing update. The oracle recomputes only the PASSING update:
    // the hash certifies both that valid writes go through and that
    // invalid ones left no trace.
    Q("m29_constraints",
      s"""WITH ${SyntheticShares.sharesSql}
         |SELECT id, share_type, uid_owner, item_type, item_source,
         |       item_target, file_source,
         |       CASE WHEN id % 23 = 0 THEN '/kept/' || CAST(id AS VARCHAR)
         |            ELSE file_target END AS file_target
         |FROM shares ORDER BY id""".stripMargin) { (s, d) =>
      import graft.operators.Stage
      val base = Stage.sharedDir(s, "m29_cons", d) { out =>
        GraftTableCatalog.withLocation(s, out) {
          val shares = SyntheticShares.shares(Tables.orders(s, d))
          shares.createOrReplaceTempView("m29_shares")
          s.sql("CREATE TABLE graft.m29t TBLPROPERTIES ('key'='id') AS " +
            "SELECT * FROM m29_shares")
          s.sql("ALTER TABLE graft.m29t ADD CONSTRAINT fs_nonneg " +
            "CHECK (file_source >= 0)").collect()
          s.sql("ALTER TABLE graft.m29t ALTER COLUMN uid_owner SET NOT NULL")
            .collect()
          def mustReject(sql: String): Unit =
            try { s.sql(sql).collect(); sys.error(s"constraint MISSED: $sql") }
            catch { case e: IllegalStateException
                if e.getMessage.contains("violates table constraint") => () }
          mustReject("UPDATE graft.m29t SET file_source = -1 WHERE id % 23 = 0")
          mustReject("UPDATE graft.m29t SET uid_owner = " +
            "nullif(uid_owner, uid_owner) WHERE id % 31 = 0")
          s.sql("UPDATE graft.m29t SET file_target = " +
            "concat('/kept/', CAST(id AS STRING)) WHERE id % 23 = 0").collect()
          ()
        }
      }
      GraftTableCatalog.withLocation(s, base) {
        s.sql("""SELECT id, share_type, uid_owner, item_type, item_source,
                |       item_target, file_source, file_target
                |FROM graft.m29t ORDER BY id""".stripMargin)
      }
    }
  )

  /** m09 fixture constants (object-initialization-order-safe: declared in
    * a nested object so the eagerly built oracle SQL above can reference
    * them regardless of textual position).
    */
  object Merge0 {
    /** Insert ids live this far above any real share id (orderkeys reach
      * ~6M x sf; 1e9 is disjoint through sf ~160).
      */
    val InsertIdOffset = 1000000000L

    /** The m09/m11 changeset fixture over the share table: every 9th id
      * deleted, every remaining 5th partially updated (nulls keep base
      * values), every 11th id spawning an insert keyed above the real id
      * range — built once here so the functional MERGE (m09) and the
      * copy-on-write parquet MERGE (m11) certify against the SAME ops.
      */
    def changeset(shares: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import graft.operators.Merge
      val nullS = lit(null).cast("string")
      val nullI = lit(null).cast("int")
      val nullL = lit(null).cast("long")
      val csDel = shares.where(col("id") % 9 === 0)
        .select(lit(Merge.OpDelete).as("op"), col("id"),
          nullI.as("share_type"), nullS.as("uid_owner"), nullS.as("item_type"),
          nullS.as("item_source"), nullS.as("item_target"),
          nullL.as("file_source"), nullS.as("file_target"))
      val csUpd = shares.where(col("id") % 9 =!= 0 && col("id") % 5 === 0)
        .select(lit(Merge.OpUpdate).as("op"), col("id"),
          nullI.as("share_type"), nullS.as("uid_owner"), nullS.as("item_type"),
          nullS.as("item_source"),
          concat(lit("/moved/"), col("id").cast("string")).as("item_target"),
          nullL.as("file_source"),
          concat(lit("/merged/"), col("id").cast("string")).as("file_target"))
      val csIns = shares.where(col("id") % 11 === 0)
        .select(lit(Merge.OpInsert).as("op"),
          (col("id") + InsertIdOffset).as("id"),
          lit(3).as("share_type"), lit("merge_user").as("uid_owner"),
          lit("file").as("item_type"), col("id").cast("string").as("item_source"),
          concat(lit("/new/"), col("id").cast("string")).as("item_target"),
          col("id").as("file_source"),
          concat(lit("/n"), col("id").cast("string"), lit(".dat")).as("file_target"))
      csDel.unionByName(csUpd).unionByName(csIns)
    }

    /** The m09 fixture's post-merge table as a CTE chain ending in
      * `merged` — shared by the row-level oracles (m09/m11/m13) and the
      * aggregate recompute oracle (m14).
      */
    def keyedMergeCtes: String =
      s"""${SyntheticShares.sharesSql},
         |upd AS (
         |  SELECT id, '/moved/' || CAST(id AS VARCHAR) AS item_target,
         |         '/merged/' || CAST(id AS VARCHAR) AS file_target
         |  FROM shares WHERE id % 9 <> 0 AND id % 5 = 0
         |),
         |ins AS (
         |  SELECT id + $InsertIdOffset AS id, CAST(3 AS INTEGER) AS share_type,
         |         'merge_user' AS uid_owner, 'file' AS item_type,
         |         CAST(id AS VARCHAR) AS item_source,
         |         '/new/' || CAST(id AS VARCHAR) AS item_target,
         |         id AS file_source,
         |         '/n' || CAST(id AS VARCHAR) || '.dat' AS file_target
         |  FROM shares WHERE id % 11 = 0
         |),
         |merged AS (
         |  SELECT s.id, s.share_type, s.uid_owner, s.item_type, s.item_source,
         |         COALESCE(u.item_target, s.item_target) AS item_target,
         |         s.file_source,
         |         COALESCE(u.file_target, s.file_target) AS file_target
         |  FROM shares s LEFT JOIN upd u ON s.id = u.id
         |  WHERE s.id % 9 <> 0
         |  UNION ALL
         |  SELECT id, share_type, uid_owner, item_type, item_source, item_target,
         |         file_source, file_target
         |  FROM ins
         |)""".stripMargin

    /** The m09/m11 oracle: DuckDB's view of the post-merge share table. */
    def keyedMergeSql: String =
      s"""WITH $keyedMergeCtes
         |SELECT id, share_type, uid_owner, item_type, item_source,
         |       item_target, file_source, file_target
         |FROM merged ORDER BY id""".stripMargin

    /** The m15 evolution changeset: %13 updates set ONLY the brand-new
      * `quota` column (all pre-existing payloads null = untouched), %17
      * inserts arrive carrying it — the two ways a new column enters a
      * live table.
      */
    def evolveChangeset(shares: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import graft.operators.Merge
      val nullS = lit(null).cast("string")
      val nullI = lit(null).cast("int")
      val nullL = lit(null).cast("long")
      val csUpd = shares.where(col("id") % 13 === 0)
        .select(lit(Merge.OpUpdate).as("op"), col("id"),
          nullI.as("share_type"), nullS.as("uid_owner"), nullS.as("item_type"),
          nullS.as("item_source"), nullS.as("item_target"),
          nullL.as("file_source"), nullS.as("file_target"),
          (col("id") * 3).as("quota"))
      val csIns = shares.where(col("id") % 17 === 0)
        .select(lit(Merge.OpInsert).as("op"),
          (col("id") + InsertIdOffset).as("id"),
          lit(4).as("share_type"), lit("evo_user").as("uid_owner"),
          lit("file").as("item_type"), col("id").cast("string").as("item_source"),
          concat(lit("/evo/"), col("id").cast("string")).as("item_target"),
          col("id").as("file_source"),
          concat(lit("/e"), col("id").cast("string"), lit(".dat")).as("file_target"),
          (col("id") * 7).as("quota"))
      csUpd.unionByName(csIns)
    }

    /** The m15 oracle: the logical table after the add-column merge —
      * derived straight from the moduli, with no notion of which physical
      * files carry the column. A single row whose null didn't surface
      * (or surfaced where a value belongs) breaks the hash.
      */
    def evolveSql: String =
      s"""WITH ${SyntheticShares.sharesSql}
         |SELECT id, share_type, uid_owner, item_type, item_source,
         |       item_target, file_source, file_target,
         |       CASE WHEN id % 13 = 0 THEN id * 3
         |            ELSE CAST(NULL AS BIGINT) END AS quota
         |FROM shares
         |UNION ALL
         |SELECT id + $InsertIdOffset, CAST(4 AS INTEGER), 'evo_user', 'file',
         |       CAST(id AS VARCHAR), '/evo/' || CAST(id AS VARCHAR),
         |       id, '/e' || CAST(id AS VARCHAR) || '.dat', id * 7
         |FROM shares WHERE id % 17 = 0
         |ORDER BY id""".stripMargin

    /** The m14 oracle: the maintained view's TARGET — a from-scratch
      * recompute of the grouped aggregate over the merged table. The
      * engine never runs this plan; it maintains v0's view by the CDC
      * delta, and the hash gate proves the two coincide. Integer
      * measures (sum of file_source; sum of file_target's length) keep
      * both engines bit-exact; HUGEINT sums cast back to BIGINT.
      */
    def incViewSql: String =
      s"""WITH $keyedMergeCtes
         |SELECT uid_owner, CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(SUM(file_source) AS BIGINT) AS sum_fs,
         |       CAST(SUM(length(file_target)) AS BIGINT) AS sum_ftl
         |FROM merged GROUP BY uid_owner ORDER BY uid_owner""".stripMargin

    /** The m12 oracle: the SEMANTIC change rows between the snapshot
      * table's v0 and v1 — derived straight from the changeset fixture's
      * disjoint moduli (delete %9, update %5 of the rest, insert %11
      * offset), with op + after-image (nulls for deletes). The engine
      * side computes the same rows from the manifests' physical file
      * diff, so any CoW-rewritten-but-unchanged row it fails to cancel
      * breaks the hash.
      */
    def snapshotCdcSql: String =
      s"""WITH ${SyntheticShares.sharesSql}
         |SELECT 'delete' AS op, id,
         |       CAST(NULL AS INTEGER) AS share_type,
         |       CAST(NULL AS VARCHAR) AS uid_owner,
         |       CAST(NULL AS VARCHAR) AS item_type,
         |       CAST(NULL AS VARCHAR) AS item_source,
         |       CAST(NULL AS VARCHAR) AS item_target,
         |       CAST(NULL AS BIGINT) AS file_source,
         |       CAST(NULL AS VARCHAR) AS file_target
         |FROM shares WHERE id % 9 = 0
         |UNION ALL
         |SELECT 'update', id, share_type, uid_owner, item_type, item_source,
         |       '/moved/' || CAST(id AS VARCHAR), file_source,
         |       '/merged/' || CAST(id AS VARCHAR)
         |FROM shares WHERE id % 9 <> 0 AND id % 5 = 0
         |UNION ALL
         |SELECT 'insert', id + $InsertIdOffset, CAST(3 AS INTEGER), 'merge_user',
         |       'file', CAST(id AS VARCHAR), '/new/' || CAST(id AS VARCHAR),
         |       id, '/n' || CAST(id AS VARCHAR) || '.dat'
         |FROM shares WHERE id % 11 = 0
         |ORDER BY id""".stripMargin

    /** The m28 oracle: the `table_changes('graft.m28t', 1, 2)` window
      * recomputed relationally — version 1's rows are
      * [[snapshotCdcSql]]'s three changeset branches, version 2's the
      * `%13` MoR delete evaluated against the POST-merge table (so a
      * version-1 delete or an offset insert shifts its membership), each
      * stamped with its committing version.
      */
    def tableChangesSql: String =
      s"""WITH $keyedMergeCtes
         |SELECT * FROM (
         |  SELECT id, CAST(NULL AS INTEGER) AS share_type,
         |         CAST(NULL AS VARCHAR) AS uid_owner,
         |         CAST(NULL AS VARCHAR) AS item_type,
         |         CAST(NULL AS VARCHAR) AS item_source,
         |         CAST(NULL AS VARCHAR) AS item_target,
         |         CAST(NULL AS BIGINT) AS file_source,
         |         CAST(NULL AS VARCHAR) AS file_target,
         |         'delete' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
         |  FROM shares WHERE id % 9 = 0
         |  UNION ALL
         |  SELECT id, share_type, uid_owner, item_type, item_source,
         |         '/moved/' || CAST(id AS VARCHAR), file_source,
         |         '/merged/' || CAST(id AS VARCHAR),
         |         'update', CAST(1 AS BIGINT)
         |  FROM shares WHERE id % 9 <> 0 AND id % 5 = 0
         |  UNION ALL
         |  SELECT id + $InsertIdOffset, CAST(3 AS INTEGER), 'merge_user',
         |         'file', CAST(id AS VARCHAR), '/new/' || CAST(id AS VARCHAR),
         |         id, '/n' || CAST(id AS VARCHAR) || '.dat',
         |         'insert', CAST(1 AS BIGINT)
         |  FROM shares WHERE id % 11 = 0
         |  UNION ALL
         |  SELECT id, CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR),
         |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         |         CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
         |         CAST(NULL AS VARCHAR), 'delete', CAST(2 AS BIGINT)
         |  FROM merged WHERE id % 13 = 0
         |)
         |ORDER BY _commit_version, id""".stripMargin
  }
}
