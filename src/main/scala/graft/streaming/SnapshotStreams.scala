package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.operators.{MaterializedView, SnapshotCommit, SnapshotLog}
import graft.sources.Manifest

/** Streaming CDC into AND out of the manifest-committed snapshot table —
  * m12's continuous twin, with a twist the other streaming sinks can't
  * offer: THE TRANSACTION LOG IS THE EPOCH LEDGER. [[MergeStreams]] needs
  * a separate [[EpochLedger]] because its JDBC statements leave no
  * replay-detectable trace; here every commit is already an atomic,
  * exclusive manifest create, so the epoch stamp rides INSIDE the
  * manifest as commit metadata (`txn=<streamId>/<epochId>`) and replay
  * detection is one scan of the committed manifests. No second system to
  * keep consistent with the first — the commit and its dedup record are
  * the same atomic file create (the transaction-marker idea lakehouse
  * logs use for idempotent streaming writes).
  *
  * Failure window analysis (contrast [[MergeStreams.applyEpoch]]'s
  * forced commit-before-deliver ordering): there is NO window here. The
  * data files staged before a crashed commit are invisible-by-
  * construction (no manifest references them; [[SnapshotLog.vacuum]]
  * reclaims), and a replayed epoch either finds its txn stamp (skip) or
  * re-stages and commits fresh files — never a double apply, because the
  * stamp and the data commit are one atomic file create.
  *
  * The SOURCE side ([[readVersionFeed]]/[[readChanges]]/[[maintainView]])
  * closes the loop the sink opens: because a commit IS one new file under
  * `_log/`, the log directory is ALREADY a stream Spark's file source can
  * tail — no custom DSv2 source, no polling loop. Each newly committed
  * version's manifest arrives as micro-batch input exactly once (the file
  * source checkpoint tracks processed files), and the batch handler turns
  * the version range into [[SnapshotLog.cdcSigned]] deltas — the
  * Delta-style version-fed CDC stream, at file-diff scan cost per batch.
  */
object SnapshotStreams {

  /** Per-(table, stream) replay watermark: the highest epoch id whose txn
    * stamp has been SEEN in a committed manifest, plus the version the
    * scan has covered. Epochs are monotone per stream (structured
    * streaming batch ids), so `epochId <= max seen` decides replay — the
    * standard lakehouse txn-version check — and each call only scans
    * manifests committed since the previous call: O(total versions) reads
    * over a stream's whole lifetime, not per micro-batch. The cache is
    * advisory (a cold JVM rebuilds it from the manifests on first call),
    * so crash-restart correctness never depends on it.
    */
  private val epochSeen =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** True iff some committed version carries this stream's epoch stamp
    * (or an stamp of a LATER epoch — epochs commit in order, so a lower
    * id than the watermark is by definition a replay).
    */
  def epochCommitted(spark: SparkSession, tableDir: String, streamId: String,
      epochId: Long): Boolean = {
    val cacheKey = s"$tableDir|$streamId"
    val vs = SnapshotLog.versions(spark, tableDir)
    if (vs.isEmpty) return false
    val (scannedThrough, cachedMax) =
      Option(epochSeen.get(cacheKey)).getOrElse((-1L, Long.MinValue))
    val stampPrefix = s"$streamId/"
    var maxEpoch = cachedMax
    vs.iterator.filter(_ > scannedThrough).foreach { v =>
      SnapshotLog.manifestOf(spark, tableDir, v).tags.foreach {
        case (Manifest.TxnTag, t) if t.startsWith(stampPrefix) =>
          maxEpoch = math.max(maxEpoch, t.stripPrefix(stampPrefix).toLong)
        case _ =>
      }
    }
    epochSeen.put(cacheKey, (vs.last, maxEpoch))
    epochId <= maxEpoch
  }

  /** One epoch's changeset applied copy-on-write, replay-safe: skipped
    * (None) when the epoch's stamp is already in the log, otherwise
    * committed as the next version with the stamp in its manifest.
    * Single-writer-per-table discipline is the stream's contract; a
    * racing writer surfaces as [[graft.operators.ConcurrentCommitException]]
    * (re-plan, don't retry blindly).
    */
  def applyEpoch(spark: SparkSession, tableDir: String, batch: DataFrame,
      epochId: Long, streamId: String, key: String): Option[SnapshotCommit] =
    if (epochCommitted(spark, tableDir, streamId, epochId)) None
    else Some(SnapshotLog.merge(spark, tableDir, batch, key,
      tags = Seq(Manifest.TxnTag -> s"$streamId/$epochId")))

  /** The stream sink: each micro-batch of changeset rows ([[
    * graft.operators.Merge]]'s op + key + payload contract) commits one
    * snapshot version through [[applyEpoch]]'s stamp seam; `onCommit`
    * sees every non-replayed epoch's commit report. A version race
    * against a concurrent writer retries through
    * [[SnapshotLog.commitWithRetry]] — each attempt re-reads the log and
    * re-plans the merge against the winner's manifest (and re-checks the
    * epoch stamp, so a race lost to our OWN replayed epoch resolves to a
    * skip, never a double apply).
    */
  def writeStreamExactlyOnce(cs: DataFrame, tableDir: String,
      streamId: String, key: String)
      (onCommit: (SnapshotCommit, Long) => Unit): DataStreamWriter[Row] =
    cs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        SnapshotLog.commitWithRetry() {
          applyEpoch(batch.sparkSession, tableDir, batch, batchId, streamId, key)
        }.foreach(c => onCommit(c, batchId))
        () // discard: foreachBatch wants Unit
      }

  // ------------------------------------------------------------------
  // Source side: the _log directory as a stream
  // ------------------------------------------------------------------

  /** The table's commit feed as a STREAMING DataFrame: one row per
    * manifest line, with the committed version attached. Commit =
    * exclusive manifest create = one new file under `_log/`, so Spark's
    * file stream source tails the log natively — each committed version
    * arrives in exactly one micro-batch (the source checkpoint tracks
    * processed files), with no custom source and no polling of table
    * state. At 100 TB the batch input is manifest TEXT (file-count-sized
    * metadata), never data.
    */
  def readVersionFeed(spark: SparkSession, tableDir: String): DataFrame =
    spark.readStream.text(SnapshotLog.logDirOf(tableDir).toString)
      // nullif BEFORE the cast: a non-manifest file in _log (README, a
      // foreign tool's marker) extracts to '' — under ANSI semantics a
      // bare cast('') throws, and the predicate is pushed into file-
      // metadata pruning where it would kill the whole stream; '' -> null
      // -> filtered is the correct quiet path for foreign files
      .select(col("value"),
        nullif(regexp_extract(col("_metadata").getField("file_name"),
          "^(\\d+)\\.manifest$", 1), lit("")).cast("long").as("version"))
      .where(col("version").isNotNull)

  /** Streaming CDC source: each micro-batch hands `process` the SIGNED
    * change images ([[SnapshotLog.cdcSigned]]'s `__sign` contract) of
    * every version committed since the last processed one, as ONE
    * composed delta (the file diff of the batch's version range), plus
    * the (fromVersion, toVersion) range it covers. The first batch —
    * which contains version 0's manifest — bootstraps with v0's full
    * content as +1 images before the diff, so a consumer folding the
    * deltas from an empty state converges on the live table.
    *
    * Delivery is exactly-once per CHECKPOINT but at-least-once across
    * crashes (foreachBatch replays the in-flight batch), so `process`
    * must be idempotent — keyed on `toVersion`, exactly how
    * [[maintainView]]'s watermark makes the end-to-end loop exactly-once.
    */
  def readChanges(spark: SparkSession, tableDir: String, key: String)
      (process: (DataFrame, Long, Long) => Unit): DataStreamWriter[Row] =
    readVersionFeed(spark, tableDir).writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val vs = batch.select("version").distinct()
          .collect().map(_.getLong(0)).sorted
        if (vs.nonEmpty) {
          val session = batch.sparkSession
          // the composed delta (vs.head-1, vs.last) assumes this batch's
          // versions are CONTIGUOUS — file-source ordering (mod-time with
          // path tiebreak) is not a contractual version order, so an
          // interior gap (a manifest deferred to a later batch) would
          // silently double-count that gap's changes when it arrives.
          // Assert and fail loudly, mirroring the vacuumed-gap check.
          if (!vs.sameElements(vs.head to vs.last))
            throw new IllegalStateException(
              s"non-contiguous version batch ${vs.mkString(",")} from the " +
                s"commit feed of $tableDir — a manifest between " +
                s"${vs.head} and ${vs.last} was deferred to a later " +
                "micro-batch; refusing to compose a delta across the gap")
          // versions commit contiguously and the file source delivers
          // each manifest once, in order: everything below the batch's
          // first version was either processed by an earlier batch
          // (batchId > 0) or — when the stream STARTS on a table whose
          // older versions were vacuumed — never existed to deliver.
          // A batch may bootstrap from its first visible version's full
          // content when it is the stream's FIRST batch, or when that
          // version is 0 (version 0 can only ever be a first delivery —
          // the file source delivers each manifest once — so a batch-0
          // that fired empty before table init must not poison the real
          // first delivery); a mid-stream gap (a version this stream
          // still needed, vacuumed away) is a retention-contract
          // violation and must fail loudly, never silently re-bootstrap
          // and double-count.
          val to = vs.last
          val from = vs.head - 1
          val fromCommitted =
            from >= 0 && SnapshotLog.versions(session, tableDir).contains(from)
          val signed =
            if (!fromCommitted && (batchId == 0L || from < 0)) {
              val bootstrap = SnapshotLog.read(session, tableDir, vs.head)
                .withColumn("__sign", lit(1))
              if (to == vs.head) bootstrap
              else bootstrap.unionByName(
                SnapshotLog.cdcSigned(session, tableDir, vs.head, to, key))
            } else if (!fromCommitted) {
              throw new IllegalStateException(
                s"version $from of $tableDir was vacuumed while this change " +
                  "feed still needed it — pin vacuum retention above every " +
                  "streaming consumer (SnapshotLog.vacuum's reader contract)")
            } else SnapshotLog.cdcSigned(session, tableDir, from, to, key)
          process(signed, math.max(from, 0L), to)
        }
        ()
      }

  /** CONTINUOUS incremental view maintenance — the completion of m14's
    * loop: tail the base table's commit feed and absorb every new version
    * into the durable [[MaterializedView]] as it lands. Each micro-batch
    * is one [[MaterializedView.refresh]]: delta-bounded (one cdcSigned
    * file-diff scan + the |groups|-row view, never the base), and
    * idempotent through the view's atomic `asof` watermark — a replayed
    * batch (crash between refresh and checkpoint advance) finds
    * asof == latest and no-ops, so the maintained view is exactly-once
    * end-to-end with no state beyond the two transaction logs themselves.
    */
  def maintainView(spark: SparkSession, baseDir: String, viewDir: String,
      measures: Seq[(String, org.apache.spark.sql.Column)],
      numFiles: Int = 1)
      (onRefresh: SnapshotCommit => Unit = _ => ()): DataStreamWriter[Row] =
    readVersionFeed(spark, baseDir).writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          MaterializedView.refresh(batch.sparkSession, baseDir, viewDir,
            measures, numFiles).foreach(onRefresh)
        ()
      }
}
