package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.operators.{JdbcUpsert, UpsertConnectionFactory, UpsertOutcome, UpsertRow}

/** Epoch ledger for exactly-once micro-batch application: Structured
  * Streaming's foreachBatch is AT-LEAST-once — after a crash between the
  * batch function and the checkpoint commit, the same (streamId, epochId)
  * replays. The ledger records committed epochs so a replay skips the
  * side-effecting write instead of re-applying it. A production
  * deployment backs it with a table next to the target (committed epoch
  * ids are tiny); [[InMemoryEpochLedger]] is the single-JVM form.
  */
trait EpochLedger extends Serializable {
  /** Has this (stream, epoch) fully applied already? */
  def committed(streamId: String, epochId: Long): Boolean
  /** Record (stream, epoch) as fully applied. */
  def commit(streamId: String, epochId: Long): Unit
}

/** JVM-local ledger (tests / single-process deployments). */
final class InMemoryEpochLedger extends EpochLedger {
  private val done = ConcurrentHashMap.newKeySet[String]()
  override def committed(streamId: String, epochId: Long): Boolean =
    done.contains(s"$streamId|$epochId")
  override def commit(streamId: String, epochId: Long): Unit =
    done.add(s"$streamId|$epochId")
}

/** Durable ledger backed by a table NEXT TO the upsert target — the
  * production form: a restarted driver recovering from a checkpoint asks
  * the same database it writes to whether the replayed epoch already
  * applied, so the exactly-once guarantee survives process death (the
  * whole point; [[InMemoryEpochLedger]] cannot). `committed` is a point
  * SELECT on the (stream_id, epoch_id) primary key; `commit` an INSERT
  * whose duplicate-key violation is swallowed (a concurrent/racing
  * commit of the same epoch is by definition already durable). Ledger
  * calls run on the DRIVER at epoch cadence (foreachBatch executes the
  * batch function there), so one short-lived connection per call is the
  * right simplicity — there is no hot path to pool for.
  */
final class JdbcEpochLedger(url: String, table: String = "graft_epochs",
                            props: Map[String, String] = Map.empty)
    extends EpochLedger {

  private def withConn[A](f: java.sql.Connection => A): A = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    val c = java.sql.DriverManager.getConnection(url, p)
    try f(c) finally c.close()
  }

  /** Create the ledger table if absent (idempotent; tolerates the
    * already-exists error so concurrent streams can share one ledger).
    */
  def ensureTable(): this.type = {
    withConn { c =>
      try c.createStatement().executeUpdate(
        s"CREATE TABLE $table (stream_id VARCHAR(128) NOT NULL, " +
          "epoch_id BIGINT NOT NULL, PRIMARY KEY (stream_id, epoch_id))")
      catch { case _: java.sql.SQLException if tableExists(c) => () }
    }
    this
  }

  private def tableExists(c: java.sql.Connection): Boolean = {
    val rs = c.getMetaData.getTables(null, null, null, Array("TABLE"))
    try {
      var found = false
      while (!found && rs.next())
        found = rs.getString("TABLE_NAME").equalsIgnoreCase(table)
      found
    } finally rs.close()
  }

  override def committed(streamId: String, epochId: Long): Boolean =
    withConn { c =>
      val ps = c.prepareStatement(
        s"SELECT 1 FROM $table WHERE stream_id = ? AND epoch_id = ?")
      ps.setString(1, streamId); ps.setLong(2, epochId)
      val rs = ps.executeQuery()
      try rs.next() finally rs.close()
    }

  override def commit(streamId: String, epochId: Long): Unit =
    withConn { c =>
      val ps = c.prepareStatement(
        s"INSERT INTO $table (stream_id, epoch_id) VALUES (?, ?)")
      ps.setString(1, streamId); ps.setLong(2, epochId)
      // a duplicate-key violation means the epoch is already durably
      // committed — the tolerated race. Not every driver signals it via
      // the SQLIntegrityConstraintViolationException subclass (PostgreSQL
      // throws a plain SQLException subclass), so also accept SQLState
      // class 23 (integrity constraint violation, SQL standard).
      try { ps.executeUpdate(); () }
      catch {
        case _: java.sql.SQLIntegrityConstraintViolationException => ()
        case e: java.sql.SQLException
            if Option(e.getSQLState).exists(_.startsWith("23")) => ()
      }
    }
}

/** Streaming twin of the K1 keyed-upsert sink: an unbounded change-set
  * stream drains into [[JdbcUpsert.write]] one micro-batch at a time via
  * foreachBatch — the batch sink's one statement loop (per-partition
  * connection + prepared-statement reuse, affected-rows validation, K4
  * continue-on-error outcomes), shared with [[MergeStreams]]' CDC apply
  * (one sink implementation, two execution modes; the reference's
  * one-shot `main` has no streaming at all, main.go:241-322).
  *
  * `onOutcomes` receives each micro-batch's outcome rows (audit/error
  * channels) together with the batch id. [[writeStreamExactlyOnce]] adds
  * replay protection: each epoch applies once, recorded in an
  * [[EpochLedger]]; a replayed micro-batch is skipped entirely. (The
  * UPDATE itself is idempotent — same values, same key — so even the
  * crash window between apply and ledger commit degrades to a harmless
  * re-write, never a double-apply of effects.)
  */
object UpsertStreams {

  /** Fail BEFORE any side effect if the stage root cannot be shared
    * across the cluster: Stage's unset-stageDir fallback is a
    * driver-local tmp path, so on a multi-node master the executors'
    * outcome writes would land on their own local disks and the
    * read-back would fail AFTER the statements ran — a retry storm.
    * Single-machine masters share the path and stay zero-config —
    * including local-cluster[...] (multi-JVM, one host), which is why
    * this tests master's prefix rather than sc.isLocal. Shared by the
    * K1 upsert stream and [[MergeStreams]]' CDC apply.
    */
  private[streaming] def requireSharedStageRoot(
      spark: org.apache.spark.sql.SparkSession, who: String): Unit = {
    val sc = spark.sparkContext
    require(sc.master.startsWith("local") ||
        spark.conf.getOption(graft.operators.Stage.StageDirKey)
          .exists(_.nonEmpty),
      s"$who exactly-once apply on a cluster requires " +
        s"${graft.operators.Stage.StageDirKey} to point at storage all " +
        "executors and the driver can reach (hdfs://, s3a://, ...); the " +
        "local-tmp fallback is only valid for local masters")
  }

  def writeStream(cs: Dataset[UpsertRow], factory: UpsertConnectionFactory,
                  dryRun: Boolean = false, debug: Boolean = false)
                 (onOutcomes: (Dataset[UpsertOutcome], Long) => Unit)
      : DataStreamWriter[UpsertRow] =
    cs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[UpsertRow], batchId: Long) =>
        onOutcomes(JdbcUpsert.write(batch, factory, dryRun, debug), batchId)
      }

  /** One epoch's application, replay-safe: skip if the ledger already has
    * it; otherwise execute the upserts EXACTLY once — the side-effecting
    * write runs under a single distributed parquet write of its outcome
    * rows (a [[graft.operators.Stage]] table), and the caller receives a
    * SCAN of that written table, severed from the write lineage, so no
    * action the consumer ever takes on it (now or after this call returns)
    * can re-issue the UPDATEs. Outcomes never pass through the driver:
    * executors write them straight to storage, so epoch size is bounded by
    * cluster capacity, not driver memory. Commits the epoch after the
    * callback; returns false for a skipped replay.
    */
  def applyEpoch(batch: Dataset[UpsertRow], epochId: Long,
                 factory: UpsertConnectionFactory, ledger: EpochLedger,
                 streamId: String, dryRun: Boolean = false,
                 debug: Boolean = false)
                (onOutcomes: (Dataset[UpsertOutcome], Long) => Unit): Boolean =
    if (ledger.committed(streamId, epochId)) false
    else {
      requireSharedStageRoot(batch.sparkSession, "UpsertStreams")
      // the one execution of the side-effecting write: the parquet write
      // action below drives JdbcUpsert's per-partition statements exactly
      // once, and the returned frame is a scan of the written outcomes
      val outcomes = graft.operators.Stage.table(
        JdbcUpsert.write(batch, factory, dryRun, debug).toDF(),
        s"upsert-outcomes-$streamId-$epochId")
      onOutcomes(outcomes.as[UpsertOutcome](
        org.apache.spark.sql.Encoders.product[UpsertOutcome]), epochId)
      ledger.commit(streamId, epochId)
      true
    }

  /** [[writeStream]] with epoch-id replay protection through `ledger`. */
  def writeStreamExactlyOnce(cs: Dataset[UpsertRow],
                             factory: UpsertConnectionFactory,
                             ledger: EpochLedger, streamId: String,
                             dryRun: Boolean = false, debug: Boolean = false)
                            (onOutcomes: (Dataset[UpsertOutcome], Long) => Unit)
      : DataStreamWriter[UpsertRow] =
    cs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[UpsertRow], batchId: Long) =>
        applyEpoch(batch, batchId, factory, ledger, streamId, dryRun, debug)(onOutcomes)
        () // discard: foreachBatch wants Unit
      }
}
