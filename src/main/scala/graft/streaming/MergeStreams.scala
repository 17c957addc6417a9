package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.operators.{Merge, MergeChange, MergeOutcome, UpsertConnectionFactory}

/** Streaming CDC apply — m09's keyed MERGE as a continuous sink: an
  * unbounded insert/update/delete changeset stream (the classic change-
  * data-capture feed) drains into [[Merge.execute]] one micro-batch at a
  * time through the SAME exactly-once epoch seam as the K1 upsert stream
  * ([[UpsertStreams]]): foreachBatch is at-least-once, so each epoch's
  * side-effecting write runs under the epoch ledger — a replayed
  * micro-batch after a crash-before-checkpoint is skipped entirely, and
  * unlike the update-only K1 path this matters hard here: INSERT and
  * DELETE are NOT idempotent against affected-rows validation (a
  * replayed insert trips the key constraint onto the error channel, a
  * replayed delete reports 0 rows), so the ledger is the difference
  * between exactly-once semantics and an error-channel flood.
  *
  * One sink implementation, two execution modes: op dispatch lives in
  * [[Merge.execute]], and the per-partition connection, lazily-prepared
  * statements and outcome validation in the statement loop it shares
  * with [[graft.operators.JdbcUpsert]]; this file only adds the epoch
  * protocol. MergeStreamsSpec pins two-micro-batch replay
  * against embedded Derby to row-for-row parity with the batch
  * functional merge.
  */
object MergeStreams {

  /** One epoch's CDC application, replay-safe: skip if the ledger has
    * it; otherwise run the merge EXACTLY once — the physical statements
    * execute under one distributed parquet write of the outcome rows
    * (a written [[graft.operators.Stage]] table), and the caller gets a
    * scan of that table severed from the write lineage, so downstream
    * actions can never re-issue the statements. Same cluster guard as
    * [[UpsertStreams.applyEpoch]]: an unset stage root on a multi-node
    * master would scatter outcome files across executor-local disks.
    *
    * Commit ordering: the ledger commits IMMEDIATELY after the staged
    * outcome write, BEFORE `onOutcomes` runs. The two orderings trade
    * different failure modes across the crash window, and for MERGE the
    * choice is forced: a crash (or callback exception) after the
    * statements ran but before commit would re-execute non-idempotent
    * INSERT/DELETE statements on replay — the error-channel flood the
    * ledger exists to prevent. Committing first narrows the loss to
    * callback DELIVERY: a replayed epoch is skipped, and the caller can
    * recover its outcome rows from the written stage table (the commit
    * happens only after that parquet write completes). Contrast
    * [[UpsertStreams.applyEpoch]], which commits after delivery because
    * its update-only replay is idempotent and harmless.
    */
  def applyEpoch(batch: Dataset[MergeChange], epochId: Long,
                 factory: UpsertConnectionFactory, ledger: EpochLedger,
                 streamId: String, dryRun: Boolean = false,
                 maxRetries: Int = 5)
                (onOutcomes: (Dataset[MergeOutcome], Long) => Unit): Boolean =
    if (ledger.committed(streamId, epochId)) false
    else {
      UpsertStreams.requireSharedStageRoot(batch.sparkSession, "MergeStreams")
      val outcomes = graft.operators.Stage.table(
        Merge.execute(batch, factory, dryRun, maxRetries).toDF(),
        s"merge-outcomes-$streamId-$epochId")
      ledger.commit(streamId, epochId)
      onOutcomes(outcomes.as[MergeOutcome](
        org.apache.spark.sql.Encoders.product[MergeOutcome]), epochId)
      true
    }

  /** The CDC stream sink: each micro-batch applies through
    * [[applyEpoch]]'s ledger seam; `onOutcomes` receives every applied
    * epoch's outcome rows (audit/error channels) with its epoch id.
    */
  def writeStreamExactlyOnce(cs: Dataset[MergeChange],
                             factory: UpsertConnectionFactory,
                             ledger: EpochLedger, streamId: String,
                             dryRun: Boolean = false, maxRetries: Int = 5)
                            (onOutcomes: (Dataset[MergeOutcome], Long) => Unit)
      : DataStreamWriter[MergeChange] =
    cs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[MergeChange], batchId: Long) =>
        applyEpoch(batch, batchId, factory, ledger, streamId, dryRun,
          maxRetries)(onOutcomes)
        () // discard: foreachBatch wants Unit
      }
}
