package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** One MERGE change, shaped for the `oc_share` physical sink (the K1
  * column set plus the op discriminator). `new_*` fields may be null for
  * partial updates; they are required for inserts.
  */
final case class MergeChange(op: String, id: Long, new_item_source: String,
                             new_item_target: String, new_file_source: java.lang.Long,
                             new_file_target: String)

/** Per-change physical outcome (the K4 continue-on-error channel, with
  * the op recorded so a 0-affected delete — already gone, not an error —
  * is distinguishable from a 0-affected update — K1's "share deleted").
  */
final case class MergeOutcome(id: Long, op: String, affected: Int, error: Option[String])

/** Keyed MERGE: the general insert/update/delete changeset applied to a
  * keyed table — the batch analogue of the streaming epoch ledger
  * ([[graft.streaming.UpsertStreams]]) and the superset of the
  * reference's update-only changeset (main.go:217-240).
  *
  * [[Merge.apply]] is the FUNCTIONAL form (what the post-merge table IS):
  *   - matched `update`: non-null changeset columns overwrite, nulls keep
  *     the base value (partial updates via coalesce);
  *   - matched `delete`: the row is dropped;
  *   - unmatched `insert`: the row is added — WHEN NOT MATCHED semantics:
  *     an insert whose key already exists in the base is ignored, not
  *     duplicated (standard MERGE; a strict mode would route it to the
  *     error channel — the physical path does, via the sink's key
  *     constraint).
  * Exactly one changeset row per key is the caller's contract (standard
  * MERGE preconditions — multiple matches are nondeterministic in any
  * engine); [[duplicateKeys]] is the K1-style pre-flight that surfaces
  * violations as data instead of corrupting the apply.
  *
  * Scale shape: update is one equi-join on the key, delete one anti-join,
  * insert one anti-join + union — all hash-partitioned on the SAME key,
  * so AQE plans one exchange per side and broadcasts whichever changeset
  * split is small (the common case: the changeset is the day's residue,
  * the base is the 100 TB table). No driver-side state anywhere.
  *
  * [[Merge.execute]] is the PHYSICAL form against a JDBC sink: rows
  * dispatched by op to the insert/update/delete statements through
  * [[JdbcUpsert]]'s per-partition statement loop, which also runs K1's
  * update-only sink.
  */
object Merge {

  val OpInsert = "insert"
  val OpUpdate = "update"
  val OpDelete = "delete"

  /** Optional changeset sidecar column (`array<string>`): payload columns
    * an update row EXPLICITLY nulls. The partial-update contract reads a
    * null changeset value as "keep the base value" — which makes NULL
    * unassignable by value alone; a column named in this array overrides
    * the coalesce and writes NULL. Absent column = pure null-keep
    * semantics (every pre-existing changeset producer). SQL UPDATE emits
    * it per row, so `UPDATE t SET c = <expr>` has exact SQL semantics
    * even when the expression evaluates to NULL.
    */
  val SetNullCol = "__set_null"

  /** Functional keyed MERGE of `cs` (op + key + all payload columns of
    * `base`, nulls = untouched on update unless named in [[SetNullCol]])
    * into `base`.
    */
  def apply(base: DataFrame, cs: DataFrame, key: String): DataFrame = {
    // the sidecar is recognized by NAME in the changeset — a base table
    // that legitimately owned a '__set_null' column would have its
    // updates silently corrupted (the column read as the null-override
    // list) and be excluded from schema evolution; reject it loudly
    require(!base.columns.contains(SetNullCol),
      s"base table has a column named '$SetNullCol' — that name is " +
        "reserved for the UPDATE SET-NULL sidecar and cannot be a " +
        "payload column")
    val payload = base.columns.filterNot(_ == key).toSeq
    require(cs.columns.contains("op") && cs.columns.contains(key),
      s"changeset needs 'op' and '$key' columns, has ${cs.columns.mkString(",")}")
    val missing = payload.filterNot(cs.columns.contains)
    require(missing.isEmpty, s"changeset lacks payload columns: ${missing.mkString(",")}")
    val hasSetNull = cs.columns.contains(SetNullCol)

    val upd = cs.where(col("op") === OpUpdate).drop("op")
    val del = cs.where(col("op") === OpDelete).select(col(key))
    val ins = cs.where(col("op") === OpInsert)
      .select(col(key) +: payload.map(col): _*)

    val updated = payload.map { c =>
      val kept = coalesce(col(s"u.$c"), col(s"b.$c"))
      val v =
        if (hasSetNull)
          // unmatched base rows: array_contains(null, c) is null -> kept
          when(array_contains(col(s"u.$SetNullCol"), c), lit(null))
            .otherwise(kept)
        else kept
      v.as(c)
    }
    val merged = base.as("b")
      .join(upd.as("u"), col(s"b.$key") === col(s"u.$key"), "left")
      .select(col(s"b.$key").as(key) +: updated: _*)
      .join(del, Seq(key), "left_anti")
    merged.unionByName(ins.join(base.select(col(key)), Seq(key), "left_anti"))
  }

  /** Pre-flight validation: changeset keys that occur more than once
    * (which would make the merge nondeterministic) — run it, route the
    * offenders to the error sink, merge the rest.
    */
  def duplicateKeys(cs: DataFrame, key: String): DataFrame =
    cs.groupBy(col(key)).agg(count(lit(1)).as("n_changes"))
      .where(col("n_changes") > 1)

  /** The three oc_share statements, K1's UPDATE plus its insert/delete
    * completions, positional params in [[bind]] order.
    */
  val InsertSql: String =
    "INSERT INTO oc_share (item_source, item_target, file_source, file_target, id) VALUES (?, ?, ?, ?, ?)"
  val UpdateSql: String = JdbcUpsert.UpdateSql
  val DeleteSql: String = "DELETE FROM oc_share WHERE id=?"
  private[operators] val sqlFor: Map[String, String] =
    Map(OpInsert -> InsertSql, OpUpdate -> UpdateSql, OpDelete -> DeleteSql)

  private def bind(r: MergeChange): Seq[Any] = r.op match {
    case OpDelete => Seq(r.id)
    case _ => Seq(r.new_item_source, r.new_item_target, r.new_file_source,
      r.new_file_target, r.id)
  }

  /** Physical MERGE through the [[UpsertConnectionFactory]] seam: each
    * row runs its op's statement in [[JdbcUpsert]]'s statement loop,
    * which states the affected-rows rules. `maxRetries` counts attempts
    * per row (1 = no retry).
    */
  def execute(cs: Dataset[MergeChange], factory: UpsertConnectionFactory,
              dryRun: Boolean = false, maxRetries: Int = 5): Dataset[MergeOutcome] = {
    implicit val enc = Encoders.product[MergeOutcome]
    JdbcUpsert.execute(cs, factory, dryRun, debug = false, maxRetries)(_.op, bind,
      (r, n, err) => MergeOutcome(r.id, r.op, n, err))
  }
}
