package perfbench

import scala.collection.mutable
import scala.util.Random

/** One `orders` row as far as [[graft.operators.SyntheticShares]] reads it. */
final case class OrderKey(o_orderkey: Long, o_custkey: Long)

/** One MERGE changeset row, shaped like the shares table plus `op`.
  * Update rows carry only the columns they change; the rest are null,
  * which [[graft.operators.Merge.apply]] reads as "keep".
  */
final case class ShareChange(op: String, id: Long, share_type: java.lang.Integer,
                             uid_owner: String, item_type: String, item_source: String,
                             item_target: String, file_source: java.lang.Long,
                             file_target: String)

/** Seeded input generators. Every output is a pure function of the seed
  * and the call sequence, so one seed always yields the same inputs.
  */
object Gen {

  /** `n` distinct order keys drawn from [1, 8n] with customers in
    * [1, 1500]: the key residues decide SyntheticShares' routing branch,
    * so uniform keys give the oracle fixture's routing mix in expectation.
    */
  def orders(seed: Long, n: Int): Seq[OrderKey] = {
    val rnd = new Random(seed)
    val keys = mutable.LinkedHashSet.empty[Long]
    while (keys.size < n) keys += 1L + rnd.nextInt(8 * n)
    keys.toSeq.sorted.map(k => OrderKey(k, 1L + rnd.nextInt(1500)))
  }

  /** The analytics query order for one run. */
  def queryOrder(seed: Long, names: Seq[String]): Seq[String] =
    new Random(seed).shuffle(names)
}

/** The DML client: a seeded stream of statements plus a model of the
  * live key set, so every generated update or delete targets rows that
  * exist and every insert a key that does not.
  */
final class DmlGen(seed: Long, initialIds: Seq[Long]) {
  private val rnd = new Random(seed)
  private val live = mutable.ArrayBuffer.from(initialIds)
  private var nextId = if (initialIds.isEmpty) 1L else initialIds.max + 1

  def liveCount: Int = live.size

  private def takeLive(n: Int): Seq[Long] = {
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < math.min(n, live.size)) picked += live(rnd.nextInt(live.size))
    picked.toSeq
  }

  /** A changeset of `nUpd` partial updates, `nIns` inserts and `nDel`
    * deletes on disjoint keys; the model applies it.
    */
  def merge(nUpd: Int, nIns: Int, nDel: Int): Seq[ShareChange] = {
    val touched = takeLive(nUpd + nDel)
    val (upd, del) = touched.splitAt(nUpd)
    val ins = (0 until nIns).map(_ => { nextId += 1 + rnd.nextInt(3); nextId })
    val tag = rnd.nextInt(1000000)
    val changes =
      upd.map(id => ShareChange("update", id, null, null, null, null,
        s"/moved/$tag/$id", null, s"/f$id.v$tag")) ++
        ins.map(id => ShareChange("insert", id, rnd.nextInt(5), s"user${rnd.nextInt(100)}",
          "file", id.toString, s"/new/$id", java.lang.Long.valueOf(id), s"/f$id.dat")) ++
        del.map(id => ShareChange("delete", id, null, null, null, null, null, null, null))
    val gone = del.toSet
    live.filterInPlace(id => !gone(id))
    live ++= ins
    changes
  }

  /** `(modulus, residue)` of an `id % m = r` predicate. */
  def predicate(modulus: Int): (Int, Int) = (modulus, rnd.nextInt(modulus))

  /** Live keys matching `id % m = r`. */
  def countWhere(m: Int, r: Int): Int = live.count(_ % m == r)

  /** Apply a DELETE of `id % m = r` to the model; returns the rows removed. */
  def deleteWhere(m: Int, r: Int): Int = {
    val n = countWhere(m, r)
    live.filterInPlace(_ % m != r)
    n
  }

  /** A key that is live now. */
  def lookupKey(): Long = live(rnd.nextInt(live.size))

  /** A version in [0, latest]. */
  def pastVersion(latest: Long): Long = rnd.nextLong(latest + 1)
}
