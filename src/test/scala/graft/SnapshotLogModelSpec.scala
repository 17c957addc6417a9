package graft

import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{IncrementalView, Merge, SnapshotLog}

/** Model-based invariant test of the transaction-log layer: a SEEDED
  * random sequence of merges, MoR deletes, compactions and z-order
  * rewrites runs against both the real [[SnapshotLog]] and a trivial
  * in-memory model (a Map). After every commit the live table must equal
  * the model; at the end every historical version must still equal its
  * recorded model snapshot (time travel across arbitrary op
  * interleavings), and folding the whole signed CDC stream over the v0
  * aggregate must reproduce the final aggregate (IVM soundness across
  * compactions, delete vectors, re-inserts, and schema-stable merges —
  * the composed guarantee none of the single-op specs pins).
  */
class SnapshotLogModelSpec extends SparkTestBase {

  private case class RowV(grp: String, x: Long)

  test("seeded random op sequence: live == model after every op; all versions time-travel; CDC folds") {
    import spark.implicits._
    val rnd = new scala.util.Random(421)
    val dir = Files.createTempDirectory("graft_snapmodel").toString + "/t"

    // model: key -> payload
    val model = mutable.Map.empty[Long, RowV]
    (1L to 200L).foreach(k => model(k) = RowV(s"g${k % 5}", k * 10))
    def modelDf: DataFrame =
      model.toSeq.sortBy(_._1)
        .map { case (k, r) => (k, r.grp, r.x) }.toDF("id", "grp", "x")

    SnapshotLog.init(spark, dir, modelDf, "id", numFiles = 3)
    var nextKey = 1000L
    val snapshots = mutable.ArrayBuffer(model.toMap) // index = version

    def liveRows: Set[(Long, String, Long)] =
      SnapshotLog.readLatest(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    def modelRows(m: Map[Long, RowV]): Set[(Long, String, Long)] =
      m.map { case (k, r) => (k, r.grp, r.x) }.toSet

    val ops = 10
    (1 to ops).foreach { i =>
      rnd.nextInt(5) match {
        case 0 | 1 => // MERGE: random updates + deletes + inserts
          val keys = model.keys.toSeq.sorted
          val upd = rnd.shuffle(keys).take(1 + rnd.nextInt(20))
          val del = rnd.shuffle(keys.filterNot(upd.contains)).take(rnd.nextInt(10))
          val ins = (0 until 1 + rnd.nextInt(5)).map { _ =>
            nextKey += 1; nextKey
          }
          val nullS = lit(null).cast("string")
          val csU = upd.map(k => (Merge.OpUpdate, k, null.asInstanceOf[String], k * 100 + i))
          val csD = del.map(k => (Merge.OpDelete, k, null.asInstanceOf[String], 0L))
          val csI = ins.map(k => (Merge.OpInsert, k, s"g${k % 5}", k))
          val cs = (csU ++ csD ++ csI).toDF("op", "id", "grp", "x")
            .select(col("op"), col("id"),
              when(col("op") === Merge.OpDelete, nullS)
                .otherwise(col("grp")).as("grp"),
              when(col("op") === Merge.OpDelete, lit(null).cast("bigint"))
                .when(col("op") === Merge.OpUpdate, col("x"))
                .otherwise(col("x")).as("x"))
          SnapshotLog.merge(spark, dir, cs, "id")
          upd.foreach(k => model(k) = model(k).copy(x = k * 100 + i))
          del.foreach(model.remove)
          ins.foreach(k => model(k) = RowV(s"g${k % 5}", k))
        case 2 => // MoR delete vector
          val del = rnd.shuffle(model.keys.toSeq.sorted).take(1 + rnd.nextInt(15))
          SnapshotLog.deleteKeys(spark, dir, del.toDF("id"), "id")
          del.foreach(model.remove)
        case 3 => // OPTIMIZE
          val n = 1 + rnd.nextInt(3)
          SnapshotLog.optimize(spark, dir, _ => n)
        case 4 => // OPTIMIZE ZORDER
          val n = 1 + rnd.nextInt(3)
          SnapshotLog.optimize(spark, dir, _ => n, zorder = Seq("id", "x"))
      }
      assert(liveRows == modelRows(model.toMap), s"op $i: live diverged from model")
      snapshots += model.toMap
    }

    // every version still time-travels to its recorded snapshot
    snapshots.zipWithIndex.foreach { case (snap, v) =>
      val got = SnapshotLog.read(spark, dir, v.toLong).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == modelRows(snap), s"version $v diverged from its model snapshot")
    }

    // the signed CDC stream from v0 to HEAD folds the v0 aggregate into
    // the final aggregate — compactions contribute nothing, deletes
    // debit, updates double-enter
    val measures = Seq("sum_x" -> col("x"))
    val v0agg = IncrementalView.build(SnapshotLog.read(spark, dir, 0L), "grp", measures)
    val last = SnapshotLog.latestVersion(spark, dir)
    val folded = IncrementalView.applyCdc(v0agg,
      SnapshotLog.cdcSigned(spark, dir, 0L, last, "id"), "grp", measures)
    val expected = IncrementalView.build(SnapshotLog.readLatest(spark, dir), "grp", measures)
    def rows(df: DataFrame) = df.collect().map(_.mkString("|")).sorted.toSeq
    assert(rows(folded) == rows(expected),
      "folded CDC aggregate diverged from the recompute after the op sequence")
  }
}
