package graft.tools

import graft.operators.SnapshotLog

/** Separate-JVM writer for SnapshotRaceSpec's end-to-end concurrency
  * test: `RaceWriter <tableDir> <writerId> <nCommits>` opens its OWN
  * SparkSession (own process, own filesystem view — nothing shared with
  * the other writer but the table directory itself) and applies
  * `nCommits` single-row insert merges through
  * [[SnapshotLog.commitWithRetry]]. Every commit inserts the key
  * `writerId * 1_000_000 + i`, so the spec can prove no-lost-updates by
  * set equality over the final table. Exit code 0 = every commit landed
  * (possibly after retries); any uncaught failure (retries exhausted,
  * truncated manifest, vacuumed state) exits non-zero and fails the
  * spec.
  */
object RaceWriter {
  def main(args: Array[String]): Unit = {
    val (dir, writerId, nStr, mode) = args match {
      case Array(d, w, n)    => (d, w, n, "merge")
      case Array(d, w, n, m) => (d, w, n, m)
      case _ => sys.error("RaceWriter <tableDir> <writerId> <nCommits> [merge|mixed]")
    }
    val n = nStr.toInt
    val w = writerId.toLong
    val spark = graft.GraftSession.builder()
      .master("local[2]")
      .appName(s"graft-race-$writerId")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    (0 until n).foreach { i =>
      SnapshotLog.commitWithRetry(maxAttempts = 100) {
        // re-built per attempt: commitWithRetry's contract is that the
        // plan re-reads table state, which every op does on entry
        val cs = Seq(("insert", w * 1000000L + i, w)).toDF("op", "id", "w")
        SnapshotLog.merge(spark, dir, cs, "id")
      }
      if (mode == "mixed") {
        // interleave the OTHER committing op kinds against the racing
        // merges: a MoR delete of this writer's previous key, a
        // footprint-bounded compaction of this writer's key range, and
        // one full OPTIMIZE mid-run. Every loser of a version race must
        // re-plan against the winner's file set — including a merge that
        // lost to a compaction (its planned files were just rewritten).
        if (i % 3 == 2) SnapshotLog.commitWithRetry(maxAttempts = 100) {
          SnapshotLog.deleteKeys(spark, dir,
            Seq(w * 1000000L + (i - 1)).toDF("id"), "id")
        }
        if (i % 4 == 3) SnapshotLog.commitWithRetry(maxAttempts = 100) {
          val pred = org.apache.spark.sql.catalyst.expressions.And(
            org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
              org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("id"),
              org.apache.spark.sql.catalyst.expressions.Literal(w * 1000000L)),
            org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(
              org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("id"),
              org.apache.spark.sql.catalyst.expressions.Literal(w * 1000000L + i)))
          SnapshotLog.optimize(spark, dir, _ => 1, where = Some(pred))
        }
        if (i == n / 2) SnapshotLog.commitWithRetry(maxAttempts = 100) {
          SnapshotLog.optimize(spark, dir, _ => 2)
        }
        // sanity INSIDE the race: this writer's own live keys are exactly
        // its inserts minus its deletes so far — catches a lost update
        // the moment it happens, not just at the end
        val mine = SnapshotLog.readLatest(spark, dir)
          .where(col("w") === lit(w)).select("id")
          .collect().map(_.getLong(0)).toSet
        val expected = (0 to i).map(w * 1000000L + _).toSet --
          (2 to i by 3).map(j => w * 1000000L + (j - 1)).toSet
        require(mine == expected,
          s"writer $w lost updates at step $i: missing ${expected -- mine}, " +
            s"extra ${mine -- expected}")
      }
    }
    spark.stop()
  }
}
