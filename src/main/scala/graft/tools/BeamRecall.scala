package graft.tools

import graft.queries.SimilarityQueries

/** Round-controls measurement main for the v16 beam index: per-probe
  * recall of the beam walk against the exact brute-force top-K at an
  * arbitrary data dir and (optionally) a forced plane count — the tool
  * behind the per-round `BENCH_r{N}_scale_controls.json` v16 rows, so
  * the recall points in those artifacts are reproducible with one
  * command instead of an ad-hoc console session.
  *
  * Usage: `BeamRecall <sfDir> [p|auto]`
  *   - `auto` (default): the data-sized plane count ([[SimilarityQueries
  *     .beamPlaneCount]] over the quantized stage's parquet footers) —
  *     what a real v16 run would use at that corpus size.
  *   - an integer: forced plane count (the "4x finer bucketing, same
  *     fixed walk" stability probe).
  *
  * Prints ONE JSON line: per-probe recall, min recall, resolved walk
  * shape knobs, and wall seconds for the full build+walk+certify.
  */
object BeamRecall {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BeamRecall <sfDir> [p|auto]")
    val sfDir = args(0)
    val pOverride: Option[Int] =
      args.drop(1).headOption.filter(_ != "auto").map(_.toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = graft.Bench.autoShufflePartitions(sfDir, cpus.toInt)
    val spark = graft.GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    val rows = SimilarityQueries.beamRecallRaw(spark, sfDir, pOverride = pOverride)
      .collect() // NumProbes rows — metadata-sized by construction
    val sec = (System.nanoTime() - t0) / 1e9
    val perProbe = rows.map { r =>
      s""""${r.getLong(0)}":${r.getDouble(3)}"""
    }.mkString("{", ",", "}")
    val minRecall = rows.map(_.getDouble(3)).min
    spark.stop()
    println(
      s"""{"sf_dir":"$sfDir","p":"${pOverride.map(_.toString).getOrElse("auto")}",""" +
        s""""per_probe_recall":$perProbe,"min_recall":$minRecall,"sec":$sec}""")
  }
}
