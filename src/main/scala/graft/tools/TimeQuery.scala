package graft.tools

/** Single-query timing probe with an EXPLICIT shuffle-partition count —
  * the controls tool for isolating partition-sizing effects that
  * [[graft.Bench.autoShufflePartitions]]'s data-driven sizing would fold
  * into one number (e.g. "is d06's sf1 ratio the algorithm or the slab
  * boundary?"). Bench remains the recording harness; this probes WHY.
  *
  * Usage: `TimeQuery <sfDir> <queryName> <shufflePartitions|auto> [passes]`
  * Prints one JSON line with per-pass seconds and the min.
  */
object TimeQuery {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: TimeQuery <sfDir> <query> <shuffle|auto> [passes]")
    val sfDir = args(0)
    val name = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val shuffle =
      if (args(2) == "auto") graft.Bench.autoShufflePartitions(sfDir, cpus)
      else args(2).toInt
    val passes = if (args.length >= 4) args(3).toInt else 3
    val spark = graft.GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // args beyond [passes] are session conf overrides (`k=v`), e.g.
    // spark.sql.shuffle.partitions=64, applied without a recompile
    val confs = args.drop(4).filter(_.contains('=')).map { kv =>
      val i = kv.indexOf('='); (kv.substring(0, i), kv.substring(i + 1))
    }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val fn = graft.SparkEntry.queries(name)
    val times = (1 to passes).map { _ =>
      graft.operators.Stage.resetShared()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    spark.stop()
    val ts = times.map(t => f"$t%.3f").mkString("[", ",", "]")
    val confStr = confs.map { case (k, v) => s""""$k=$v"""" }.mkString("[", ",", "]")
    println(s"""{"query":"$name","sf_dir":"$sfDir","shuffle":$shuffle,""" +
      s""""confs":$confStr,"passes":$ts,"min":${times.min}}""")
  }
}
