package graft.tools

/** Plan-capture main for the per-round `plans/r{N}/<query>_{before,after}.txt`
  * artifacts: prints `.explain("formatted")` for each named query exactly as
  * the bench session would plan it (same master/shuffle/extensions/catalog
  * wiring as [[graft.Bench]]), bracketed by `=== PLAN <name> ===` /
  * `=== END <name> ===` markers so a caller can split multi-query output.
  *
  * Usage: `ExplainQuery <sfDir> <query>[,<query>...]`
  *
  * Queries that stage work through side effects (catalog tables, streams)
  * still run those side effects — the plan printed is the FINAL read's plan,
  * which is what the bench times after the stage is built.
  */
object ExplainQuery {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainQuery <sfDir> <query>[,<query>...]")
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val shuffle = graft.Bench.autoShufflePartitions(sfDir, cpus)
    val spark = graft.GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      graft.operators.Stage.resetShared()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      println(s"=== PLAN $name ===")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      println(s"=== END $name ===")
    }
    spark.stop()
  }
}
