package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB timing probe: runs a named query once (same session wiring as
  * [[graft.Bench]], noop sink) with a listener recording every Spark job's
  * wall duration and submitting call site, then prints one line per job
  * sorted by cost. This is the measurement layer [[TimeQuery]] lacks for
  * STAGED queries — their bench seconds are mostly jobs launched while the
  * query function *builds* shared stages / DML lifecycles, which never
  * appear in the final read's `explain` output. The call-site column maps
  * each job back to the operator that launched it (`parquet at
  * Stage.scala:<line>` = a stage write, `collect at SnapshotLog.scala:...` =
  * a commit-planning action, `save at ProfileQuery.scala` = the timed
  * read).
  *
  * Usage: `ProfileQuery <sfDir> <query> [passes]` — pass 2+ to see the
  * warmed profile (JIT distorts single-pass numbers; the LAST pass is
  * printed).
  */
object ProfileQuery {

  private final case class JobRec(id: Int, started: Long,
      var ended: Long = -1L, site: String = "", desc: String = "")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileQuery <sfDir> <query> [passes]")
    val sfDir = args(0)
    val name = args(1)
    val passes = if (args.length >= 3) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val shuffle = graft.Bench.autoShufflePartitions(sfDir, cpus)
    val spark = graft.GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the result stage's name embeds the action call site ("parquet at
        // Stage.scala:<line>"); stage count + total task count size the job
        val site = e.stageInfos.lastOption.map(_.name).getOrElse("")
        val tasks = e.stageInfos.map(_.numTasks).sum
        val stages = e.stageInfos.map(si =>
          s"${si.stageId}:${si.numTasks}t:${si.name.takeWhile(_ != '\n').take(60)}")
          .mkString(" | ")
        val desc = s"[${e.stageInfos.size} stages/$tasks tasks] $stages"
        jobs.put(e.jobId, JobRec(e.jobId, e.time, site = site, desc = desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId); if (r != null) r.ended = e.time
      }
    }
    val fn = graft.SparkEntry.queries(name)
    var lastSec = 0.0
    (1 to passes).foreach { p =>
      graft.operators.Stage.resetShared()
      if (p == passes) spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      lastSec = (System.nanoTime() - t0) / 1e9
    }
    org.apache.spark.sql.graftshim.CatalystBridge.drainListeners(spark.sparkContext, 60000L)
    spark.stop()
    import scala.jdk.CollectionConverters._
    val recs = jobs.values.asScala.toSeq.filter(_.ended > 0)
      .map(r => (r.ended - r.started, r))
    val totalJobMs = recs.map(_._1).sum
    println(f"=== $name: last-pass wall ${lastSec}%.3f s, ${recs.size} jobs, " +
      f"sum-of-jobs ${totalJobMs / 1000.0}%.3f s ===")
    recs.sortBy(-_._1).take(40).foreach { case (ms, r) =>
      val what = if (r.desc.nonEmpty) r.desc else r.site
      println(f"  job ${r.id}%4d  ${ms}%6d ms  $what")
    }
  }
}
