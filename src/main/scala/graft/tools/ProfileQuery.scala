package graft.tools

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftshim.CatalystBridge

/** Plan and per-JOB attribution for named queries on [[graft.Bench.session]]
  * (noop sink, so the figures are the ones Bench measures). For each query
  * it prints the final read's `explain("formatted")`, bracketed by
  * `=== PLAN <name> ===` / `=== END <name> ===` so a caller can split
  * multi-query output into `plans/` dumps, then one line per Spark job of
  * the last pass, sorted by cost. Staged queries spend most of their bench
  * seconds in jobs launched while the query function *builds* shared
  * stages or DML lifecycles, which never appear in the final read's plan;
  * each job line starts with the call site of the SQL action it belongs
  * to, which maps it back to the operator that launched it (`parquet at
  * Stage.scala:<line>` = a stage write, `collect at SnapshotLog.scala:...`
  * = a commit-planning action, `save at ProfileQuery.scala` = the timed
  * read, `-` = a job outside any SQL execution). The summary line also
  * gives the generated classes compiled during the last pass and their
  * compile time, counted JVM-wide (a concurrent query's compiles count).
  *
  * Usage: `ProfileQuery <sfDir> <query>[,<query>...] [passes]` — passes
  * default to 2 so the printed (last) pass is warmed; JIT distorts
  * single-pass numbers.
  */
object ProfileQuery {

  /** One Spark job of the profiled pass; `ms` is -1 if its end was not seen. */
  final case class Job(id: Int, ms: Long, desc: String)

  /** `plan` is the formatted explain of the final read's (unexecuted)
    * `QueryExecution`; `jobs` are every job of the last pass, costliest first;
    * `compiled` and `compileMs` are the generated classes compiled during
    * the last pass and the time spent compiling them.
    */
  final case class Profile(name: String, plan: String, lastPassSec: Double, jobs: Seq[Job],
                           compiled: Long, compileMs: Double)

  private final case class JobRec(started: Long, desc: String) {
    @volatile var ended: Long = -1L
  }

  /** Runs `name` `passes` times on `spark` (shared stages rebuilt each
    * pass, as in Bench) and records the jobs of the last pass.
    */
  def profile(spark: SparkSession, sfDir: String, name: String, passes: Int): Profile = {
    require(passes >= 1, s"passes must be >= 1, got $passes")
    val fn = graft.SparkEntry.queries(name)
    def run(): (DataFrame, Double) = {
      graft.operators.Stage.resetShared()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      (df, (System.nanoTime() - t0) / 1e9)
    }
    (1 until passes).foreach(_ => run())

    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val sites = new ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      // an SQL execution's description is its action's call site ("parquet
      // at Stage.scala:<line>"); AQE submits the execution's shuffle stages
      // from its own pool, so their stage names only say CompletableFuture
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => sites.put(x.executionId, x.description)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => Option(sites.get(id.toLong))).getOrElse("-")
        val tasks = e.stageInfos.map(_.numTasks).sum
        val stages = e.stageInfos.map(si =>
          s"${si.stageId}:${si.numTasks}t:${si.name.takeWhile(_ != '\n').take(60)}")
          .mkString(" | ")
        jobs.put(e.jobId,
          JobRec(e.time, s"$site [${e.stageInfos.size} stages/$tasks tasks] $stages"))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.ended = e.time)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val (df, sec) =
      try run()
      finally {
        CatalystBridge.drainListeners(sc, 60000L)
        sc.removeSparkListener(listener)
      }
    val recorded = jobs.asScala.toSeq.map { case (id, r) =>
      Job(id, if (r.ended < 0) -1L else r.ended - r.started, r.desc)
    }
    Profile(name, df.queryExecution.explainString(FormattedMode), sec, recorded.sortBy(-_.ms),
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0,
      (CodeGenerator.compileTime - compileNs0) / 1e6)
  }

  /** The printed form: the plan block, a summary line, the 40 costliest jobs. */
  def render(p: Profile): String =
    (Seq(s"=== PLAN ${p.name} ===", p.plan, s"=== END ${p.name} ===",
      f"=== ${p.name}: last-pass wall ${p.lastPassSec}%.3f s, ${p.jobs.size} jobs, " +
        f"sum-of-jobs ${p.jobs.map(_.ms).filter(_ > 0).sum / 1000.0}%.3f s, " +
        f"${p.compiled} classes compiled, compile ${p.compileMs}%.0f ms ===") ++
      p.jobs.take(40).map(j => f"  job ${j.id}%4d  ${j.ms}%6d ms  ${j.desc}")).mkString("\n")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileQuery <sfDir> <query>[,<query>...] [passes]")
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val passes = if (args.length >= 3) args(2).toInt else 2
    val spark = graft.Bench.session(sfDir, sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try names.foreach(n => println(render(profile(spark, sfDir, n, passes))))
    finally spark.stop()
  }
}
