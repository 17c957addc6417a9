package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its result as the last stdout line:
  * end-to-end metrics untraced, per-layer metrics with `--trace 1`.
  */
object Main {

  val SetupSamples = 3
  /** Spark task threads: four, or fewer on a smaller host. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  private val commitKinds = Seq("merge", "update", "delete", "optimize")
  val Modules: Seq[String] = Seq("RelationalQueries", "DedupQueries", "SimilarityQueries",
    "TextQueries", "HybridQueries", "EventQueries", "MultimodalQueries", "PipelineQueries")
  val SelfLayers: Seq[String] = Seq("unit", "Migration", "Connector", "JdbcUpsert",
    "SnapshotDml", "SnapshotRead", "Query")

  val PerLayer: Seq[(String, String)] = Seq(
    "JdbcShares.scan_s" -> "s", "JdbcShares.rows" -> "count",
    "Migration.resolve_s" -> "s", "Migration.shuffle_bytes" -> "bytes",
    "Connector.requests" -> "count", "Connector.creates" -> "count",
    "Connector.calls" -> "count", "Connector.call_s" -> "s", "Connector.wait_s" -> "s",
    "JdbcUpsert.rows" -> "count", "JdbcUpsert.db_calls" -> "count",
    "JdbcUpsert.commits" -> "count", "JdbcUpsert.connects" -> "count",
    "JdbcUpsert.db_s" -> "s", "JdbcUpsert.retries" -> "count",
    "JdbcUpsert.useful_ratio" -> "ratio", "SnapshotLog.log_files_added" -> "count") ++
    commitKinds.flatMap(k => Seq(s"SnapshotDml.planning_ms.$k" -> "ms",
      s"SnapshotLog.jobs_per_commit.$k" -> "count", s"SnapshotLog.driver_gap_ms.$k" -> "ms",
      s"SnapshotLog.fs_read_ops_per_commit.$k" -> "count",
      s"SnapshotLog.fs_write_ops_per_commit.$k" -> "count")) ++ Seq(
    "SnapshotLog.bytes_per_changed_row" -> "bytes", "SnapshotLog.files_live" -> "count",
    "SnapshotLog.versions" -> "count", "SnapshotFileIndex.files_read_ratio" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_busy_s" -> "s", "spark.driver_gap_s" -> "s", "spark.task_s" -> "s",
    "spark.core_util" -> "ratio", "sql.planning_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes", "Stage.bytes_written" -> "bytes") ++
    Modules.map(m => s"$m.wall_s" -> "s") ++
    SelfLayers.map(l => s"self_s.$l" -> "s") ++
    Seq("trace.overhead_s" -> "s")

  def session(args: Args): SparkSession = {
    val run = args.runDir
    val b = graft.GraftSession.configure(SparkSession.builder())
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions",
        graft.Bench.autoShufflePartitions(args.dataDir.toString, Cores).toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", run.resolve("local").toString)
      .config("spark.sql.warehouse.dir", run.resolve("warehouse").toString)
      .config("spark.graft.stageDir", run.resolve("stage").toString)
      .config("spark.graft.catalog.location", run.resolve("catalog").toString)
      .config("spark.sql.streaming.checkpointLocation", run.resolve("checkpoints").toString)
    // traced runs count local-filesystem calls; untraced runs keep Hadoop's own
    if (args.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(run.resolve("checkpoints").toString)
    s
  }

  private def workload(ctx: Ctx, cfg: JsonNode): Workload = {
    val w = cfg.get(ctx.args.workload)
    require(w != null, s"unknown workload ${ctx.args.workload}")
    ctx.args.workload match {
      case "migrate" => new Migrate(ctx, w.get("shares").asInt, w.get("unit_s").asDouble)
      case "sql" =>
        val d = w.get("dml")
        val m = d.get("merge")
        val dml = new DmlClient(ctx, DmlConfig(d.get("rows").asInt, m.get("updates").asInt,
          m.get("inserts").asInt, m.get("deletes").asInt, d.get("update_modulus").asInt,
          d.get("delete_modulus").asInt, d.get("cycle").elements().asScala.map(_.asText).toSeq))
        val queries = new QueryClient(ctx, ctx.args.dataDir.toString,
          w.get("queries").elements().asScala.map { q =>
            Expected(q.get("name").asText, q.get("rows").asLong, q.get("hash").asLong)
          }.toSeq)
        new Sql(ctx, w.get("unit_s").asDouble, dml, queries)
    }
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors
    val derby = args.runDir.resolve("derby")
    System.setProperty("derby.system.home", derby.toString)
    System.setProperty("derby.system.durability", "test")
    System.setProperty("derby.stream.error.file", derby.resolve("derby.log").toString)
    java.nio.file.Files.createDirectories(derby)
    val cfg = new ObjectMapper().readTree(args.config.toFile)

    val (spark, sessionS) = Clock.timed(session(args))
    require(spark.sparkContext.defaultParallelism <= nproc,
      s"Spark runs ${spark.sparkContext.defaultParallelism} task threads on $nproc cores")
    val ctx = new Ctx(args, spark)
    ctx.probe.foreach { p =>
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
    }
    val w = workload(ctx, cfg)
    val t0 = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"[perfbench] $name done at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    for (i <- 0 until SetupSamples) ctx.setupSamples += Clock.timed(w.setup(i))._2
    phase("set-up")
    w.warmup()
    for (i <- 0 until w.warmUnits) w.unit(i)
    ctx.opMs.clear()
    phase("warm-up")

    // Closed loop with a unit count fixed by --seconds and the nominal unit
    // length (the count whose nominal time is nearest --seconds), so every
    // run measures the same stretch of the JVM's warm-up whatever the
    // host's speed; a traced run alternates untraced and traced units.
    val walls, tracedWalls = mutable.ArrayBuffer.empty[Double]
    val fill = math.max(1, math.round(args.seconds / w.unitS).toInt)
    val units = if (args.trace) 2 * math.max(1, fill / 2) else fill
    for (i <- w.warmUnits until w.warmUnits + units) {
      ctx.tracing = args.trace && i % 2 != w.warmUnits % 2
      val wall = w.unit(i)
      (if (ctx.tracing) tracedWalls else walls) += wall
    }
    ctx.tracing = false
    phase("loop")
    w.finish()
    phase("finish")
    w match {
      // the proxy driver sees connections on traced units only
      case m: Migrate if args.trace => require(m.maxConnections <= nproc,
        s"${m.maxConnections} concurrent JDBC connections on $nproc cores")
      case _ => ()
    }

    def log(what: String, xs: Iterable[Double]): Unit =
      System.err.println(s"[perfbench] $what: ${xs.map(x => f"$x%.3f").mkString(" ")}")
    log("session s", Seq(sessionS))
    log("setup s", ctx.setupSamples)
    log("unit wall s", walls)
    ctx.opMs.foreach { case (k, xs) => log(s"$k ms", xs) }
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) {
        Seq(("setup_s", sessionS + Stats.median(ctx.setupSamples.toSeq), "s"),
          ("wall_s", Stats.median(walls.toSeq), "s"),
          ("rss_peak_mb", rssPeakMb(), "MB"))
      } else {
        val n = tracedWalls.size
        val got = generic(ctx, n) ++ w.layerMetrics(n) ++
          Map("trace.overhead_s" -> (Stats.median(tracedWalls.toSeq) - Stats.median(walls.toSeq)))
        args.spansOut.foreach(ctx.trace.writeSpans)
        PerLayer.map { case (name, unit) => (name, got.getOrElse(name, 0.0), unit) }
      }
    val detail = w.detail(Stats.median(walls.toSeq)) ++ Seq(
      ("failed_ratio", ctx.failed.toDouble / math.max(ctx.attempted, 1L), "ratio"),
      ("units", walls.size.toDouble, "count"))
    spark.stop()

    println(json(Seq("workload" -> s""""${args.workload}"""", "detail" -> metricsJson(detail))))
    println(json(Seq("correct" -> (ctx.failed == 0).toString,
      "attempted" -> math.max(ctx.attempted, 1L).toString, "failed" -> ctx.failed.toString,
      "metrics" -> metricsJson(metrics))))
    if (ctx.failed > 0) sys.exit(1)
  }

  private def generic(ctx: Ctx, n: Int): Map[String, Double] = {
    val u = ctx.stat("unit")
    val t = u.totals
    val self = Trace.selfSeconds(ctx.trace.recorded).toSeq
      .groupMapReduce { case (name, _) => name.takeWhile(_ != '.') } (_._2)(_ + _)
    Map("spark.jobs" -> t.jobs.toDouble / n, "spark.stages" -> t.stages.toDouble / n,
      "spark.tasks" -> t.tasks.toDouble / n, "spark.job_busy_s" -> u.busyS / n,
      "spark.driver_gap_s" -> (u.wallS - u.busyS) / n, "spark.task_s" -> t.taskS / n,
      "spark.core_util" -> t.taskS / (u.wallS * Cores),
      "sql.planning_s" -> t.planningS / n,
      "spark.shuffle_write_bytes" -> t.shuffleWrite.toDouble / n,
      "spark.shuffle_read_bytes" -> t.shuffleRead.toDouble / n,
      "spark.spill_bytes" -> t.spill.toDouble / n, "spark.input_bytes" -> t.input.toDouble / n,
      "spark.output_bytes" -> t.output.toDouble / n,
      "Stage.bytes_written" -> ctx.stageBytes.toDouble / n,
      "SnapshotLog.log_files_added" -> ctx.logFiles.toDouble / n) ++
      SelfLayers.map(l => s"self_s.$l" -> self.getOrElse(l, 0.0) / n)
  }

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"$k is $v")
      s""""$k":{"value":$v,"unit":"$u"}"""
    }.mkString("{", ",", "}")

  private def json(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
}
