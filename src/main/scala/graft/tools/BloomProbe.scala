package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.SnapshotLog

/** Round-controls measurement main for per-file Bloom key stamps: builds
  * an INGEST-SHAPED hash-keyed table (successive insert merges, each
  * batch's files spanning the whole uniform key domain — the layout where
  * min/max range stamps are structurally useless) twice, with and without
  * `spark.graft.bloomIndex`, and times point reads on both.
  *
  * The decisive scale fact: the bloomless point read opens EVERY file
  * and its cost grows with the table; the bloom-stamped one opens
  * ~1 (+fpp·N) files and stays flat.
  *
  * Usage: `BloomProbe <rowsPerBatch> <batches> [passes]`
  * Prints ONE JSON line.
  */
object BloomProbe {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BloomProbe <rowsPerBatch> <batches> [passes]")
    val per = args(0).toLong
    val batches = args(1).toInt
    val passes = if (args.length >= 3) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // uniform keys via the native hash (no udf): fp = xxhash64(doc)
    def batch(b: Int) = spark.range(b * per, (b + 1) * per)
      .select(xxhash64(col("id")).as("fp"), col("id").as("doc"))

    def build(dir: String, bloom: Boolean): Unit = {
      if (bloom) spark.conf.set(SnapshotLog.BloomIndexKey, "true")
      try {
        SnapshotLog.init(spark, dir, batch(0), "fp",
          numFiles = math.max(1, (per / 500000L).toInt))
        (1 until batches).foreach { b =>
          SnapshotLog.merge(spark, dir,
            batch(b).selectExpr("'insert' AS op", "fp", "doc"), "fp")
        }
      } finally if (bloom) spark.conf.unset(SnapshotLog.BloomIndexKey)
    }
    val root = java.nio.file.Files.createTempDirectory("bloomprobe").toString
    val bloomDir = s"$root/with"
    val plainDir = s"$root/without"
    val tBuildBloom = { val t0 = System.nanoTime(); build(bloomDir, bloom = true); (System.nanoTime() - t0) / 1e9 }
    val tBuildPlain = { val t0 = System.nanoTime(); build(plainDir, bloom = false); (System.nanoTime() - t0) / 1e9 }
    val v = SnapshotLog.latestVersion(spark, bloomDir)

    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.queryExecution.toRdd.foreachPartition(_ => ())
      def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
        }.flatten
      scans(df.queryExecution.executedPlan)
        .filter(_.relation.location.isInstanceOf[graft.sources.SnapshotFileIndex])
        .map(_.metrics("numFiles").value).sum
    }
    def time(f: => Unit): Double =
      (1 to passes).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val k = SnapshotLog.read(spark, bloomDir, v) // a present key mid-domain
      .where(col("doc") === per / 2L).select("fp").head().getLong(0)
    // warmup
    noop(SnapshotLog.read(spark, bloomDir, v).where(col("fp") === k))
    noop(SnapshotLog.read(spark, plainDir, v).where(col("fp") === k))

    val fBloom = filesRead(SnapshotLog.read(spark, bloomDir, v).where(col("fp") === k))
    val fPlain = filesRead(SnapshotLog.read(spark, plainDir, v).where(col("fp") === k))
    val fFull = filesRead(SnapshotLog.read(spark, plainDir, v))
    val tBloom = time(noop(SnapshotLog.read(spark, bloomDir, v).where(col("fp") === k)))
    val tPlain = time(noop(SnapshotLog.read(spark, plainDir, v).where(col("fp") === k)))
    val rows = SnapshotLog.read(spark, bloomDir, v).count()
    spark.stop()
    println(s"""{"rows":$rows,"batches":$batches,"files_full":$fFull,""" +
      s""""files_point_bloom":$fBloom,"files_point_plain":$fPlain,""" +
      f""""sec_point_bloom":$tBloom%.3f,"sec_point_plain":$tPlain%.3f,""" +
      f""""sec_build_bloom":$tBuildBloom%.1f,"sec_build_plain":$tBuildPlain%.1f}""")
  }
}
