package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{SnapshotLog, SyntheticShares}
import graft.queries.MigrationQueries.Merge0
import graft.Tables

/** Round-controls measurement main for manifest-stat file skipping
  * ([[graft.sources.SnapshotFileIndex]]): builds the m12/m20 snapshot
  * table ONCE from a given sf dir, then times the PRUNED point/range
  * reads against the full-scan read on the same committed table — the
  * isolation [[graft.Bench]] cannot give, because a registered query's
  * wall time includes the per-run table build (certification asymmetry),
  * which would drown the read-side effect the skipping exists for.
  *
  * The decisive 100 TB fact this records: as the table grows 10x/30x,
  * the PRUNED read's file count stays put (it tracks the predicate's key
  * footprint, not the table), while the full scan's grows with the data.
  *
  * Usage: `SkipProbe <sfDir> <numFiles> [passes]`
  * Prints ONE JSON line: files read pruned/full, min seconds for a point
  * read, a 5% range read, and the full scan.
  */
object SkipProbe {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SkipProbe <sfDir> <numFiles> [passes]")
    val sfDir = args(0)
    val numFiles = args(1).toInt
    val passes = if (args.length >= 3) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val shuffle = graft.Bench.autoShufflePartitions(sfDir, cpus)
    val spark = graft.GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = java.nio.file.Files.createTempDirectory("skipprobe").toString + "/t"
    val shares0 = SyntheticShares.shares(Tables.orders(spark, sfDir))
    val maxId0 = shares0.agg(max(col("id"))).head().getLong(0)
    // typed-stamp probe columns, all MONOTONE in the cluster key so the
    // per-file stamps are narrow (the layout a real pipeline's
    // time/category-correlated columns have): a 16-bucket category
    // string, an event timestamp, and a column null ONLY in one id slice
    val bucketW = math.max(1L, maxId0 / 16L)
    val shares = shares0
      .withColumn("cat", concat(lit("c"),
        lpad(floor(col("id") / bucketW).cast("long").cast("string"), 2, "0")))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("id") / 100L))
      .withColumn("maybe",
        when(col("id") < maxId0 / 50L, lit(null).cast("long"))
          .otherwise(col("id")))
    SnapshotLog.init(spark, dir, shares, "id", numFiles)
    SnapshotLog.merge(spark, dir, Merge0.changeset(shares)
      .withColumn("cat", lit(null).cast("string"))
      .withColumn("ts", lit(null).cast("timestamp"))
      .withColumn("maybe", lit(null).cast("long")), "id")
    val v = SnapshotLog.latestVersion(spark, dir)
    val maxId = shares.agg(max(col("id"))).head().getLong(0)
    val cut = maxId / 20L
    // probe a POPULATED category (key-shift replication leaves holes in
    // sparse TPC-H id space; an empty bucket would trivially prune to 0)
    val probeCat = "c%02d".format(
      shares.agg(max(when(col("id") <= maxId / 2L, col("id"))))
        .head().getLong(0) / bucketW)

    def time(f: => Unit): Double = {
      val ts = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }
      ts.min
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup (codegen + reader init)
    noop(SnapshotLog.read(spark, dir, v).where(col("id") === 1L))

    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      // execute THIS frame's own QueryExecution (a sink write plans a
      // separate one and would leave these metrics untouched)
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

    val pointDf = SnapshotLog.read(spark, dir, v).where(col("id") === cut)
    val rangeDf = SnapshotLog.read(spark, dir, v).where(col("id") <= cut)
    val fullDf = SnapshotLog.read(spark, dir, v)
    // typed-stamp predicates: string equality, LIKE-prefix via equality
    // shape, timestamp range tail, IS NULL slice, IS DISTINCT FROM
    val strDf = SnapshotLog.read(spark, dir, v).where(col("cat") === probeCat)
    val tsCut = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      1700000000L + (maxId / 100L) * 19L / 20L))
    val tsDf = SnapshotLog.read(spark, dir, v).where(col("ts") >= lit(tsCut))
    val nullDf = SnapshotLog.read(spark, dir, v).where(col("maybe").isNull)
    val pointFiles = filesRead(pointDf)
    val rangeFiles = filesRead(rangeDf)
    val fullFiles = filesRead(fullDf)
    val strFiles = filesRead(strDf)
    val tsFiles = filesRead(tsDf)
    val nullFiles = filesRead(nullDf)
    val tPoint = time(noop(SnapshotLog.read(spark, dir, v).where(col("id") === cut)))
    val tRange = time(noop(SnapshotLog.read(spark, dir, v).where(col("id") <= cut)))
    val tStr = time(noop(SnapshotLog.read(spark, dir, v).where(col("cat") === probeCat)))
    val tTs = time(noop(SnapshotLog.read(spark, dir, v).where(col("ts") >= lit(tsCut))))
    val tNull = time(noop(SnapshotLog.read(spark, dir, v).where(col("maybe").isNull)))
    val tFull = time(noop(SnapshotLog.read(spark, dir, v)))
    val nRows = fullDf.count()
    spark.stop()
    println(s"""{"sf_dir":"$sfDir","num_files":$numFiles,"table_rows":$nRows,""" +
      s""""files_point":$pointFiles,"files_range5pct":$rangeFiles,""" +
      s""""files_str_eq":$strFiles,"files_ts_range":$tsFiles,""" +
      s""""files_is_null":$nullFiles,"files_full":$fullFiles,""" +
      f""""sec_point":$tPoint%.3f,"sec_range5pct":$tRange%.3f,""" +
      f""""sec_str_eq":$tStr%.3f,"sec_ts_range":$tTs%.3f,""" +
      f""""sec_is_null":$tNull%.3f,"sec_full":$tFull%.3f}""")
  }
}
