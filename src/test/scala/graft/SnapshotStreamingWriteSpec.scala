package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.SnapshotLog

/** `df.writeStream.toTable("graft.t")` — the native DSv2 streaming sink
  * into snapshot-log tables: per-epoch manifest commits with txn stamps,
  * checkpoint-replay no-op, insert-if-absent parity with the batch
  * INSERT INTO path, and crash-orphan cleanup via the .stage-* sweep.
  */
case class SwEv(id: Long, x: Long)

class SnapshotStreamingWriteSpec extends SparkTestBase {
  private type Ev = SwEv
  private def Ev(id: Long, x: Long) = SwEv(id, x)

  test("streaming toTable: epochs commit with txn stamps, exactly once") {
    val warehouse = Files.createTempDirectory("swrite").toString
    spark.conf.set("spark.graft.catalog.location", warehouse)
    try {
      spark.sql("CREATE TABLE graft.stw (id BIGINT, x BIGINT) " +
        "TBLPROPERTIES ('key'='id')")
      val ckpt = Files.createTempDirectory("swrite-ckpt").toString
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._

      val ms = MemoryStream[Ev]
      ms.addData(Ev(1L, 10L), Ev(2L, 20L))
      val q1 = ms.toDF().writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable("graft.stw")
      q1.awaitTermination()
      assert(spark.sql("SELECT count(*) AS n FROM graft.stw").head().getLong(0) == 2)

      // second batch, same query restarted from the checkpoint: the new
      // rows land once; an insert on an existing key is a no-op (the
      // batch INSERT INTO contract)
      ms.addData(Ev(2L, 999L), Ev(3L, 30L))
      val q2 = ms.toDF().writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable("graft.stw")
      q2.awaitTermination()
      val rows = spark.sql("SELECT id, x FROM graft.stw ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == Seq((1L, 10L), (2L, 20L), (3L, 30L)),
        s"insert-if-absent parity broken: $rows")

      // txn stamps are in the manifests; versions carry the query id
      val dir = s"$warehouse/stw"
      val latest = SnapshotLog.latestVersion(spark, dir)
      val stamps = (0L to latest).flatMap(v =>
        SnapshotLog.manifestOf(spark, dir, v).tag(graft.sources.Manifest.TxnTag))
      assert(stamps.size == 2, s"one txn stamp per non-empty epoch: $stamps")

      // replaying the SAME checkpoint with no new data commits nothing
      val before = SnapshotLog.latestVersion(spark, dir)
      val q3 = ms.toDF().writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable("graft.stw")
      q3.awaitTermination()
      assert(SnapshotLog.latestVersion(spark, dir) == before,
        "an empty replay must not commit a version")

      // no scratch left behind
      val hfs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val leftovers = hfs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.getName).filter(_.startsWith(".stage-stream"))
      assert(leftovers.isEmpty, s"scratch not cleaned: ${leftovers.toSeq}")
    } finally spark.sql("DROP TABLE IF EXISTS graft.stw")
  }

  test("streaming toTable parity with the foreachBatch exactly-once path") {
    val warehouse = Files.createTempDirectory("swrite-par").toString
    spark.conf.set("spark.graft.catalog.location", warehouse)
    try {
      spark.sql("CREATE TABLE graft.stw2 (id BIGINT, x BIGINT) " +
        "TBLPROPERTIES ('key'='id')")
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val ms = MemoryStream[Ev]
      ms.addData((1L to 50L).map(i => Ev(i, i * 2)): _*)
      val q = ms.toDF().writeStream
        .option("checkpointLocation",
          Files.createTempDirectory("swrite-par-ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .toTable("graft.stw2")
      q.awaitTermination()

      // twin table fed through the foreachBatch helper
      val twinDir = Files.createTempDirectory("swrite-twin").toString + "/t"
      SnapshotLog.init(spark, twinDir,
        spark.range(0).select(col("id"), col("id").as("x")), "id", 1)
      val ms2 = MemoryStream[Ev]
      ms2.addData((1L to 50L).map(i => Ev(i, i * 2)): _*)
      val q2 = graft.streaming.SnapshotStreams.writeStreamExactlyOnce(
        ms2.toDF().select(lit("insert").as("op"), col("id"), col("x")),
        twinDir, "par-twin", "id")((_, _) => ())
        .option("checkpointLocation",
          Files.createTempDirectory("swrite-twin-ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q2.awaitTermination()

      val a = spark.sql("SELECT id, x FROM graft.stw2 ORDER BY id").collect().toSeq
      val b = SnapshotLog.readLatest(spark, twinDir)
        .select("id", "x").orderBy("id").collect().toSeq
      assert(a == b, "streaming toTable must equal the foreachBatch twin")
    } finally spark.sql("DROP TABLE IF EXISTS graft.stw2")
  }

  test("streaming into a PARTITIONED catalog table lands in the tree") {
    val warehouse = Files.createTempDirectory("swrite-part").toString
    spark.conf.set("spark.graft.catalog.location", warehouse)
    try {
      spark.sql("CREATE TABLE graft.stw3 (id BIGINT, day INT, x BIGINT) " +
        "PARTITIONED BY (day) TBLPROPERTIES ('key'='id')")
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val ms = MemoryStream[(Long, Int, Long)]
      ms.addData((1L to 20L).map(i => (i, (i % 3).toInt, i * 5)): _*)
      val q = ms.toDF().toDF("id", "day", "x").writeStream
        .option("checkpointLocation",
          Files.createTempDirectory("swrite-part-ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .toTable("graft.stw3")
      q.awaitTermination()
      assert(spark.sql("SELECT count(*) AS n FROM graft.stw3 WHERE day = 1")
        .head().getLong(0) == 7)
      val dir = s"$warehouse/stw3"
      val names = SnapshotLog.manifest(spark, dir,
        SnapshotLog.latestVersion(spark, dir))
      assert(names.forall(_.startsWith("pt_day=")), s"partition tree: $names")
    } finally spark.sql("DROP TABLE IF EXISTS graft.stw3")
  }
}
