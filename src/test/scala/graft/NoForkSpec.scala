package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.operators.{SnapshotLog, Stage}

/** A stage write and a snapshot-table commit on `file:` start no process.
  * Hadoop's local filesystem forks a `chmod` per created file and
  * directory when libhadoop is absent; the session's filesystem must not.
  * The JFR `jdk.ProcessStart` event sees every launch in this JVM,
  * Spark's task threads included (local mode).
  */
class NoForkSpec extends SparkTestBase {

  test("one Stage.table write and one snapshot-table commit launch no chmod") {
    val dir = Files.createTempDirectory("nofork-").toString
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val commands = try {
      spark.conf.set(Stage.StageDirKey, s"$dir/stage")
      try assert(Stage.table(spark.range(100).toDF("id"), "nofork").count() == 100)
      finally spark.conf.unset(Stage.StageDirKey)
      SnapshotLog.init(spark, s"$dir/t", spark.range(0, 10).selectExpr("id", "id AS x"), "id", 2)
      // a control launch naming the directory: the recording and the
      // filter below must see it, or a zero count would prove nothing
      new ProcessBuilder("true", dir).start().waitFor()
      rec.stop()
      val out = Files.createTempFile("nofork-", ".jfr")
      rec.dump(out)
      try jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .flatMap(e => Option(e.getString("command"))).filter(_.contains(dir))
      finally Files.delete(out)
    } finally rec.close()
    assert(commands.count(_.startsWith("true ")) == 1, commands.mkString("\n"))
    val chmods = commands.filter(_.contains("chmod"))
    assert(chmods.isEmpty, s"${chmods.size} chmod launches, e.g. ${chmods.take(3).mkString("; ")}")
  }
}
