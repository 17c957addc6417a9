package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Command-line arguments after run.py has resolved paths. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      runDir: Path, dataDir: Path, config: Path,
                      spansOut: Option[Path])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      Paths.get(get("run-dir")), Paths.get(get("data-dir")), Paths.get(get("config")),
      m.get("spans-out").map(Paths.get(_)))
  }
}

/** What one layer call cost, summed over the traced calls of that name. */
final class LayerStat {
  var calls = 0L
  var wallS = 0.0
  var busyS = 0.0
  var totals = Totals()
  var fs = FsOps()
  def add(wall: Double, busy: Double, d: Totals, f: FsOps): Unit = {
    calls += 1; wallS += wall; busyS += busy
    totals = totals + d
    fs = fs + f
  }
}

/** Local-filesystem operations and bytes written (all threads of this JVM). */
final case class FsOps(readOps: Long = 0, writeOps: Long = 0, bytesWritten: Long = 0) {
  def +(o: FsOps): FsOps = FsOps(readOps + o.readOps, writeOps + o.writeOps, bytesWritten + o.bytesWritten)
  def -(o: FsOps): FsOps = FsOps(readOps - o.readOps, writeOps - o.writeOps, bytesWritten - o.bytesWritten)
}

object FsOps {
  def now(): FsOps = {
    import scala.jdk.CollectionConverters._
    val bytes = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
    FsOps(CountingLocalFileSystem.reads.get, CountingLocalFileSystem.writes.get, bytes)
  }
}

/** Shared state of one run: the session, the trace, and the tallies every
  * workload reports through.
  */
final class Ctx(val args: Args, val spark: SparkSession) {
  val trace = new Trace
  /** The untraced half of a traced run turns tracing off per unit. */
  var tracing = false
  val probe: Option[Probe] = if (args.trace) Some(new Probe) else None
  val layers = mutable.LinkedHashMap.empty[String, LayerStat]
  val setupSamples = mutable.ArrayBuffer.empty[Double]
  val opMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val stageDir: Path = args.runDir.resolve("stage")

  /** Record one client operation's latency under `kind` (untraced units only). */
  def op(kind: String, ms: Double): Unit =
    if (!tracing) opMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] check failed: $what")
  }

  /** Run a call into a layer. Traced, it opens a span and charges the
    * call's Spark and filesystem work to `name`, after draining the
    * listener so the call's last job is counted.
    */
  def layer[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val p = probe.get
      val sc = spark.sparkContext
      p.drain(sc)
      val before = p.totals
      val fs0 = FsOps.now()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = trace.span(name)(body)
      val wall = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      p.drain(sc)
      layers.getOrElseUpdate(name, new LayerStat)
        .add(wall, p.jobBusyS(ms0, ms1), p.totals - before, FsOps.now() - fs0)
      out
    }

  /** Bytes the units' `Stage` tables added, summed over traced units. */
  var stageBytes = 0L
  /** Files the units added to snapshot-table `_log` directories. */
  var logFiles = 0L

  /** The layer call around one whole unit of work. */
  def unitLayer[T](body: => T): T =
    if (!tracing) body
    else {
      val (b0, l0) = written()
      trace.newOp()
      val out = layer("unit")(body)
      val (b1, l1) = written()
      stageBytes += b1 - b0
      logFiles += l1 - l0
      out
    }

  /** (bytes under the stage root, files under any `_log` directory). */
  private def written(): (Long, Long) = {
    val s = Files.walk(args.runDir)
    try s.filter(Files.isRegularFile(_)).toList.asScala.foldLeft((0L, 0L)) { case ((b, l), f) =>
      (if (f.startsWith(stageDir)) b + Files.size(f) else b,
        if (f.getParent.getFileName.toString == "_log") l + 1 else l)
    } finally s.close()
  }

  def stat(name: String): LayerStat = layers.getOrElse(name, new LayerStat)

}

object Clock {
  /** The body's result and its wall time in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }
}

/** One workload: set-up, one closed-loop unit of work, final checks. */
trait Workload {
  /** Generate inputs and load the store; called several times, each timed. */
  def setup(i: Int): Unit
  /** Untimed warm-up and output checks before the loop. */
  def warmup(): Unit = ()
  /** Units run and discarded before the timed loop. */
  def warmUnits: Int = 1
  /** The nominal length of one unit, which sizes the loop to `--seconds`. */
  def unitS: Double
  /** One complete unit of work; records its ops through [[Ctx.op]] and
    * returns the seconds from its first input to its complete result.
    */
  def unit(i: Int): Double
  /** Checks that need the state the loop left behind. */
  def finish(): Unit = ()
  /** Workload-specific per-layer metrics over `n` traced units. */
  def layerMetrics(n: Int): Map[String, Double]
  /** Workload-specific figures for the detail line (name -> (value, unit)). */
  def detail(wallS: Double): Seq[(String, Double, String)]
}
