package perfbench

import java.util.concurrent.atomic.AtomicLong
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.JdbcShares

/** One file-backed Derby database under `home` holding a generated
  * `oc_share`, with the fixture and namespace it was made from.
  */
final case class Db(home: java.nio.file.Path, name: String, fixture: DataFrame,
                    ns: DataFrame, keys: (Long, Long)) {
  def url: String = Db.url(home, name)
  def scanUrl: String = ProbeDriver.url("scan", url)
  def sinkUrl: String = ProbeDriver.url("sink", url)

  /** An identical database under a new name: a file copy of this one. */
  def cloneAs(to: String): Db = {
    val src = home.resolve(name)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach(f => Files.copy(f, home.resolve(to).resolve(src.relativize(f))))
    finally s.close()
    copy(name = to)
  }
}

object Db {
  def url(home: java.nio.file.Path, name: String): String = s"jdbc:derby:${home.resolve(name)}"
}

/** Counts every call the pipeline makes into the namespace service. */
final class CountingConnector(inner: NamespaceConnector) extends NamespaceConnector {
  import CountingConnector._
  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally { calls.incrementAndGet(); ns.addAndGet(System.nanoTime() - t0) }
  }
  override def statPath(path: String): Option[NsMetadata] = timed(inner.statPath(path))
  override def createVersionsFolder(filePath: String, uid: String, gid: String): Unit =
    timed { creates.incrementAndGet(); inner.createVersionsFolder(filePath, uid, gid) }
}

object CountingConnector {
  val calls, creates, ns = new AtomicLong()
}

/** The paper's pipeline end to end: scan `oc_share` from a file-backed
  * Derby database, resolve against the namespace snapshot, create the
  * missing versions folders through the connector, and write the keyed
  * UPDATEs back; then re-run, which must find nothing left to change.
  *
  * Derby runs with `derby.system.durability=test` (no fsync on commit) on
  * both sides of every comparison, so the sink's cost is the engine's and
  * Derby's work, not the disk's flush latency. The connector keeps the
  * engine's default rate limit.
  *
  * Untraced units connect to Derby directly. Traced units go through
  * [[ProbeDriver]], which counts the JDBC calls; Spark reads those URLs
  * with its generic JDBC dialect rather than Derby's, and the proxy's own
  * cost lands in `trace.overhead_s`.
  */
final class Migrate(ctx: Ctx, shares: Int, val unitS: Double) extends Workload {
  import ctx.spark
  import spark.implicits._

  private val cores = Main.Cores
  private val namespaceId = "perfbench"
  private val inputSeeds = new Random(ctx.args.seed)
  private val derbyHome = ctx.args.runDir.resolve("derby")
  private var dbs = 0
  /** Freshly loaded databases, shut down; every unit migrates a copy of one. */
  private val pristine = mutable.ArrayBuffer.empty[Db]
  private var scanned = 0L
  // JDBC and connector counters summed over traced units only
  private var scan, sink = new JdbcSnapshot()
  private var conn = new ConnSnapshot()
  private var requests = 0L

  ProbeDriver.register()

  private def load(): Db = {
    dbs += 1
    val name = s"oc$dbs"
    val url = Db.url(derbyHome, name)
    val orders = Gen.orders(inputSeeds.nextLong(), shares)
    val ordersDf = orders.toDF()
    val fixture = Stage.table(SyntheticShares.shares(ordersDf), "pb_fixture")
    val ns = Stage.table(SyntheticShares.eosNamespace(ordersDf), "pb_ns")
    val c = java.sql.DriverManager.getConnection(url + ";create=true")
    try {
      val st = c.createStatement()
      st.execute("""CREATE TABLE oc_share(
        id BIGINT PRIMARY KEY, share_type INT, uid_owner VARCHAR(32),
        item_type VARCHAR(16), item_source VARCHAR(32), item_target VARCHAR(64),
        file_source BIGINT, file_target VARCHAR(64))""")
      st.close()
    } finally c.close()
    // Derby folds unquoted DDL names to upper case; Spark's writer quotes
    // the frame's names verbatim
    fixture.toDF(fixture.columns.map(_.toUpperCase).toIndexedSeq: _*)
      .write.mode("append").option("numPartitions", cores)
      .jdbc(url, "oc_share", new java.util.Properties())
    shutdown(url)
    Db(derbyHome, name, fixture, ns, (orders.head.o_orderkey, orders.last.o_orderkey))
  }

  /** Close a database so its files can be copied and its cache freed. */
  private def shutdown(url: String): Unit =
    try java.sql.DriverManager.getConnection(url + ";shutdown=true")
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () } // shut down

  override def setup(i: Int): Unit = pristine += load()

  private case class Pass(resolved: DataFrame, cs: DataFrame,
                          created: Array[EnsureResult], outcomes: Array[UpsertOutcome])

  /** One migration pass over `db`'s table against namespace `ns0`. */
  private def pass(db: Db, ns0: DataFrame): Pass = {
    val (scanUrl, sinkUrl) = if (ctx.tracing) (db.scanUrl, db.sinkUrl) else (db.url, db.url)
    val source = JdbcShares.readPartitioned(spark, scanUrl, "id",
      db.keys._1, db.keys._2 + 1, cores)
    val resolved = ctx.layer("Migration.resolvedPipeline") {
      Stage.table(Migration.resolvedPipeline(source, ns0, lit(null).cast("long")),
        "pb_resolved")
    }
    val created = ctx.layer("Connector.ensureVersionsFolders") {
      Connector.ensureVersionsFolders(
        Connector.missingFolderRequests(resolved).repartition(cores),
        new CountingConnector(new FakeConnector(namespaceId))).collect()
    }
    val createdDf = created.toSeq.map(r => (r.id, r.ino)).toDF("id", "created_ino")
    val filled = resolved.join(createdDf, Seq("id"), "left")
      .withColumn("versions_ino", coalesce(col("versions_ino"), col("created_ino")))
    val cs = ctx.layer("Migration.changeset") {
      Stage.table(Migration.changeset(filled), "pb_cs")
    }
    implicit val enc = Encoders.product[UpsertRow]
    val outcomes = ctx.layer("JdbcUpsert.write") {
      JdbcUpsert.write(cs.as[UpsertRow].repartition(cores),
        new DriverManagerUpsertFactory(sinkUrl)).collect()
    }
    Pass(resolved, cs, created, outcomes)
  }

  override def unit(i: Int): Double = {
    val db = pristine(i % pristine.size).cloneAs(s"run$i")
    FakeConnector.reset(namespaceId)
    val scan0 = JdbcSnapshot.of("scan"); val sink0 = JdbcSnapshot.of("sink")
    val conn0 = ConnSnapshot.now()

    val (first, wall, again, rerunS) = ctx.unitLayer {
      val (first, wall) = Clock.timed(ctx.layer("Migration.pass")(pass(db, db.ns)))
      val createdNs = first.created.toSeq.flatMap(r => r.ino.map(ino => (ino, r.vf_key)))
        .toDF("ino", "file")
        .select(col("ino"), col("file"), lit("0").as("uid"), lit("2766").as("gid"),
          lit(0L).as("size"))
      val (again, rerunS) =
        Clock.timed(ctx.layer("Migration.rerun")(pass(db, db.ns.unionByName(createdNs))))
      (first, wall, again, rerunS)
    }
    if (ctx.tracing) {
      scan = scan + (JdbcSnapshot.of("scan") - scan0)
      sink = sink + (JdbcSnapshot.of("sink") - sink0)
      conn = conn + (ConnSnapshot.now() - conn0)
      requests += first.created.length + again.created.length
    }
    ctx.op("rerun", rerunS * 1000)
    check(db, first, again)
    shutdown(db.url)
    wall
  }

  private def check(db: Db, first: Pass, again: Pass): Unit = {
    ctx.attempted += first.outcomes.length + 1
    first.created.filter(_.error.isDefined).foreach(r => ctx.fail(s"connector: $r"))
    first.outcomes.filterNot(o => o.affected == 1 && o.error.isEmpty)
      .foreach(o => ctx.fail(s"upsert outcome $o"))
    if (first.outcomes.isEmpty) ctx.fail("empty change-set on the first pass")
    val cols = db.fixture.columns.toSeq.map(col)
    val expected = Migration.applyChangeset(db.fixture, first.cs).select(cols: _*)
    val actual = JdbcShares.read(spark, db.url).select(cols: _*)
    if (!(actual.exceptAll(expected).isEmpty && expected.exceptAll(actual).isEmpty))
      ctx.fail("database differs from Migration.applyChangeset of the fixture")
    if (!again.cs.isEmpty || again.outcomes.nonEmpty || again.created.nonEmpty)
      ctx.fail(s"re-run changed ${again.outcomes.length} rows")
    scanned = first.resolved.count()
  }

  override def detail(wallS: Double): Seq[(String, Double, String)] = Seq(
    ("rows_per_s", scanned / wallS, "1/s"),
    ("rerun_s", Stats.median(ctx.opMs("rerun").toSeq) / 1000, "s"))

  override def layerMetrics(n: Int): Map[String, Double] = {
    val resolve = ctx.stat("Migration.resolvedPipeline")
    val ensure = ctx.stat("Connector.ensureVersionsFolders")
    val callS = conn.ns / 1e9
    Map(
      "JdbcShares.scan_s" -> scan.ns / 1e9 / n,
      "JdbcShares.rows" -> scan.rowsRead.toDouble / n,
      "Migration.resolve_s" -> resolve.wallS / n,
      "Migration.shuffle_bytes" -> resolve.totals.shuffleWrite.toDouble / n,
      "Connector.requests" -> requests.toDouble / n,
      "Connector.creates" -> conn.creates.toDouble / n,
      "Connector.calls" -> conn.calls.toDouble / n,
      "Connector.call_s" -> callS / n,
      "Connector.wait_s" -> (ensure.wallS - callS) / n,
      "JdbcUpsert.rows" -> sink.rowsBound.toDouble / n,
      "JdbcUpsert.db_calls" -> sink.calls.toDouble / n,
      "JdbcUpsert.commits" -> sink.commits.toDouble / n,
      "JdbcUpsert.connects" -> sink.connects.toDouble / n,
      "JdbcUpsert.db_s" -> sink.ns / 1e9 / n,
      "JdbcUpsert.retries" -> sink.errors.toDouble / n,
      "JdbcUpsert.useful_ratio" ->
        (if (sink.rowsBound == 0) 0.0 else sink.affected.toDouble / sink.rowsBound))
  }

  /** Peak concurrent JDBC connections seen on either endpoint (traced units only). */
  def maxConnections: Long =
    math.max(ProbeDriver.counters("scan").maxOpen.get, ProbeDriver.counters("sink").maxOpen.get)
}

/** A copy of one endpoint's JDBC counters. */
final case class JdbcSnapshot(connects: Long = 0, calls: Long = 0, rowsBound: Long = 0,
                              affected: Long = 0, commits: Long = 0, errors: Long = 0,
                              rowsRead: Long = 0, ns: Long = 0) {
  def +(o: JdbcSnapshot): JdbcSnapshot = JdbcSnapshot(connects + o.connects,
    calls + o.calls, rowsBound + o.rowsBound, affected + o.affected, commits + o.commits,
    errors + o.errors, rowsRead + o.rowsRead, ns + o.ns)
  def -(o: JdbcSnapshot): JdbcSnapshot = this + JdbcSnapshot(-o.connects, -o.calls,
    -o.rowsBound, -o.affected, -o.commits, -o.errors, -o.rowsRead, -o.ns)
}

object JdbcSnapshot {
  def of(tag: String): JdbcSnapshot = {
    val c = ProbeDriver.counters(tag)
    JdbcSnapshot(c.connects.get, c.calls.get, c.rowsBound.get, c.affected.get,
      c.commits.get, c.errors.get, c.rowsRead.get, c.ns.get)
  }
}

/** A copy of the connector counters. */
final case class ConnSnapshot(calls: Long = 0, creates: Long = 0, ns: Long = 0) {
  def +(o: ConnSnapshot): ConnSnapshot = ConnSnapshot(calls + o.calls, creates + o.creates, ns + o.ns)
  def -(o: ConnSnapshot): ConnSnapshot = ConnSnapshot(calls - o.calls, creates - o.creates, ns - o.ns)
}

object ConnSnapshot {
  def now(): ConnSnapshot = ConnSnapshot(CountingConnector.calls.get,
    CountingConnector.creates.get, CountingConnector.ns.get)
}
