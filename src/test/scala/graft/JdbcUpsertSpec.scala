package graft

import org.apache.spark.sql.Encoders
import graft.operators._

/** K1 sink (main.go:217-240): prepared keyed upsert through the
  * connection seam, affected-rows validation, dry-run gating, and
  * per-partition statement reuse.
  */
class JdbcUpsertSpec extends SparkTestBase {

  private implicit val enc: org.apache.spark.sql.Encoder[UpsertRow] =
    Encoders.product[UpsertRow]

  private def changeset(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(i => UpsertRow(i, i.toString, s"/$i", i, s"/f$i.dat")).toDS()
  }

  test("affected-rows validation: 1 row = ok, 0 rows = share deleted (main.go:232-238)") {
    val store = "t-affected"
    FakeJdbcStore.reset(store)
    (1L to 10L).foreach(FakeJdbcStore.seed(store, _))
    val out = JdbcUpsert.write(changeset(1L to 12L), new FakeJdbcFactory(store))
      .collect().sortBy(_.id)
    assert(out.count(o => o.affected == 1 && o.error.isEmpty) == 10)
    val dangling = out.filter(_.id > 10)
    assert(dangling.forall(o =>
      o.affected == 0 && o.error.contains(JdbcUpsert.ErrShareDeleted)))
    // the store holds the written values
    assert(FakeJdbcStore.rows(store)(7L) == Vector("7", "/7", 7L, "/f7.dat"))
  }

  test("dry-run writes NOTHING and reports would-be outcomes (main.go:219-221)") {
    val store = "t-dryrun"
    FakeJdbcStore.reset(store)
    (1L to 5L).foreach(FakeJdbcStore.seed(store, _))
    val before = FakeJdbcStore.rows(store)
    val out = JdbcUpsert.write(changeset(1L to 5L), new FakeJdbcFactory(store),
      dryRun = true).collect()
    assert(out.length == 5 && out.forall(o => o.affected == 0 && o.error.isEmpty))
    assert(FakeJdbcStore.rows(store) == before)
  }

  test("writeWithConf consumes spark.graft.notouchdb + spark.graft.debug") {
    val store = "t-conf"
    FakeJdbcStore.reset(store)
    (1L to 3L).foreach(FakeJdbcStore.seed(store, _))
    spark.conf.set("spark.graft.notouchdb", "true")
    spark.conf.set("spark.graft.debug", "true")
    try {
      val out = JdbcUpsert.writeWithConf(spark, changeset(1L to 3L),
        new FakeJdbcFactory(store)).collect()
      assert(out.forall(_.affected == 0)) // dry-run honored
      assert(FakeJdbcStore.rows(store)(2L) == Vector("", "", 0L, "")) // untouched
    } finally {
      spark.conf.unset("spark.graft.notouchdb")
      spark.conf.unset("spark.graft.debug")
    }
  }

  test("statement prepared once per non-empty partition (SURVEY §4 reuse)") {
    val store = "t-prepare"
    FakeJdbcStore.reset(store)
    (1L to 100L).foreach(FakeJdbcStore.seed(store, _))
    val p0 = FakeJdbcStore.prepareCalls.get()
    val out = JdbcUpsert.write(changeset(1L to 100L).repartition(4),
      new FakeJdbcFactory(store)).collect()
    assert(out.length == 100)
    val prepared = FakeJdbcStore.prepareCalls.get() - p0
    assert(prepared >= 1 && prepared <= 4, s"prepared $prepared times for 4 partitions")
  }

  // --- real JDBC path: embedded Derby (from the Spark jars dir) ---------

  private val derbyUrl = "jdbc:derby:memory:graftupsert;create=true"

  private def derbyAvailable: Boolean =
    try { java.sql.DriverManager.getConnection(derbyUrl).close(); true }
    catch {
      case _: Exception =>
        try { // Derby >=10.15 autoloads via this class; force-register then retry
          Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
          java.sql.DriverManager.getConnection(derbyUrl).close(); true
        } catch { case _: Throwable => false }
    }

  test("DriverManagerUpsertFactory against embedded Derby: real prepared statements + affected rows") {
    assume(derbyAvailable, "Derby driver not on classpath")
    val setup = java.sql.DriverManager.getConnection(derbyUrl)
    try {
      val st = setup.createStatement()
      try st.execute("DROP TABLE oc_share") catch { case _: java.sql.SQLException => () }
      st.execute("""CREATE TABLE oc_share(
        id BIGINT PRIMARY KEY, item_source VARCHAR(64), item_target VARCHAR(64),
        file_source BIGINT, file_target VARCHAR(64))""")
      val ins = setup.prepareStatement("INSERT INTO oc_share VALUES (?, '', '', 0, '')")
      (1L to 10L).foreach { i => ins.setLong(1, i); ins.executeUpdate() }
      ins.close(); st.close()
    } finally setup.close()

    // multiple partitions = multiple concurrent embedded connections
    val out = JdbcUpsert.write(changeset(1L to 12L).repartition(3),
      new DriverManagerUpsertFactory(derbyUrl)).collect().sortBy(_.id)
    assert(out.count(o => o.affected == 1 && o.error.isEmpty) == 10)
    assert(out.filter(_.id > 10).forall(o =>
      o.affected == 0 && o.error.contains(JdbcUpsert.ErrShareDeleted)))

    // the database holds the written values
    val check = java.sql.DriverManager.getConnection(derbyUrl)
    try {
      val rs = check.createStatement().executeQuery(
        "SELECT item_source, item_target, file_source, file_target FROM oc_share WHERE id = 7")
      assert(rs.next())
      assert((rs.getString(1), rs.getString(2), rs.getLong(3), rs.getString(4)) ==
        (("7", "/7", 7L, "/f7.dat")))
    } finally check.close()
  }

  test("continue-on-error: a failing id becomes an error row, the rest commit") {
    val store = "t-fail"
    FakeJdbcStore.reset(store)
    (1L to 6L).foreach(FakeJdbcStore.seed(store, _))
    val out = JdbcUpsert.write(changeset(1L to 6L),
      new FakeJdbcFactory(store, failIds = Set(4L)), maxRetries = 2)
      .collect().sortBy(_.id)
    val failed = out.filter(_.id == 4L)
    assert(failed.length == 1 && failed.head.affected == -1 &&
      failed.head.error.exists(_.contains("connection lost")))
    assert(out.count(o => o.affected == 1 && o.error.isEmpty) == 5)
    assert(FakeJdbcStore.rows(store)(5L) == Vector("5", "/5", 5L, "/f5.dat"))
    assert(FakeJdbcStore.rows(store)(4L) == Vector("", "", 0L, "")) // not written
  }

  // --- the statement loop shared with Merge.execute ----------------------

  test("a transient failure is retried: an id failing 2 of 3 attempts is written") {
    val store = "t-flaky"
    FakeJdbcStore.reset(store)
    (1L to 4L).foreach(FakeJdbcStore.seed(store, _))
    val out = JdbcUpsert.write(changeset(1L to 4L),
      new FakeJdbcFactory(store, flakyIds = Map(3L -> 2)), maxRetries = 3)
      .collect().sortBy(_.id)
    assert(out.forall(o => o.affected == 1 && o.error.isEmpty), out.toSeq)
    assert(FakeJdbcStore.attempts(store, 3L) == 3)
    assert(FakeJdbcStore.rows(store)(3L) == Vector("3", "/3", 3L, "/f3.dat"))
  }

  test("maxRetries counts attempts: a non-transient SQL error gets one, others all") {
    val store = "t-nontransient"
    FakeJdbcStore.reset(store)
    (1L to 4L).foreach(FakeJdbcStore.seed(store, _))
    val out = JdbcUpsert.write(changeset(1L to 4L),
      new FakeJdbcFactory(store, failIds = Set(2L), fatalIds = Set(3L)), maxRetries = 3)
      .collect().map(o => o.id -> o).toMap
    assert(FakeJdbcStore.attempts(store, 3L) == 1, "SQLNonTransientException was retried")
    assert(FakeJdbcStore.attempts(store, 2L) == 3)
    assert(Seq(2L, 3L).forall(i => out(i).affected == -1 && out(i).error.nonEmpty))
    assert(out(1L).error.isEmpty && out(4L).error.isEmpty)
  }

  test("a statement reporting 2 affected rows is an error row") {
    val store = "t-two-rows"
    FakeJdbcStore.reset(store)
    (1L to 3L).foreach(FakeJdbcStore.seed(store, _))
    val out = JdbcUpsert.write(changeset(1L to 3L),
      new FakeJdbcFactory(store, reportAffected = Map(2L -> 2))).collect().sortBy(_.id)
    assert(out.toSeq == Seq(UpsertOutcome(1L, 1, None),
      UpsertOutcome(2L, 2, Some("expected 1 row affected, got 2")), UpsertOutcome(3L, 1, None)))
  }

  test("each non-empty partition opens one connection and closes it once, " +
    "also when limit(1) abandons the rows") {
    import spark.implicits._
    val store = "t-close"
    FakeJdbcStore.reset(store)
    (1L to 50L).foreach(FakeJdbcStore.seed(store, _))
    def connects = FakeJdbcStore.connectCalls.get()
    def closes = FakeJdbcStore.closeCalls.get()

    // 3 rows in 8 slices: 5 partitions are empty and open nothing
    val sparse = spark.sparkContext.parallelize(
      (1L to 3L).map(i => UpsertRow(i, "s", "/s", i, "/s")), 8).toDS()
    val (c0, x0) = (connects, closes)
    assert(JdbcUpsert.write(sparse, new FakeJdbcFactory(store)).collect().length == 3)
    assert((connects - c0, closes - x0) == ((3L, 3L)))

    val (c1, x1) = (connects, closes)
    val first = JdbcUpsert.write(changeset(1L to 50L).repartition(1),
      new FakeJdbcFactory(store)).limit(1).collect()
    assert(first.length == 1)
    assert((1L to 50L).map(FakeJdbcStore.attempts(store, _)).sum < 50,
      "limit(1) drained the partition; the abandoned-iterator path went untested")
    assert((connects - c1, closes - x1) == ((1L, 1L)))
  }

  test("a statement that cannot be prepared becomes error rows, not a failed task") {
    val store = "t-unpreparable"
    FakeJdbcStore.reset(store)
    (1L to 3L).foreach(FakeJdbcStore.seed(store, _))
    val out = JdbcUpsert.write(changeset(1L to 3L),
      new FakeJdbcFactory(store, unpreparable = Set(JdbcUpsert.UpdateSql))).collect()
    assert(out.length == 3 &&
      out.forall(o => o.affected == -1 && o.error.exists(_.contains("cannot prepare"))))
    assert(FakeJdbcStore.rows(store)(2L) == Vector("", "", 0L, ""))
  }
}
