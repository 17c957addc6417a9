package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Keyed MERGE: functional semantics (partial update / delete /
  * WHEN-NOT-MATCHED insert), the duplicate-key pre-flight, and the
  * physical JDBC path — including functional/physical parity against
  * embedded Derby.
  */
class MergeSpec extends SparkTestBase {

  import spark.implicits._

  private def base = Seq(
    (1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
    .toDF("id", "name", "v")

  private def cs = Seq(
    (Merge.OpUpdate, 2L, null.asInstanceOf[String], java.lang.Long.valueOf(99L)),
    (Merge.OpDelete, 3L, null.asInstanceOf[String], null.asInstanceOf[java.lang.Long]),
    (Merge.OpInsert, 5L, "e", java.lang.Long.valueOf(50L)),
    (Merge.OpInsert, 1L, "DUP", java.lang.Long.valueOf(0L))) // matched insert -> ignored
    .toDF("op", "id", "name", "v")

  test("functional merge: partial update, delete, insert, matched-insert ignored") {
    val out = Merge(base, cs, "id").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq(
      (1L, "a", 10L),  // untouched; the matched insert did NOT duplicate it
      (2L, "b", 99L),  // v updated, null name kept base value
      (4L, "d", 40L),  // id 3 deleted
      (5L, "e", 50L))) // not-matched insert applied
  }

  test("update of a missing key is a no-op; duplicateKeys flags multi-change keys") {
    val cs2 = Seq(
      (Merge.OpUpdate, 77L, "x", java.lang.Long.valueOf(1L)),
      (Merge.OpUpdate, 2L, "y", java.lang.Long.valueOf(1L)),
      (Merge.OpDelete, 2L, null.asInstanceOf[String], null.asInstanceOf[java.lang.Long]))
      .toDF("op", "id", "name", "v")
    assert(Merge(base, cs2.where(col("id") === 77L), "id").count() == base.count())
    val dup = Merge.duplicateKeys(cs2, "id").collect()
    assert(dup.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 2L)))
  }

  test("'__set_null' is a reserved name: a base table owning it is " +
    "rejected (by merge and at table birth)") {
    val poisoned = base.withColumn(Merge.SetNullCol,
      array(lit("name")))
    val e = intercept[IllegalArgumentException] {
      Merge(poisoned, cs.withColumn(Merge.SetNullCol,
        lit(null).cast("array<string>")), "id")
    }
    assert(e.getMessage.contains("reserved"), e.getMessage)
    val dir = java.nio.file.Files.createTempDirectory("setnull").toString + "/t"
    val e2 = intercept[IllegalArgumentException] {
      SnapshotLog.init(spark, dir, poisoned, "id", numFiles = 1)
    }
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
  }

  test("changeset lacking payload columns fails loudly") {
    val bad = Seq((Merge.OpUpdate, 2L, "x")).toDF("op", "id", "name")
    val e = intercept[IllegalArgumentException](Merge(base, bad, "id"))
    assert(e.getMessage.contains("v"))
  }

  test("dry-run physical merge reports outcomes and touches nothing") {
    val changes = Seq(
      MergeChange(Merge.OpUpdate, 1L, "1", "/1", 1L, "/f1"),
      MergeChange(Merge.OpDelete, 2L, null, null, null, null)).toDS()
    val out = Merge.execute(changes, new FakeJdbcFactory("merge-dry"), dryRun = true)
      .collect()
    assert(out.length == 2 && out.forall(o => o.affected == 0 && o.error.isEmpty))
  }

  // --- physical path through the fake: JdbcUpsert's statement loop ------

  private def seedStore(store: String, ids: Seq[Long]): Unit = {
    FakeJdbcStore.reset(store)
    ids.foreach(FakeJdbcStore.seed(store, _))
  }

  private def upd(i: Long) = MergeChange(Merge.OpUpdate, i, s"$i", s"/$i", i, s"/f$i")
  private def ins(i: Long) = MergeChange(Merge.OpInsert, i, s"$i", s"/$i", i, s"/f$i")
  private def del(i: Long) = MergeChange(Merge.OpDelete, i, null, null, null, null)

  test("physical merge: transient faults retry, a duplicate insert gets one " +
    "attempt, 2 affected rows is an error") {
    val store = "m-rules"
    seedStore(store, 1L to 4L)
    val f = new FakeJdbcFactory(store, flakyIds = Map(2L -> 2), reportAffected = Map(4L -> 2))
    val out = Merge.execute(Seq(upd(2), del(3), ins(1), upd(4), ins(9)).toDS(), f,
        maxRetries = 3)
      .collect().map(o => o.id -> o).toMap
    assert(out(2L) == MergeOutcome(2L, "update", 1, None))
    assert(FakeJdbcStore.attempts(store, 2L) == 3)
    assert(out(3L) == MergeOutcome(3L, "delete", 1, None))
    assert(out(9L) == MergeOutcome(9L, "insert", 1, None))
    assert(out(1L).affected == -1 && out(1L).error.exists(_.contains("duplicate key")))
    assert(FakeJdbcStore.attempts(store, 1L) == 1, "a duplicate-key insert was retried")
    assert(out(4L) == MergeOutcome(4L, "update", 2, Some("expected 1 row affected, got 2")))
    assert(FakeJdbcStore.rows(store).keySet == Set(1L, 2L, 4L, 9L))
  }

  test("physical merge: each non-empty partition opens one connection and " +
    "closes it once, also when limit(1) abandons the rows") {
    val store = "m-close"
    seedStore(store, 1L to 50L)
    val f = new FakeJdbcFactory(store)
    def connects = FakeJdbcStore.connectCalls.get()
    def closes = FakeJdbcStore.closeCalls.get()

    val sparse = spark.sparkContext.parallelize(Seq(upd(1), del(2), ins(60)), 8).toDS()
    val (c0, x0) = (connects, closes)
    assert(Merge.execute(sparse, f).collect().forall(_.error.isEmpty))
    assert((connects - c0, closes - x0) == ((3L, 3L)))

    val (c1, x1) = (connects, closes)
    val first = Merge.execute((3L to 50L).map(upd).toDS().repartition(1), f)
      .limit(1).collect()
    assert(first.length == 1)
    assert((3L to 50L).map(FakeJdbcStore.attempts(store, _)).sum < 48,
      "limit(1) drained the partition; the abandoned-iterator path went untested")
    assert((connects - c1, closes - x1) == ((1L, 1L)))
  }

  test("physical merge: a statement that cannot be prepared errs only its own rows") {
    val store = "m-unpreparable"
    seedStore(store, 1L to 3L)
    val f = new FakeJdbcFactory(store, unpreparable = Set(Merge.DeleteSql))
    val out = Merge.execute(Seq(del(1), upd(2), del(3), ins(4)).toDS(), f)
      .collect().map(o => o.id -> o).toMap
    assert(Seq(1L, 3L).forall(i =>
      out(i).affected == -1 && out(i).error.exists(_.contains("cannot prepare"))))
    assert(out(2L).error.isEmpty && out(4L).error.isEmpty)
    assert(FakeJdbcStore.rows(store).keySet == Set(1L, 2L, 3L, 4L))
  }

  // --- physical path against embedded Derby + parity with functional ----

  private val derbyUrl = "jdbc:derby:memory:graftmerge;create=true"

  private def derbyAvailable: Boolean =
    try { java.sql.DriverManager.getConnection(derbyUrl).close(); true }
    catch {
      case _: Exception =>
        try {
          Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
          java.sql.DriverManager.getConnection(derbyUrl).close(); true
        } catch { case _: Throwable => false }
    }

  test("physical merge against Derby matches the functional merge row-for-row") {
    assume(derbyAvailable, "Derby driver not on classpath")
    val setup = java.sql.DriverManager.getConnection(derbyUrl)
    try {
      val st = setup.createStatement()
      try st.execute("DROP TABLE oc_share") catch { case _: java.sql.SQLException => () }
      st.execute("""CREATE TABLE oc_share(
        id BIGINT PRIMARY KEY, item_source VARCHAR(64), item_target VARCHAR(64),
        file_source BIGINT, file_target VARCHAR(64))""")
      val ins = setup.prepareStatement("INSERT INTO oc_share VALUES (?, ?, ?, ?, ?)")
      (1L to 8L).foreach { i =>
        ins.setLong(1, i); ins.setString(2, i.toString); ins.setString(3, s"/$i")
        ins.setLong(4, i); ins.setString(5, s"/f$i.dat"); ins.executeUpdate()
      }
      ins.close(); st.close()
    } finally setup.close()

    // update 2 and 4, delete 3 and the absent 99 (idempotent), insert 9;
    // the duplicate insert of id 1 must surface on the error channel
    // (Derby's key constraint = the strict matched-insert signal)
    val changes = Seq(
      MergeChange(Merge.OpUpdate, 2L, "u2", "/u2", 22L, "/fu2"),
      MergeChange(Merge.OpUpdate, 4L, "u4", "/u4", 44L, "/fu4"),
      MergeChange(Merge.OpUpdate, 55L, "x", "/x", 0L, "/x"),
      MergeChange(Merge.OpDelete, 3L, null, null, null, null),
      MergeChange(Merge.OpDelete, 99L, null, null, null, null),
      MergeChange(Merge.OpInsert, 9L, "9", "/9", 9L, "/f9.dat"),
      MergeChange(Merge.OpInsert, 1L, "clash", "/c", 0L, "/c")).toDS()
    val out = Merge.execute(changes.repartition(3),
        new DriverManagerUpsertFactory(derbyUrl), maxRetries = 1)
      .collect().map(o => (o.id, o.op) -> o).toMap
    assert(out((2L, "update")).affected == 1 && out((4L, "update")).affected == 1)
    assert(out((55L, "update")).error.contains(JdbcUpsert.ErrShareDeleted))
    assert(out((3L, "delete")).affected == 1)
    assert(out((99L, "delete")).affected == 0 && out((99L, "delete")).error.isEmpty)
    assert(out((9L, "insert")).affected == 1)
    assert(out((1L, "insert")).affected == -1 && out((1L, "insert")).error.nonEmpty)

    // parity: the table Derby now holds == the functional merge of the
    // same changeset (matched insert ignored functionally, rejected
    // physically — same final table either way)
    val baseDf = (1L to 8L).map(i => (i, i.toString, s"/$i", i, s"/f$i.dat"))
      .toDF("id", "item_source", "item_target", "file_source", "file_target")
    val csDf = changes.toDF()
      .select(col("op"), col("id"), col("new_item_source").as("item_source"),
        col("new_item_target").as("item_target"),
        col("new_file_source").as("file_source"),
        col("new_file_target").as("file_target"))
    val functional = Merge(baseDf, csDf, "id").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getString(4))).toSeq
    val check = java.sql.DriverManager.getConnection(derbyUrl)
    val physical = try {
      val rs = check.createStatement().executeQuery(
        "SELECT id, item_source, item_target, file_source, file_target FROM oc_share ORDER BY id")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getString(2), r.getString(3),
          r.getLong(4), r.getString(5))).toList
    } finally check.close()
    assert(functional == physical,
      s"functional/physical divergence:\n$functional\nvs\n$physical")
  }
}
