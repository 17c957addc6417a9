package graft

import org.apache.spark.SparkConf

/** S5 config surface + S6 executor-env propagation + F10 quote. */
class GraftConfSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._
  import graft.functions.PathFns

  test("S5: defaults mirror the reference flags (main.go:39-49)") {
    val d = GraftConf()
    assert(d.eosMgmUrl == "root://eospps-slave.cern.ch")
    assert(d.userPrefix == "/eos/scratch/user/")
    assert(!d.noTouchDb && !d.debug && d.user.isEmpty)
  }

  test("S5: session conf round-trip under spark.graft.*") {
    val keys = Seq("db.username" -> "u", "db.host" -> "h", "db.port" -> "3307",
      "db.name" -> "owncloud", "notouchdb" -> "true", "userprefix" -> "/eos/x/",
      "user" -> "alice", "debug" -> "true")
    try {
      keys.foreach { case (k, v) => spark.conf.set(GraftConf.Prefix + k, v) }
      val gc = GraftConf.fromSession(spark)
      assert(gc.dbUsername == "u" && gc.dbHost == "h" && gc.dbPort == 3307)
      assert(gc.dbName == "owncloud" && gc.noTouchDb && gc.debug)
      assert(gc.userPrefix == "/eos/x/" && gc.user.contains("alice"))
    } finally keys.foreach { case (k, _) => spark.conf.unset(GraftConf.Prefix + k) }
  }

  test("S5: dsnRedacted never contains the password") {
    val gc = GraftConf(dbUsername = "u", dbPassword = "hunter2",
      dbHost = "h", dbPort = 3306, dbName = "db")
    assert(!gc.dsnRedacted.contains("hunter2"))
    assert(gc.dsnRedacted == "u:***@tcp(h:3306)/db")
  }

  test("S6: executor env carries EOS_MGM_URL (main.go:243)") {
    val conf = GraftConf.withExecutorEnv(new SparkConf(false),
      GraftConf(eosMgmUrl = "root://eos-test.cern.ch"))
    assert(conf.get("spark.executorEnv.EOS_MGM_URL") == "root://eos-test.cern.ch")
  }

  test("F10: quoted matches Go strconv.Quote on audit-line inputs") {
    val cases = Seq(
      "/eos/scratch/user/a/f.dat" -> "\"/eos/scratch/user/a/f.dat\"",
      "/a/with space/f.dat" -> "\"/a/with space/f.dat\"",
      "/a/q\"uote" -> "\"/a/q\\\"uote\"",
      "/a/back\\slash" -> "\"/a/back\\\\slash\"",
      "/a/tab\there" -> "\"/a/tab\\there\"")
    import spark.implicits._
    val got = cases.map(_._1).toDF("p")
      .select(PathFns.quoted(col("p"))).as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("GraftSession.configure sets the engine-invariant configs on a builder") {
    // the shared test session already exists, so getOrCreate() would just
    // return it; assert the configured VALUES instead via a throwaway
    // builder applied to a fresh conf-capturing session in this JVM:
    // runtime confs (timezone, nanosAsLong) land on the active session
    val s = GraftSession.configure(
      org.apache.spark.sql.SparkSession.builder()).getOrCreate()
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.codegen.useIdInClassName") == "false")
    // a static conf: getOrCreate on an existing session ignores it, so
    // read what the session was built with
    assert(s.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    // the extension class the builder would install resolves and applies
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
  }
}
