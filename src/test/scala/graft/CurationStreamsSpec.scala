package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.CurationStreams
import graft.streaming.CurationStreams.SrcDoc
import graft.queries.DedupQueries

/** Streaming curation parity: the copy-injected corpus replayed in two
  * micro-batches (originals, then copies) yields exactly batch p01's
  * per-source survivor ledger — and the late-arriving copies are dropped
  * by state, not by luck of the batch boundary.
  */
class CurationStreamsSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("two-batch replay reproduces p01's survivor ledger per source") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val raw = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text").as[SrcDoc].collect().toSeq
    val copies = raw.filter(_.doc_id % 10 == 0)
      .map(d => d.copy(doc_id = d.doc_id + DedupQueries.BatchIdOffset))
    assert(copies.nonEmpty)

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    // transformWithState needs the RocksDB state store provider
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[SrcDoc]
      val q = CurationStreams.curationSurvivors(spark, ms.toDS())
        .writeStream.outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[CurationStreams.Kept], _: Long) =>
          got ++= df.collect().map(k => (k.doc_id, k.source, k.ws_tokens))
          ()
        }.start()
      try {
        ms.addData(raw); q.processAllAvailable()
        val afterOriginals = got.size
        ms.addData(copies); q.processAllAvailable()
        // every copy's fingerprint is already owned by its original: the
        // second batch must add NOTHING
        assert(got.size == afterOriginals,
          s"late copies leaked through the dedup state: ${got.size} vs $afterOriginals")
      } finally q.stop()
    } finally {
      prev.fold(spark.conf.unset(providerKey))(spark.conf.set(providerKey, _))
    }

    val streamed = got.groupBy(_._2).view
      .mapValues(ks => (ks.size.toLong, ks.map(_._3).sum)).toMap
    val p01 = SparkEntry.queries("p01_curation_pipeline")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getLong(5)))).toMap
    p01.foreach { case (src, (nUnique, sumToks)) =>
      assert(streamed.getOrElse(src, (0L, 0L)) == ((nUnique, sumToks)),
        s"$src: streamed ${streamed.get(src)} != batch ($nUnique, $sumToks)")
    }
  }

  test("streaming admission reproduces batch p02's admitted ledger") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val off = DedupQueries.BatchIdOffset

    val raw = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text").as[SrcDoc].collect().toSeq
    // p02's ingest arms: exact copies of every 10th doc, plus two copies
    // of a 'fresh snapshot v2' variant of every 15th doc
    val corpusCopies = raw.filter(_.doc_id % 10 == 0)
      .map(d => d.copy(doc_id = d.doc_id + off))
    val v2a = raw.filter(_.doc_id % 15 == 0)
      .map(d => d.copy(doc_id = d.doc_id + 2 * off, text = d.text + " fresh snapshot v2"))
    val v2b = raw.filter(_.doc_id % 15 == 0)
      .map(d => d.copy(doc_id = d.doc_id + 3 * off, text = d.text + " fresh snapshot v2"))
    assert(corpusCopies.nonEmpty && v2a.nonEmpty)

    // the already-curated corpus's fingerprint index, built ONCE with the
    // batch pipeline's own stages (gate on raw text, scrub, fingerprint)
    val corpusFp = CurationStreams
      .gateAndScrub(spark, Tables.documents(spark, sfDir)
        .select("doc_id", "source", "text").as[SrcDoc])
      .select(graft.functions.TextFns.fingerprint(col("rtext")).as("fp"))
      .distinct().cache()

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[SrcDoc]
      val q = CurationStreams.admittedDocs(spark, ms.toDS(), corpusFp)
        .writeStream.outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[CurationStreams.Kept], _: Long) =>
          got ++= df.collect().map(k => (k.doc_id, k.source, k.ws_tokens))
          ()
        }.start()
      try {
        // batch 1: corpus copies + first v2 copies. Corpus copies must
        // ALL bounce off the static index; gated v2 variants admit.
        ms.addData(corpusCopies ++ v2a); q.processAllAvailable()
        val afterB1 = got.size
        assert(got.forall(_._1 >= 2 * off),
          s"a corpus exact-copy slipped past the static anti-join: " +
            got.filter(_._1 < 2 * off).take(3).mkString(","))
        assert(afterB1 > 0, "no v2 variant admitted — fixture vacuous")
        // batch 2: the later v2 twins — every fingerprint is now owned
        // by its batch-1 twin, so state must add NOTHING.
        ms.addData(v2b); q.processAllAvailable()
        assert(got.size == afterB1,
          s"late v2 twins leaked through the dedup state: ${got.size} vs $afterB1")
      } finally q.stop()
    } finally {
      prev.fold(spark.conf.unset(providerKey))(spark.conf.set(providerKey, _))
    }

    // ledger parity: per-source (n_admitted, sum ws_tokens) must equal
    // batch p02's columns exactly
    val streamed = got.groupBy(_._2).view
      .mapValues(ks => (ks.size.toLong, ks.map(_._3).sum)).toMap
    val p02 = SparkEntry.queries("p02_incremental_curation")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(5), r.getLong(7)))).toMap
    p02.foreach { case (src, (nAdmitted, sumToks)) =>
      assert(streamed.getOrElse(src, (0L, 0L)) == ((nAdmitted, sumToks)),
        s"$src: streamed ${streamed.get(src)} != batch p02 ($nAdmitted, $sumToks)")
    }
  }

  test("admitByName: epochs admit insert-if-absent into the NAMED index " +
    "exactly once; a replayed epoch skips the merge and recomputes " +
    "identical outcomes") {
    import graft.operators.SnapshotLog
    import graft.streaming.{CurationStreams, SnapshotStreams}
    val w = java.nio.file.Files.createTempDirectory("admitbyname").toString
    spark.conf.set("spark.graft.catalog.location", w)
    import spark.implicits._
    Seq((100L, 1L), (101L, 2L)).toDF("fp", "keeper")
      .createOrReplaceTempView("abn_corpus")
    spark.sql("CREATE TABLE graft.abnidx TBLPROPERTIES ('key'='fp') AS " +
      "SELECT * FROM abn_corpus")
    val dir = s"$w/abnidx"
    val v0 = SnapshotLog.latestVersion(spark, dir)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long)]
    val out = s"$w/outcomes"
    val q = CurationStreams.admitByName(
      ms.toDF().toDF("doc_id", "fp"), "graft.abnidx", "abn-test", out)
      .option("checkpointLocation", s"$w/ckpt")
      .start()
    try {
      // epoch 0: one duplicate of the corpus (fp=100), one fresh pair on
      // fp=500 (min doc wins), one fresh singleton
      ms.addData((10L, 100L), (11L, 500L), (12L, 500L), (13L, 600L))
      q.processAllAvailable()
      // epoch 1: late twin of fp=500 — its keeper was fixed in epoch 0
      ms.addData((5L, 500L))
      q.processAllAvailable()
    } finally q.stop()

    val outcomes = spark.read.parquet(s"$out/epoch=*")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(outcomes == Set(
      (10L, "duplicate", 1L),   // corpus keeper wins
      (11L, "admitted", 11L),   // min of the epoch's pair
      (12L, "duplicate", 11L),
      (13L, "admitted", 13L),
      (5L, "duplicate", 11L)    // late twin: epoch-0 keeper is immutable
    ), s"outcomes: $outcomes")

    // exactly-once: one committed version per epoch, txn-stamped
    val vLatest = SnapshotLog.latestVersion(spark, dir)
    assert(vLatest == v0 + 2, s"one commit per epoch: $v0 -> $vLatest")
    // a REPLAYED epoch (same stream id, old epoch id) must skip
    val replay = Seq((99L, 700L)).toDF("doc_id", "fp")
      .selectExpr("'insert' AS op", "fp", "doc_id AS keeper")
    assert(SnapshotStreams.applyEpoch(spark, dir, replay, 1L, "abn-test",
      "fp").isEmpty, "replayed epoch must skip, never double-apply")
    assert(SnapshotLog.latestVersion(spark, dir) == vLatest)
    spark.sql("DROP TABLE IF EXISTS graft.abnidx")
  }

  test("catalog-staging queries (m18, d31) leave the session's catalog " +
    "location as they found it") {
    import graft.sql.GraftTableCatalog.{LocationKey, withLocation}
    val w = java.nio.file.Files.createTempDirectory("catloc").toString
    spark.conf.set(LocationKey, w)
    spark.sql("CREATE TABLE graft.mine TBLPROPERTIES ('key'='id') AS " +
      "SELECT id, id * 2 AS x FROM range(5)")
    assert(SparkEntry.queries("m18_catalog_table")(spark, sfDir).count() > 0)
    assert(SparkEntry.queries("d31_stream_admission")(spark, sfDir).count() > 0)
    assert(spark.conf.get(LocationKey) == w)
    assert(spark.sql("SELECT count(*) FROM graft.mine").head().getLong(0) == 5L)
    spark.sql("DROP TABLE IF EXISTS graft.mine")
    // a session with no location gets none back
    spark.conf.unset(LocationKey)
    withLocation(spark, w)(())
    assert(spark.conf.getOption(LocationKey).isEmpty)
  }
}
