package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Merge, SnapshotLog, SyntheticShares, ConcurrentCommitException}
import graft.queries.MigrationQueries.Merge0
import graft.sources.Manifest

/** Manifest-committed versioned table: time travel, file sharing across
  * versions, exclusive-create commit races, file-diff CDC, vacuum.
  */
class SnapshotLogSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def base: DataFrame = SyntheticShares.shares(Tables.orders(spark, sfDir))

  private def rows(df: DataFrame): Seq[String] =
    df.select(col("id"), col("share_type"), col("uid_owner"), col("item_type"),
        col("item_source"), col("item_target"), col("file_source"), col("file_target"))
      .collect().map(_.mkString("|")).sorted.toSeq

  /** Narrow changeset over the lowest key decile (CowMergeSpec's shape):
    * updates %5, deletes %9, one fresh insert far above the range.
    */
  private def narrowChangeset(b: DataFrame): DataFrame = {
    val maxId = b.agg(max("id")).head().getLong(0)
    val cut = maxId / 10
    val nullS = lit(null).cast("string")
    val nullI = lit(null).cast("int")
    val nullL = lit(null).cast("long")
    val csUpd = b.where(col("id") <= cut && col("id") % 5 === 0 && col("id") % 9 =!= 0)
      .select(lit(Merge.OpUpdate).as("op"), col("id"),
        nullI.as("share_type"), nullS.as("uid_owner"), nullS.as("item_type"),
        nullS.as("item_source"),
        concat(lit("/snap/"), col("id").cast("string")).as("item_target"),
        nullL.as("file_source"), nullS.as("file_target"))
    val csDel = b.where(col("id") <= cut && col("id") % 9 === 0)
      .select(lit(Merge.OpDelete).as("op"), col("id"),
        nullI.as("share_type"), nullS.as("uid_owner"), nullS.as("item_type"),
        nullS.as("item_source"), nullS.as("item_target"),
        nullL.as("file_source"), nullS.as("file_target"))
    import spark.implicits._
    val csIns = Seq((Merge.OpInsert, maxId + 1000L, 3, "snap_user", "file", "x",
      "/snap/new", 7L, "/n.dat"))
      .toDF("op", "id", "share_type", "uid_owner", "item_type",
        "item_source", "item_target", "file_source", "file_target")
    csUpd.unionByName(csDel).unionByName(csIns)
  }

  test("latest-version pointer: commits refresh _log/_latest; a stale, " +
    "missing or corrupt hint falls back to the listing") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("hint").toString + "/t"
    SnapshotLog.init(spark, dir,
      spark.range(0, 10).selectExpr("id", "id AS x"), "id", 1)
    SnapshotLog.deleteKeys(spark, dir,
      spark.range(0, 1).selectExpr("id"), "id")
    val hint = new Path(s"$dir/_log/_latest")
    val hfs = hint.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.exists(hint), "every commit must refresh the pointer")
    assert(SnapshotLog.latestVersion(spark, dir) == 1L)

    // STALE hint (points below a committed successor): read-verify
    // detects the successor and falls back to the listing
    val out = hfs.create(hint, true)
    out.write("0".getBytes("UTF-8")); out.close()
    assert(SnapshotLog.latestVersion(spark, dir) == 1L,
      "a stale hint must never hide a committed version")

    // CORRUPT hint: fallback, not failure
    val out2 = hfs.create(hint, true)
    out2.write("not-a-number".getBytes("UTF-8")); out2.close()
    assert(SnapshotLog.latestVersion(spark, dir) == 1L)

    // MISSING hint (foreign tool removed it): fallback, and the next
    // commit re-creates it
    hfs.delete(hint, false)
    assert(SnapshotLog.latestVersion(spark, dir) == 1L)
    SnapshotLog.deleteKeys(spark, dir,
      spark.range(1, 2).selectExpr("id"), "id")
    assert(hfs.exists(hint))
    assert(SnapshotLog.latestVersion(spark, dir) == 2L)

    // hint AHEAD of reality (crashed writer wrote it for a manifest that
    // never landed — not our ordering, but a foreign tool's): fallback
    val out3 = hfs.create(hint, true)
    out3.write("99".getBytes("UTF-8")); out3.close()
    assert(SnapshotLog.latestVersion(spark, dir) == 2L)
  }

  test("time travel: v0 stays readable after the merge; versions share untouched files") {
    val dir = Files.createTempDirectory("graft_snap").toString + "/t"
    val b = base
    SnapshotLog.init(spark, dir, b, "id", numFiles = 8)
    val baseRows = rows(b)
    assert(rows(SnapshotLog.read(spark, dir, 0)) == baseRows)

    val cs = narrowChangeset(b)
    val commit = SnapshotLog.merge(spark, dir, cs, "id")
    assert(commit.version == 1L)
    assert(SnapshotLog.versions(spark, dir) == Seq(0L, 1L))

    // v1 is the functional merge; v0 is STILL the base — time travel
    assert(rows(SnapshotLog.read(spark, dir, 1)) == rows(Merge(b, cs, "id")))
    assert(rows(SnapshotLog.read(spark, dir, 0)) == baseRows)

    // untouched files are SHARED by reference: same names in both
    // manifests (same physical file — byte identity is free), and the
    // narrow changeset must leave most files shared
    val m0 = SnapshotLog.manifest(spark, dir, 0).toSet
    val m1 = SnapshotLog.manifest(spark, dir, 1).toSet
    assert((m0 & m1).size == commit.report.nUntouched)
    assert(commit.report.nRewritten > 0 &&
      commit.report.nRewritten < commit.report.nFilesBefore,
      s"fixture degenerate: ${commit.report.nRewritten} of ${commit.report.nFilesBefore}")
  }

  test("commit is exclusive-create: the version-race loser throws, the winner stands") {
    val dir = Files.createTempDirectory("graft_snap2").toString + "/t"
    val b = base
    SnapshotLog.init(spark, dir, b, "id", numFiles = 4)
    val table = new org.apache.hadoop.fs.Path(dir)
    val names = SnapshotLog.manifest(spark, dir, 0)
    // racer wins version 1 (a no-op commit re-referencing v0's files)
    SnapshotLog.commit(spark, table, 1L, Manifest(files = names))
    // the loser of the same version number must throw, not overwrite
    intercept[ConcurrentCommitException] {
      SnapshotLog.commit(spark, table, 1L, Manifest(files = names.take(1)))
    }
    assert(SnapshotLog.manifest(spark, dir, 1) == names.sorted,
      "loser overwrote the winner's manifest")
    // the optimistic-concurrency recovery: re-read latest, re-plan — the
    // next merge lands at version 2 on top of the racer's commit
    val c = SnapshotLog.merge(spark, dir, narrowChangeset(b), "id")
    assert(c.version == 2L)
    assert(SnapshotLog.versions(spark, dir) == Seq(0L, 1L, 2L))
  }

  test("cdc equals the brute-force version diff and reads only non-shared files") {
    val dir = Files.createTempDirectory("graft_snap3").toString + "/t"
    val b = base
    SnapshotLog.init(spark, dir, b, "id", numFiles = 8)
    SnapshotLog.merge(spark, dir, narrowChangeset(b), "id")

    val v0 = SnapshotLog.read(spark, dir, 0)
    val v1 = SnapshotLog.read(spark, dir, 1)
    def keyed(df: DataFrame): Map[Long, String] =
      df.collect().map(r => r.getLong(r.fieldIndex("id")) -> r.mkString("|")).toMap
    val beforeM = keyed(v0)
    val afterM = keyed(v1)
    val expected = (
      (beforeM.keySet -- afterM.keySet).map(k => s"delete|$k") ++
        (afterM.keySet -- beforeM.keySet).map(k => s"insert|$k") ++
        (beforeM.keySet & afterM.keySet).collect {
          case k if beforeM(k) != afterM(k) => s"update|$k"
        }).toSeq.sorted

    val cdc = SnapshotLog.cdc(spark, dir, 0, 1, "id")
    val got = cdc.select("op", "id").collect()
      .map(r => s"${r.getString(0)}|${r.getLong(1)}").sorted.toSeq
    assert(got == expected, "cdc diverged from brute-force version diff")
    assert(got.nonEmpty)

    // after-image: update rows carry the merged payload, deletes null payload
    val upd = cdc.where(col("op") === Merge.OpUpdate)
    assert(upd.where(!col("item_target").startsWith("/snap/")).isEmpty)
    assert(cdc.where(col("op") === Merge.OpDelete)
      .where(col("item_target").isNotNull).isEmpty)

    // the scale fact: cdc scans ONLY files outside the shared set
    val m0 = SnapshotLog.manifest(spark, dir, 0).toSet
    val m1 = SnapshotLog.manifest(spark, dir, 1).toSet
    val sharedNames = m0 & m1
    val scanned = cdc.inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    assert(scanned.nonEmpty && scanned.intersect(sharedNames).isEmpty,
      s"cdc read shared files: ${scanned.intersect(sharedNames)}")

    // identical versions diff to nothing
    assert(SnapshotLog.cdc(spark, dir, 1, 1, "id").isEmpty)
  }

  test("a merge chain replays: v2 == merge(merge(base, A), B); cross-version cdc works") {
    val dir = Files.createTempDirectory("graft_snap4").toString + "/t"
    val b = base
    SnapshotLog.init(spark, dir, b, "id", numFiles = 8)
    val csA = narrowChangeset(b)
    SnapshotLog.merge(spark, dir, csA, "id")
    val afterA = Merge(b, csA, "id")
    val csB = Merge0.changeset(b).where(col("op") =!= Merge.OpInsert)
    SnapshotLog.merge(spark, dir, csB, "id")
    assert(rows(SnapshotLog.read(spark, dir, 2)) == rows(Merge(afterA, csB, "id")))
    // non-adjacent diff: same file-diff machinery, v0 vs v2
    val keys0 = SnapshotLog.read(spark, dir, 0).select("id").collect()
      .map(_.getLong(0)).toSet
    val keys2 = SnapshotLog.read(spark, dir, 2).select("id").collect()
      .map(_.getLong(0)).toSet
    val cdc02 = SnapshotLog.cdc(spark, dir, 0, 2, "id")
    assert(cdc02.where(col("op") === Merge.OpDelete).count() == (keys0 -- keys2).size)
    assert(cdc02.where(col("op") === Merge.OpInsert).count() == (keys2 -- keys0).size)
  }

  test("vacuum drops expired manifests, their exclusive files, and crash orphans") {
    val dir = Files.createTempDirectory("graft_snap5").toString + "/t"
    val b = base
    SnapshotLog.init(spark, dir, b, "id", numFiles = 8)
    SnapshotLog.merge(spark, dir, narrowChangeset(b), "id")
    val v1Rows = rows(SnapshotLog.read(spark, dir, 1))
    // a crash orphan: staged but never committed
    val orphan = new java.io.File(s"$dir/data/part-orphan-never-committed.parquet")
    val ow = new java.io.FileWriter(orphan); ow.write("x"); ow.close()

    val m0 = SnapshotLog.manifest(spark, dir, 0).toSet
    val m1 = SnapshotLog.manifest(spark, dir, 1).toSet
    // a PLANNED time-travel read of the retained version, issued before
    // the vacuum — the reader contract: retained versions survive
    val retainedRead = SnapshotLog.read(spark, dir, 1)
    val (nManifests, nFiles) = SnapshotLog.vacuum(spark, dir, retainFrom = 1,
      graceMs = 0L)
    assert(nManifests == 1)
    assert(nFiles == (m0 -- m1).size + 1, "expected v0-exclusive files + the orphan")
    assert(!orphan.exists)
    assert(SnapshotLog.versions(spark, dir) == Seq(1L))
    // the retained version is untouched — including the mid-scan reader
    assert(rows(retainedRead) == v1Rows)
    assert(rows(SnapshotLog.read(spark, dir, 1)) == v1Rows)
    // retaining nothing is refused
    intercept[IllegalArgumentException] {
      SnapshotLog.vacuum(spark, dir, retainFrom = 99, graceMs = 0L)
    }
  }

  test("vacuum grace window: young unreferenced files (in-flight commits) survive; stale stage dirs are swept") {
    val dir = Files.createTempDirectory("graft_snapg").toString + "/t"
    val b = base
    SnapshotLog.init(spark, dir, b, "id", numFiles = 4)
    SnapshotLog.merge(spark, dir, narrowChangeset(b), "id")
    // a FRESH orphan — indistinguishable from a concurrent commit's just-
    // staged data file (staged under data/ BEFORE its manifest create)
    val fresh = new java.io.File(s"$dir/data/part-inflight-commit.parquet")
    val fw = new java.io.FileWriter(fresh); fw.write("x"); fw.close()
    // a STALE crashed-stage scratch dir (writer died before its renames)
    val staleStage = new java.io.File(s"$dir/.stage-deadbeef")
    staleStage.mkdirs()
    val sf = new java.io.File(staleStage, "part-crashed.parquet")
    val sw = new java.io.FileWriter(sf); sw.write("y"); sw.close()
    staleStage.setLastModified(System.currentTimeMillis() - 3600L * 1000)

    val m0 = SnapshotLog.manifest(spark, dir, 0).toSet
    val m1 = SnapshotLog.manifest(spark, dir, 1).toSet
    // default grace: NO young unreferenced file is deleted — not the
    // orphan (it may be an in-flight commit's staged data) and not even
    // v0's just-expired exclusive files (a reader may still be scanning
    // them; they wait out the grace window, Delta's retention rule) —
    // while the STALE stage dir is reclaimed
    val (nM, nF) = SnapshotLog.vacuum(spark, dir, retainFrom = 1)
    assert(nM == 1)
    assert(fresh.exists, "grace window violated: fresh unreferenced file deleted")
    assert(!staleStage.exists, "stale .stage-* scratch not reclaimed")
    assert(nF == 1, "expected exactly the stale stage orphan")
    // once the grace expires (forced here via graceMs = 0), the expired
    // version's files and the orphan are reclaimed on the next sweep
    val (_, nF2) = SnapshotLog.vacuum(spark, dir, retainFrom = 1, graceMs = 0L)
    assert(nF2 == (m0 -- m1).size + 1, "expected v0-exclusive files + the orphan")
    assert(!fresh.exists)
  }

  test("commitWithRetry: the race loser re-plans and lands; both writers' commits stand") {
    val dir = Files.createTempDirectory("graft_snapr").toString + "/t"
    val b = base
    SnapshotLog.init(spark, dir, b, "id", numFiles = 4)
    val table = new org.apache.hadoop.fs.Path(dir)
    val v0Names = SnapshotLog.manifest(spark, dir, 0)

    // writer A plans against the version it read, but writer B commits
    // that version first (the injected interleaving) — A's first attempt
    // throws ConcurrentCommitException; the retry re-reads the log and
    // lands on top of B
    var attempts = 0
    SnapshotLog.commitWithRetry(maxAttempts = 3) {
      val v = SnapshotLog.latestVersion(spark, dir)
      attempts += 1
      if (attempts == 1) // B sneaks in between A's read and A's create
        SnapshotLog.commit(spark, table, v + 1,
          Manifest(files = v0Names, tags = Seq("writer" -> "B")))
      SnapshotLog.commit(spark, table, v + 1,
        Manifest(files = v0Names, tags = Seq("writer" -> "A")))
    }
    assert(attempts == 2, s"expected one race retry, took $attempts attempts")
    assert(SnapshotLog.versions(spark, dir) == Seq(0L, 1L, 2L))
    assert(SnapshotLog.manifestOf(spark, dir, 1).tag("writer").contains("B"))
    assert(SnapshotLog.manifestOf(spark, dir, 2).tag("writer").contains("A"))

    // exhausted retries rethrow the race signal
    intercept[ConcurrentCommitException] {
      SnapshotLog.commitWithRetry(maxAttempts = 2) {
        SnapshotLog.commit(spark, table, 1L, Manifest(files = v0Names))
      }
    }
  }

  test("two CONCURRENT mergers with commitWithRetry serialize; final state = composed merges") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_snapc").toString + "/t"
    val b = base
    SnapshotLog.init(spark, dir, b, "id", numFiles = 4)
    // disjoint update-only changesets (commute, so the final state is
    // order-independent): writer A moves %4 targets, writer B %4+1
    def cs(residue: Int, tag: String): DataFrame = {
      val nullS = lit(null).cast("string")
      b.where(col("id") % 4 === residue)
        .select(lit(Merge.OpUpdate).as("op"), col("id"),
          lit(null).cast("int").as("share_type"), nullS.as("uid_owner"),
          nullS.as("item_type"), nullS.as("item_source"),
          concat(lit(s"/$tag/"), col("id").cast("string")).as("item_target"),
          lit(null).cast("long").as("file_source"), nullS.as("file_target"))
    }
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(residue: Int, tag: String) = new Thread(() =>
      try {
        barrier.await() // both mergers plan against the same base version
        SnapshotLog.commitWithRetry(maxAttempts = 5) {
          SnapshotLog.merge(spark, dir, cs(residue, tag), "id")
        }
        ()
      } catch { case t: Throwable => errs.add(t) })
    val (t1, t2) = (writer(0, "wa"), writer(1, "wb"))
    t1.start(); t2.start(); t1.join(120000); t2.join(120000)
    assert(errs.isEmpty, s"concurrent merger failed: ${errs.peek()}")
    assert(SnapshotLog.versions(spark, dir) == Seq(0L, 1L, 2L),
      "both mergers must land, serially")
    val expected = rows(Merge(Merge(b, cs(0, "wa"), "id"), cs(1, "wb"), "id"))
    assert(rows(SnapshotLog.readLatest(spark, dir)) == expected,
      "concurrent merges lost an update")
  }

  test("commit-time range stamps equal footer ranges; unstamped manifests fall back to footers") {
    import graft.sources.Stamps
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_snaprg").toString + "/t"
    val b = base
    SnapshotLog.init(spark, dir, b, "id", numFiles = 8)
    SnapshotLog.merge(spark, dir, narrowChangeset(b), "id")

    def names(v: Long) = SnapshotLog.manifest(spark, dir, v)
    def fresh(v: Long) = Stamps.read(spark,
      names(v).map(n => n -> new Path(s"$dir/data/$n")), b.schema, "id")
    def stamped(v: Long) = SnapshotLog.manifestOf(spark, dir, v).stamps
    // planning's key intervals, against the footers' key ranges
    def planned(v: Long) = SnapshotLog.keyIntervals(spark, dir, v, "id")
      .map { case (f, iv) => new Path(f).getName -> iv.map(i => (i.lo, i.hi)) }.toMap

    // every committed version carries stamps identical to the footers
    (0L to 1L).foreach { v =>
      assert(names(v).forall(n => stamped(v).get(n).exists(_.rows.nonEmpty)),
        s"v$v missing stat stamps")
      assert(stamped(v) == fresh(v), s"v$v stamps diverge from footers")
      assert(planned(v) == footerRanges(dir, v, "id"), s"v$v key intervals diverge")
    }
    // a raw commit with NO stamps: planning falls back to footer reads
    // and keeps working
    val raw = names(1)
    SnapshotLog.commit(spark, new Path(dir), 2L, Manifest(files = raw, key = Some("id")))
    assert(stamped(2L).isEmpty, "a raw commit carries no stamps")
    assert(planned(2L) == footerRanges(dir, 2L, "id"), "fallback diverged from footers")
    import spark.implicits._
    val someId = SnapshotLog.read(spark, dir, 2L).agg(min("id")).head().getLong(0)
    val hit = SnapshotLog.lookupKeys(spark, dir, 2L, Seq(someId).toDF("id"))
    assert(hit.count() == 1L)
    assert(hit.inputFiles.length < raw.size, "lookup on fallback ranges scanned everything")
  }

  test("compactZ: z-ordered OPTIMIZE is CDC-invisible and narrows footers on BOTH dims") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_snapz").toString + "/t"
    // ts decorrelated from id (Knuth multiplicative hash), so the
    // key-clustered layout leaves every file's ts span ~ the full domain
    val df = (1L to 4096L).map(i => (i, (i * 2654435761L) % 4096L, s"v$i"))
      .toDF("id", "ts", "v")
    SnapshotLog.init(spark, dir, df, "id", numFiles = 8)
    def avgSpan(v: Long, colName: String): Double = {
      val rs = footerRanges(dir, v, colName).values.toSeq
      assert(rs.forall(_.nonEmpty), s"missing $colName stats at v$v")
      rs.flatten.map { case (lo, hi) => (hi - lo).toDouble }.sum / rs.size
    }
    val preTs = avgSpan(0, "ts")
    assert(preTs > 4096 * 0.6, s"fixture degenerate: pre-z ts span $preTs")

    val c = SnapshotLog.optimize(spark, dir, _ => 16, zorder = Seq("id", "ts"))
    // logical table unchanged, CDC-invisible like any compaction
    assert(SnapshotLog.read(spark, dir, c.version).count() == 4096L)
    assert(SnapshotLog.cdc(spark, dir, 0, c.version, "id").isEmpty)
    // both dims now narrow per file: either-dimension scans skip files
    val postTs = avgSpan(c.version, "ts")
    val postId = avgSpan(c.version, "id")
    assert(postTs < preTs * 0.6, s"z-order did not narrow ts: $preTs -> $postTs")
    assert(postId < 4096 * 0.6, s"z-order left id unprunable: $postId")
    // key lookups still footer-prune over the curve-segmented ranges
    val hit = SnapshotLog.lookupKeys(spark, dir, c.version, Seq(77L).toDF("id"))
    assert(hit.collect().map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((77L, "v77")))
    assert(hit.inputFiles.length < 16, "lookup scanned every z file")
  }

  test("streaming epochs stamp the manifest; a replayed epoch is skipped, never re-applied") {
    import spark.implicits._
    import graft.streaming.SnapshotStreams
    val dir = Files.createTempDirectory("graft_snap6").toString + "/t"
    SnapshotLog.init(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), "id", numFiles = 2)
    val e0 = Seq(("update", 1L, "a2"), ("insert", 10L, "j")).toDF("op", "id", "v")
    val e1 = Seq(("delete", 2L, null.asInstanceOf[String])).toDF("op", "id", "v")
    assert(SnapshotStreams.applyEpoch(spark, dir, e0, 0L, "s1", "id")
      .exists(_.version == 1L))
    assert(SnapshotStreams.applyEpoch(spark, dir, e1, 1L, "s1", "id")
      .exists(_.version == 2L))
    // replay of epoch 0 after a lost checkpoint: the txn stamp skips it
    assert(SnapshotStreams.applyEpoch(spark, dir, e0, 0L, "s1", "id").isEmpty)
    assert(SnapshotLog.versions(spark, dir) == Seq(0L, 1L, 2L))
    assert(SnapshotLog.manifestOf(spark, dir, 1).tag(Manifest.TxnTag).contains("s1/0"))
    assert(SnapshotLog.manifestOf(spark, dir, 2).tag(Manifest.TxnTag).contains("s1/1"))
    val got = SnapshotLog.readLatest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a2"), (3L, "c"), (10L, "j")))
  }

  test("writeStreamExactlyOnce commits one version per drained micro-batch") {
    import spark.implicits._
    import graft.streaming.SnapshotStreams
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft_snap7").toString
    val dir = s"$root/t"
    SnapshotLog.init(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "id", numFiles = 1)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    var commits = List.empty[(Long, Long)]
    val q = SnapshotStreams.writeStreamExactlyOnce(
        mem.toDF().toDF("op", "id", "v"), dir, "s2", "id") { (c, e) =>
        commits ::= (c.version, e)
      }
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try {
      mem.addData(("update", 1L, "x"))
      q.processAllAvailable()
      mem.addData(("insert", 20L, "y"))
      q.processAllAvailable()
    } finally q.stop()
    assert(SnapshotLog.versions(spark, dir) == Seq(0L, 1L, 2L))
    assert(commits.reverse.map(_._2) == List(0L, 1L))
    val got = SnapshotLog.readLatest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "x"), (2L, "b"), (20L, "y")))
  }

  test("merge-source materialization: non-deterministic changesets persist, " +
      "deterministic ones don't") {
    import spark.implicits._
    val det = Seq(("insert", 1L, "a")).toDF("op", "id", "x")
    val nondet = det.withColumn("x",
      concat(lit("r"), (rand() * 10).cast("long").cast("string")))
    assert(!SnapshotLog.shouldMaterialize(det),
      "a deterministic changeset must not pay the cache pass")
    assert(SnapshotLog.shouldMaterialize(nondet),
      "a non-deterministic changeset MUST materialize: the planned " +
        "footprint and the written rows would otherwise draw independently")
    // end-to-end: a rand()-routed changeset merges into a consistent
    // table (row count conserved, every key present exactly once)
    val dir = java.nio.file.Files.createTempDirectory("mat").toString + "/t"
    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "x")
    SnapshotLog.init(spark, dir, base, "id", numFiles = 4)
    val cs = base.where(rand() < 0.5)
      .select(lit("update").as("op"), col("id"),
        concat(lit("u"), col("id").cast("string")).as("x"))
    SnapshotLog.merge(spark, dir, cs, "id")
    val after = SnapshotLog.readLatest(spark, dir)
    assert(after.count() == 100L)
    assert(after.select("id").distinct().count() == 100L)
  }

  /** Rows of `df` as sorted text, columns in name order. */
  private def allRows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
      .collect().map(_.mkString("|")).sorted.toSeq

  /** Merge `cs` into the latest version of `dir` and assert the committed
    * version equals [[Merge.apply]] over the version it merged into.
    */
  private def mergeAsReference(dir: String, cs: DataFrame, key: String) = {
    val v = SnapshotLog.latestVersion(spark, dir)
    val expected = allRows(Merge(SnapshotLog.read(spark, dir, v), cs, key))
    val c = SnapshotLog.merge(spark, dir, cs, key)
    assert(c.version == v + 1)
    assert(allRows(SnapshotLog.read(spark, dir, c.version)) == expected,
      s"merge at v$v diverged from Merge.apply")
    c
  }

  test("merge planner: a null key in each change class matches Merge.apply") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_snapnull").toString + "/t"
    SnapshotLog.init(spark, dir,
      (1L to 200L).map(i => (i, s"v$i")).toDF("id", "x"), "id", numFiles = 4)
    // a delete vector masking ids 10 and 20, so the masked-key
    // re-insert path has something to scope
    SnapshotLog.deleteKeys(spark, dir, Seq(10L, 20L).toDF("id"), "id")
    def cs(rows: (String, java.lang.Long, String)*): DataFrame =
      rows.toDF("op", "id", "x")
    val nullKey: java.lang.Long = null
    mergeAsReference(dir, cs(("update", nullKey, "u-null"), ("update", 5L, "u5")), "id")
    mergeAsReference(dir, cs(("delete", nullKey, null), ("delete", 6L, null)), "id")
    mergeAsReference(dir, cs(("insert", nullKey, "i-null"), ("insert", 1000L, "i1000")), "id")
    val c = mergeAsReference(dir,
      cs(("insert", 10L, "re10"), ("insert", nullKey, "i-null2")), "id")
    val after = SnapshotLog.read(spark, dir, c.version)
    assert(after.where(col("id") === 10L).select("x").as[String].collect().toSeq ==
      Seq("re10"), "the masked key's re-insert must land exactly once")
    assert(after.where(col("id") === 20L).isEmpty, "the other masked key resurfaced")
    assert(SnapshotLog.deletes(spark, dir, c.version).nonEmpty,
      "the vector still masks id 20")
  }

  test("merge planner: string keys on an unbucketed and a bucket(4, key) layout match Merge.apply") {
    import spark.implicits._
    val base = (1 to 120).map(i => (f"k$i%03d", i.toLong)).toDF("k", "x")
    val cs = Seq(
      ("update", "k010", 9999L), ("update", "k077", 7777L),
      ("delete", "k020", 0L), ("delete", "nope", 0L),
      ("insert", "k030", 7L), ("insert", "zz1", 42L))
      .toDF("op", "k", "x")
    Seq(None, Some(("k", 4))).foreach { bucketBy =>
      val dir = Files.createTempDirectory("graft_snapstr").toString + "/t"
      SnapshotLog.init(spark, dir, base, "k", numFiles = 4, bucketBy = bucketBy)
      assert(SnapshotLog.partitionBucket(spark, dir, 0L) == bucketBy)
      val c = mergeAsReference(dir, cs, "k")
      assert(c.report.nRewritten >= 1, s"$bucketBy: nothing rewritten")
      if (bucketBy.isEmpty)
        assert(c.report.nRewritten == c.report.nFilesBefore,
          "an unbucketed string key cannot prune: every file is rewritten")
      // a second merge on top of the first keeps matching
      mergeAsReference(dir, Seq(("update", "k030", 1L), ("delete", "zz1", 0L))
        .toDF("op", "k", "x"), "k")
    }
  }

  test("merge planner: an empty changeset commits a version that keeps every file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_snapempty").toString + "/t"
    SnapshotLog.init(spark, dir,
      (1L to 100L).map(i => (i, s"v$i")).toDF("id", "x"), "id", numFiles = 4)
    val empty = Seq.empty[(String, Long, String)].toDF("op", "id", "x")
    val c = mergeAsReference(dir, empty, "id")
    assert(c.version == 1L)
    assert(c.report == graft.operators.CowMergeReport(4, 0, 4, 0))
    assert(SnapshotLog.manifest(spark, dir, 1L) == SnapshotLog.manifest(spark, dir, 0L))
    assert(SnapshotLog.cdc(spark, dir, 0L, 1L, "id").isEmpty)
  }

  test("merge planner differential: rewritten files cover every file holding an " +
      "update/delete key and stay inside the stamped ranges") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_snapdiff").toString + "/t"
    // ids are multiples of 3, so id + 1 is always absent
    SnapshotLog.init(spark, dir,
      (0L until 2000L).map(i => (i * 3, s"v$i")).toDF("id", "x"), "id", numFiles = 8)
    val rnd = new scala.util.Random(20261017L)
    (1 to 6).foreach { round =>
      val v = SnapshotLog.latestVersion(spark, dir)
      val names = SnapshotLog.manifest(spark, dir, v)
      // clustered keys (narrow footprint) or spread keys (wide), present
      // or absent, plus one key outside the domain
      val keys = {
        val n = 3 + rnd.nextInt(10)
        val centre = rnd.nextInt(6000)
        val raw =
          if (rnd.nextBoolean()) Seq.fill(n)(centre + rnd.nextInt(90))
          else Seq.fill(n)(rnd.nextInt(6000))
        (raw.map(k => if (rnd.nextInt(4) == 0) k - k % 3 + 1 else k - k % 3) :+
          (if (rnd.nextBoolean()) -7 else 9000 + round)).map(_.toLong).distinct
      }
      val ops = keys.map(k => (Seq("update", "delete", "insert")(rnd.nextInt(3)), k,
        s"r$round-$k"))
      val cs = ops.toDF("op", "id", "x")
      val updDel = ops.collect { case (op, k, _) if op != "insert" => k }.toSet

      // brute force: the files of v that physically hold an update or
      // delete key
      val holding = spark.read.parquet(names.map(n => s"$dir/data/$n"): _*)
        .select(input_file_name(), col("id")).as[(String, Long)].collect()
        .collect { case (f, k) if updDel(k) => f.substring(f.lastIndexOf('/') + 1) }
        .toSet
      val stamps = SnapshotLog.manifestOf(spark, dir, v).stamps
      val stampedHit = names.filter { n =>
        stamps.get(n).flatMap(_.cols.get("id")).flatMap(_.iv) match {
          case Some(graft.sources.Stamps.LongIv(lo, hi)) => updDel.exists(k => k >= lo && k <= hi)
          case _ => updDel.nonEmpty
        }
      }.toSet

      val c = mergeAsReference(dir, cs, "id")
      val rewritten = names.toSet -- SnapshotLog.manifest(spark, dir, c.version)
      assert(c.report.nRewritten == rewritten.size)
      assert(holding.subsetOf(rewritten),
        s"round $round: files holding keys not rewritten: ${holding -- rewritten}")
      assert(rewritten.subsetOf(stampedHit),
        s"round $round: rewrote files outside the stamped ranges: ${rewritten -- stampedHit}")
    }
  }

  test("delete vectors are read with the key's schema: building a MoR read submits no job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dvjobs").toString + "/t"
    SnapshotLog.init(spark, dir, (0L until 100L).map(i => (i, s"v$i")).toDF("id", "x"),
      "id", numFiles = 2)
    // INT keys against a BIGINT table key: the vector is written as BIGINT
    val c = SnapshotLog.deleteKeys(spark, dir, Seq(3, 5).toDF("id"), "id")
    val dv = SnapshotLog.deletes(spark, dir, c.version)
    assert(dv.size == 1)
    assert(spark.read.parquet(s"$dir/data/${dv.head}").schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    var df: DataFrame = null
    assert(jobsDuring { df = SnapshotLog.read(spark, dir, c.version) } == 0,
      "building the read ran a job (delete-vector schema inference)")
    // the control: counting sees the read's own jobs
    assert(jobsDuring(assert(df.count() == 98L)) > 0)
    assert(df.where(col("id").isin(3L, 5L)).isEmpty)
  }

  test("one per-file stats format: every committing op stamps one rows= line per file, " +
      "equal to a fresh footer read, and reads stay exact") {
    import spark.implicits._
    import graft.sources.Stamps
    import graft.operators.SnapshotCommit
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = Files.createTempDirectory("graft_onefmt").toString + "/t"
    val rnd = new scala.util.Random(20261018L)
    val ids = rnd.shuffle((0L until 600L).toList).take(400)
    val init = ids.map(i => (i, s"x$i", rnd.nextInt(1000).toLong)).toDF("id", "x", "y")
    var expected: DataFrame = init
    val expectedAt = scala.collection.mutable.Map.empty[Long, DataFrame]

    def canon(df: DataFrame, cols: Seq[String]): Seq[String] =
      df.select(cols.map(col): _*).collect().map(_.mkString("|")).sorted.toSeq
    // the footers of version v's files, read in each file's physical
    // column names (every file live at a rename here predates it) and
    // reported under the logical ones
    def freshStamps(v: Long): Map[String, Stamps.FileStamp] = {
      val pm = SnapshotLog.physMap(spark, dir, v)
      val physical = StructType(SnapshotLog.tableSchema(spark, dir, v).get
        .map(f => pm.get(f.name).fold(f)(olds => f.copy(name = olds.head))))
      val toLogical = pm.map { case (l, olds) => olds.head -> l }
      Stamps.read(spark, SnapshotLog.manifest(spark, dir, v)
        .map(n => n -> new Path(s"$dir/data/$n")), physical, "id")
        .map { case (n, st) =>
          n -> st.copy(cols = st.cols.map { case (c, cs) => toLogical.getOrElse(c, c) -> cs })
        }
    }
    def check(op: String, c: SnapshotCommit): Unit = {
      val v = c.version
      val names = SnapshotLog.manifest(spark, dir, v)
      val m = SnapshotLog.manifestOf(spark, dir, v)
      val rowsOf = m.stamps.collect { case (f, st) if st.rows.nonEmpty => f }.toSeq
      assert(rowsOf.sorted == names.sorted, s"$op: rows= lines $rowsOf vs files $names")
      assert(!m.tags.exists(t => t._1 == "range" || t._1 == "colrange"),
        s"$op: a second stats format is stamped")
      assert(m.stamps == freshStamps(v), s"$op: stamps diverge from the footers")
      val h = SnapshotLog.history(spark, dir).find(_._1 == v).get
      assert(h._6 == h._4, s"$op: range_stamps ${h._6} != files ${h._4}")
      val cols = expected.columns.toSeq
      val got = SnapshotLog.read(spark, dir, v)
      assert(got.columns.toSeq.sorted == cols.sorted, s"$op: columns ${got.columns.toSeq}")
      assert(canon(got, cols) == canon(expected, cols), s"$op: read diverged")
      val probe = (Seq.fill(6)(rnd.nextInt(700).toLong) :+
        expected.select("id").head().getLong(0)).distinct
      assert(canon(SnapshotLog.lookupKeys(spark, dir, v, probe.toDF("id")), cols) ==
        canon(expected.where(col("id").isin(probe: _*)), cols), s"$op: lookupKeys diverged")
      expectedAt(v) = expected
    }
    def changeset(n: Int, tag: String): DataFrame =
      Seq.fill(n)(rnd.nextInt(700).toLong).distinct.map { k =>
        val op = Seq(Merge.OpUpdate, Merge.OpDelete, Merge.OpInsert)(rnd.nextInt(3))
        (op, k, Option(s"$tag$k"), if (op == Merge.OpInsert) Option(k) else None)
      }.toDF("op", "id", "x", "y")

    check("init", SnapshotLog.init(spark, dir, init, "id", numFiles = 4))
    val cs1 = changeset(30, "m")
    expected = Merge(expected, cs1, "id")
    check("merge", SnapshotLog.merge(spark, dir, cs1, "id"))
    expected = expected.withColumn("y", col("y") + 1)
    check("overwrite", SnapshotLog.overwrite(spark, dir, expected, "id", numFiles = 4))
    val dels = expected.select("id").as[Long].collect().take(20).map(_.toInt).toSeq
    expected = expected.where(!col("id").isin(dels: _*))
    check("deleteKeys", SnapshotLog.deleteKeys(spark, dir, dels.toDF("id"), "id"))
    val vDel = SnapshotLog.latestVersion(spark, dir)
    check("compact", SnapshotLog.optimize(spark, dir, _ => 3))
    check("compactWhere", SnapshotLog.optimize(spark, dir, _ => 1,
      where = Some(spark.sessionState.sqlParser.parseExpression("id < 200"))))
    check("compactZ", SnapshotLog.optimize(spark, dir, _ => 4, zorder = Seq("id", "y")))
    expected = expectedAt(vDel)
    check("restore", SnapshotLog.restore(spark, dir, vDel))
    // re-inserting a masked key purges it from the restored vector
    val cs2 = (Seq((Merge.OpInsert, dels.head.toLong, Option("back"), Option(1L))) ++
      Seq((Merge.OpUpdate, expected.select("id").head().getLong(0), Option("upd"),
        Option.empty[Long]))).toDF("op", "id", "x", "y")
    expected = Merge(expected, cs2, "id")
    check("merge after restore", SnapshotLog.merge(spark, dir, cs2, "id"))
    expected = expected.withColumn("z", lit(null).cast("long"))
    check("addColumns", SnapshotLog.addColumns(spark, dir,
      Seq(StructField("z", LongType, nullable = true))))
    expected = expected.withColumnRenamed("x", "x2")
    check("renameColumn", SnapshotLog.renameColumn(spark, dir, "x", "x2"))
    expected = expected.drop("y")
    check("dropColumn", SnapshotLog.dropColumn(spark, dir, "y"))
    check("addConstraint", SnapshotLog.addConstraint(spark, dir, "id_nonneg", "id >= 0"))
    check("dropConstraint", SnapshotLog.dropConstraint(spark, dir, "id_nonneg"))
  }
}
