package graft.operators

import java.nio.file.{Files, Path}
import java.util.Comparator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.types.StructType

/** Written-table stage barrier.
  *
  * Heavy derived columns (MinHash signatures, SimHash bit votes, quantized
  * embeddings, the migration pipeline's regex-derived paths) must not be
  * left as lazy expression trees: Catalyst's projection collapse inlines
  * them into every downstream operator, so a self-join recomputes the
  * signature once per side per band key, and the duplicated trees blow up
  * optimizer/codegen time. `.cache()` also stops the inlining, but it pins
  * executor memory and is not what a 100 TB pipeline does — there, each
  * expensive feature pass is WRITTEN as a table (parquet on distributed
  * storage) and downstream stages scan it, giving a durable, re-scannable,
  * memory-independent barrier.
  *
  * [[table]] is exactly that: write the frame as parquet once, hand back a
  * fresh scan of it. The stage root comes from `spark.graft.stageDir`
  * ([[StageDirKey]]) — on a cluster, point it at distributed storage
  * (`hdfs://…`, `s3a://…`; the writes go through Spark's normal committer,
  * so any supported scheme works). Unset, it falls back to one per-JVM
  * local tmp root that a shutdown hook removes (the test/bench sandbox;
  * configured dirs are the caller's to manage — a production pipeline
  * keeps its stage tables).
  *
  * Read-back contract: [[table]], [[tableWithPath]], [[Rolling.table]] and
  * the [[sharedTable]] memo scan the written directory with the schema
  * the engine wrote (`df.schema`), not an inferred one. It is the schema
  * `spark.read.parquet(path)` would return (the parquet footer keeps
  * field metadata, char/varchar markers included, and every file-source
  * scan is nullable), without the footer-reading Spark job that
  * inference costs: a stage barrier is exactly one write job, and a memo
  * hit is none. Directories the engine did not write itself
  * ([[sharedDir]] builders, external inputs) keep inference, as do
  * frames holding CHAR/VARCHAR types, which a given schema cannot carry.
  */
object Stage {

  /** Session conf key for the stage-table root directory. */
  val StageDirKey = "spark.graft.stageDir"

  private lazy val tmpRoot: Path = {
    val dir = Files.createTempDirectory("graft-stage-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(dir)))
    dir
  }

  private def rootFor(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.getOption(StageDirKey).filter(_.nonEmpty)
      .getOrElse(tmpRoot.toString)

  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Materialize `df` as a written parquet table; return a scan of it. */
  def table(df: DataFrame, name: String): DataFrame =
    tableWithPath(df, name)._1

  /** [[table]] that also exposes the written directory. */
  def tableWithPath(df: DataFrame, name: String): (DataFrame, String) = {
    val path = s"${rootFor(df.sparkSession)}/$name-${seq.incrementAndGet()}"
    (scan(df.sparkSession, path, write(df, path)), path)
  }

  /** Write `df` as parquet at `path`; returns the schema to scan it with,
    * or null where only inference yields it: CHAR/VARCHAR kept as types
    * (`spark.sql.preserveCharVarcharTypeInfo`) are refused in a given
    * read schema, in any form.
    */
  private def write(df: DataFrame, path: String): StructType = {
    df.write.mode("overwrite").parquet(path)
    if (CharVarcharUtils.hasCharVarchar(df.schema)) null else df.schema
  }

  private def scan(spark: SparkSession, path: String, schema: StructType): DataFrame =
    if (schema == null) spark.read.parquet(path) else spark.read.schema(schema).parquet(path)

  /** A rolling stage slot for ITERATIVE loops (connected components,
    * Lloyd rounds, beam hops): each [[Rolling.table]] call writes the new
    * round's table and deletes all but the last `keep` round directories,
    * so a loop holds O(1) live stage dirs for its whole run instead of
    * one per iteration — the lifecycle hygiene a long-running driver
    * needs under a user-managed `stageDir`.
    *
    * `keep = 2` is the safe default for the standard loop shape
    * state_{i+1} = f(scan(state_i)): the in-flight write of round i+1
    * still scans round i's files, so round i must outlive it; rounds
    * i-1 and older are unreferenced by construction ONCE EVERY LAZY
    * PLAN DERIVED FROM THEM HAS BEEN CUT BY A NEWER WRITE — loops whose
    * auxiliary frames (frontiers, deltas) reference older rounds lazily
    * must stage those too (see [[graft.queries.SimilarityQueries]]'s
    * beam walk) or raise `keep`.
    */
  final class Rolling(keep: Int = 2) {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    private val live = scala.collection.mutable.Queue.empty[String]

    def table(df: DataFrame, name: String): DataFrame = {
      val (staged, path) = tableWithPath(df, name)
      live.enqueue(path)
      while (live.size > keep) {
        val old = live.dequeue()
        try {
          val hp = new org.apache.hadoop.fs.Path(old)
          hp.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
            .delete(hp, true)
        } catch { case _: Throwable => () } // best-effort cleanup
      }
      staged
    }

    /** Directories this slot still holds live (testing/diagnostics). */
    def liveDirs: Seq[String] = live.toSeq
  }

  /** A memoized stage: its directory, and the schema to scan it with
    * (null: infer it, as for a [[sharedDir]] build, whose writer is not
    * ours).
    */
  private final case class Built(path: String, schema: StructType)

  private val shared = new java.util.concurrent.ConcurrentHashMap[String, Built]()

  /** Memoized written stage, keyed by (stage name, input dir): the first
    * caller writes, later callers scan the same parquet. This is the
    * reference's actual shape — ONE pipeline run feeds the audit, error,
    * change-set and apply sinks (main.go:241-322) — so sink queries over
    * the same inputs share the upstream materialization instead of each
    * rebuilding it. Unlike caching DataFrames, the map holds only a path
    * and the written schema: no executor memory is pinned and no session
    * is retained, and a hit neither evaluates `df` nor runs a job.
    * Whichever query runs first pays the build (the per-suite TOTAL is the
    * meaningful figure); [[resetShared]] clears the memo so benchmark
    * passes stay independent.
    */
  def sharedTable(spark: org.apache.spark.sql.SparkSession, name: String,
                  dir: String)(df: => DataFrame): DataFrame =
    sharedTableWithPath(spark, name, dir)(df)._1

  /** [[sharedTable]] that also exposes the written directory — for
    * consumers that operate on the FILES of a stage rather than its rows
    * (compaction, file-count audits).
    */
  def sharedTableWithPath(spark: org.apache.spark.sql.SparkSession, name: String,
                          dir: String)(df: => DataFrame): (DataFrame, String) = {
    val b = memo(spark, name, dir)(path => write(df, path))
    (scan(spark, b.path, b.schema), b.path)
  }

  /** Memoized shared OUTPUT DIRECTORY: like [[sharedTable]] but the
    * builder writes the path itself (e.g. a [[SnapshotLog]] table, or
    * v14's [[SnapshotLog.writeClustered]] compaction, whose output layout is the
    * whole point). First caller builds; later callers get the same path.
    */
  def sharedDir(spark: org.apache.spark.sql.SparkSession, name: String,
                dir: String)(write: String => Unit): String =
    memo(spark, name, dir) { path => write(path); null }.path

  /** The memo behind [[sharedTableWithPath]] and [[sharedDir]]: `write`
    * builds the stage at a fresh path and returns its schema, or null.
    */
  private def memo(spark: SparkSession, name: String, dir: String)
                  (write: String => StructType): Built = {
    val root = rootFor(spark) // memo key includes it: a re-pointed stageDir
    val key = s"$root|$name|$dir"
    // get-then-putIfAbsent rather than computeIfAbsent: stages COMPOSE
    // (building one shared stage may build another inside the thunk), and
    // a nested computeIfAbsent on the same map throws "Recursive update".
    // The non-reentrant form allows nesting; the two failure modes it
    // trades away are restored explicitly: a SELF-recursive stage (its own
    // key in its own thunk) fails fast below instead of overflowing the
    // stack, and a concurrent duplicate build deletes the losing write
    // instead of orphaning it under a user-managed stageDir.
    shared.get(key) match {
      case b: Built => b
      case null =>
        require(building.get.add(key),
          s"shared stage '$name' builds itself (cycle through its own thunk)")
        val p = s"$root/$name-${seq.incrementAndGet()}"
        def dropDir(): Unit =
          try {
            val hp = new org.apache.hadoop.fs.Path(p)
            hp.getFileSystem(spark.sessionState.newHadoopConf())
              .delete(hp, true)
          } catch { case _: Throwable => () } // best-effort cleanup
        val built = try Built(p, write(p)) catch { case e: Throwable =>
          dropDir() // a failed write must not orphan a partial dir either
          throw e
        } finally building.get.remove(key)
        shared.putIfAbsent(key, built) match {
          case null => built
          case winner => // lost a race: adopt the winner, drop our copy
            dropDir()
            winner
        }
    }
  }

  // keys this thread is currently building (self-recursion detector)
  private val building =
    new ThreadLocal[scala.collection.mutable.Set[String]] {
      override def initialValue() = scala.collection.mutable.Set.empty[String]
    }

  /** Forget memoized shared stages (files stay until JVM exit). */
  def resetShared(): Unit = shared.clear()

  /** Total row count of a written parquet directory from its file
    * FOOTERS — driver-side metadata reads (one ranged footer fetch per
    * file), no Spark job, no column scan. The way a standing build reads
    * "how big is this stage" at 100 TB: a `df.count()` action would scan
    * a column of the whole corpus to learn a number the footers already
    * hold.
    */
  def rowCount(spark: org.apache.spark.sql.SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val it = fs.listFiles(root, true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try n += reader.getRecordCount
        finally reader.close()
      }
    }
    n
  }

  /** The memoized shared stages built so far for input `dir` under the
    * session's stage root: stage name -> written path. This is the
    * catalog surface's inventory ([[graft.GraftCatalog.registerStages]]
    * turns each entry into a session view).
    */
  def sharedEntries(spark: org.apache.spark.sql.SparkSession,
                    dir: String): Map[String, String] = {
    val root = rootFor(spark)
    val out = Map.newBuilder[String, String]
    shared.forEach { (k, b) =>
      if (k.startsWith(s"$root|") && k.endsWith(s"|$dir"))
        out += k.stripPrefix(s"$root|").stripSuffix(s"|$dir") -> b.path
    }
    out.result()
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
}
