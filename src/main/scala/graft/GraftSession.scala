package graft

import org.apache.spark.sql.SparkSession

/** One-line session setup for library users: every config the engine's
  * surfaces assume, applied to a standard builder —
  *
  *  - UTC session timezone (cross-engine timestamp determinism);
  *  - `nanosAsLong` (the `events` fixture ships TIMESTAMP(NANOS), which
  *    Spark 4 otherwise refuses — [[Tables.events]] documents the
  *    truncation);
  *  - [[GraftExtensions]] as a session extension, so the native
  *    `graft_*` SQL functions exist from the first query (sessions built
  *    elsewhere can still call [[GraftNative.ensure]] lazily — every
  *    query builder does);
  *  - [[NioLocalFileSystem]] as `fs.file.impl`: Hadoop's local
  *    filesystem forks a `chmod` process for every file and directory it
  *    creates when libhadoop is absent, so stage writes, snapshot-table
  *    commits and checkpoints on `file:` would each pay a few process
  *    launches; this one sets the same bits in-process. Other schemes
  *    are untouched.
  *
  * Build the session BEFORE anything in the JVM asks Hadoop for a `file:`
  * filesystem: Hadoop caches filesystems per scheme, not per
  * configuration, so one created earlier under a plain `Configuration`
  * keeps Hadoop's class for the life of the JVM.
  *
  * Cluster-facing knobs (master, shuffle partitions, `spark.graft.*`)
  * stay with the caller: they are deployment decisions, not engine
  * invariants.
  */
object GraftSession {

  /** Apply the engine's invariant configs to an existing builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    // the snapshot-table catalog: CREATE TABLE graft.t / INSERT INTO /
    // SELECT / time travel by identifier. Base location comes from the
    // session conf spark.graft.catalog.location (re-pointable per run).
    .config("spark.sql.catalog.graft", classOf[graft.sql.GraftTableCatalog].getName)
    .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)

  /** A pre-configured builder: `GraftSession.builder().master(...).getOrCreate()`. */
  def builder(): SparkSession.Builder = configure(SparkSession.builder())
}
