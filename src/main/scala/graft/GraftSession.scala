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
  *    are untouched;
  *  - `spark.sql.codegen.cache.maxEntries` = 4096: Spark keeps compiled
  *    generated classes in one JVM-wide LRU of 100 entries by default,
  *    while one perfbench `sql` unit (8 queries and 8 snapshot-table
  *    statements) needs about 325 and the 159 registered queries about
  *    2,200 at sf0.001. At 100 every class is evicted before its next use
  *    and Janino compiles it again: 7.1 s of a 13.0 s unit. The fixed
  *    4096 holds the whole suite plus a long-lived session's DML;
  *  - `spark.sql.codegen.useIdInClassName` = false: with stage ids in the
  *    class name, the same whole-stage body compiles again whenever AQE
  *    numbers a query's codegen stages in another order, which it does
  *    from run to run. With both settings, a second pass over the 159
  *    queries compiles 123 classes instead of 3,779; 112 of them are in
  *    five streaming queries.
  *
  * Build the session BEFORE anything in the JVM asks Hadoop for a `file:`
  * filesystem: Hadoop caches filesystems per scheme, not per
  * configuration, so one created earlier under a plain `Configuration`
  * keeps Hadoop's class for the life of the JVM. The same holds for the
  * codegen cache: Spark sizes it once per JVM, from the conf in force when
  * its code generator is first used, and a later `conf.set` cannot resize
  * it.
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
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    .config("spark.sql.codegen.useIdInClassName", "false")

  /** A pre-configured builder: `GraftSession.builder().master(...).getOrCreate()`. */
  def builder(): SparkSession.Builder = configure(SparkSession.builder())
}
