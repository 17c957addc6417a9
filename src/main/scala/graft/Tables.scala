package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * At 100 TB these reads would be partitioned parquet on distributed
  * storage; the API is identical (`spark.read.parquet(dir)`), and all
  * downstream operators rely only on Catalyst pushdown (filters,
  * column pruning reach the scan), never on data being small.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session confs that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.preserveCharVarcharTypeInfo")

  /** Inferred schemas by (qualified path, modification time, inference
    * confs): a rewritten input gets a new modification time and is
    * inferred again (at the filesystem's millisecond resolution).
    */
  private val schemas =
    new graft.operators.LruCache[(String, Long, Seq[Option[String]]), StructType](64)

  /** Scan input table `name` under `dir`. Inferring its schema is a Spark
    * job (a footer read), so the schema is inferred once per input
    * version and later loads scan with it in hand. Schemas holding
    * CHAR/VARCHAR are inferred every time: a given read schema cannot
    * carry them (as in [[graft.operators.Stage]]).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = new Path(s"$dir/$name.parquet")
    val hfs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val k = (hfs.makeQualified(path).toString, hfs.getFileStatus(path).getModificationTime,
      inferenceConfs.map(spark.conf.getOption))
    var inferred: DataFrame = null
    val schema = schemas.getOrLoad(k) {
      inferred = spark.read.parquet(path.toString)
      inferred.schema
    }
    if (inferred != null) inferred
    else if (CharVarcharUtils.hasCharVarchar(schema)) spark.read.parquet(path.toString)
    else spark.read.schema(schema).parquet(path.toString)
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")

  /** `events.ts` arrives in whatever physical encoding the upstream writer
    * chose, and the loader normalizes every one of them to `TimestampType`:
    *
    *  - parquet TIMESTAMP(NANOS): Spark 4 only reads it as a raw long under
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (Bench/Verify/test bases
    *    set it; the loader itself never mutates session conf); the long nanos
    *    are truncated to microseconds with integer DIV — a double division
    *    would lose precision above 2^53 ns.
    *  - parquet timestamp[us] without a timezone (pandas/arrow/DuckDB default)
    *    → `TIMESTAMP_NTZ`, cast to `TimestampType`. The session timezone is
    *    UTC everywhere in this engine, so the cast is value-preserving and
    *    matches DuckDB's naive-timestamp oracle semantics.
    *  - tz-adjusted timestamp[us] → already `TimestampType`, passed through.
    *
    * Anything else fails here with one pointed message instead of scattering
    * `DATATYPE_MISMATCH` analysis errors across every downstream query.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    val df = load(s, d, "events")
    // Both rebase paths below are value-preserving only under a UTC session:
    // timestamp_micros interprets the long as micros-since-epoch-UTC, and the
    // NTZ->TZ cast pins the wall-clock to the session zone. A non-UTC session
    // would silently shift every event and diverge from the naive-timestamp
    // oracle, so fail loudly instead.
    def requireUtc(): Unit = require(
      s.conf.get("spark.sql.session.timeZone", "") == "UTC",
      "graft.Tables.events requires spark.sql.session.timeZone=UTC; a " +
        s"non-UTC session (got '${s.conf.get("spark.sql.session.timeZone", "<unset>")}') " +
        "would shift event timestamps away from the oracle's naive semantics")
    df.schema("ts").dataType match {
      case LongType =>
        requireUtc()
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType =>
        requireUtc()
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported physical type $other; expected " +
            "long nanos, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
  /** `documents.text` normalized to StringType: a writer that emits the
    * column as raw bytes (arrow binary) is decoded as UTF-8 here, once,
    * instead of breaking every text operator downstream.
    */
  def documents(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val df = load(s, d, "documents")
    df.schema("text").dataType match {
      case BinaryType => df.withColumn("text", col("text").cast(StringType))
      case _          => df
    }
  }

  /** `embeddings.embedding` normalized to Array[Float]: a writer that
    * emits float64 vectors is down-cast here, once, so the ANN/dedup
    * operators (and their Float-typed Aggregators) see one element type
    * regardless of upstream drift.
    */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val df = load(s, d, "embeddings")
    df.schema("embedding").dataType match {
      case ArrayType(DoubleType, n) =>
        df.withColumn("embedding", col("embedding").cast(ArrayType(FloatType, n)))
      case _ => df
    }
  }
}
