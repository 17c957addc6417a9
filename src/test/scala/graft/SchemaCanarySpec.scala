package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The schema canary: one pointed failure when upstream data drifts.
  *
  * Round 7's driver-side testdata regeneration changed `events.ts` from
  * TIMESTAMP(NANOS)-as-long to plain `timestamp[us]` (TIMESTAMP_NTZ) and
  * the breakage surfaced as seven scattered analysis failures across three
  * suites. This suite is the early-warning replacement: it loads every
  * table through the [[Tables]] loaders and asserts the NORMALIZED schema
  * the rest of the engine is written against — so the next regeneration
  * fails ONE test with a readable message naming the drifted column.
  *
  * It also pins the loaders' normalization itself: `events.ts` must come
  * back as `TimestampType` under every physical encoding a writer might
  * choose (long nanos, NTZ, tz-adjusted), `embeddings.embedding` as
  * Array[Float] even from a float64 writer, `documents.text` as String
  * even from a binary writer.
  */
class SchemaCanarySpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  // The engine-facing (post-normalization) schema contract, one entry per
  // table in Tables.names. Timestamp-like columns are listed as
  // TimestampType OR TimestampNTZType via `tsLike` below: date arithmetic
  // and the DuckDB oracle agree under both, and only `events.ts` (which
  // flows into unix_micros) is hard-required to be TimestampType.
  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region"   -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation"   -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
                      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
                      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
                      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
                      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part"     -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
                      "p_brand" -> StringType, "p_type" -> StringType,
                      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders"   -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
                      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
                      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
                      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
                      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
                      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
                      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
                      "l_shipdate" -> TimestampType),
    "events"   -> Seq("event_id" -> LongType, "ts" -> TimestampType,
                      "user_id" -> LongType, "event_type" -> StringType,
                      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
                       "lang" -> StringType, "source" -> StringType,
                       "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
                        "embedding" -> ArrayType(FloatType),
                        "label" -> IntegerType))

  // columns where either timestamp flavor is acceptable — everything that
  // never reaches unix_micros/timezone-sensitive functions
  private val tsLike = Set("o_orderdate", "l_shipdate")

  private def compatible(col: String, want: DataType, got: DataType): Boolean =
    (want, got) match {
      case _ if want == got => true
      case (TimestampType, TimestampNTZType) if tsLike(col) => true
      case (ArrayType(we, _), ArrayType(ge, _)) => we == ge
      case _ => false
    }

  test("all tables load with the normalized engine-facing schema") {
    val drift = Tables.names.flatMap { name =>
      val df = name match {
        case "events"     => Tables.events(spark, sfDir)
        case "documents"  => Tables.documents(spark, sfDir)
        case "embeddings" => Tables.embeddings(spark, sfDir)
        case other        => Tables.load(spark, sfDir, other)
      }
      val got = df.schema.fields.map(f => f.name -> f.dataType).toMap
      expected(name).flatMap { case (col, want) =>
        got.get(col) match {
          case None => Some(s"$name.$col: MISSING (have: ${got.keys.toSeq.sorted.mkString(", ")})")
          case Some(g) if !compatible(col, want, g) =>
            Some(s"$name.$col: expected $want, got $g — upstream data drifted; " +
              "normalize it in Tables.scala like events.ts")
          case _ => None
        }
      }
    }
    assert(drift.isEmpty, "SCHEMA DRIFT detected:\n  " + drift.mkString("\n  "))
  }

  // --- loader normalization under every physical encoding a writer might pick ---

  private def writeEvents(dir: String, df: org.apache.spark.sql.DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")

  private def tsType(dir: String): DataType =
    Tables.events(spark, dir).schema("ts").dataType

  test("events.ts normalizes from NTZ (timestamp[us], the pandas/arrow default)") {
    val dir = Files.createTempDirectory("canary-ntz-").toString
    writeEvents(dir, spark.range(3).select(
      col("id").as("event_id"),
      timestamp_micros(col("id") * 1000000L).cast(TimestampNTZType).as("ts"),
      col("id").as("user_id"), lit("click").as("event_type"),
      lit(1.0).as("value"), lit("{}").as("props")))
    assert(tsType(dir) == TimestampType)
    // value-preserving under the UTC session
    val micros = Tables.events(spark, dir)
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted
    assert(micros.toSeq == Seq(0L, 1000000L, 2000000L))
  }

  test("events.ts normalizes from long nanos (the legacy NANOS encoding)") {
    val dir = Files.createTempDirectory("canary-nanos-").toString
    writeEvents(dir, spark.range(3).select(
      col("id").as("event_id"), (col("id") * 1000000000L).as("ts"),
      col("id").as("user_id"), lit("click").as("event_type"),
      lit(1.0).as("value"), lit("{}").as("props")))
    assert(tsType(dir) == TimestampType)
    val micros = Tables.events(spark, dir)
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted
    assert(micros.toSeq == Seq(0L, 1000000L, 2000000L))
  }

  test("events.ts passes through tz-adjusted TimestampType unchanged") {
    val dir = Files.createTempDirectory("canary-tz-").toString
    writeEvents(dir, spark.range(3).select(
      col("id").as("event_id"), timestamp_micros(col("id") * 1000000L).as("ts"),
      col("id").as("user_id"), lit("click").as("event_type"),
      lit(1.0).as("value"), lit("{}").as("props")))
    assert(tsType(dir) == TimestampType)
  }

  test("events.ts rejects an un-normalizable type with one pointed message") {
    val dir = Files.createTempDirectory("canary-bad-").toString
    writeEvents(dir, spark.range(1).select(
      col("id").as("event_id"), lit("2024-01-01").as("ts"),
      col("id").as("user_id"), lit("click").as("event_type"),
      lit(1.0).as("value"), lit("{}").as("props")))
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("events.ts"))
  }

  test("embeddings.embedding normalizes from a float64 writer to Array[Float]") {
    val dir = Files.createTempDirectory("canary-emb-").toString
    spark.range(2).select(
        col("id").as("vec_id"),
        array(lit(0.25), lit(0.5)).as("embedding"), // DoubleType elements
        lit(0).as("label"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val df = Tables.embeddings(spark, dir)
    assert(df.schema("embedding").dataType == ArrayType(FloatType))
    val v = df.orderBy("vec_id").select("embedding").head().getSeq[Float](0)
    assert(v == Seq(0.25f, 0.5f))
  }

  test("documents.text normalizes from a binary writer to String") {
    val dir = Files.createTempDirectory("canary-doc-").toString
    spark.range(2).select(
        col("id").as("doc_id"),
        encode(concat(lit("doc "), col("id")), "UTF-8").as("text"), // BinaryType
        lit("en").as("lang"), lit("web").as("source"), lit(5L).as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val df = Tables.documents(spark, dir)
    assert(df.schema("text").dataType == StringType)
    assert(df.orderBy("doc_id").select("text").head().getString(0) == "doc 0")
  }

  test("Tables.load infers a table's schema once: a second load submits no job, " +
      "a rewritten directory is inferred again") {
    val dir = Files.createTempDirectory("canary-load-").toString
    spark.range(3).select(col("id").as("r_regionkey"), lit("x").as("r_name"))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    var first: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { first = Tables.load(spark, dir, "region") } > 0,
      "the control: the first load's schema inference is a job")
    var second: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { second = Tables.load(spark, dir, "region") } == 0,
      "a second load of an unchanged table ran a job")
    assert(second.schema == first.schema)
    assert(second.orderBy("r_regionkey").collect().toSeq ==
      first.orderBy("r_regionkey").collect().toSeq)

    spark.range(2).select(col("id").as("r_regionkey"), lit("y").as("r_name"),
        lit(1.5).as("r_extra"))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val rewritten = Tables.load(spark, dir, "region")
    assert(rewritten.schema.fieldNames.toSeq == Seq("r_regionkey", "r_name", "r_extra"))
    assert(rewritten.count() == 2L)
  }
}
