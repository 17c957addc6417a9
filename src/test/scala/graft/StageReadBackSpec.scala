package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Stage

/** Stage read-back: a stage is scanned with the schema the engine wrote,
  * which must be the schema inference over the written files returns,
  * and a barrier costs exactly its write job.
  */
class StageReadBackSpec extends SparkTestBase {

  /** Stage `df`; its scan must carry the inferred schema and the same rows. */
  private def assertReadBack(df: DataFrame, name: String): Unit = {
    val (staged, path) = Stage.tableWithPath(df, name)
    val inferred = spark.read.parquet(path)
    assert(staged.schema == inferred.schema,
      s"$name:\nstaged   ${staged.schema.json}\ninferred ${inferred.schema.json}")
    val key = col(staged.columns.head)
    assert(staged.orderBy(key).collect().toSeq == inferred.orderBy(key).collect().toSeq, name)
  }

  test("read-back schema: nested struct, array<float>, map, decimal(38,18)") {
    assertReadBack(spark.range(5).select(col("id"),
      struct(col("id").as("x"), struct(col("id").cast("string").as("z")).as("y")).as("st"),
      array(col("id").cast("float"), lit(0.5f)).as("af"),
      map(col("id").cast("string"), col("id")).as("m"),
      (col("id") / 3).cast(DecimalType(38, 18)).as("dec")), "rb_nested")
  }

  test("read-back schema: date, timestamp, timestamp_ntz, binary") {
    assertReadBack(spark.range(5).select(col("id"),
      date_add(lit(java.sql.Date.valueOf("2024-02-28")), col("id").cast("int")).as("d"),
      to_timestamp(lit("2024-01-01 10:00:00")).as("ts"),
      to_timestamp_ntz(lit("2024-01-01 10:00:00")).as("ntz"),
      col("id").cast("string").cast("binary").as("bin")), "rb_temporal")
  }

  test("read-back schema: a non-nullable column and a column with metadata") {
    val tagged = new MetadataBuilder().putString("comment", "tagged").putLong("n", 7L).build()
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = true, tagged)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, "a"), Row(2L, null)), schema)
    assertReadBack(df, "rb_meta")
    assert(Stage.table(df, "rb_meta_again").schema("tag").metadata == tagged)
  }

  test("read-back schema: an empty frame") {
    assertReadBack(spark.range(0).select(col("id"), lit("x").as("s")), "rb_empty")
  }

  test("read-back schema: a Derby frame with VARCHAR and CHAR columns") {
    val url = "jdbc:derby:memory:stagereadback;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE t(id INT NOT NULL, name VARCHAR(20), code CHAR(5))")
      st.execute("INSERT INTO t VALUES (1, 'a', 'b'), (2, 'cc', NULL)")
      st.close()
    } finally c.close()
    val derby = spark.read.jdbc(url, "t", new java.util.Properties())
    assertReadBack(derby, "rb_derby")
    assertReadBack(derby.select(col("ID"), upper(col("NAME")).as("U"), col("CODE")), "rb_derby_derived")
  }

  test("read-back schema: CHAR/VARCHAR kept as types fall back to inference") {
    // a reader refuses such types in a given schema; the stage must still
    // read back what inference returns
    spark.conf.set("spark.sql.preserveCharVarcharTypeInfo", "true")
    try {
      val typed = spark.range(3)
        .selectExpr("id", "CAST(id AS VARCHAR(20)) AS v", "CAST(id AS CHAR(5)) AS c")
      assert(typed.schema("v").dataType == VarcharType(20))
      assertReadBack(typed, "rb_typed")
    } finally spark.conf.unset("spark.sql.preserveCharVarcharTypeInfo")
  }

  test("Stage.table runs exactly one Spark job; a memo hit runs none and skips its thunk") {
    val df = spark.range(1000).selectExpr("id", "id % 7 AS k")
    assert(jobsDuring(Stage.table(df, "jobs_table")) == 1)
    assert(jobsDuring(new Stage.Rolling().table(df, "jobs_rolling")) == 1)
    try {
      var builds = 0
      def build = { builds += 1; df }
      assert(jobsDuring(Stage.sharedTable(spark, "jobs_shared", "x")(build)) == 1)
      assert(jobsDuring(Stage.sharedTable(spark, "jobs_shared", "x")(build)) == 0)
      assert(builds == 1)
      // the control: counting sees a job this thread starts
      assert(jobsDuring(Stage.sharedTable(spark, "jobs_shared", "x")(build).count()) > 0)
    } finally Stage.resetShared()
  }
}
