package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.operators.Stage

/** Generated code compiles once per session ([[GraftSession]]'s codegen
  * cache size and stage-id-free class names): a second pass of the
  * perfbench `sql` queries plus a verbatim-repeated SQL MERGE and OPTIMIZE
  * on a snapshot table compiles no class. The first pass starts from an
  * empty class cache, so its count is the pass's whole working set; it
  * must exceed Spark's default cache of 100 entries, or the second pass
  * would hit the cache under the defaults too.
  */
class CodegenReuseSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"
  private val queries = Seq("q13_semi_join", "d05_dedup_apply", "v02_knn_ivf",
    "t02_doc_features", "t18_hybrid_rrf", "e02_hourly_windows", "mm03_media_features",
    "p01_curation_pipeline")

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Spark's class cache is JVM-wide and earlier suites have filled it. */
  private def emptyClassCache(): Unit = {
    val accessor = CodeGenerator.getClass.getDeclaredMethod("cache")
    accessor.setAccessible(true)
    val cache = accessor.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("a repeated pass of queries, MERGE and OPTIMIZE compiles no class") {
    import spark.implicits._
    // a LocalRelation changeset: one update, one delete, one insert
    Seq(("update", 3L, 30L), ("delete", 5L, 0L), ("insert", 5000L, 7L))
      .toDF("op", "id", "x").createOrReplaceTempView("codegen_reuse_cs")

    // each pass builds the same table afresh, so both passes plan the same
    def pass(): Long = {
      val before = compiled()
      Stage.resetShared()
      queries.foreach(q =>
        SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save())
      spark.conf.set("spark.graft.catalog.location",
        Files.createTempDirectory("codegen_reuse").toString)
      spark.sql("CREATE TABLE graft.codegen_reuse TBLPROPERTIES ('key'='id') " +
        "AS SELECT id, id % 7 AS x FROM range(0, 1000)").collect()
      spark.sql(
        """MERGE INTO graft.codegen_reuse t USING codegen_reuse_cs c ON t.id = c.id
          |WHEN MATCHED AND c.op = 'delete' THEN DELETE
          |WHEN MATCHED AND c.op = 'update' THEN UPDATE SET x = c.x
          |WHEN NOT MATCHED AND c.op = 'insert' THEN INSERT (id, x) VALUES (c.id, c.x)
          |""".stripMargin).collect()
      spark.sql("OPTIMIZE graft.codegen_reuse").collect()
      compiled() - before
    }

    emptyClassCache()
    val first = pass()
    val second = pass()
    assert(first > 100, s"the first pass compiled only $first classes")
    assert(second == 0, s"the second pass compiled $second of the first pass's $first classes")
  }
}
