package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Partition-layout pruning — the first lever at 100 TB: a table written
  * `partitionBy(key)` turns key predicates into directory pruning, so a
  * scan touches only matching partitions' files. Two forms are pinned:
  *
  *  - STATIC: a literal predicate on the partition column reaches the
  *    scan as a PartitionFilter and the file set shrinks accordingly;
  *  - DYNAMIC (DPP): a selective filter on a joined DIMENSION prunes the
  *    fact table's partitions at runtime — the broadcast side's keys
  *    become a dynamicpruning subquery on the scan, the plan Catalyst
  *    builds for star joins where the fact predicate isn't known until
  *    the dim side is evaluated.
  */
class PartitionPruningSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val root: String = {
    val dir = Files.createTempDirectory("graft_part").toString
    Tables.orders(spark, sfDir)
      .withColumn("oyear", year(col("o_orderdate")))
      .write.partitionBy("oyear").mode("overwrite").parquet(s"$dir/orders_by_year")
    // the DPP dimension must be a FILE source: a filter over an in-memory
    // LocalRelation constant-folds away, and DPP's selectivity check then
    // sees no selective predicate to prune with
    import spark.implicits._
    Seq((1995, "keep"), (1996, "drop"), (1997, "drop"))
      .toDF("oyear", "tag")
      .write.mode("overwrite").parquet(s"$dir/year_dim")
    dir
  }

  /** Files actually READ (post-pruning) — `inputFiles` lists the
    * relation's files before partition filters apply.
    */
  private def distinctInputFiles(df: org.apache.spark.sql.DataFrame): Long =
    df.select(input_file_name()).distinct().count()

  test("static partition pruning: a year predicate prunes the file set") {
    val all = spark.read.parquet(s"$root/orders_by_year")
    val one = all.where(col("oyear") === 1996)
    one.collect()
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("oyear"),
      s"expected a partition filter in:\n$plan")
    assert(distinctInputFiles(one) < distinctInputFiles(all),
      s"pruned scan reads ${distinctInputFiles(one)} of " +
        s"${distinctInputFiles(all)} files — no pruning")
    // pruning must not change results: same rows as a post-scan filter
    val expected = Tables.orders(spark, sfDir)
      .where(year(col("o_orderdate")) === 1996).count()
    assert(one.count() == expected)
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions at runtime") {
    val fact = spark.read.parquet(s"$root/orders_by_year")
    val dim = spark.read.parquet(s"$root/year_dim")
    // the fact predicate only exists once the dim filter has run
    val joined = fact.join(broadcast(dim.where(col("tag") === "keep")), Seq("oyear"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter on the fact scan:\n$plan")
    val expected = Tables.orders(spark, sfDir)
      .where(year(col("o_orderdate")) === 1995).count()
    assert(joined.count() == expected)
  }
}
