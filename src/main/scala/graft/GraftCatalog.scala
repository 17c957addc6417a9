package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pure-SQL entry surface: register the engine's tables and written
  * stages in the session catalog so ad-hoc `spark.sql(...)` reaches
  * everything the DataFrame API reaches.
  *
  *  - [[registerTables]] publishes the ten canonical tables as temp views
  *    THROUGH the normalizing [[Tables]] loaders (binary→string text,
  *    float64→float32 embeddings, nanos→timestamp events), so SQL users
  *    see the same engine-facing schema every query builder sees — never
  *    the drifting physical parquet encodings.
  *  - [[registerStages]] publishes every memoized written stage built so
  *    far for a dataset ([[graft.operators.Stage.sharedTable]] artifacts:
  *    bucketed ANN indexes, postings lists, fingerprint indexes, the kNN
  *    graph) as `graft_<stage>` views — the "index tables" a production
  *    deployment exposes beside the base tables.
  *  - [[sqlForms]] carries representative queries re-expressed as plain
  *    Spark SQL; SqlSurfaceSpec pins each to result AND optimizer-plan
  *    parity with its DataFrame twin, certifying the two entry surfaces
  *    hit identical plans (same pushdown, same join strategy) — SQL
  *    users pay no penalty.
  */
object GraftCatalog {

  /** All ten canonical table views over `dir`, normalized schemas. */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    Tables.region(spark, dir).createOrReplaceTempView("region")
    Tables.nation(spark, dir).createOrReplaceTempView("nation")
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.supplier(spark, dir).createOrReplaceTempView("supplier")
    Tables.part(spark, dir).createOrReplaceTempView("part")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    Tables.events(spark, dir).createOrReplaceTempView("events")
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
    Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings")
  }

  /** Register every shared written stage built so far for `dir` as a
    * `graft_<stage>` view; returns the view names registered. Stages are
    * memoized lazily — run (or build) the queries first, then publish.
    */
  def registerStages(spark: SparkSession, dir: String): Seq[String] =
    graft.operators.Stage.sharedEntries(spark, dir).toSeq.sortBy(_._1).map {
      case (name, path) =>
        val view = s"graft_$name"
        spark.read.parquet(path).createOrReplaceTempView(view)
        view
    }

  /** Spark-SQL re-expressions of representative registered queries
    * (result- and plan-parity pinned by SqlSurfaceSpec). Keys are the
    * query names from [[SparkEntry.queries]].
    */
  val sqlForms: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        |       COUNT(*) AS count_order
        |FROM lineitem WHERE l_discount <= 0.06
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q05_broadcast_dim_join" ->
      """SELECT /*+ BROADCAST(part) */ p_brand,
        |       COUNT(*) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 25
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q07_window_topk_per_group" ->
      // inner projection lists o_orderkey first (the parquet column
      // order) so the canonicalized plan is IDENTICAL to the DataFrame
      // form's, not merely equivalent
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_orderkey, o_custkey,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,
    "q13_semi_join" ->
      // LEFT SEMI JOIN syntax, not EXISTS: the subquery-rewrite path
      // places its null filters differently, which is equivalent but not
      // the IDENTICAL canonicalized plan the parity spec pins
      """SELECT c_custkey, c_mktsegment FROM customer LEFT SEMI JOIN orders
        |ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
        |ORDER BY c_custkey""".stripMargin,
    // a written-stage view: v11's kNN graph served straight from the
    // catalog (registerStages), no DataFrame code at all
    "v11_knn_graph" ->
      """SELECT src_id, dst_id, rnk, cosine FROM graft_v16_graph
        |ORDER BY src_id, rnk""".stripMargin)

  /** Run a [[sqlForms]] query end-to-end over `dir` through the SQL
    * surface (tables + stages registered first).
    */
  def runSql(spark: SparkSession, name: String, dir: String): DataFrame = {
    registerTables(spark, dir)
    registerStages(spark, dir)
    spark.sql(sqlForms(name))
  }
}
