package graft.tools

import org.apache.spark.sql.functions._

/** TEMPORARY measurement scratch — not committed. */
object ProbeScratch {
  def t[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"[probe] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s"); r
  }

  def main(args: Array[String]): Unit = {
    val d = "/root/testdata/sf0.1"
    val spark = graft.GraftSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    graft.GraftNative.ensure(spark)
    val pre = t("prefixIndex build+scan") { graft.queries.DedupQueries.prefixIndex(spark, d) }
    println("[probe] pre rows = " + pre.count())
    println("[probe] pre files = " + pre.inputFiles.length)
    val sh = t("shingleStage") {
      val docs = graft.Tables.documents(spark, d).select("doc_id", "text")
      val dup = docs.unionByName(
        docs.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + graft.queries.DedupQueries.BatchIdOffset)
            .as("doc_id"), col("text")))
      graft.operators.Stage.sharedTable(spark, "dup_shingles", d) {
        dup.select(col("doc_id"),
          graft.GraftNative.shingles(
            graft.functions.DedupFns.normText(col("text"))).as("sh"))
      }
    }
    println("[probe] sh rows = " + sh.count())
    println("[probe] sh files = " + sh.inputFiles.length)
    // positional-filter prototype: rebuild the prefix index WITH rnk and
    // apply the PPJoin positional bound in the join
    val inv = sh.select(col("doc_id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("shingle"))
    val dft = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("shingle"))
    val preR = graft.operators.Stage.table(
      inv.join(dft, Seq("shingle"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= col("sz") - expr("(sz + 1) DIV 2") + 1 &&
          col("df") >= 2)
        .select("doc_id", "shingle", "sz", "rnk"), "probe_preR")
    val candP = preR.as("a").join(preR.as("b"),
      col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
        col("a.sz") * 2 >= col("b.sz") && col("b.sz") * 2 >= col("a.sz") &&
        (lit(1) + least(col("a.sz") - col("a.rnk"), col("b.sz") - col("b.rnk"))) * 3 >=
          col("a.sz") + col("b.sz"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    t("positional self-join count") { println("[probe] candP = " + candP.count()) }
    t("positional distinct count") { println("[probe] candPd = " + candP.distinct().count()) }
    val cand0 = pre.as("a").join(pre.as("b"),
      col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
        col("a.sz") * 2 >= col("b.sz") && col("b.sz") * 2 >= col("a.sz"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    t("self-join count (pre-distinct)") { println("[probe] cand0 = " + cand0.count()) }
    val cand = cand0.distinct()
    t("distinct count") { println("[probe] cand = " + cand.count()) }
    val fin = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("jaccard", graft.GraftNative.jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
    t("final noop (warm)") { fin.write.format("noop").mode("overwrite").save() }
    t("final noop (again)") { fin.write.format("noop").mode("overwrite").save() }
    t("full d28 fresh") {
      graft.operators.Stage.resetShared()
      graft.SparkEntry.queries("d28_allpairs_exact")(spark, d)
        .write.format("noop").mode("overwrite").save()
    }
    t("full d28 warm-stages") {
      graft.SparkEntry.queries("d28_allpairs_exact")(spark, d)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
