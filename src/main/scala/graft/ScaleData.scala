package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-smoke data builder: replicates the driver-generated `documents`,
  * `embeddings`, and/or `events` tables N-fold so the dedup/ANN/event
  * families can be exercised above the largest generated scale factor
  * (the quadratic guards — df caps, band indexes, the `EmbMaxCell`
  * oversized-cell sub-bucketing — are argued in the plans but need
  * recorded runs at 10-30x rows; the event replication additionally
  * backs the e03/e05/e06/e11 equivariance contracts).
  *
  * Both replications are duplication-neutral — replica 0 is the original
  * table byte-for-byte, and replicas do not alias each other:
  *
  *  - [[scaleDocuments]]: every replica r > 0 suffixes each whitespace
  *    token with `~r`, which [[graft.functions.DedupFns.normText]]
  *    preserves (it only lowercases and collapses whitespace). Token and
  *    word-shingle relationships within a replica are a BIJECTION of the
  *    original's — so md5 fingerprint groups, df-capped inverted indexes
  *    and chunk-hash structure replicate exactly (ScaleInvarianceSpec
  *    asserts d01/d05/d06/d13 outputs are exactly the original's shifted
  *    per replica) — while across replicas no token survives with two
  *    different suffixes, so shingle sets are disjoint.
  *  - [[scaleEmbeddings]]: replica r ROTATES the dimensions by
  *    `r * 23 mod dim` (23 is coprime with the 64-dim fixture, so every
  *    replica gets a distinct lag; r = 0 is the identity). A permutation
  *    of dimensions is an isometry that also COMMUTES with the engine's
  *    element-wise floor quantization — `quantize(rot(v)) ==
  *    rot(quantize(v))` — so within a replica every pairwise dot
  *    product and cosine is bit-identical to the original's THROUGH the
  *    quantized pipeline, not merely at float level (a sign mask, the
  *    previous design, is a float-level isometry but `floor(-x) !=
  *    -floor(x)` shifts quantized values). Across replicas a vector
  *    meets only rotated copies — circular autocorrelation at lags
  *    >= 23, far below any near-dup threshold for these fixtures.
  *    Labels are kept, so label cells grow by exactly N with unchanged
  *    internal geometry.
  *
  * Ids re-key to `id + r * step` with `step` = max id + 1 rounded UP to a
  * multiple of 100 — a multiple of every fixture modulus (`% 10`/`% 50`
  * dup injection, `% 100` benchmark split), so each replica reproduces
  * the fixtures' injected-duplicate structure exactly, and stays below
  * the `BatchIdOffset` guard at the factors used here.
  *
  * Usage: `runMain graft.ScaleData <srcSfDir> <outDir> <factor> [tables]`
  * where `tables` is a comma list out of `documents,embeddings,events`
  * (default: all three, skipping ones absent from `srcSfDir`).
  */
object ScaleData {

  /** Replica id step: max id + 1, rounded up to a multiple of 100 so
    * every `id % {10, 50, 100}` fixture predicate sees the same residues
    * in every replica.
    */
  def stepFor(df: DataFrame, idCol: String): Long = {
    val mx = df.agg(max(col(idCol))).head().getLong(0)
    ((mx / 100) + 1) * 100
  }

  private def withReps(spark: SparkSession, df: DataFrame, factor: Int): DataFrame =
    df.crossJoin(spark.range(0, factor).select(col("id").as("rep")))

  /** N-fold duplication-neutral replication of a `documents` table. */
  def scaleDocuments(docs: DataFrame, factor: Int): DataFrame = {
    val step = stepFor(docs, "doc_id")
    val scaledText = when(col("rep") === 0, col("text")).otherwise(
      regexp_replace(col("text"), lit("(\\S+)"),
        concat(lit("$1~"), col("rep").cast("string"))))
    withReps(docs.sparkSession, docs, factor).select(
      (col("doc_id") + col("rep") * lit(step)).as("doc_id"),
      scaledText.as("text"),
      col("lang"), col("source"),
      length(scaledText).cast("long").as("n_chars"))
  }

  /** N-fold duplication-neutral replication of an `embeddings` table. */
  def scaleEmbeddings(emb: DataFrame, factor: Int): DataFrame = {
    val step = stepFor(emb, "vec_id")
    // replica r = rotation of the dimensions by r*23 (1-based element_at;
    // rotation by 0 makes replica 0 the identity with no special case)
    val rotated = transform(col("embedding"), (_, i) =>
      element_at(col("embedding"),
        (pmod(i.cast("long") + col("rep") * 23L, size(col("embedding")).cast("long")) + 1)
          .cast("int")))
    withReps(emb.sparkSession, emb, factor).select(
      (col("vec_id") + col("rep") * lit(step)).as("vec_id"),
      rotated.as("embedding"),
      col("label"))
  }

  /** N-fold duplication-neutral replication of an `events` table: replica
    * r shifts `user_id` and `event_id` by r * their own step (both steps
    * multiples of 100, as above), keeping ts/event_type/value/props
    * byte-identical — so each replica's per-user event SEQUENCES are
    * exactly the original's. User-keyed outputs (sessionization, funnels,
    * as-of joins) must then replicate with ids shifted, and per-cohort
    * distinct-user counts must scale by exactly N — the event-family
    * twins of the documents/embeddings equivariance contracts.
    */
  def scaleEvents(events: DataFrame, factor: Int): DataFrame = {
    val ustep = stepFor(events, "user_id")
    val estep = stepFor(events, "event_id")
    withReps(events.sparkSession, events, factor).select(
      (col("event_id") + col("rep") * lit(estep)).as("event_id"),
      col("ts"),
      (col("user_id") + col("rep") * lit(ustep)).as("user_id"),
      col("event_type"), col("value"), col("props"))
  }

  /** Orderkey replica step: a multiple of every modulus the migration
    * fixtures apply to `o_orderkey` (3,5,7,9,11,13,17,19,23,29 — routing,
    * share_type, null traps, validation splits, m09's merge ops), so each
    * replica reproduces the m-family's injected structure exactly.
    * ~9.7e9 per replica; ids stay far inside Long range at any factor
    * this tool would run.
    */
  val OrderkeyStep: Long = 9L * 5 * 7 * 11 * 13 * 17 * 19 * 23 * 29

  /** N-fold replication of the TPC-H-ish star schema with CONSISTENT key
    * shifts: orders+lineitem share the orderkey step, customer/orders the
    * custkey step, part/lineitem the partkey step, supplier/lineitem the
    * suppkey step — so every join relationship replicates per replica and
    * nothing dangles. region/nation are dimension constants (copied
    * unchanged; nationkeys are NOT shifted so customer/supplier keep
    * valid references). Non-key attributes are byte-identical per
    * replica, so per-replica distributions equal the original's.
    *
    * Note for reading ratios: self-join-shaped queries whose BOTH sides
    * scale (q17's acctbal band join) produce ~N² output under
    * replication — inherent to the operator, not a plan defect (real
    * TPC-H scaling grows both sides the same way).
    */
  def scaleTpch(spark: SparkSession, srcDir: String, factor: Int): Map[String, DataFrame] = {
    def load(n: String) = spark.read.parquet(s"$srcDir/$n.parquet")
    val orders = load("orders"); val lineitem = load("lineitem")
    val customer = load("customer"); val part = load("part"); val supplier = load("supplier")
    val okStep = {
      val mx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      ((mx / OrderkeyStep) + 1) * OrderkeyStep
    }
    val ckStep = stepFor(customer, "c_custkey")
    val pkStep = stepFor(part, "p_partkey")
    val skStep = stepFor(supplier, "s_suppkey")
    def rep(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      withReps(spark, df, factor).select(df.columns.map { c =>
        shifts.get(c) match {
          case Some(step) => (col(c) + col("rep") * lit(step)).as(c)
          case None       => col(c)
        }
      }: _*)
    Map(
      "orders" -> rep(orders, Map("o_orderkey" -> okStep, "o_custkey" -> ckStep)),
      "lineitem" -> rep(lineitem, Map("l_orderkey" -> okStep,
        "l_partkey" -> pkStep, "l_suppkey" -> skStep)),
      "customer" -> rep(customer, Map("c_custkey" -> ckStep)),
      "part" -> rep(part, Map("p_partkey" -> pkStep)),
      "supplier" -> rep(supplier, Map("s_suppkey" -> skStep)),
      "region" -> load("region"),
      "nation" -> load("nation"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ScaleData <srcSfDir> <outDir> <factor> [tables]")
    val Array(srcDir, outDir, factorStr) = args.take(3)
    val factor = factorStr.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val tables: Set[String] =
      if (args.length >= 4) args(3).split(",").map(_.trim).toSet
      else Set("documents", "embeddings", "events")

    val spark = GraftSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def write(df: DataFrame, name: String): Unit = {
      df.repartition(32).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      val n = spark.read.parquet(s"$outDir/$name.parquet").count()
      println(s"[scaledata] wrote $n $name rows ($factor x) to $outDir")
    }
    def exists(name: String): Boolean =
      new java.io.File(s"$srcDir/$name.parquet").exists()

    // all three go through the normalizing Tables loaders, so a replica
    // is written with the canonical engine-facing schema whatever the
    // source's physical encoding was (binary text, float64 embeddings,
    // NTZ/nanos timestamps)
    if (tables("documents") && exists("documents"))
      write(scaleDocuments(Tables.documents(spark, srcDir), factor), "documents")
    if (tables("embeddings") && exists("embeddings"))
      write(scaleEmbeddings(Tables.embeddings(spark, srcDir), factor), "embeddings")
    if (tables("events") && exists("events"))
      write(scaleEvents(Tables.events(spark, srcDir), factor), "events")
    // "tpch" = the whole star schema with consistent key shifts
    if (tables("tpch") && exists("orders"))
      scaleTpch(spark, srcDir, factor).foreach { case (n, df) => write(df, n) }

    spark.stop()
  }
}
