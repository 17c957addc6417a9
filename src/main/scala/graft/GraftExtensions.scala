package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.IntegerType
import graft.functions._

/** Session extension registering the native graft expressions as SQL
  * functions — the Spark-native way to ship custom Catalyst expressions:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions     // config, or
  *   SparkSession.builder.withExtensions(new GraftExtensions) // code
  * }}}
  *
  * After which `SELECT graft_long_dot(a, b)` etc. work from SQL and
  * `call_function` from the DataFrame API — and `MERGE INTO` / `UPDATE` /
  * `DELETE FROM` against `graft.<t>` catalog identifiers execute through
  * the transaction log ([[graft.sql.SnapshotDml]], via the injected
  * parser).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftNative.registrations.foreach(ext.injectFunction)
    // the SQL CDC surface: table_changes('t', v1[, v2]) as a real TVF,
    // composable inside arbitrary queries — see [[graft.sql.TableChanges]]
    ext.injectTableFunction(graft.sql.TableChanges.registration)
    ext.injectParser((session, delegate) =>
      new graft.sql.GraftSqlParser(session, delegate))
    // plan reads of graft-catalog snapshot tables as their version's
    // parquet scan (exprId-aligned) — see GraftCatalogRelations
    ext.injectResolutionRule(session =>
      graft.sql.GraftCatalogRelations(session))
  }
}

/** Column API over the native expressions + idempotent per-session
  * registration for sessions that were not built with [[GraftExtensions]]
  * (the query builders call [[ensure]] with the session they are given).
  */
object GraftNative {

  type Builder = Seq[Expression] => Expression

  private def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getName, name)

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    (FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig", classOf[MinHashSignatureExpr]),
      (ch: Seq[Expression]) => ch match {
        case Seq(sh, Literal(n: Int, IntegerType)) => MinHashSignatureExpr(sh, n)
        case _ => throw new IllegalArgumentException(
          "graft_minhash_sig(shingles array<string>, numHashes int literal)")
      }),
    (FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", classOf[SimHash64Expr]),
      (ch: Seq[Expression]) => SimHash64Expr(ch.head)),
    (FunctionIdentifier("graft_long_dot"),
      info("graft_long_dot", classOf[LongDotProduct]),
      (ch: Seq[Expression]) => LongDotProduct(ch(0), ch(1))),
    (FunctionIdentifier("graft_hamming"),
      info("graft_hamming", classOf[HammingDistance]),
      (ch: Seq[Expression]) => HammingDistance(ch(0), ch(1))),
    (FunctionIdentifier("graft_kv_parse"),
      info("graft_kv_parse", classOf[KvRecordParse]),
      (ch: Seq[Expression]) => KvRecordParse(ch.head)),
    (FunctionIdentifier("graft_shingles"),
      info("graft_shingles", classOf[WordShingles]),
      (ch: Seq[Expression]) => ch match {
        case Seq(norm, Literal(n: Int, IntegerType)) => WordShingles(norm, n)
        case _ => throw new IllegalArgumentException(
          "graft_shingles(normalized text, n int literal)")
      }),
    (FunctionIdentifier("graft_rolling_fp"),
      info("graft_rolling_fp", classOf[RollingFingerprint]),
      (ch: Seq[Expression]) => RollingFingerprint(ch.head)),
    (FunctionIdentifier("graft_winnow"),
      info("graft_winnow", classOf[WinnowFingerprints]),
      (ch: Seq[Expression]) => ch match {
        case Seq(t, Literal(k: Int, IntegerType), Literal(w: Int, IntegerType)) =>
          WinnowFingerprints(t, k, w)
        case _ => throw new IllegalArgumentException(
          "graft_winnow(cleaned text, k int literal, w int literal)")
      }),
    (FunctionIdentifier("graft_text_stats"),
      info("graft_text_stats", classOf[TextStats]),
      (ch: Seq[Expression]) => TextStats(ch.head)),
    (FunctionIdentifier("graft_overlap"),
      info("graft_overlap", classOf[ArrayOverlapCount]),
      (ch: Seq[Expression]) => ArrayOverlapCount(ch(0), ch(1))),
    (FunctionIdentifier("graft_jaccard"),
      info("graft_jaccard", classOf[JaccardSimilarity]),
      (ch: Seq[Expression]) => JaccardSimilarity(ch(0), ch(1))),
    (FunctionIdentifier("graft_bloom_mc"),
      info("graft_bloom_mc", classOf[BloomMightContainExpr]),
      (ch: Seq[Expression]) => BloomMightContainExpr(ch(0), ch(1))),
    (FunctionIdentifier("graft_dim_counts"),
      info("graft_dim_counts", classOf[DimCountsExpr]),
      (ch: Seq[Expression]) => ch match {
        case Seq(toks, Literal(n: Int, IntegerType)) => DimCountsExpr(toks, n)
        case _ => throw new IllegalArgumentException(
          "graft_dim_counts(tokens array<string>, dim int literal)")
      }))

  /** Register into an existing session's function registry (idempotent,
    * cheap: checked by name). Lets any session use the functions, not just
    * ones built with the extension.
    */
  def ensure(spark: SparkSession): Unit = {
    val fr = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    registrations.foreach { case (ident, _, builder) =>
      if (!fr.functionExists(ident))
        fr.createOrReplaceTempFunction(ident.funcName, builder, "built-in")
    }
  }

  // ---- Column wrappers (callers must have run ensure/extension) --------

  def minhashSignature(sh: Column, numHashes: Int): Column =
    call_function("graft_minhash_sig", sh, lit(numHashes))
  def simhash64(sh: Column): Column = call_function("graft_simhash64", sh)
  def longDot(a: Column, b: Column): Column = call_function("graft_long_dot", a, b)
  def hamming(a: Column, b: Column): Column = call_function("graft_hamming", a, b)
  def kvParse(raw: Column): Column = call_function("graft_kv_parse", raw)
  def shingles(normText: Column, n: Int = 3): Column =
    call_function("graft_shingles", normText, lit(n))
  def rollingFingerprint(text: Column): Column =
    call_function("graft_rolling_fp", text)

  /** Winnowed k-gram rolling-hash fingerprints of an already-cleaned
    * printable-ASCII string — see [[graft.functions.WinnowFingerprints]].
    */
  def winnow(cleaned: Column, k: Int, w: Int): Column =
    call_function("graft_winnow", cleaned, lit(k), lit(w))
  def textStats(text: Column): Column = call_function("graft_text_stats", text)

  /** Hashing-trick embedding histogram over a token array — see
    * [[graft.functions.DimCountsExpr]].
    */
  def dimCounts(tokens: Column, dim: Int): Column =
    call_function("graft_dim_counts", tokens, lit(dim))
  def overlap(a: Column, b: Column): Column = call_function("graft_overlap", a, b)

  /** Exact Jaccard of two distinct-element arrays as one native pass —
    * see [[graft.functions.JaccardSimilarity]] for why this must be a
    * single expression, not a composition over [[overlap]].
    */
  def jaccard(a: Column, b: Column): Column = call_function("graft_jaccard", a, b)

  /** Bloom-filter membership prefilter — `filter` serialized via
    * [[serializeBloom]]; see [[graft.functions.BloomMightContainExpr]].
    */
  def bloomMightContain(value: Column, filterBytes: Array[Byte]): Column =
    call_function("graft_bloom_mc", value, lit(filterBytes))

  /** `BloomFilter.writeTo` as bytes (the literal [[bloomMightContain]]
    * ships with the plan).
    */
  def serializeBloom(bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }
}
