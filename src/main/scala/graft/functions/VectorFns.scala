package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, as pure Column
  * expressions (`zip_with` + `aggregate` higher-order functions — no UDF,
  * no driver collect). NOTE: Spark evaluates HOFs INTERPRETED
  * (CodegenFallback, no common-subexpression elimination), so callers must
  * compute each derived vector column once and stage it
  * ([[graft.operators.Stage.table]]) rather than leaving the tree to be
  * inlined into every consumer.
  *
  * All arithmetic is promoted to double and folded sequentially
  * (element order), so results are bit-deterministic and reproducible
  * by the DuckDB oracle.
  */
object VectorFns {

  /** Sequential-fold dot product in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  // --------------------------------------------------------------------
  // Integer-quantized vector math. Floating-point folds are sequential
  // and deterministic WITHIN one engine, but cross-engine (oracle) parity
  // and 100 TB shuffle-order independence both want exact arithmetic:
  // quantize each component to floor(x * 1000) as a long, then every dot
  // product / norm is exact integer math (order-free, overflow-safe for
  // |x| < ~3 at dim <= 4096). This mirrors production int8 quantization
  // for ANN at scale — smaller shuffles, exact comparisons.
  // --------------------------------------------------------------------

  /** Quantize `array<float>` to `array<long>` at 3 decimal digits. */
  def quantize(a: Column, scale: Int = 1000): Column =
    transform(a, x => floor(x.cast("double") * scale).cast("long"))

  /** Exact integer dot product over two quantized vectors. */
  def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Exact squared L2 norm of a quantized vector. */
  def qnorm2(a: Column): Column = qdot(a, a)

  /** Cosine similarity over quantized vectors: exact integer dot/norms,
    * one deterministic sqrt + division at the edge; 0.0 for zero vectors.
    */
  def qcosine(a: Column, b: Column): Column = {
    val n2 = qnorm2(a) * qnorm2(b)
    when(n2 === 0L, lit(0.0))
      .otherwise(qdot(a, b).cast("double") / sqrt(n2.cast("double")))
  }
}
