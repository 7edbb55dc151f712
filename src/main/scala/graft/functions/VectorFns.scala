package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector primitives over `ARRAY<FLOAT>` columns.
  *
  * Dot products use SCALED-INTEGER accumulation: each elementwise product is
  * an exact IEEE double (deterministic), `floor(p * 1e12)` maps it to an
  * integer identically in any engine, and integer summation is exact and
  * order-independent. This makes the similarity values bit-identical across
  * partitionings AND across engines (the DuckDB oracle) — a double-sum would
  * drift in the last ulps, and Spark's double→DECIMAL cast rounds the
  * *shortest string repr* (BigDecimal.valueOf) rather than the exact binary
  * value, so decimals don't match other engines either.
  *
  * At 100 TB this stays a narrow per-row expression inside whole-stage
  * codegen; no shuffle, no UDF.
  */
object VectorFns {

  /** 1e12 fixed-point scale: products of unit-ish floats × 64-4096 dims stay
    * far below 2^63.
    */
  val Scale = 1e12

  def toDoubleArray(c: Column): Column = transform(c, _.cast("double"))

  /** Exact scaled dot product of two float/double-array columns → LongType.
    * Oracle: SUM(CAST(floor(a[i]*b[i]*1e12) AS BIGINT)).
    *
    * Native codegen kernel ([[graft.expressions.DotScaled]]): the composed
    * aggregate(zip_with(...)) chain (kept in the tests as the kernel's spec)
    * is CodegenFallback — interpreted lambda dispatch per element per
    * row — which dominated the pairwise embedding operators' profile.
    * Accepts array<float> directly (exact widening inside the kernel), so
    * callers shuffle the narrow floats.
    */
  def dotScaled(a: Column, b: Column): Column =
    graft.expressions.DotScaled(a, b)

  /** Scaled squared norm (same fixed-point scheme), native kernel. */
  def norm2Scaled(a: Column): Column =
    graft.expressions.Norm2Scaled(a)

  /** Cosine from scaled parts: dot_s / (sqrt(n2a_s)·sqrt(n2b_s)); all inputs
    * are identical integers in both engines, every remaining op is IEEE-exact.
    */
  def cosineScaled(dotS: Column, n2aS: Column, n2bS: Column): Column =
    dotS.cast("double") / (sqrt(n2aS.cast("double")) * sqrt(n2bS.cast("double")))
}
