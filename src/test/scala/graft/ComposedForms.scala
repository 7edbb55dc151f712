package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFns, VectorFns}

/** Built-in-only forms of native kernels, bit-identical to them: the
  * executable specs HashExprSpec pins the kernels against.
  */
object ComposedForms {

  /** [[graft.ops.Dedup.simHash]]: explode words → `bits` vote-sum columns
    * → pack. */
  def simHash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int = 32): DataFrame = {
    val words = docs
      .select(col(idCol), explode(TextFns.words(col(textCol))).as("w"))
      .withColumn("wh", TextFns.hash64(col("w")))
    val voteCols = (0 until bits).map(b =>
      sum(when(expr(s"(wh >> $b) & 1") === 1, 1).otherwise(-1)).as(s"_v$b"))
    val votes = words.groupBy(col(idCol)).agg(voteCols.head, voteCols.tail: _*)
    val sig = (0 until bits).map(b =>
      when(col(s"_v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    votes.select(col(idCol), sig.as("simhash"))
  }

  /** [[VectorFns.dotScaled]] over double arrays. */
  def dotScaled(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => floor(x * y * lit(VectorFns.Scale))),
      lit(0L),
      (acc, v) => acc + v)

  /** [[VectorFns.norm2Scaled]] over a double array. */
  def norm2Scaled(a: Column): Column =
    aggregate(
      transform(a, x => floor(x * x * lit(VectorFns.Scale))),
      lit(0L),
      (acc, v) => acc + v)
}
