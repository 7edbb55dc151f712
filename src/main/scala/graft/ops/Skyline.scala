package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pareto-frontier (skyline) selection — multi-objective curation's
  * primitive: "the cheapest document at every quality level" / "the
  * shortest example at every difficulty". A row is on the frontier iff no
  * other row is at least as good on both axes and strictly better on one
  * (minimize `x`, maximize `y`).
  */
object Skyline {

  /** 2-D frontier in two window passes, never a self-join.
    *
    * Per pass, over rows sorted by x: a row is dominated iff
    * max(y | x strictly lower) ≥ y  —  a RANGE frame ending at −1 —  or
    * max(y | same x) > y — a per-x partition max (which includes self, so
    * the keep test is equality). Exactly the NOT EXISTS semantics,
    * O(n log n) instead of O(n²); duplicate (x, y) points are mutually
    * non-dominating and both survive, so the output is a deterministic
    * set.
    *
    * Scale design — skyline-of-skylines (domination is transitive, so
    * frontier(S) = frontier(∪ bucket frontiers), exactly): pass 1 runs
    * the window PER HASH BUCKET (parallel, skew-free, one shuffle on the
    * bucket key), which collapses the corpus to ≤ buckets·|frontier-ish|
    * survivors; pass 2 re-runs it globally over that small relation — a
    * single-partition window, priced on survivors, never on the corpus.
    * `buckets` ≤ 0 takes the session's [[Partitions.base]].
    */
  def paretoFrontier2D(df: DataFrame, idCol: String, xCol: Column,
                       yCol: Column, buckets: Int = 0): DataFrame = {
    val nb = if (buckets > 0) buckets else Partitions.base(df.sparkSession)
    def survivors(in: DataFrame, part: Seq[String]): DataFrame = {
      val wBase = if (part.isEmpty) Window.orderBy(col("x"))
                  else Window.partitionBy(part.map(col): _*).orderBy(col("x"))
      val wLower = wBase.rangeBetween(Window.unboundedPreceding, -1)
      val wSame = Window.partitionBy((part :+ "x").map(col): _*)
      in.withColumn("_myl", max(col("y")).over(wLower))
        .withColumn("_mys", max(col("y")).over(wSame))
        .filter((col("_myl").isNull || col("_myl") < col("y")) &&
          col("_mys") === col("y"))
        .drop("_myl", "_mys")
    }
    val base = df
      .select(col(idCol).as("id"), xCol.cast("long").as("x"),
        yCol.cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val local = survivors(
      base.withColumn("_b", pmod(hash(col("id")), lit(nb))), Seq("_b"))
      .drop("_b")
    survivors(local, Nil).select(col("id"), col("x"), col("y"))
  }
}
