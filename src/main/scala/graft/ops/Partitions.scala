package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every explicit partition count in `graft`, on ONE base: the session's
  * `spark.sql.shuffle.partitions` (b). `Tables.session` sets b to the
  * local core count, so re-basing that one conf re-bases every count
  * below; nothing else reads a partition base. Call sites name a rule,
  * they do no arithmetic of their own.
  *
  * Why explicit counts at all (the q173 lesson — see PLANS.md "q173
  * round-9"): AQE's partition coalescing is driven by shuffle INPUT bytes
  * and cannot see join OUTPUT size or per-row CPU, so a pair-generation
  * join (near-dup blocks, posting-list self-joins, wedge enumeration,
  * linkage cells) or a CPU-heavy generator whose input is a few MB gets
  * folded onto 1–2 tasks. A repartition with an EXPLICIT count is exempt
  * from coalescing, and giving both join sides the same count makes the
  * join co-partitioned (no extra exchange).
  */
object Partitions {

  /** b: the session's shuffle width. For CPU-heavy generators over a
    * narrow input (media decode, per-doc gram explodes, the skyline's
    * per-bucket windows, the correlation scan's spread): one task per
    * core-sized slot, no slack. */
  def base(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  /** max(3·b, 32), for pair-expansion joins whose per-cell output is NOT
    * capped: the ×3 buys slack for per-cell output imbalance; the floor
    * keeps small sessions honest. */
  def parts(spark: SparkSession): Int = math.max(base(spark) * 3, 32)

  /** max(b, 32), the bounded-cell variant: when the per-key join fan-out
    * is capped BY CONSTRUCTION (e.g. a posting self-join behind a
    * `df <= maxDf` prune — every key's output is at most maxDf², so
    * per-partition imbalance is bounded by the cap, not by data skew), or
    * the work is CPU per input byte, the ×3 slack buys nothing and only
    * multiplies task waves at the floor-dominated small end (q92 at
    * sf0.1: 96-task stages on 2 700-row partitions, 3 waves on 32 cores —
    * measured 2.8 s → 1.3 s moving to the session's own parallelism). The
    * explicit count still pins the exchange against AQE's input-bytes
    * coalescing — that exemption, not the multiplier, is the q173
    * lesson. */
  def boundedCellParts(spark: SparkSession): Int = math.max(base(spark), 32)

  /** Input-aware: one task per ~64 KiB of `df`'s optimized-plan size
    * estimate (≈ a few hundred ms of deletion-explode CPU), at least 1,
    * at most b. A ~300 KB relation gets 5 tasks instead of a full-width
    * fan-out (r16: q47 ran 0.49× at 32 cores vs 8 with the unconditional
    * width); big inputs still get b. */
  def spread(df: DataFrame): Int = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    ((est / (64L * 1024L)) + 1)
      .min(BigInt(base(df.sparkSession))).max(BigInt(1)).toInt
  }
}
