package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning,
  UnknownPartitioning}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec,
  ShuffleExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.ShuffledJoin
import org.apache.spark.sql.functions.col

import graft.ops.Partitions

/** Every explicit partition count rests on one base, the session's
  * `spark.sql.shuffle.partitions` (b), through a [[Partitions]] rule. On the
  * 4-core test session with b = 7, each gate's explicit counts (its
  * explicit-count exchanges in every plan it runs, checkpoints included,
  * and the skyline's hash-bucket count) must equal its rule at b = 7, never
  * the session's 4 cores; and its answer must not depend on b.
  */
class PartitionsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val sf = "/root/testdata/sf0.001"

  /** gate → the rule its explicit counts follow, read at the current b. */
  private val gates: Seq[(String, () => Int)] = Seq(
    "q47_edit_distance" ->
      (() => Partitions.spread(Tables.table(spark, sf, "customer"))),
    "q162_minhash_verified_pairs" -> (() => Partitions.parts(spark)),
    "q122_video_frame_decode" -> (() => Partitions.base(spark)),
    "q191_char_ngram_langid" -> (() => Partitions.base(spark)),
    "q201_corr_pairs_by_group" -> (() => Partitions.base(spark)),
    "q227_pareto_frontier" -> (() => Partitions.base(spark)))

  private val bucketCount = """pmod\(hash\([^)]*\), (\d+)\)""".r

  /** The explicit counts of every plan `gate` runs, built and forced. */
  private def explicitCounts(gate: String): Seq[Int] =
    queriesRun(SparkEntry.queries(gate)(spark, sf).collect()).flatMap { qe =>
      val plan = qe.executedPlan
      collectWithSubqueries(plan) {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM =>
          e.numPartitions
      } ++ bucketCount.findAllMatchIn(plan.toString).map(_.group(1).toInt)
    }

  private def answer(gate: String, b: Int): Seq[String] =
    withConf("spark.sql.shuffle.partitions" -> b.toString) {
      SparkEntry.queries(gate)(spark, sf).toJSON.collect().toSeq.sorted
    }

  for ((gate, rule) <- gates) {
    test(s"$gate: explicit counts follow its Partitions rule at b = 7") {
      withConf("spark.sql.shuffle.partitions" -> "7") {
        val want = rule()
        val got = explicitCounts(gate)
        assert(got.nonEmpty, s"$gate runs no explicit count")
        assert(got.forall(_ == want), s"$gate: counts $got, rule gives $want")
        assert(!got.contains(spark.sparkContext.defaultParallelism),
          s"$gate: a count follows the core count: $got")
      }
    }

    test(s"$gate: the same answer at shuffle.partitions 1 and 7") {
      val one = answer(gate, 1)
      assert(one.nonEmpty, s"$gate returned no rows")
      assert(one == answer(gate, 7))
    }
  }

  /** The partitioning of each exchange on each side of every shuffled join
    * in `df`'s executed plan, `df` forced first. */
  private def joinSideExchanges(df: DataFrame): Seq[Seq[Partitioning]] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case j: ShuffledJoin => j }
      .flatMap(j => Seq(j.left, j.right)).map(side => collect(side) {
        case e: ShuffleExchangeLike => e.outputPartitioning
        case r: ReusedExchangeExec => r.outputPartitioning
      })
  }

  // the premise of ops.withPersisted's contract, on the session the mains
  // build (adaptive execution on): if a Spark upgrade flips either half,
  // the checkpoints that stopped repartitioning their input must be revisited
  test("a localCheckpoint keeps no partitioning; a persisted relation keeps it") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val keyed = spark.range(0, 2000)
        .select((col("id") % 50).as("k"), col("id").as("v"))
        .repartition(col("k"))
      def selfJoin(df: DataFrame) = df.join(df.toDF("k", "w"), "k")
      for (eager <- Seq(false, true)) {
        val cp = keyed.localCheckpoint(eager)
        assert(cp.queryExecution.executedPlan.outputPartitioning
          .isInstanceOf[UnknownPartitioning], s"eager = $eager")
        val sides = joinSideExchanges(selfJoin(cp))
        assert(sides.size == 2 && sides.forall(side =>
          side.size == 1 && side.head.isInstanceOf[HashPartitioning]),
          s"eager = $eager: $sides")
      }
      graft.ops.withPersisted(keyed) { p =>
        val joined = selfJoin(p)
        assert(joinSideExchanges(joined) == Seq(Nil, Nil))
        assert(collect(joined.queryExecution.executedPlan) {
          case s: InMemoryTableScanExec => s }.size == 2)
      }
    }
  }
}
