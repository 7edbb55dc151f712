package graft

import org.apache.spark.sql.functions._

import graft.expressions.JaroWinklerUtil
import graft.ops.{Anomaly, Fuzzy, Profile, TextAnalysis}

/** Round-8 drift/statistics family: gap-fill+LOCF, autocorrelation
  * sufficient statistics, CUSUM level shift, Benford census, two-sample
  * KS, Zipf octaves, Jaro-Winkler (DuckDB-parity fuzz + blocked pairs).
  */
class DriftStatsSpec extends SparkSpec {
  import spark.implicits._

  test("gapFillLocf zero-fills silent days and carries last observed count") {
    val counts = Seq(("a", 1L, 5L), ("a", 3L, 2L), ("b", 2L, 7L))
      .toDF("k", "day", "n_events")
    val got = Anomaly.gapFillLocf(counts, Seq("k"), "day")
      .select("k", "day", "n_events", "filled", "locf_n")
      .as[(String, Long, Long, Boolean, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(
      ("a", 1L, 5L, false, 5L),
      ("a", 2L, 0L, true, 5L),   // filled, LOCF from day 1
      ("a", 3L, 2L, false, 2L),
      ("b", 2L, 7L, false, 7L),
      ("b", 3L, 0L, true, 7L)))  // extended to feed end
  }

  test("autocorrStats emits exact integer (num, den) per lag") {
    // x = [1,2,3,4]: n=4, S=10, r = 4x-10 = [-6,-2,2,6], den = 80
    // lag1: 12 - 4 + 12 = 20 ; lag2: -12 - 12 = -24
    val grid = Seq(("k", 1L, 1L), ("k", 2L, 2L), ("k", 3L, 3L), ("k", 4L, 4L))
      .toDF("k", "day", "n")
    val got = Anomaly.autocorrStats(grid, Seq("k"), "day", "n", Seq(1, 2))
      .select("k", "lag", "n_days", "num", "den")
      .as[(String, Int, Long, Long, Long)].collect().sortBy(_._2)
    assert(got.toSeq == Seq(("k", 1, 4L, 20L, 80L), ("k", 2, 4L, -24L, 80L)))
  }

  test("cusumShift: running-sum-minus-running-min equals the recurrence") {
    // x = [1,1,5,5]: dev = 4x-12 = [-8,-8,8,8], P = [-8,-16,-8,0],
    // cusum+ = [0,0,8,16] -> max 16 at day 4
    val grid = Seq(("k", 1L, 1L), ("k", 2L, 1L), ("k", 3L, 5L), ("k", 4L, 5L))
      .toDF("k", "day", "n")
    val got = Anomaly.cusumShift(grid, Seq("k"), "day", "n")
      .select("k", "n_days", "max_cusum", "peak_day")
      .as[(String, Long, Long, Long)].collect()
    assert(got.toSeq == Seq(("k", 4L, 16L, 4L)))
    // flat series: cusum stays 0, peak is the FIRST day (tie-break)
    val flat = Seq(("k", 1L, 3L), ("k", 2L, 3L)).toDF("k", "day", "n")
    val g2 = Anomaly.cusumShift(flat, Seq("k"), "day", "n")
      .select("max_cusum", "peak_day").as[(Long, Long)].collect()
    assert(g2.toSeq == Seq((0L, 1L)))
  }

  test("benfordDigits: digit from decimal string, exact ppm, pinned law") {
    val df = Seq(1.00, 1.23, 2.50, 9.99, 0.001).toDF("v") // 0.1 cents -> drop
    val got = Profile.benfordDigits(df, col("v"))
      .select("digit", "n", "observed_ppm", "benford_ppm", "abs_dev_ppm")
      .as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1, 2L, 500000L, 301030L, 198970L),
      (2, 1L, 250000L, 176091L, 73909L),
      (9, 1L, 250000L, 45757L, 204243L)))
  }

  test("ksTwoSample: exact integer cross-multiplied D") {
    val df = Seq((1, true), (2, true), (3, true), (2, false), (4, false))
      .toDF("v", "a")
    val got = Profile.ksTwoSample(df, col("v"), col("a"))
      .select("n_a", "n_b", "ks_num", "ks_ppm")
      .as[(Long, Long, Long, Long)].collect()
    // D = |F_A(3) - F_B(3)| = |1 - 1/2| -> num = |3*2 - 1*3| = 3, ppm 500000
    assert(got.toSeq == Seq((3L, 2L, 3L, 500000L)))
  }

  test("mannWhitney: hand-computed midranks incl. a cross-group tie run") {
    // values: a = {1, 3, 3}, b = {3, 5}; ranks: 1->1, the 3-run holds
    // ranks 2..4 (midrank 3, doubled 6), 5->5
    // R_a = 1 + 3 + 3 = 7 -> U_a = 7 - 3*4/2 = 1 -> u2_a = 2
    // R_b = 3 + 5 = 8    -> U_b = 8 - 2*3/2 = 5 -> u2_b = 10
    // tie_cubes = 3^3 - 3 = 24; invariant: 2 + 10 = 2*3*2
    val df = Seq((1, true), (3, true), (3, true), (3, false), (5, false))
      .toDF("v", "a")
    val got = Profile.mannWhitney(df, col("v"), col("a"))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq((3L, 2L, 2L, 10L, 24L)))
  }

  test("mannWhitney: property — doubled-U identity, null exclusion, and " +
    "brute-force midrank agreement on random data") {
    val rnd = new scala.util.Random(1234)
    for (round <- 0 until 3) {
      val rows = (0 until 200).map { i =>
        (if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(12)),
          rnd.nextBoolean())
      }
      val df = rows.map { case (v, a) => (v, a) }.toDF("v", "a")
      val got = Profile.mannWhitney(df, col("v"), col("a"))
        .as[(Long, Long, Long, Long, Long)].collect().head
      val (na, nb, u2a, u2b, tc) = got
      assert(u2a + u2b == 2 * na * nb, s"round $round identity: $got")
      // brute force: sort non-null values, assign doubled midranks
      val vs = rows.collect { case (Some(v), a) => (v, a) }
      assert(na == vs.count(_._2) && nb == vs.count(!_._2))
      val sorted = vs.sortBy(_._1)
      val dmByValue = sorted.map(_._1).zipWithIndex
        .groupBy(_._1).map { case (v, idx) =>
          v -> (2 * (idx.map(_._2).min + 1) + idx.size - 1).toLong
        }
      val r2a = vs.filter(_._2).map(x => dmByValue(x._1)).sum
      assert(u2a == r2a - na * (na + 1), s"round $round u2_a: $got vs $r2a")
      val tcExp = sorted.groupBy(_._1).values
        .map(g => g.size.toLong).map(t => t * t * t - t).sum
      assert(tc == tcExp, s"round $round ties: $got vs $tcExp")
    }
  }

  test("zipfOctaves: rank octaves via bin-length, deterministic ties") {
    val docs = Seq(("s", "a a a b b c")).toDF("source", "text")
    val got = TextAnalysis.zipfOctaves(docs)
      .select("source", "octave", "n_tokens", "total_freq")
      .as[(String, Long, Long, Long)].collect().sortBy(_._2)
    // ranks: a=1 (octave 0), b=2, c=3 (octave 1)
    assert(got.toSeq == Seq(("s", 0L, 1L, 3L), ("s", 1L, 2L, 3L)))
  }

  test("Intervals.gaps: silent stretches between islands, strictly positive") {
    // key a: [1,3],[2,5] merge -> island [1,5]; [8,9] -> gap (5,8);
    // key b: single island -> no gap rows
    val iv = Seq(("a", 1, 3), ("a", 2, 5), ("a", 8, 9), ("b", 1, 2))
      .toDF("k", "s", "e")
    val got = graft.ops.Intervals.gaps(iv, col("k"), col("s"), col("e"))
      .select("key", "gap_seq", "gap_start", "gap_end")
      .as[(String, Long, Int, Int)].collect().toSeq
    assert(got == Seq(("a", 1L, 5, 8)))
  }

  test("timeWeightedAvg: step integral over span, span-0 pins to min") {
    // key k: v=100 cents for 3us, then 400 for 1us -> (300+400)/4 = 175
    val df = Seq(
      ("k", java.time.Instant.ofEpochSecond(0, 1000L), 1L, 1.00),
      ("k", java.time.Instant.ofEpochSecond(0, 4000L), 2L, 4.00),
      ("k", java.time.Instant.ofEpochSecond(0, 5000L), 3L, 9.00),
      ("solo", java.time.Instant.ofEpochSecond(0, 7000L), 4L, 2.50))
      .toDF("k", "ts", "id", "v")
    val got = graft.ops.EventAnalytics
      .timeWeightedAvg(df, "k", "ts", "id", "v")
      .select("k", "n_events", "span_us", "twa_cents")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // k: integral = 100*3 + 400*1 = 700 over span 4 -> 175
    assert(got == Seq(("k", 3L, 4L, 175L), ("solo", 1L, 0L, 250L)))
  }

  test("groupChecksum: order-insensitive, detects content drift") {
    val a = Seq(("g", "r1"), ("g", "r2"), ("h", "r3")).toDF("grp", "payload")
    val b = Seq(("g", "r2"), ("g", "r1"), ("h", "r3X")).toDF("grp", "payload")
    def sums(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Profile.groupChecksum(df, "grp", col("payload"))
        .select("grp", "n_rows", "xor_sum", "add_sum")
        .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val (sa, sb) = (sums(a), sums(b))
    assert(sa.head == sb.head)        // g: same rows, different order
    assert(sa(1) != sb(1))            // h: content drifted
    // xor alone is blind to duplicate pairs; the add digest catches them
    val dup = Seq(("g", "r1"), ("g", "r1"), ("g", "r2"), ("g", "r2"))
      .toDF("grp", "payload")
    val sd = sums(dup)
    assert(sd.head._3 == 0L && sd.head._4 != 0L)
  }

  test("JaroWinkler matches DuckDB jaro_winkler_similarity bit-for-bit") {
    // expectations probed from DuckDB (the oracle engine) — incl. the
    // pinned empty-vs-empty = 0, window-0 short strings, transposition
    // flooring, and the >0.7 boost threshold
    val cases = Seq(
      ("aeddcb bya", "aeddca", 0.92),
      ("a d", "aydzeacy", 0.6388888888888888),
      ("xb", "byb", 0.0),
      ("eaz b", "yb exdbad", 0.5333333333333333),
      ("b", "yez", 0.0),
      ("xxdeb", "c", 0.0),
      ("ye", "dxadax", 0.0),
      ("cecd  eyyx", "cecd dc zbab", 0.8200000000000001),
      ("yb", "yyz e ab exb", 0.5277777777777778),
      ("ae", "c be d", 0.5555555555555555),
      ("axzabxedad", "bb", 0.5333333333333333),
      ("", "ccz ce yd de", 0.0),
      ("", "", 0.0),
      ("xz zbddbxa", "xz zbddabadbax", 0.9228571428571428),
      ("zd", "czdz", 0.8333333333333334),
      ("byx", "by", 0.9111111111111111),
      ("bayxbddd zc", "bayxb", 0.890909090909091),
      ("dbz", "dba abdc", 0.6388888888888888),
      ("yacyaye", "zey", 0.4920634920634921),
      ("zcdeda axa", "zcdedaz  ca bcbbd", 0.8541176470588235),
      ("aby xedxd", "eyc", 0.48148148148148145),
      ("xbaz", "bb d ec", 0.46428571428571425),
      ("a ebcebb c", "a ebceedx", 0.8533333333333333),
      ("zeabyeaax", "cecz", 0.40740740740740744),
      ("abbc a", "x cycaex", 0.5138888888888888),
      ("xddbx ycdccy", "xddbx ", 0.9),
      ("ydecbyazddz", "xedda", 0.5131313131313131),
      ("ebex y", "ebexabe", 0.8476190476190476),
      ("byxx", "by", 0.8666666666666667),
      ("ydeaya", "yded", 0.825),
      ("x", "xbe eyxye", 0.7333333333333334),   // boost on 1-char match
      ("ycey a", "yceeedyxzzzd", 0.6666666666666666),
      ("cbe xbdeddca", "cbe xbadzbzydyzyd", 0.8643137254901961),
      ("bydc za dbz", "bydc ", 0.890909090909091),
      ("xz y", "xzzczzede zd", 0.5555555555555555),
      ("e", "dexx bccdyc", 0.6969696969696969),  // jaro<=0.7: no boost
      ("y", "x zyad", 0.0),
      ("ayzaxe", "ayzyy  dzdeyzay", 0.6444444444444445),
      ("yczc ayaby", "yczc czcaeyxdzxxy", 0.8541176470588235),
      ("martha", "marhta", 0.9611111111111111),
      ("dwayne", "duane", 0.8400000000000001),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("CRAZY", "CRAZE", 0.92),
      ("abab", "baba", 0.8333333333333334),      // boost blocked: prefix 0
      ("abcvwxyz", "cabvwxyz", 0.9583333333333334), // t2=3 floors to t=1
      // Small-path pins with NON-ASCII bytes (≤64 bytes, so these hit the
      // bitmask path — they pin its byte semantics on multi-byte UTF-8;
      // probed from DuckDB like the rest)
      ("café au lait", "cafe au lait", 0.9446581196581196),
      ("überstraße", "uberstrasse", 0.797979797979798),
      // GENERIC-path pins (>64 BYTES — the only trigger for the generic
      // byte loop); the last two put multi-byte UTF-8 inside the match
      // window so the generic path's non-ASCII byte semantics are pinned
      // directly, not just via ASCII-dominant strings
      ("a" * 70 + " quick brown fox", "a" * 70 + " quick brown vixen",
        0.9862579281183932),
      ("x" * 65, "x" * 64 + "y", 0.9938461538461538),
      ("café " + "a" * 62 + " latté", "cafe " + "a" * 62 + " latte",
        0.9811628614916286),
      ("über" * 20, "uber" * 20, 0.7833333333333333))
    for ((a, b, want) <- cases) {
      val got = JaroWinklerUtil.similarity(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      assert(got == want, s"jw('$a','$b') = $got, duckdb = $want")
      // symmetry
      val rev = JaroWinklerUtil.similarity(
        org.apache.spark.unsafe.types.UTF8String.fromString(b),
        org.apache.spark.unsafe.types.UTF8String.fromString(a))
      assert(rev == got, s"jw not symmetric on ('$a','$b')")
    }
  }

  test("jaroWinklerPairs: blocked, thresholded, codegen expression path") {
    val df = Seq(
      (1L, "alpha beta"), (2L, "alpha betta"), (3L, "alpha zzzqq"),
      (4L, "gamma beta")).toDF("id", "name")
    val got = Fuzzy.jaroWinklerPairs(df, "id", "name",
        split(col("name"), " ").getItem(0), minSimPpm = 900000L)
      .select("id_a", "id_b", "jw_ppm").as[(Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2))
    def ppm(a: String, b: String): Long =
      math.round(JaroWinklerUtil.similarity(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b)) * 1e6)
    // block "alpha": pairs (1,2),(1,3),(2,3); block "gamma" has one member
    val expected = Seq(
      (1L, 2L, ppm("alpha beta", "alpha betta")),
      (1L, 3L, ppm("alpha beta", "alpha zzzqq")),
      (2L, 3L, ppm("alpha betta", "alpha zzzqq")))
      .filter(_._3 >= 900000L)
    assert(got.toSeq == expected)
    assert(expected.exists(_._2 == 2L)) // the near-dup pair survives
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L)) // cross-block never pairs
  }

  test("sortedNeighborhoodPairs: only window-adjacent ranks pair; " +
    "rank is partitioning-invariant") {
    import graft.ops.Fuzzy
    // sort order by name: anna(1), annb(2), annc(3), zzz1(4), zzz2(5)
    val df = Seq((10L, "annc"), (11L, "anna"), (12L, "zzz1"),
      (13L, "annb"), (14L, "zzz2")).toDF("id", "name")
    val got = Fuzzy.sortedNeighborhoodPairs(df, "id", "name",
        sortKey = col("name"), window = 2, minSimPpm = 0L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // window=2 → only immediate successors in name order
    assert(got == Set((11L, 13L), (13L, 10L), (10L, 12L), (12L, 14L)))
    // window=3 adds the rank+2 pairs
    val w3 = Fuzzy.sortedNeighborhoodPairs(df, "id", "name",
        sortKey = col("name"), window = 3, minSimPpm = 0L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(w3 == got ++ Set((11L, 10L), (13L, 12L), (10L, 14L)))
    // similarity floor filters: ann*/zzz* neighbors score
    // jw(annX,annY) = 883333 ppm; annc→zzz1 has zero matches → 0
    val sim = Fuzzy.sortedNeighborhoodPairs(df, "id", "name",
        sortKey = col("name"), window = 2, minSimPpm = 880000L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sim == Set((11L, 13L), (13L, 10L), (12L, 14L)))
    // rank survives an adversarial pre-partitioning (offsets must cancel)
    val skewed = Fuzzy.sortedNeighborhoodPairs(df.repartition(7), "id",
        "name", sortKey = col("name"), window = 2, minSimPpm = 0L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(skewed == got)
  }

  test("joinCardinality: prediction equals the executed join, " +
    "one-sided keys drop out") {
    import graft.ops.Profile
    val l = Seq((1L, "x"), (1L, "y"), (2L, "z"), (9L, "only-left"))
      .toDF("k", "pay")
    val r = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "d"),
      (8L, "only-right")).toDF("k", "pay")
    val got = Profile.joinCardinality(l, r, "k", "k")
      .select("key", "n_left", "n_right", "n_pairs")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 2L, 3L, 6L), (2L, 1L, 1L, 1L)))
    val actual = l.join(r, "k").count()
    assert(got.map(_._4).sum == actual)
  }

  test("merkleRanges: root digest equals groupChecksum; a one-row edit " +
    "flips exactly its leaf-to-root path") {
    import graft.ops.Profile
    val rows = (0L until 64L).map(i => (i, s"payload-$i")).toDF("k", "v")
    val key = concat_ws("|", col("k").cast("string"), col("v"))
    val m = Profile.merkleRanges(rows, "k", key, bucketWidth = 8L,
        fanout = 4, levels = 3)
      .select("level", "bucket", "n_rows", "xor_sum", "add_sum")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(m.count(_._1 == 0L) == 8 && m.count(_._1 == 1L) == 2 &&
      m.count(_._1 == 2L) == 1)
    val root = m.find(_._1 == 2L).get
    val flat = Profile.groupChecksum(rows.withColumn("g", lit(1)), "g", key)
      .select("n_rows", "xor_sum", "add_sum")
      .as[(Long, Long, Long)].head()
    assert((root._3, root._4, root._5) == flat)
    // edit row k=13 (leaf 1 → l1 bucket 0 → root): only that path changes
    val edited = (0L until 64L)
      .map(i => (i, if (i == 13L) "TAMPERED" else s"payload-$i"))
      .toDF("k", "v")
    val m2 = Profile.merkleRanges(edited, "k", key, bucketWidth = 8L,
        fanout = 4, levels = 3)
      .select("level", "bucket", "xor_sum")
      .as[(Long, Long, Long)].collect().toSet
    val m1 = m.map(t => (t._1, t._2, t._4)).toSet
    val changed = (m1 -- m2).map(t => (t._1, t._2))
    assert(changed == Set((0L, 1L), (1L, 0L), (2L, 0L)))
  }

  test("constraintAudit: one scan, null predicates count as violations") {
    import graft.ops.Profile
    val df = Seq(
      (1L, Some(5.0), "A"), (2L, Some(-1.0), "A"),  // neg price violates
      (3L, None, "B"),                               // null → violation
      (4L, Some(2.0), "X"))                          // bad flag
      .toDF("id", "price", "flag")
    val got = Profile.constraintAudit(df, Seq(
        "flag_ok" -> col("flag").isin("A", "B"),
        "price_pos" -> (col("price") > 0)))
      .select("rule", "n_rows", "n_violations", "violation_ppm")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      ("flag_ok", 4L, 1L, 250000L),
      ("price_pos", 4L, 2L, 500000L))) // -1.0 AND the null row
  }

  test("fdViolations: key FDs hold, mixed dependents counted with fan-out") {
    import graft.ops.Profile
    val df = Seq(("s1", "en"), ("s1", "en"), ("s2", "en"), ("s2", "de"),
      ("s2", "fr"), ("s3", "zh")).toDF("src", "lang")
    val r = Profile.fdViolations(df, Seq("src"), "lang")
      .select("n_determinants", "n_violating", "violating_ppm",
        "max_variants")
      .as[(Long, Long, Long, Long)].head()
    assert(r == ((3L, 1L, 333333L, 3L)))
    // a real key: id → lang trivially functional
    val ok = Profile.fdViolations(df.withColumn("id",
        monotonically_increasing_id()), Seq("id"), "lang")
      .select("n_violating").as[Long].head()
    assert(ok == 0L)
  }

  test("corrPairsByGroup: segments keep their own correlations " +
    "(Simpson's-paradox shape)") {
    import graft.ops.Profile
    // group a: y = x (corr +1); group b: y = -x (corr -1); pooled ~0
    val df = (1 to 20).flatMap(i => Seq(
      ("a", i.toDouble, i.toDouble), ("b", i.toDouble, -i.toDouble)))
      .toDF("g", "x", "y")
    val got = Profile.corrPairsByGroup(df, "g", Seq("x", "y"))
      .select("g", "corr").as[(String, Double)].collect().toMap
    assert(math.abs(got("a") - 1.0) < 1e-12)
    assert(math.abs(got("b") + 1.0) < 1e-12)
    val pooled = Profile.corrPairs(df, Seq("x", "y"))
      .select("corr").as[Double].head()
    assert(math.abs(pooled) < 0.2) // the mix hides both segment signals
  }

  test("overlapJoin: closed-range touch matches, disjoint/cross-key do " +
    "not, bucket-spanning pairs dedup") {
    import graft.ops.Intervals
    val l = Seq(("k1", 1L, 0L, 10L), ("k1", 2L, 40L, 41L),
      ("k2", 3L, 0L, 100L)).toDF("k", "id", "s", "e")
    val r = Seq(("k1", 11L, 10L, 20L),  // touches l1 at 10 → match
      ("k1", 12L, 25L, 30L),            // disjoint from both
      ("k1", 13L, 0L, 60L),             // spans many buckets; hits l1+l2
      ("k3", 14L, 0L, 100L))            // different key
      .toDF("k", "id", "s", "e")
    val got = Intervals.overlapJoin(l, r, "k", "id", "s", "e",
        "id", "s", "e", bucketWidth = 7L)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSeq
    assert(got.size == got.distinct.size) // no duplicate pairs
    assert(got.toSet == Set((1L, 11L), (1L, 13L), (2L, 13L)))
  }

  test("chiSquareCells: perfectly independent table reads 0 everywhere; " +
    "hand-computed 2x2; zero cells contribute r*c*1e6/N^2") {
    import graft.ops.Profile
    // independent: every (row, col) cell = 5, margins 10x10, N = 20 →
    // o*N - r*c = 100 - 100 = 0 for every cell
    val indep = (for (r <- Seq("a", "b"); c <- Seq("x", "y");
                      _ <- 0 until 5) yield (r, c)).toDF("r", "c")
    val t0 = Profile.chiSquareCells(indep, col("r"), col("c"))
      .as[(String, String, Long, Long)].collect()
    assert(t0.length == 4 && t0.forall(_._4 == 0L))
    // skewed 2x2: a→x 8, a→y 2, b→x 2, b→y 8; N=20, all margins 10
    // each cell: (o*20 - 100)^2 / (20*100) → (60)^2/2000 = 1.8 → 1800000
    val skew = (Seq.fill(8)(("a", "x")) ++ Seq.fill(2)(("a", "y")) ++
      Seq.fill(2)(("b", "x")) ++ Seq.fill(8)(("b", "y"))).toDF("r", "c")
    val t1 = Profile.chiSquareCells(skew, col("r"), col("c"))
      .as[(String, String, Long, Long)].collect()
    assert(t1.forall(_._4 == 1800000L), t1.mkString(","))
    val sum1 = Profile.chiSquareSummary(skew, col("r"), col("c"))
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(sum1 == ((20L, 2L, 2L, 1L, 7200000L))) // chi2 = 7.2, dof 1
    // zero cell: a→x 6, a→y 2, b→x 2 (b→y ABSENT) — the missing cell
    // must appear with n_obs = 0 and term = floor(1e6*(r*c)^2/(N*r*c))
    //   = floor(1e6 * r*c / N) ... r(b)=2, c(y)=2, N=10 → (0*10-4)^2=16;
    //   N*r*c = 40 → 16e6/40 = 400000
    val hole = (Seq.fill(6)(("a", "x")) ++ Seq.fill(2)(("a", "y")) ++
      Seq.fill(2)(("b", "x"))).toDF("r", "c")
    val t2 = Profile.chiSquareCells(hole, col("r"), col("c"))
      .as[(String, String, Long, Long)].collect()
      .map(x => (x._1, x._2) -> (x._3, x._4)).toMap
    assert(t2(("b", "y")) == ((0L, 400000L)))
    assert(t2.size == 4)
  }

  test("overlapJoin: negative or inverted bounds raise instead of " +
    "silently mis-bucketing") {
    import graft.ops.Intervals
    val ok = Seq(("k", 1L, 0L, 5L)).toDF("k", "id", "s", "e")
    for (badRow <- Seq(("k", 9L, -3L, 5L), ("k", 9L, 7L, 5L))) {
      val bad = Seq(badRow).toDF("k", "id", "s", "e")
      val ex = intercept[Exception] {
        Intervals.overlapJoin(bad, ok, "k", "id", "s", "e",
          "id", "s", "e", bucketWidth = 7L).collect()
      }
      assert(ex.getMessage.contains("overlapJoin") ||
        Option(ex.getCause).exists(_.getMessage.contains("overlapJoin")))
    }
  }

  test("histogramFixed: exact bin edges, out-of-range clamps to edge bins") {
    import graft.ops.Profile
    val df = Seq(("g", -5.0), ("g", 0.0), ("g", 4.99), ("g", 5.0),
      ("g", 99.99), ("g", 150.0)).toDF("k", "v")
    // lo=0, hi=10000 cents, 10 bins → width 1000 cents (10.00 units)
    val got = Profile.histogramFixed(df, "k", "v", 0L, 10000L, 10)
      .select("bin", "n_rows").as[(Long, Long)].collect().sortBy(_._1).toSeq
    // -5.0 clamps to bin 0; 0, 4.99, 5.0 in bin 0; 99.99 bin 9; 150 clamps
    assert(got == Seq((0L, 4L), (9L, 2L)))
  }

  test("hllAudit: exact counts exact, boolean bound holds at small and " +
    "generous rsd; impossible rsd rejected") {
    val df = (1 to 500).map(i => ("g" + (i % 3), i.toLong % 97))
      .toDF("k", "v")
    val got = Profile.hllAudit(df, "k", col("v"), rsd = 0.05)
      .select("k", "exact_n", "within_bound")
      .as[(String, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got.map(r => (r._1, r._2)) ==
      Seq(("g0", 97L), ("g1", 97L), ("g2", 97L)))
    // 97 distinct at rsd 0.05: 3σ+4 abs slack — must certify
    assert(got.forall(_._3), s"bound failed: $got")
    val ex = intercept[IllegalArgumentException] {
      Profile.hllAudit(df, "k", col("v"), rsd = 0.5)
    }
    assert(ex.getMessage.contains("rsd"))
  }

  test("kAnonymity: class census, at-risk ppm exact, NULL QI is a class") {
    val df = Seq(
      ("US", "A"), ("US", "A"), ("US", "A"),   // class of 3: safe at k=2
      ("DE", "B"),                             // class of 1: at risk
      (null, "B"), (null, "B")                 // NULL class of 2: safe
    ).toDF("nat", "seg")
    val got = Profile.kAnonymity(df, Seq("nat", "seg"), k = 2L)
      .select("n_rows", "n_classes", "min_class_size",
        "n_violating_classes", "n_rows_at_risk", "at_risk_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(got == ((6L, 3L, 1L, 1L, 1L, 166666L)))
    val ex = intercept[IllegalArgumentException] {
      Profile.kAnonymity(df, Seq("nat", "seg"), k = 1L)
    }
    assert(ex.getMessage.contains("k must be"))
  }

  test("ksTwoSampleByGroup: per-group statistics in one plan — " +
    "identical distributions read 0, disjoint supports read 1e6") {
    val rows =
      // group g1: A = {1,2}, B = {1,2} → identical → ks 0
      Seq(("g1", 1L, true), ("g1", 2L, true),
        ("g1", 1L, false), ("g1", 2L, false),
      // group g2: A = {1,2}, B = {3,4} → disjoint → ks 1e6
        ("g2", 1L, true), ("g2", 2L, true),
        ("g2", 3L, false), ("g2", 4L, false),
      // group g3: A = {1,1,3}, B = {1,3,3}: max |cuma*nb - cumb*na|
      //   at v=1: |2*3-1*3| = 3 → ks_ppm = 1e6*3 div 9 = 333333
        ("g3", 1L, true), ("g3", 1L, true), ("g3", 3L, true),
        ("g3", 1L, false), ("g3", 3L, false), ("g3", 3L, false))
        .toDF("g", "v", "isa")
    val got = Profile.ksTwoSampleByGroup(rows, "g", col("v"), col("isa"))
      .select("g", "n_a", "n_b", "ks_ppm")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("g1", 2L, 2L, 0L), ("g2", 2L, 2L, 1000000L),
      ("g3", 3L, 3L, 333333L)))
  }

  test("filterAttrition: FIRST failing rule wins, NULL predicate " +
    "fails the row, reserved label rejected") {
    val df = Seq(
      (1L, Some(10L), "en"), // fails r1 (len < 20) AND r2 — counts as r1
      (2L, Some(30L), "xx"), // passes r1, fails r2
      (3L, Some(30L), "en"), // kept
      (4L, None: Option[Long], "en") // NULL r1 → too_short
    ).toDF("id", "len", "lang")
    val got = Profile.filterAttrition(df, Seq(
        "too_short" -> (col("len") >= 20),
        "bad_lang" -> (col("lang") === "en")))
      .select("rule_idx", "reason", "n_rows", "share_ppm")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, "too_short", 2L, 500000L),
      (1L, "bad_lang", 1L, 250000L), (2L, "kept", 1L, 250000L)))
    val ex = intercept[IllegalArgumentException] {
      Profile.filterAttrition(df, Seq("kept" -> (col("len") >= 0)))
    }
    assert(ex.getMessage.contains("reserved"))
  }

  test("filterAttrition: a rule that attributes ZERO rows still emits " +
    "its row (n_rows 0), incl. on empty input") {
    val df = Seq(
      (1L, Some(10L), "en"),
      (2L, Some(30L), "en")
    ).toDF("id", "len", "lang")
    val got = Profile.filterAttrition(df, Seq(
        "too_short" -> (col("len") >= 20),
        "never_fires" -> lit(true), // nothing can fail this rule
        "bad_lang" -> (col("lang") === "en")))
      .select("rule_idx", "reason", "n_rows", "share_ppm")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, "too_short", 1L, 500000L),
      (1L, "never_fires", 0L, 0L), (2L, "bad_lang", 0L, 0L),
      (3L, "kept", 1L, 500000L)))
    // empty input: every declared rule plus kept at 0, no div-by-zero
    val empty = Profile.filterAttrition(df.filter(lit(false)), Seq(
        "too_short" -> (col("len") >= 20)))
      .select("rule_idx", "reason", "n_rows", "share_ppm")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(empty == Seq((0L, "too_short", 0L, 0L), (1L, "kept", 0L, 0L)))
  }

  test("cramersV2: independence reads 0; a diagonal 2x2 reads 1e6 ppm " +
    "(V^2 = 1 at perfect association)") {
    val indep = (for { r <- Seq("a", "b"); c <- Seq("x", "y"); _ <- 1 to 5 }
      yield (r, c)).toDF("r", "c")
    val v0 = Profile.cramersV2(indep, col("r"), col("c"))
      .select("v2_ppm").as[Long].collect().head
    assert(v0 == 0L)
    val diag = (Seq.fill(7)(("a", "x")) ++ Seq.fill(9)(("b", "y")))
      .toDF("r", "c")
    val v1 = Profile.cramersV2(diag, col("r"), col("c"))
      .select("n", "dof", "v2_ppm").as[(Long, Long, Long)].collect().head
    // chi2 = N at perfect association of a 2x2 → chi2_ppm = 1e6·N (up to
    // per-cell floors) → v2_ppm = 1e6 − (floor loss < 4)
    assert(v1._1 == 16L && v1._2 == 1L)
    assert(v1._3 >= 999996L && v1._3 <= 1000000L, s"v2_ppm=${v1._3}")
  }
}
