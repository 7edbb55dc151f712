package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.etl.Stages
import graft.ops.TopK
import graft.sources.LookupCsv

/** CSV lookup source (S4), Bloom-prefiltered dedup, typed top-k Aggregator,
  * approx-distinct error bound.
  */
class MiscOpsSpec extends SparkSpec {
  import spark.implicits._

  test("redactPii scrubs emails/ips/digit-runs in order, counts per category") {
    val docs = Seq(
      (1L, "mail bob.smith+x@corp.example.org now"),
      (2L, "server 192.168.1.100 acct 12345678 and 999"),
      (3L, "clean text only"),
      (4L, "u9999999@d.co then 10.0.0.1")) // digits inside email count ONCE
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.redactPii(docs)
      .select($"doc_id", $"n_email", $"n_ipv4", $"n_id_number", $"text_redacted")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(t => t._1 -> t).toMap
    assert(got(1L) == ((1L, 1L, 0L, 0L, "mail <EMAIL> now")))
    assert(got(2L) == ((2L, 0L, 1L, 1L, "server <IPV4> acct <ID_NUMBER> and 999")))
    assert(got(3L) == ((3L, 0L, 0L, 0L, "clean text only")))
    assert(got(4L) == ((4L, 1L, 1L, 0L, "<EMAIL> then <IPV4>")))
  }

  test("stripMarkup: script body's bare '<' is code not markup; tags " +
    "inside script don't count; case-insensitive elements; ws collapse") {
    val docs = Seq(
      (1L, "<html><SCRIPT>if(a<9){b=\"<i><a href=x>\"}</SCRIPT><p>hello   " +
        "<b>world</b></p><a href=\"/x\">link</a></html>"),
      (2L, "<style>p{color:red}</style>plain  text"),
      (3L, "no markup at all"))
      .toDF("doc_id", "html")
    val got = graft.ops.TextAnalysis.stripMarkup(docs)
      .as[(Long, Long, Long, Long, Long, String)].collect()
      .map(t => t._1 -> t).toMap
    // doc 1: 1 script (removed whole, incl. its '<i>', '<a href=x>' and
    // bare '<'); 1 link — the script-body anchor is code, not structure;
    // remaining tags: html, p, b, /b, /p, a, /a, /html = 8
    assert(got(1L) == ((1L, 1L, 0L, 1L, 8L, "hello world link")))
    assert(got(2L) == ((2L, 0L, 0L, 0L, 0L, "plain text")))
    assert(got(3L) == ((3L, 0L, 0L, 0L, 0L, "no markup at all")))
  }

  test("stripMarkup: comments vanish whole AFTER elements ('>' in a " +
    "comment body doesn't leak; a dead script inside a comment counts — " +
    "the documented imprecision); an unmatched '<!--' in script code " +
    "cannot splice prose away; entities decode once, &amp; last") {
    val docs = Seq(
      // a comment spanning lines, holding a dead script and a bare '>'
      (1L, "<p>keep</p><!-- v2\n<script>alert(1)</script> x > y --><p>tail</p>"),
      // the double-escape: &amp;lt; must come out as the TEXT '&lt;'
      (2L, "<p>Q&amp;A: 1 &lt; 2 &gt; 0, &quot;x&quot;, it&#39;s" +
        "&nbsp;ok, raw: &amp;lt;</p>"),
      // a live script NEXT TO a comment: both counted, both removed
      (3L, "<!-- note --><script>var a=1</script>body"),
      // the r14 review case: an UNMATCHED '<!--' inside script code must
      // not splice with the prose comment's '-->' and eat 'hello' — the
      // element pass removes the script (and its stray '<!--') first
      (4L, "<script>document.write(\"<!--\")</script><p>hello</p>" +
        "<!-- note -->"))
      .toDF("doc_id", "html")
    val got = graft.ops.TextAnalysis.stripMarkup(docs)
      .as[(Long, Long, Long, Long, Long, String)].collect()
      .map(t => t._1 -> t).toMap
    assert(got(1L) == ((1L, 1L, 1L, 0L, 4L, "keep tail")))
    assert(got(2L) == ((2L, 0L, 0L, 0L, 2L,
      "Q&A: 1 < 2 > 0, \"x\", it's ok, raw: &lt;")))
    assert(got(3L) == ((3L, 1L, 1L, 0L, 0L, "body")))
    assert(got(4L) == ((4L, 1L, 1L, 0L, 2L, "hello")))
  }

  test("stripMarkup numeric refs: decimal/hex/mixed-case decode, " +
    "double-escapes stay single-decoded BOTH ways, malformed and " +
    "out-of-range refs stay literal") {
    val docs = Seq(
      (1L, "<p>caf&#233; r&#xE9;sum&#Xe9; it&#8217;s 1 &#60; 2</p>"),
      // &#38;amp; is ONE decode of &#38; -> the literal text '&amp;'
      // (the old chained form double-decoded this to '&');
      // &amp;#233; is ONE decode of &amp; -> the literal '&#233;'
      (2L, "<p>&#38;amp; and &amp;#233;</p>"),
      // malformed: empty digits, bad hex digit, overflow, surrogate,
      // unterminated, bare ampersand, unknown named entity
      (3L, "<p>&#; &#x; &#xZ9; &#1114112; &#xD800; &#12 a & b &foo;</p>"),
      // boundary: max valid code point decodes
      (4L, "<p>&#x10FFFF;</p>"))
      .toDF("doc_id", "html")
    val got = graft.ops.TextAnalysis.stripMarkup(docs)
      .as[(Long, Long, Long, Long, Long, String)].collect()
      .map(t => t._1 -> t._6).toMap
    assert(got(1L) == "café résumé it’s 1 < 2")
    assert(got(2L) == "&amp; and &#233;")
    assert(got(3L) == "&#; &#x; &#xZ9; &#1114112; &#xD800; &#12 a & b &foo;")
    assert(got(4L) == new String(Character.toChars(0x10FFFF)))
  }

  test("withinDocRepetition: hand-computed line/char/word repeat shares; " +
    "no census, no cross-doc influence") {
    val docs = Seq(
      // 4 lines, 'aa bb' repeated twice -> 1 dup occurrence of 5 chars
      // out of 4 lines / 19 line chars; words: aa bb cc aa bb dd dd x ->
      // 8 words, distinct {aa,bb,cc,dd,x}=5 -> 3 repeats
      (1L, "aa bb\ncc\naa bb\ndd dd x"),
      // all-distinct doc: every ppm 0
      (2L, "one two\nthree"),
      // fully repeated: 3 lines 1 distinct -> 2/3 dup lines; chars 6
      // total, 2 chars distinct -> 4/6 dup chars; keep = false at 30%
      (3L, "zz\nzz\nzz"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis
      .withinDocRepetition(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect()
      .map(t => t._1 -> t).toMap
    assert(got(1L) == ((1L, 4L, 8L, 250000L, 263157L, 375000L, true)))
    assert(got(2L) == ((2L, 2L, 3L, 0L, 0L, 0L, true)))
    assert(got(3L) == ((3L, 3L, 3L, 666666L, 666666L, 666666L, false)))
    // cross-doc independence: doc 2's values are identical with doc 3
    // absent (q249 would differ — that is the point of the pair)
    val alone = graft.ops.TextAnalysis
      .withinDocRepetition(docs.filter($"doc_id" === 2L), "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect()
    assert(alone.head == got(2L))
    // a non-whitespace sep must NOT fuse words across line boundaries
    // (r14 review case): 'aa|aa bb' -> words [aa, aa, bb], repeat seen
    val piped = graft.ops.TextAnalysis.withinDocRepetition(
      Seq((9L, "aa|aa bb")).toDF("doc_id", "text"), "doc_id", "text",
      sep = "|")
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().head
    assert(piped == ((9L, 2L, 3L, 0L, 0L, 333333L, true)), s"$piped")
  }

  test("unigramSurprisal: hand-computed floor-log2 bits; rare words " +
    "score high, the corpus-dominant word scores zero") {
    // corpus: 'a' x8, 'b' x4, 'rare' x1, 'c' x3 -> N = 16
    // bits: a -> log2(16 div 8)=1, b -> log2(4)=2, c -> log2(16 div 3
    // = 5)=2, rare -> log2(16)=4
    val docs = Seq(
      (1L, "a a a a b b c"),     // 4*1 + 2*2 + 1*2 = 10 bits / 7 words
      (2L, "a a a a b b c c"),   // 4 + 4 + 4 = 12 bits / 8 words
      (3L, "rare"))              // 4 bits / 1 word
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis
      .unigramSurprisal(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().map(t => t._1 -> t).toMap
    assert(got(1L) == ((1L, 7L, 10L, 1428571L)))
    assert(got(2L) == ((2L, 8L, 12L, 1500000L)))
    assert(got(3L) == ((3L, 1L, 4L, 4000000L)))
  }

  test("dedupSpans keeps the corpus-wide FIRST occurrence of each span") {
    val docs = Seq(
      (1L, "alpha\nshared\nbeta"),
      (2L, "shared\ngamma"),   // 'shared' first seen in doc 1 pos 1
      (3L, "shared"))           // fully boilerplate -> empty survivor
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup.dedupSpans(docs, "doc_id", "text")
      .select($"doc_id", $"n_spans", $"n_kept", $"text_deduped")
      .as[(Long, Long, Long, String)].collect().map(t => t._1 -> t).toMap
    assert(got(1L) == ((1L, 3L, 3L, "alpha\nshared\nbeta")))
    assert(got(2L) == ((2L, 2L, 1L, "gamma")))
    assert(got(3L) == ((3L, 1L, 0L, "")))
    // deterministic under repartitioning (first-occurrence is a total order)
    val re = graft.ops.Dedup.dedupSpans(docs.repartition(7), "doc_id", "text")
      .select($"doc_id", $"text_deduped").as[(Long, String)].collect().toMap
    assert(re(2L) == "gamma" && re(3L) == "")
  }

  test("LookupCsv reads headerless key,value and dedups keys first-wins") {
    val dir = Files.createTempDirectory("graft-csv")
    Files.write(dir.resolve("uid_serial.csv"),
      "U1,S1\nU2,S2\nU1,S9\n".getBytes)
    val lk = LookupCsv.read(spark, dir.toString + "/uid_serial.csv", "uid", "serial")
    val got = lk.as[(String, String)].collect().toMap
    assert(got == Map("U1" -> "S1", "U2" -> "S2"))
  }

  test("ingestDedupBloom returns exactly what the exact anti-join returns") {
    val incoming = (1 to 500).map(i => (s"r$i", "DRM"))
      .toDF("manufacturer_ref", "device_type")
    val ledger = incoming.filter(pmod(expr("cast(substring(manufacturer_ref, 2, 10) as int)"), lit(3)) === 0)
      .select(sha2(concat($"device_type", $"manufacturer_ref"), 256).as("hash"))
    val exact = Stages.ingestDedup(incoming, ledger)
      .select("manufacturer_ref").as[String].collect().toSet
    val bloom = Stages.ingestDedupBloom(incoming, ledger,
      expectedLedgerItems = 1000, fpp = 0.03)
      .select("manufacturer_ref").as[String].collect().toSet
    assert(bloom == exact)
    assert(exact.nonEmpty && exact.size < 500)
  }

  test("TopKAgg keeps the k best per group with deterministic tiebreak") {
    val data = Seq(
      ("a", 1.0, 1L), ("a", 3.0, 2L), ("a", 2.0, 3L), ("a", 3.0, 4L),
      ("b", 5.0, 5L))
      .toDF("g", "score", "id")
    val topk = TopK.TopKAgg(2).toColumn
    val got = data.as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(topk)
      .collect().toMap
    // equal scores 3.0: lower id first
    assert(got("a") == Seq((3.0, 2L), (3.0, 4L)))
    assert(got("b") == Seq((5.0, 5L)))
  }

  test("TopKAgg evicts the largest id when equal scores straddle the k boundary") {
    // 3 equal scores, k=2: the keep-contract (score desc, id asc) must keep
    // ids 1,2 and evict 3 — an inverted tiebreak would keep 2,3
    val data = Seq(("a", 3.0, 3L), ("a", 3.0, 1L), ("a", 3.0, 2L))
      .toDF("g", "score", "id")
    val got = data.as[(String, Double, Long)]
      .groupByKey(_._1).mapValues(t => (t._2, t._3))
      .agg(TopK.TopKAgg(2).toColumn)
      .collect().toMap
    assert(got("a") == Seq((3.0, 1L), (3.0, 2L)))
  }

  test("TopKAgg is partition-count independent (heap merge correctness)") {
    val rows = (1 to 1000).map(i => ("g", (i * 37 % 1000).toDouble, i.toLong))
    def run(parts: Int) = rows.toDF("g", "score", "id")
      .repartition(parts).as[(String, Double, Long)]
      .groupByKey(_._1).mapValues(t => (t._2, t._3))
      .agg(TopK.TopKAgg(5).toColumn).collect().toMap.apply("g")
    assert(run(1) == run(7))
  }

  test("saltedJoin equals the plain join on a skewed key distribution") {
    // 90% of the big side hits one hot key
    val big = (1 to 2000).map(i => (if (i % 10 == 0) s"k$i" else "HOT", i))
      .toDF("k", "v")
    val small = Seq(("HOT", "hot-dim"), ("k10", "ten"), ("k20", "twenty"))
      .toDF("k", "dim")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"k", $"v", $"dim").as[(String, Int, String)].collect().sorted.toSeq
    val plain = canon(big.join(small, Seq("k")))
    val salted = canon(graft.ops.Skew.saltedJoin(big, small, Seq("k"), saltBuckets = 8))
    assert(salted == plain && plain.nonEmpty)
    val leftPlain = canon(big.join(small, Seq("k"), "left")
      .na.fill("∅", Seq("dim")))
    val leftSalted = canon(graft.ops.Skew.saltedJoin(big, small, Seq("k"), 8, "left")
      .na.fill("∅", Seq("dim")))
    assert(leftSalted == leftPlain)
  }

  test("Fuzzy.editDistancePairs is complete vs brute force (subs AND indels)") {
    // strings engineered to need every edit kind: substitutions, inserts,
    // deletes, transposition-ish (lev 2), plus length-2 gaps that a naive
    // length-band blocking would miss and decoys beyond the threshold
    val strs = Seq(
      1L -> "kitten", 2L -> "sitten", 3L -> "sittin", 4L -> "kiten",
      5L -> "kittten", 6L -> "ktiten", 7L -> "mitten", 8L -> "kitt",
      9L -> "banana", 10L -> "bananas", 11L -> "bananza", 12L -> "bonanza",
      13L -> "abcdef", 14L -> "abdcef", 15L -> "xyz", 16L -> "zyx")
    val df = strs.toDF("id", "s").withColumn("blk", lit(0))
    val got = graft.ops.Fuzzy.editDistancePairs(df, "id", "s", Seq("blk"), 2)
      .select($"id_a", $"id_b", $"dist").as[(Long, Long, Int)].collect().toSet
    val lev = { (a: String, b: String) =>
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
      dist = lev(sa, sb) if dist <= 2
    } yield (ia, ib, dist)).toSet
    assert(got == expected)
  }

  test("AsOf.join matches brute force incl. timestamp ties and no-match rows") {
    val rng = new scala.util.Random(31)
    val right = (1L to 300L).map(i =>
      (rng.nextInt(5).toLong, rng.nextInt(40).toLong, i, rng.nextDouble()))
    val left = (1L to 100L).map(i =>
      (rng.nextInt(5).toLong, rng.nextInt(40).toLong, 1000L + i))
    val lDf = left.toDF("k", "lts", "q_id")
    val rDf = right.toDF("k", "rts", "rid", "v")
    val got = graft.ops.AsOf.join(lDf, rDf, Seq("k"),
      leftTs = "lts", rightTs = "rts", tiebreak = "rid", payload = Seq("v"))
      .select($"q_id", $"asof_rts", $"asof_rid", $"asof_v")
      .as[(Long, Option[Long], Option[Long], Option[Double])].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    val expected = left.map { case (k, lts, qid) =>
      val cands = right.filter(r => r._1 == k && r._2 <= lts)
      val best = if (cands.isEmpty) (None, None, None)
      else {
        val b = cands.maxBy(r => (r._2, r._3)) // latest ts, largest rid tie
        (Some(b._2), Some(b._3), Some(b._4))
      }
      qid -> best
    }.toMap
    assert(got == expected)
  }

  test("AsOf.join attributes the matched row atomically (null payloads, null rts)") {
    // rid=2 is the latest preceding row but carries a NULL payload: the
    // result must report (ts=20, rid=2, v=NULL), never mix in rid=1's value
    val right = Seq((1L, Some(10L), 1L, Some(5.0)), (1L, Some(20L), 2L, None),
      // null right timestamp: excluded entirely ("at or before" undefined)
      (2L, None, 9L, Some(7.0)))
      .toDF("k", "rts", "rid", "v")
    val left = Seq((1L, 30L, 100L), (2L, 5L, 200L)).toDF("k", "lts", "q_id")
    val got = graft.ops.AsOf.join(left, right, Seq("k"),
      leftTs = "lts", rightTs = "rts", tiebreak = "rid", payload = Seq("v"))
      .select($"q_id", $"asof_rts", $"asof_rid", $"asof_v")
      .as[(Long, Option[Long], Option[Long], Option[Double])].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(got(100L) == ((Some(20L), Some(2L), None)))   // atomic: rid=2's null v
    assert(got(200L) == ((None, None, None)))            // no phantom match
  }

  test("AsOf.join forward direction + horizon matches brute force") {
    val rng = new scala.util.Random(47)
    val right = (1L to 300L).map(i =>
      (rng.nextInt(5).toLong, rng.nextInt(40).toLong, i, rng.nextDouble()))
    val left = (1L to 100L).map(i =>
      (rng.nextInt(5).toLong, rng.nextInt(40).toLong, 1000L + i))
    val lDf = left.toDF("k", "lts", "q_id")
    val rDf = right.toDF("k", "rts", "rid", "v")
    val horizon = 6L
    val got = graft.ops.AsOf.join(lDf, rDf, Seq("k"),
      leftTs = "lts", rightTs = "rts", tiebreak = "rid",
      payload = Seq("v"), direction = "forward",
      maxDelta = Some(lit(horizon)))
      .select($"q_id", $"asof_rts", $"asof_rid", $"asof_v")
      .as[(Long, Option[Long], Option[Long], Option[Double])].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    val expected = left.map { case (k, lts, qid) =>
      val cands = right.filter(r =>
        r._1 == k && r._2 >= lts && r._2 <= lts + horizon)
      val best = if (cands.isEmpty) (None, None, None)
      else {
        val b = cands.minBy(r => (r._2, r._3)) // earliest ts, smallest rid
        (Some(b._2), Some(b._3), Some(b._4))
      }
      qid -> best
    }.toMap
    assert(got == expected)
    assert(expected.values.exists(_._1.isEmpty)) // horizon actually bites
    assert(expected.values.exists(_._1.nonEmpty))
  }

  test("modePerGroup: deterministic tiebreak, nulls excluded") {
    val df = Seq(("u1", Some("a")), ("u1", Some("a")), ("u1", Some("b")),
      ("u2", Some("z")), ("u2", Some("y")), // tie → smaller value wins
      ("u3", None), ("u3", Some("q")))      // null never the mode
      .toDF("g", "v")
    val got = graft.ops.Profile.modePerGroup(df, "g", "v")
      .select("g", "mode", "mode_count", "n_rows")
      .as[(String, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("u1", "a", 2L, 3L), ("u2", "y", 1L, 2L),
      ("u3", "q", 1L, 1L)))
  }

  test("theilSenPerKey: robust to the outlier that drags OLS") {
    // y = 2x exactly except one corrupted point (x=5, y=1000)
    val pts = Seq((0L, 0L), (1L, 2L), (2L, 4L), (3L, 6L), (4L, 8L),
      (5L, 1000L)).map { case (x, y) => ("k", x, y) }.toDF("g", "x", "y")
    val ts = graft.ops.Regression.theilSenPerKey(pts, col("g"), col("x"),
        col("y")).select("n_pairs", "slope_num", "slope_den")
      .as[(Long, Long, Long)].head()
    assert(ts._1 == 15L)
    // median slope is still exactly 2 (10 clean pairs vs 5 corrupted)
    assert(ts._2.toDouble / ts._3 == 2.0)
    val ols = graft.ops.Regression.fitLinePerKey(pts, col("g"), col("x"),
        col("y")).select("slope_ppm").as[Long].head()
    assert(ols > 100 * 1000000L) // OLS slope blown past 100
  }

  test("clusterQuality: tight clusters separate; lone cluster has null inter") {
    val embs = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.1f, 0.0f)),
      (3L, Array(10.0f, 10.0f)), (4L, Array(10.1f, 10.0f)))
      .toDF("vec_id", "embedding")
    val asg = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L))
      .toDF("vec_id", "cluster")
    val got = graft.ops.Similarity.clusterQuality(embs, asg, "vec_id",
        "embedding").select("cluster", "n_members", "intra_sum_sq",
        "min_inter_sq")
      .as[(Long, Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(got.map(_._2) == Seq(2L, 2L))
    // intra is tiny vs inter (clusters are 14 apart, members 0.1 apart)
    got.foreach { c => assert(c._4.get > 100L * c._3) }
    // one cluster only → no other centroid → null separation
    val lone = graft.ops.Similarity.clusterQuality(embs,
        asg.withColumn("cluster", lit(0L)), "vec_id", "embedding")
      .select("min_inter_sq").as[Option[Long]].collect().toSeq
    assert(lone == Seq(None))
  }

  test("charNgramLangId: rank profiles separate languages; penalty for " +
    "out-of-profile grams") {
    val train = Seq(
      (1L, "the the the cat sat on the mat with the hat", "en"),
      (2L, "der der der hund und die katze und der ball", "de"))
      .toDF("doc_id", "text", "lang")
    val docs = Seq(
      (10L, "the cat and the hat sat on the mat the cat"),
      (11L, "der hund und der ball und die katze der hund"),
      (12L, "xq")) // shorter than one trigram → all profiles tie at 0
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.charNgramLangId(train, docs)
      .select("doc_id", "pred_lang")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    // 12: no trigrams → no evidence → UNCLASSIFIED (absent), matching the
    // oracle's length>=3 gram derivation — never a coin-flip label
    assert(got == Seq((10L, "en"), (11L, "de")))
  }

  test("bootstrapDraws: every draw lands exactly once, on the brute-force row") {
    val df = Seq((1L, 10L), (2L, 1L), (3L, 100L), (4L, 50L))
      .toDF("id", "w")
    val got = graft.ops.Sampling.bootstrapDraws(df, "id", col("w"),
        nDraws = 500L, seed = "t")
      .as[(Long, Long)].collect().toMap
    assert(got.size == 500)
    // brute force: same hash arithmetic, interval scan
    val rows = Seq((1L, 10L), (2L, 1L), (3L, 100L), (4L, 50L))
    val total = rows.map(_._2).sum
    val cums = rows.scanLeft(0L)(_ + _._2).tail.zip(rows)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    def h64(s: String): Long = {
      val hex = sha.clone().asInstanceOf[java.security.MessageDigest]
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    (0L until 500L).foreach { j =>
      val u = h64(s"t:$j") % total
      val expect = cums.find { case (hi, (_, w)) => u >= hi - w && u < hi }
        .get._2._1
      assert(got(j) == expect, s"draw $j")
    }
    // weight-100 row drawn far more often than weight-1 row
    val byRow = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byRow.getOrElse(3L, 0) > byRow.getOrElse(2L, 0))
  }

  test("effectiveSampleSize: equal weights read 1e6; concentration " +
    "collapses it; clip restores it; non-positive weight fails the job") {
    import graft.ops.Sampling
    val even = Seq(("a", 7L), ("a", 7L), ("a", 7L), ("a", 7L))
      .toDF("g", "w")
    val e1 = Sampling.effectiveSampleSize(even, "g", col("w"), clipAt = 100L)
      .as[(String, Long, Long, Long, Long)].collect().head
    assert(e1 == (("a", 4L, 28L, 196L, 1000000L)))
    // one dominant row: w = (1,1,1,997) -> ESS = 1000^2/(3+997^2) ~ 1.006
    // rows of 4 -> 251_507 ppm; clipping at 1 makes all equal again
    val skew = Seq(("a", 1L), ("a", 1L), ("a", 1L), ("a", 997L))
      .toDF("g", "w")
    val e2 = Sampling.effectiveSampleSize(skew, "g", col("w"), clipAt = 1000L)
      .as[(String, Long, Long, Long, Long)].collect().head
    assert(e2._5 == 1000000L * 1000L * 1000L / (4L * (3L + 997L * 997L)))
    val e3 = Sampling.effectiveSampleSize(skew, "g", col("w"), clipAt = 1L)
      .as[(String, Long, Long, Long, Long)].collect().head
    assert(e3._5 == 1000000L)
    val bad = Seq(("a", 5L), ("a", 0L)).toDF("g", "w")
    val ex = intercept[Exception] {
      Sampling.effectiveSampleSize(bad, "g", col("w"), clipAt = 10L).collect()
    }
    assert(ex.getMessage.contains("weight must be positive"))
  }

  test("sceneCuts: cuts fire only across the threshold; first frame never cuts") {
    val frames = Seq(
      (1L, 0, 40.0), (1L, 1, 41.5), (1L, 2, 200.0), (1L, 3, 199.0),
      (1L, 4, 40.2), // two cuts: 1→2 and 3→4
      (2L, 0, 120.0)) // single frame, no cuts
      .toDF("doc_id", "frame_idx", "mean_luma")
    val got = graft.ops.Multimodal.sceneCuts(frames, threshold = 80.0)
      .select("doc_id", "n_frames", "n_cuts")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 5L, 2L), (2L, 1L, 0L)))
  }

  test("trimSilence: lead/tail dropped, interior silence kept, " +
    "all-silent yields empty WAV, junk yields None") {
    import graft.ops.Multimodal
    // frames of 2: [0,0][5k,5k][0,0][5k,5k][0,0] — trim outer, keep inner
    val s = Array[Short](0, 0, 5000, 5000, 0, 0, 5000, 5000, 0, 0)
    val wav = Multimodal.buildWav(8000, s)
    val Some(trimmed) = Multimodal.trimSilence(wav, frame = 2,
      threshold = 1000)
    val Some((rate, back)) = Multimodal.parseWavPcm(trimmed)
    assert(rate == 8000)
    assert(back.toSeq == Seq[Short](5000, 5000, 0, 0, 5000, 5000))
    val silent = Multimodal.buildWav(8000, Array[Short](0, 1, -2, 3))
    val Some(empty) = Multimodal.trimSilence(silent, frame = 2,
      threshold = 1000)
    assert(Multimodal.parseWavPcm(empty).exists(_._2.isEmpty))
    assert(Multimodal.trimSilence("junk".getBytes).isEmpty)
  }

  test("mmrSelect: diversifies where pure top-k returns near-duplicates") {
    // relevance order: a1 (.99) > a2 (.98, near-dup of a1) > b (.5)
    // top-3 by relevance = a1, a2, b; MMR must demote a2 below b
    val cands = Seq(
      (1L, Array(1.0f, 0.0f), 0.99),
      (2L, Array(0.999f, 0.01f), 0.98),
      (3L, Array(0.0f, 1.0f), 0.5))
      .toDF("vec_id", "embedding", "rel")
    val got = graft.ops.Similarity.mmrSelect(cands, "vec_id", "embedding",
        "rel", k = 3)
      .select("rank", "vec_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1L), (2L, 3L), (3L, 2L)))
    // round-1 score is lam*rel exactly
    val s1 = graft.ops.Similarity.mmrSelect(cands, "vec_id", "embedding",
        "rel", k = 1).select("score").as[Double].head()
    assert(s1 == 0.5 * 0.99)
  }

  test("lshRecallAudit: exact copies are always candidates → full recall") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words appear in this document body"),
      (4L, "another unrelated text with its own vocabulary set here"))
      .toDF("doc_id", "text")
    val r = graft.ops.Dedup.lshRecallAudit(docs, "doc_id", "text", 1, 2)
      .select("n_exact", "n_candidates", "n_hit", "recall_ppm")
      .as[(Long, Long, Long, Option[Long])].head()
    assert(r._1 == 1L && r._3 == 1L && r._4.contains(1000000L))
    // no qualifying pairs → null recall, not a divide-by-zero
    val none = graft.ops.Dedup.lshRecallAudit(
        docs.filter($"doc_id" > 2L), "doc_id", "text", 1, 2)
      .select("n_exact", "recall_ppm")
      .as[(Long, Option[Long])].head()
    assert(none == ((0L, None)))
  }

  test("lshRecallAudit sampled mode == full mode restricted to the " +
    "sampled-endpoint pair universe; probe prefixJaccardPairs keeps " +
    "exact jaccard values") {
    import org.apache.spark.sql.functions._
    // three near-dup families spread over ids so a mod-2 hash slice
    // splits them: (1,2) and (3,4) exact copies, (5,6) high-overlap,
    // 7/8 unrelated
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "one two three four five six seven eight nine ten eleven"),
      (4L, "one two three four five six seven eight nine ten eleven"),
      (5L, "red orange yellow green blue indigo violet white black grey"),
      (6L, "red orange yellow green blue indigo violet white black brown"),
      (7L, "totally disjoint vocabulary lives inside this document body"),
      (8L, "yet more unrelated words that match nothing else at all"))
      .toDF("doc_id", "text")
    val den = 2
    val sampled = docs.select($"doc_id",
        pmod(graft.functions.TextFns.hash64(
          concat(lit("lshaudit:"), $"doc_id".cast("string"))),
          lit(den.toLong)).as("m"))
      .filter($"m" === 0).select("doc_id").as[Long].collect().toSet
    // the slice must be a proper split for the test to mean anything
    assert(sampled.nonEmpty && sampled.size < 8, s"degenerate slice: $sampled")
    val fullExact = graft.ops.Dedup.prefixJaccardPairs(
        docs, "doc_id", "text", 1, 2)
      .select("doc_a", "doc_b", "jaccard_ppm")
      .as[(Long, Long, Long)].collect().toSet
    val fullCand = graft.ops.Dedup.minHashLshCandidates(
        graft.ops.Dedup.minHashSignatures(docs, "doc_id", "text", 16),
        "doc_id", 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val expExact = fullExact.filter(p => sampled(p._1) || sampled(p._2))
    val expCand = fullCand.filter(p => sampled(p._1) || sampled(p._2))
    val expHit = expExact.map(p => (p._1, p._2)).intersect(expCand)
    // probe prefixJaccardPairs: same pairs AND same jaccard values
    val probed = graft.ops.Dedup.prefixJaccardPairs(docs, "doc_id",
        "text", 1, 2, probeFilter = Some(id => pmod(
          graft.functions.TextFns.hash64(
            concat(lit("lshaudit:"), id.cast("string"))),
          lit(den.toLong)) === 0))
      .select("doc_a", "doc_b", "jaccard_ppm")
      .as[(Long, Long, Long)].collect().toSet
    assert(probed == expExact, s"probe=$probed exp=$expExact")
    val r = graft.ops.Dedup.lshRecallAudit(docs, "doc_id", "text", 1, 2,
        sampleDen = den)
      .select("n_exact", "n_candidates", "n_hit")
      .as[(Long, Long, Long)].head()
    assert(r == ((expExact.size.toLong, expCand.size.toLong,
      expHit.size.toLong)), s"got $r, expected " +
      s"(${expExact.size}, ${expCand.size}, ${expHit.size})")
  }

  test("prefixJaccardPairs maxPairs: deterministic top-k with an in-band " +
    "loud truncation flag; cap above the pair count reports untruncated") {
    // four exact copies -> C(4,2) = 6 qualifying pairs, all ppm 1000000,
    // so the (jaccard DESC, doc_a, doc_b) tiebreak decides the kept set
    val docs = (1L to 4L).map(i =>
        (i, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val full = graft.ops.Dedup.prefixJaccardPairs(docs, "doc_id", "text",
        1, 2).select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
      .sorted
    assert(full.size == 6)
    val capped = graft.ops.Dedup.prefixJaccardPairs(docs, "doc_id",
        "text", 1, 2, maxPairs = 4)
      .select("doc_a", "doc_b", "truncated")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(capped.size == 4, s"cap must hold: $capped")
    assert(capped.forall(_._3), s"6 pairs > cap 4 must read truncated: $capped")
    // the kept set is the FIRST 4 in the total order, not an arbitrary 4
    assert(capped.map(p => (p._1, p._2)).sorted == full.take(4),
      s"kept ${capped.map(p => (p._1, p._2)).sorted} vs ${full.take(4)}")
    val roomy = graft.ops.Dedup.prefixJaccardPairs(docs, "doc_id",
        "text", 1, 2, maxPairs = 10)
      .select("doc_a", "doc_b", "truncated")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(roomy.size == 6 && roomy.forall(!_._3),
      s"under-cap result must be complete and untruncated: $roomy")
  }

  test("sparseCosinePairs maxPairs: same loud-cap contract as the " +
    "jaccard family — deterministic top-k, in-band flag, under-cap " +
    "complete and untruncated") {
    // four exact copies -> 6 pairs at cosine 1.0; tiebreak decides
    val docs = (1L to 4L).map(i =>
        (i, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val full = graft.ops.TextAnalysis.sparseCosinePairs(docs,
        minCosine = 0.5).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(full.size == 6)
    val capped = graft.ops.TextAnalysis.sparseCosinePairs(docs,
        minCosine = 0.5, maxPairs = 4)
      .select("doc_a", "doc_b", "truncated")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(capped.size == 4 && capped.forall(_._3), s"cap must hold: $capped")
    assert(capped.map(p => (p._1, p._2)).sorted == full.take(4),
      s"kept ${capped.map(p => (p._1, p._2)).sorted} vs ${full.take(4)}")
    val roomy = graft.ops.TextAnalysis.sparseCosinePairs(docs,
        minCosine = 0.5, maxPairs = 10)
      .select("doc_a", "doc_b", "truncated")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(roomy.size == 6 && roomy.forall(!_._3),
      s"under-cap result must be complete and untruncated: $roomy")
  }

  test("writeSharded: non-overlapping ranges, sorted shards, bounded files") {
    import org.apache.spark.sql.functions.input_file_name
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString + "/out"
    val df = (1L to 1000L).map(i => (i * 7919 % 1000, s"row$i")).toDF("k", "v")
    graft.ops.Output.writeSharded(df, dir, shards = 4, sortCols = Seq("k"),
      maxRecordsPerFile = 200)
    val back = spark.read.parquet(dir)
      .select(input_file_name().as("f"), $"k").as[(String, Long)].collect()
    assert(back.length == 1000)
    // bounded files: 1000 rows / cap 200 -> at least 5 files
    val perFile = back.groupBy(_._1).map { case (f, rows) => f -> rows.map(_._2) }
    assert(perFile.size >= 5)
    assert(perFile.values.forall(_.length <= 200))
    // each file internally sorted (parquet preserves write order per file)
    perFile.values.foreach(ks => assert(ks.toSeq == ks.toSeq.sorted))
    // range sharding: file key-ranges do not interleave (allowing the
    // boundary key to repeat across adjacent files)
    val ranges = perFile.values.map(ks => (ks.min, ks.max)).toSeq.sortBy(r => (r._1, r._2))
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2)
      case _ =>
    }
  }

  test("rangeShardAssign + writeShardedBy: written layout matches the manifest") {
    val dir = Files.createTempDirectory("graft-detshards").toString + "/out"
    val df = (1L to 997L).map(i => (i * 7919 % 5000, s"row$i")).toDF("k", "v")
    val assigned = graft.ops.Output.rangeShardAssign(df, "k", shards = 8)
    val manifest = graft.ops.Output.shardManifest(assigned, "k")
      .as[(Long, Long, Long, Long)].collect()
    // deterministic: a second assignment produces the identical manifest
    val manifest2 = graft.ops.Output.shardManifest(
      graft.ops.Output.rangeShardAssign(df, "k", shards = 8), "k")
      .as[(Long, Long, Long, Long)].collect()
    assert(manifest.toSeq == manifest2.toSeq)
    // non-overlapping ordered ranges, all rows accounted for
    assert(manifest.map(_._2).sum == 997L)
    manifest.sliding(2).foreach {
      case Array((s1, _, _, hi), (s2, _, lo, _)) =>
        assert(s1 < s2); assert(hi < lo)
      case _ =>
    }
    // the written partitioned layout agrees with the manifest per shard
    graft.ops.Output.writeShardedBy(assigned, dir, sortCols = Seq("k"))
    val back = spark.read.parquet(dir)
      .groupBy($"shard_id").agg(count(lit(1)).as("n"), min($"k").as("lo"), max($"k").as("hi"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(back.toSeq == manifest.toSeq)
  }

  test("rangeShardAssign: snowflake-width key ranges don't overflow; null keys surface") {
    // keys spanning nearly the full Long range: (key - lo) * shards wraps
    // in long math — the decimal path must keep shard ids in [0, shards)
    val wide = Seq(Long.MinValue + 10, -3L, 0L, 7L,
      Long.MaxValue / 2, Long.MaxValue - 10).map(Tuple1(_)).toDF("k")
    val m = graft.ops.Output.shardManifest(
      graft.ops.Output.rangeShardAssign(wide, "k", shards = 16), "k")
      .as[(Long, Long, Long, Long)].collect()
    assert(m.map(_._2).sum == 6L)
    assert(m.forall(r => r._1 >= 0 && r._1 < 16))
    m.sliding(2).foreach {
      case Array((s1, _, _, hi), (s2, _, lo, _)) =>
        assert(s1 < s2); assert(hi < lo)
      case _ =>
    }
    // null keys: null shard id (visible), never silently in the top shard
    val withNull = Seq(Some(1L), Some(100L), None).map(Tuple1(_)).toDF("k")
    val a = graft.ops.Output.rangeShardAssign(withNull, "k", shards = 4)
      .select($"k", $"shard_id").as[(Option[Long], Option[Long])].collect()
    assert(a.find(_._1.isEmpty).get._2.isEmpty)
    assert(a.filter(_._1.nonEmpty).forall(_._2.nonEmpty))
  }

  test("approx_count_distinct stays within 5% of exact on the testdata") {
    val got = graft.queries.Pipeline.approxDistinct(spark, "/root/testdata/sf0.01")
      .select($"approx_users", $"exact_users").as[(Long, Long)].collect()
    got.foreach { case (approx, exact) =>
      assert(math.abs(approx - exact).toDouble / exact < 0.05)
    }
  }
}

/** Release flow (reference cli.py parity): semver bump laws, plan shape,
  * and the documented divergence from the digit-concat version compare.
  */
class ReleaseSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.tools.Release
  import graft.tools.Release.Version

  test("semver bump: patch/minor/major reset lower components") {
    val v = Release.parse("1.2.9")
    assert(Release.bump(v, "patch") == Version(1, 2, 10))
    assert(Release.bump(v, "minor") == Version(1, 3, 0))
    assert(Release.bump(v, "major") == Version(2, 0, 0))
    intercept[IllegalArgumentException](Release.bump(v, "huge"))
    intercept[IllegalArgumentException](Release.parse("1.2"))
  }

  test("parse rejects malformed semver (trailing dot, signs, extra parts)") {
    for (bad <- Seq("1.2.3.", "-1.2.3", "1.+2.3", "1.2.3.4", "v1.2.3", ""))
      intercept[IllegalArgumentException](Release.parse(bad))
  }

  test("bumpPlan writes the SAME version file main reads (GRAFT_VERSION_FILE)") {
    val (_, cmds) = Release.bumpPlan(Release.parse("1.0.0"), "patch",
      pushTag = false, versionFile = "/etc/graft/VERSION")
    assert(cmds.head == "echo 1.0.1 > /etc/graft/VERSION")
    assert(cmds(1).startsWith("git add /etc/graft/VERSION"))
  }

  test("componentwise ordering fixes the reference's digit-concat quirk") {
    // cli.py:99-101 compares int("1.2.10".replace('.','')) = 1210 against
    // int("1.3.0".replace('.','')) = 130 and concludes 1.2.10 > 1.3.0
    val ord = Release.versionOrdering
    assert(ord.lt(Release.parse("1.2.10"), Release.parse("1.3.0")))
    assert(ord.gt(Release.parse("10.0.0"), Release.parse("9.9.9")))
  }

  test("plans carry the version into every tag and never execute by themselves") {
    val (next, cmds) = Release.bumpPlan(Release.parse("0.4.1"), "minor", pushTag = true)
    assert(next == Version(0, 5, 0))
    assert(cmds.exists(_.contains("git tag 0.5.0")))
    assert(cmds.last == "git push origin 0.5.0")
    val build = Release.buildPlan(next)
    assert(build.exists(_.contains(s"${Release.DockerRegistry}:0.5.0")))
    assert(build.exists(_.contains(s"${Release.DockerRegistry}:latest")))
    assert(Release.publishPlan(next).forall(_.startsWith("docker push")))
  }

  test("execute-mode smoke: the full bump->build->publish plan RUNS " +
    "against stub git/docker/sbt on PATH, in order, stopping on failure") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-release")
    val bin = Files.createDirectory(dir.resolve("bin"))
    val log = dir.resolve("cmdlog")
    for (tool <- Seq("git", "docker", "sbt")) {
      val p = bin.resolve(tool)
      Files.writeString(p,
        s"#!/bin/sh\necho \"$tool $$@\" >> ${log.toAbsolutePath}\n")
      p.toFile.setExecutable(true)
    }
    Files.writeString(dir.resolve("VERSION"), "1.2.10\n")
    val current = Release.parse(Files.readString(dir.resolve("VERSION")))
    val run = Release.shellRunner(cwd = Some(dir),
      pathPrepend = Some(bin.toAbsolutePath.toString))
    // bump minor from 1.2.10 -> 1.3.0: the version the reference's
    // digit-concat compare (cli.py:99-101) would rank BELOW the one it
    // replaces (130 < 1210) — semver ranks it above, and the executed
    // tag must carry the semver winner
    val quirkMax = Seq("1.2.10", "1.3.0").maxBy(_.replace(".", "").toInt)
    assert(quirkMax == "1.2.10") // the reference quirk, pinned
    assert(Seq("1.2.10", "1.3.0").map(Release.parse)
      .max(Release.versionOrdering) == Version(1, 3, 0))
    (Release.plan(Seq("bump", "minor", "--push"), current, "VERSION") ++
      Release.plan(Seq("build"), Release.parse("1.3.0"), "VERSION") ++
      Release.plan(Seq("publish"), Release.parse("1.3.0"), "VERSION"))
      .foreach(run)
    // side effect: the version file really moved
    assert(Files.readString(dir.resolve("VERSION")).trim == "1.3.0")
    val lines = Files.readAllLines(log).asScala.toList
    val expected = List(
      "git add VERSION",              // commit before tag
      "git tag 1.3.0",                // tag before push
      "git push origin 1.3.0",
      "sbt assembly",                 // build after bump
      "docker build",
      s"docker push ${Release.DockerRegistry}:1.3.0", // version then latest
      s"docker push ${Release.DockerRegistry}:latest")
    val hits = expected.map(e => lines.indexWhere(_.startsWith(e)))
    assert(hits.forall(_ >= 0), s"missing plan steps; log=$lines")
    assert(hits == hits.sorted, s"out of order: $hits log=$lines")
    // `git add VERSION && git commit` is ONE sh -c line: the stub sees
    // both halves, commit strictly between add and tag
    val commitIdx = lines.indexWhere(_.startsWith("git commit"))
    assert(commitIdx > hits.head && commitIdx < hits(1), s"log=$lines")
    // loud stop: a failing binary aborts the remaining plan
    val badGit = bin.resolve("git")
    Files.writeString(badGit, "#!/bin/sh\nexit 3\n")
    badGit.toFile.setExecutable(true)
    val ex = intercept[IllegalArgumentException] {
      Release.plan(Seq("bump", "patch"), Release.parse("1.3.0"), "VERSION")
        .foreach(run)
    }
    assert(ex.getMessage.contains("command failed (3)"))
  }
}

/** Decontamination + repetition ops: hand-computable fixtures, null
  * semantics for gram-less docs, and the broadcast shape of the eval probe.
  */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.{Decontamination, TextAnalysis}

  test("contamination flags exactly the corpus docs sharing a 3-gram with eval") {
    // doc 0 = eval; doc 1 shares "a b c"; doc 2 shares nothing; doc 3 too short
    val docs = Seq(
      (0L, "a b c d"),           // eval: shingles {a b c, b c d}
      (1L, "x a b c y"),         // corpus: {x a b, a b c, b c y} -> 1 hit of 3
      (2L, "p q r s"),           // corpus: no overlap
      (3L, "a b")                // corpus: no shingles at all
    ).toDF("doc_id", "text")
    val got = Decontamination.contamination(docs, "doc_id", "text",
      evalPred = col("doc_id") === 0L)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(got == List((1L, 3L, 1L, 1.0 / 3)))
  }

  test("contamination dedups shingles per doc before counting") {
    val docs = Seq(
      (0L, "a b c"),             // eval: {a b c}
      (1L, "a b c a b c a b c") // corpus: 7 raw shingles but {a b c, b c a, c a b} distinct
    ).toDF("doc_id", "text")
    val Array((id, n, hits, ratio)) = Decontamination.contamination(
      docs, "doc_id", "text", evalPred = col("doc_id") === 0L)
      .as[(Long, Long, Long, Double)].collect()
    assert((id, n, hits) == ((1L, 3L, 1L)) && math.abs(ratio - 1.0 / 3) < 1e-15)
  }

  test("fully duplicated corpus rows collapse like the oracle's global distinct") {
    val docs = Seq(
      (0L, "a b c d"),    // eval
      (1L, "x a b c y"),  // corpus, duplicated row below
      (1L, "x a b c y")
    ).toDF("doc_id", "text")
    val got = Decontamination.contamination(docs, "doc_id", "text",
      evalPred = col("doc_id") === 0L)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(got == List((1L, 3L, 1L, 1.0 / 3)), s"ratio must stay <= 1: $got")
  }

  test("vocabulary: tf counts occurrences, df counts docs, top-k tiebreaks on token") {
    val docs = Seq(
      (1L, "a a b"),   // tf: a=2, b=1; df: a,b
      (2L, "a c c"),   // tf: a=1(3), c=2; df: a(2), c
      (3L, "b")        // tf: b=1(2); df: b(2)
    ).toDF("doc_id", "text")
    val got = TextAnalysis.vocabulary(docs, topK = 2)
      .as[(String, Long, Long)].collect().toList
    // tf: a=3, b=2, c=2 -> top2 = a, then b (tie with c, 'b' < 'c')
    assert(got == List(("a", 3L, 2L), ("b", 2L, 2L)))
  }

  test("tfidf: rare terms outrank common ones; rank ties break on token") {
    // 4 docs; "x" only in doc 1 (df=1), "a" in all (df=4)
    val docs = Seq(
      (1L, "a x x"), (2L, "a b"), (3L, "a b"), (4L, "a c")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(docs, k = 2)
      .orderBy("doc_id", "rank")
      .as[(Long, String, Long, Long, Double, Int)].collect().toList
    // doc 1: x tf=2 df=1 -> 2*4/1=8; a tf=1 df=4 -> 1
    assert(got.take(2) == List((1L, "x", 2L, 1L, 8.0, 1), (1L, "a", 1L, 4L, 1.0, 2)))
    // doc 2: b (df=2 -> 2.0) beats a (1.0)
    assert(got(2) == ((2L, "b", 1L, 2L, 2.0, 1)) && got(3) == ((2L, "a", 1L, 4L, 1.0, 2)))
  }

  test("tfidf: equal scores rank by token ascending") {
    // p and q each: tf=1, df=1 -> identical score 2.0; 'p' must rank 1
    val docs = Seq((1L, "p q"), (2L, "z z")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(docs, k = 2)
      .filter(col("doc_id") === 1L).orderBy("rank")
      .as[(Long, String, Long, Long, Double, Int)].collect().toList
    assert(got == List((1L, "p", 1L, 1L, 2.0, 1), (1L, "q", 1L, 1L, 2.0, 2)))
  }

  test("repetition: word + 2-gram duplicate fractions, null for gram-less docs") {
    val docs = Seq(
      (1L, "a b a b a"),  // words 5, distinct 2; 2-grams: ab,ba,ab,ba -> 4 grams, 2 dup, max 2
      (2L, "x y z"),      // no repetition: 3 words distinct, 2 grams distinct
      (3L, "solo")        // 1 word: no 2-grams -> NULL gram columns
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.repetition(docs).orderBy("doc_id").collect()
    val r1 = rows(0)
    assert(r1.getLong(1) == 5 && r1.getLong(2) == 2)
    assert(math.abs(r1.getDouble(3) - 0.6) < 1e-15)            // 1 - 2/5
    assert(r1.getLong(4) == 4 && r1.getLong(5) == 2 && r1.getLong(6) == 2)
    assert(math.abs(r1.getDouble(7) - 0.5) < 1e-15)            // 2/4
    val r2 = rows(1)
    assert(r2.getLong(4) == 2 && r2.getLong(5) == 0 && r2.getDouble(7) == 0.0)
    val r3 = rows(2)
    assert(r3.getLong(1) == 1 && r3.getDouble(3) == 0.0)
    assert(r3.isNullAt(4) && r3.isNullAt(5) && r3.isNullAt(6) && r3.isNullAt(7))
  }

  test("the contamination probe join is broadcast (corpus shingles never shuffle into it)") {
    val docs = (0L to 200L).map(i => (i, s"w$i a b c d w${i % 7}")).toDF("doc_id", "text")
    val plan = Decontamination.contamination(docs, "doc_id", "text",
      evalPred = col("doc_id") % 97 === 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast probe, got:\n$plan")
  }

  test("sparseCosinePairs: identical docs hit cosine 1.0, disjoint docs never pair") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.sparseCosinePairs(docs)
      .as[(Long, Long, Long, Double)].collect().toList
    // docs 1/2 share both 3-gram terms (tf=1, df=2, wi=(1*3) div 2=1):
    // dot=2, norms 2 and 2 -> cosine 2/(sqrt2*sqrt2), the exact IEEE
    // value (0.999..8, not 1.0); doc 3 shares no term
    val c = 2.0 / (math.sqrt(2.0) * math.sqrt(2.0))
    assert(got == List((1L, 2L, 2L, c)))
  }

  test("sparseCosinePairs: maxDf prunes posting lists (shared terms vanish)") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    assert(TextAnalysis.sparseCosinePairs(docs, maxDf = 1).isEmpty,
      "df=2 terms must be pruned at maxDf=1, leaving no candidate pairs")
  }

  test("sparseCosinePairs sampleDen: the sampled universe is EXACTLY the " +
    "full-mode pairs with >= 1 hash-sampled endpoint, values identical " +
    "(full-corpus partners, no resampling of the math)") {
    // enough docs that both sampled and unsampled ids occur at den=2
    val docs = (1L to 12L).map { i =>
      val fam = if (i <= 6) "a b c d e f" else "p q r s t u"
      (i, fam + s" t$i")
    }.toDF("doc_id", "text")
    // shared mass: 4 shingles at wi=2; the unique t$i shingle carries
    // wi=12, so same-family cosine is 16/160 = 0.1 — threshold below it
    val full = TextAnalysis.sparseCosinePairs(docs, minCosine = 0.05)
      .as[(Long, Long, Long, Double)].collect().toList.sortBy(p => (p._1, p._2))
    assert(full.nonEmpty, "fixture must produce pairs")
    val den = 2
    def sampled(id: Long): Boolean = {
      val probe = spark.range(1).select(org.apache.spark.sql.functions.pmod(
        graft.functions.TextFns.hash64(org.apache.spark.sql.functions
          .concat(org.apache.spark.sql.functions.lit("cospairs:"),
            org.apache.spark.sql.functions.lit(id.toString))),
        org.apache.spark.sql.functions.lit(den.toLong)))
      probe.head().getLong(0) == 0L
    }
    val inSlice = (1L to 12L).filter(sampled).toSet
    assert(inSlice.nonEmpty && inSlice.size < 12,
      s"fixture must mix sampled and unsampled ids, got $inSlice")
    val got = TextAnalysis.sparseCosinePairs(docs, minCosine = 0.05,
        sampleDen = den)
      .as[(Long, Long, Long, Double)].collect().toList.sortBy(p => (p._1, p._2))
    val expected = full.filter(p => inSlice(p._1) || inSlice(p._2))
    assert(got == expected,
      s"sampled universe mismatch:\n got $got\n exp $expected")
  }

  test("bpePairStats: pair counts weight by word frequency; ties break on pair") {
    val docs = Seq((1L, "low low lower"), (2L, "lower low"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpePairStats(docs, topK = 3)
      .as[(String, Long)].collect().toList
    // wc: low=3, lower=2 -> lo=5, ow=5, er=2, we=2; top3 cuts at 'er'<'we'
    assert(got == List(("lo", 5L), ("ow", 5L), ("er", 2L)))
  }

  test("bpeTrain: greedy pass can't re-merge a merged symbol ('aaaa' case)") {
    val docs = Seq((1L, "aaaa aaaa aaa")).toDF("doc_id", "text")
    val (seg, merges) = TextAnalysis.bpeTrain(docs, rounds = 1)
    // round 1: pair (a,a) cnt = 3 per 'aaaa' x2 + 2 per 'aaa' = 8;
    // greedy pass: 'aaaa' -> [aa, aa], 'aaa' -> [aa, a]
    assert(merges.as[(Int, String, String, Long)].collect().toSeq ==
      Seq((1, "a", "a", 8L)))
    assert(seg.as[(String, Long, String)].collect().toSet ==
      Set(("aaaa", 2L, "aa aa"), ("aaa", 1L, "aa a")))
  }

  test("bpeTrain: later rounds merge previously-merged symbols") {
    // 'abab': round 1 merges (a,b) twice -> [ab, ab]; round 2's best pair
    // is then (ab, ab) -> [abab] — the loop must operate on SYMBOLS, not
    // characters
    val docs = Seq((1L, "abab abab ab")).toDF("doc_id", "text")
    val (seg, merges) = TextAnalysis.bpeTrain(docs, rounds = 2)
    assert(merges.as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
      == Seq((1, "a", "b", 5L), (2, "ab", "ab", 2L)))
    assert(seg.as[(String, Long, String)].collect().toSet
      == Set(("abab", 2L, "abab"), ("ab", 1L, "ab")))
  }

  test("chunkDocuments: hand-computed overlapping windows, short tail, " +
    "empty-word and empty-doc laws") {
    val docs = Seq(
      (1L, "a b c d e f g"),   // 7 words, window 3 stride 2
      (2L, "  x   y "),        // empty words dropped -> [x, y]
      (3L, "")                 // no words -> no chunks
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(docs, windowTokens = 3,
        strideTokens = 2)
      .as[(Long, Long, Long, String)].collect().toSeq.sorted
    assert(got == Seq(
      (1L, 0L, 3L, "a b c"), (1L, 1L, 3L, "c d e"), (1L, 2L, 3L, "e f g"),
      (1L, 3L, 1L, "g"),
      (2L, 0L, 2L, "x y")))
    // every word is covered by at least one chunk (stride <= window)
    val covered = got.filter(_._1 == 1L).flatMap(_._4.split(" ")).toSet
    assert(covered == Set("a", "b", "c", "d", "e", "f", "g"))
  }

  test("bpeEncode applies trained merges in order; single chars are their " +
    "own token") {
    val docs = Seq((1L, "abab abab ab"), (2L, "ab c abab")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, rounds = 2)._2
      .orderBy("round").as[(Int, String, String, Long)].collect()
      .map(m => (m._2, m._3)).toSeq
    assert(merges == Seq(("a", "b"), ("ab", "ab")))
    val got = TextAnalysis.bpeEncode(docs, merges)
      .as[(Long, Int, Int, String)].collect().toSeq
      .sortBy(t => (t._1, t._2, t._3))
    // doc 1: abab->[abab] x2, ab->[ab]; doc 2: ab->[ab], c->[c] (1-char
    // identity, never trained), abab->[abab] — and the carried
    // (word_pos, token_pos) order IS the document order
    assert(got == Seq(
      (1L, 0, 0, "abab"), (1L, 1, 0, "abab"), (1L, 2, 0, "ab"),
      (2L, 0, 0, "ab"), (2L, 1, 0, "c"), (2L, 2, 0, "abab")))
  }

  test("hashedNgramShift: bigram census, zero-bigram docs kept, " +
    "predicate flip negates scores, target vocabulary scores higher") {
    val docs = Seq(
      (1L, "the quick brown fox jumps", "en"),
      (2L, "the lazy brown dog sleeps", "en"),
      (3L, "le chat noir dort bien", "fr"),
      (4L, "un chien noir court vite", "fr"),
      (5L, "solo", "fr"), // 1 word → 0 bigrams
      (6L, "", "fr")      // split('') = [''] → 0 bigrams
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.hashedNgramShift(docs, col("lang") === "en")
      .as[(Long, Boolean, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // n_bigrams = words - 1; zero-bigram docs surface at score 0
    assert(out(1L)._3 == 4 && out(3L)._3 == 4)
    assert(out(5L)._3 == 0 && out(5L)._4 == 0 && out(5L)._5 == 0)
    assert(out(6L)._3 == 0 && out(6L)._4 == 0)
    // disjoint vocabularies: every en doc must outscore every fr doc
    val enMin = Seq(out(1L)._4, out(2L)._4).min
    val frMax = Seq(out(3L)._4, out(4L)._4).max
    assert(enMin > frMax,
      s"target vocab must score above source vocab: $enMin vs $frMax")
    // exact law: flipping the predicate swaps the distributions, so every
    // doc's shift_sum negates
    val flipped = TextAnalysis.hashedNgramShift(docs, col("lang") =!= "en")
      .as[(Long, Boolean, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    for (id <- out.keys) assert(flipped(id) == -out(id)._4,
      s"doc $id: flip must negate ${out(id)._4}, got ${flipped(id)}")
    // NULL predicate counts as source (conservative side)
    val nullPred = TextAnalysis.hashedNgramShift(docs,
      when(col("lang") === "en", lit(true)))
      .select("doc_id", "is_target").as[(Long, Boolean)].collect().toMap
    assert(!nullPred(3L) && nullPred(1L))
  }

  test("bigramLmScore: exact ppm conditionals, sub-2-token docs drop out") {
    // bigrams: (a,b)×2, (b,c), (b,d) → c(a·)=2, c(b·)=2
    // ppm: (a,b)=1000000, (b,c)=(b,d)=500000; both docs mean 750000
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "x"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.bigramLmScore(docs)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toList
    assert(got == List(
      (1L, 2L, 750000L, 500000L),
      (2L, 2L, 750000L, 500000L)))   // doc 3 has no bigrams → absent
  }

  test("vocabCoverage: hand curve, lexicographic ties, k clamps to vocab") {
    // counts: a=3, b=2, c=1 (total 6, vocab 3)
    val docs = Seq((1L, "a a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.vocabCoverage(docs, Seq(1, 2, 10))
      .orderBy("k").as[(Long, Long, Long, Long, Long)].collect().toList
    assert(got == List(
      (1L, 3L, 6L, 500000L, 3L),     // top-1 = a → 3/6
      (2L, 3L, 6L, 833333L, 2L),     // +b → 5/6
      (10L, 3L, 6L, 1000000L, 1L)))  // clamps to full vocab
    intercept[IllegalArgumentException](
      graft.ops.TextAnalysis.vocabCoverage(docs, Nil))
    intercept[IllegalArgumentException](
      graft.ops.TextAnalysis.vocabCoverage(docs, Seq(1, 1)))
  }

  test("simpsonDiversity: 1e6 for one repeated type, 0 for all-distinct, null for singleton") {
    val docs = Seq(("t", "a a a"), ("d", "a b c"), ("s", "x"))
      .toDF("source", "text")
    val got = graft.ops.TextAnalysis.simpsonDiversity(docs)
      .orderBy("source")
      .as[(String, Long, Long, Option[Long])].collect().toList
    assert(got == List(
      ("d", 3L, 3L, Some(0L)),
      ("s", 1L, 1L, None),
      ("t", 3L, 1L, Some(1000000L))))
  }

  test("heapsCurve: new docs add only their novel shingles") {
    // doc1: {abc, bcd}; doc2 re-uses abc, adds bce
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.heapsCurve(docs, Seq(1L, 2L))
      .orderBy("k").as[(Long, Long)].collect().toList
    assert(got == List((1L, 2L), (2L, 3L)))
    intercept[IllegalArgumentException](
      graft.ops.TextAnalysis.heapsCurve(docs, Nil))
  }

  test("distinctiveTerms: exact cross-multiplied lift, minCount filter, per-source rank") {
    // totals: s1=4, s2=5, corpus=9; tf: apple=3, banana=3, cherry=3
    val docs = Seq(
      ("s1", "apple apple apple banana"),
      ("s2", "cherry cherry cherry banana banana")).toDF("source", "text")
    val got = graft.ops.TextAnalysis.distinctiveTerms(docs, k = 5, minCount = 3L)
      .orderBy("source", "rank")
      .as[(String, String, Long, Long, Long, Int)].collect().toList
    assert(got == List(
      ("s1", "apple", 3L, 3L, 2250000L, 1),    // 1e6·3·9 div (3·4)
      ("s2", "cherry", 3L, 3L, 1800000L, 1)))  // 1e6·3·9 div (3·5)
  }

  test("bigramLmScore separates word salad from structured text") {
    // structured docs repeat the same transitions; salad doc uses the same
    // VOCABULARY but each of its transitions is corpus-unique
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"),
      (3L, "mat the on sat cat the")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.bigramLmScore(docs)
      .orderBy("doc_id")
      .select("doc_id", "mean_cond_ppm")
      .as[(Long, Long)].collect().toList
    assert(got(0)._2 == got(1)._2)
    assert(got(2)._2 < got(0)._2, s"salad must score lower: $got")
  }
}

/** Batch sessionization: hand-computed gap splits, tie determinism, and
  * first-event session opening.
  */
class SessionizeSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Sessionize

  test("sessions split at gaps > gapMs; first event opens session 1") {
    // user 1: events at t=0s, 10s, 2000s, 2010s with gap 60s -> two sessions
    // user 2: single event -> one singleton session
    val ev = Seq(
      (1L, 1L, 0L), (2L, 1L, 10000L), (3L, 1L, 2000000L), (4L, 1L, 2010000L),
      (5L, 2L, 500L)
    ).toDF("event_id", "user_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val got = Sessionize.sessionize(ev, "user_id", "ts", "event_id", gapMs = 60000L)
      .orderBy("user_id", "session_idx")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    assert(got == List(
      (1L, 1L, 2L, 0L, 10000L, 10000L),
      (1L, 2L, 2L, 2000000L, 2010000L, 10000L),
      (2L, 1L, 1L, 500L, 500L, 0L)))
  }

  test("boundary: a gap of exactly gapMs stays in the same session") {
    val ev = Seq((1L, 1L, 0L), (2L, 1L, 60000L), (3L, 1L, 120001L))
      .toDF("event_id", "user_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val got = Sessionize.sessionize(ev, "user_id", "ts", "event_id", gapMs = 60000L)
      .orderBy("session_idx").as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.map(r => (r._2, r._3)).toList == List((1L, 2L), (2L, 1L)))
  }

  test("pre-existing output columns fail fast instead of silently clobbering") {
    val ev = Seq((1L, 1L, 0L)).toDF("event_id", "user_id", "session_idx")
      .withColumn("ts", timestamp_millis(col("session_idx")))
    val e = intercept[IllegalArgumentException](
      Sessionize.assignSessions(ev, "user_id", "ts", "event_id", 1000L))
    assert(e.getMessage.contains("session_idx"))
  }

  test("equal timestamps order by the tie column, deterministically") {
    val ev = Seq((9L, 1L, 1000L), (2L, 1L, 1000L), (5L, 1L, 999000L))
      .toDF("event_id", "user_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val assigned = Sessionize.assignSessions(ev, "user_id", "ts", "event_id", 60000L)
      .select("event_id", "session_idx").as[(Long, Long)].collect().toMap
    assert(assigned == Map(2L -> 1L, 9L -> 1L, 5L -> 2L))
  }

  test("sessionizeCapped: the cap re-anchors at each split — a steady " +
    "sub-gap drip splits every capMs where plain gap splitting never does") {
    // drip: events every 40s (gap 60s never fires), cap 100s.
    // t=0 starts s1 (start 0); t=40,80 stay (<=100 from start);
    // t=120 > 100 from 0 -> s2 (start 120); t=160,200 stay; t=240 -> s3.
    val ev = (0L to 240000L by 40000L).zipWithIndex.map { case (ms, i) =>
      (i.toLong + 1L, 1L, ms)
    }.toDF("event_id", "user_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val got = Sessionize.sessionizeCapped(ev, "user_id", "ts", "event_id",
      gapMs = 60000L, capMs = 100000L)
      .orderBy("session_idx")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    assert(got == List(
      (1L, 1L, 3L, 0L, 80000L, 80000L),
      (1L, 2L, 3L, 120000L, 200000L, 80000L),
      (1L, 3L, 1L, 240000L, 240000L, 0L)))
    // the gap-only twin keeps the drip as ONE session
    val plain = Sessionize.sessionize(ev, "user_id", "ts", "event_id", 60000L)
    assert(plain.count() == 1L)
  }

  test("sessionizeCapped: boundary (exactly capMs from start stays), gap " +
    "still splits independently, null key/ts rows excluded") {
    val ev = Seq(
      (1L, Some(1L), Some(0L)),
      (2L, Some(1L), Some(50000L)),    // gap 50s, 50s from start -> stays
      (3L, Some(1L), Some(100000L)),   // gap 50s, EXACTLY cap from start -> stays
      (4L, Some(1L), Some(170000L)),   // gap 70s > 60s -> splits (session 2)
      (5L, None, Some(5000L)),         // null key -> excluded
      (6L, Some(2L), None))            // null ts -> excluded
      .toDF("event_id", "user_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val got = Sessionize.sessionizeCapped(ev, "user_id", "ts", "event_id",
      gapMs = 60000L, capMs = 100000L)
      .orderBy("user_id", "session_idx")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    assert(got == List(
      (1L, 1L, 3L, 0L, 100000L, 100000L),
      (1L, 2L, 1L, 170000L, 170000L, 0L)))
  }

  test("sessionizeCapped: non-castable key raises instead of dropping rows") {
    val ev = Seq(("not-a-number", 1L, 0L))
      .toDF("user_id", "event_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val e = intercept[Exception](
      Sessionize.sessionizeCapped(ev, "user_id", "ts", "event_id",
        60000L, 100000L).collect())
    assert(e.getMessage.contains("must cast to long") ||
      Option(e.getCause).exists(_.getMessage.contains("must cast to long")))
  }
}

/** Table profiler: exact stats on a hand-built frame with nulls, and the
  * approx variant's schema/act-alike contract.
  */
class ProfileSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Profile

  test("tokenFrequencyScore: exact corpus-frequency stats per doc") {
    // corpus: "x" appears 4x, "y" 2x, "z" 1x
    val docs = Seq(
      (1L, "x x y"),   // freqs 4,4,2 -> n=3 min=2 mean=10/3
      (2L, "x y z"),   // freqs 4,2,1 -> n=3 min=1 mean=7/3
      (3L, "x")        // freq 4      -> n=1 min=4 mean=4
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.tokenFrequencyScore(docs)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toList
    assert(got == List(
      (1L, 3L, 2L, 10.0 / 3.0),
      (2L, 3L, 1L, 7.0 / 3.0),
      (3L, 1L, 4L, 4.0)))
  }

  test("tokenFrequencyScore ranks rare-token docs below common-token docs") {
    // the perplexity-filter property: a doc of corpus-rare tokens scores a
    // LOWER mean frequency than one of corpus-common tokens
    val docs = Seq(
      (1L, "common common common common common common"),
      (2L, "rare1 rare2 rare3")).toDF("doc_id", "text")
    val scores = graft.ops.TextAnalysis.tokenFrequencyScore(docs)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(scores(1)._4 < scores(0)._4)
    assert(scores(1)._3 == 1L) // every rare token is a corpus hapax
  }

  test("rateAnomalies: spike against a flat baseline scores, warmup doesn't") {
    // key X: 10 events/day for days 0-6, then 100 on day 7 (a real spike);
    // the first 3 days have <3 baseline days -> unscored (z null)
    val counts = ((0 to 6).map(d => ("X", d.toLong, 10L)) :+ (("X", 7L, 100L)))
      .toDF("k", "day", "n_events")
    val got = graft.ops.Anomaly.rateAnomalies(counts, Seq("k"), "day",
      window = 7, minPeriods = 3)
      .orderBy("day")
      .select("day", "trailing_days", "z_score", "is_anomaly")
      .as[(Long, Long, Option[Double], Boolean)].collect().toList
    // days 0-2: too little history; days 3-6: flat baseline, on-baseline
    // value -> no anomaly; day 7: flat baseline but the value DEVIATES ->
    // flagged via the flat-baseline rule (z stays null: it is morally ±∞)
    assert(got.take(3).forall(r => r._3.isEmpty && !r._4))
    assert(got.slice(3, 7).forall(r => r._3.isEmpty && !r._4))
    assert(got(7)._3.isEmpty && got(7)._4,
      "a spike over a perfectly flat baseline must be flagged")
    // add jitter so the baseline has variance, then the spike must fire
    val jittered = Seq(("Y", 0L, 9L), ("Y", 1L, 11L), ("Y", 2L, 10L),
      ("Y", 3L, 9L), ("Y", 4L, 11L), ("Y", 5L, 100L))
      .toDF("k", "day", "n_events")
    val spike = graft.ops.Anomaly.rateAnomalies(jittered, Seq("k"), "day",
      window = 7, minPeriods = 3)
      .filter($"day" === 5L)
      .select("z_score", "is_anomaly")
      .as[(Option[Double], Boolean)].head()
    assert(spike._2 && spike._1.exists(_ > 3.0))
    // RANGE (not ROWS): a gap in days ages the baseline out by VALUE
    val gapped = Seq(("Z", 0L, 10L), ("Z", 1L, 12L), ("Z", 2L, 11L),
      ("Z", 50L, 11L)).toDF("k", "day", "n_events")
    val afterGap = graft.ops.Anomaly.rateAnomalies(gapped, Seq("k"), "day")
      .filter($"day" === 50L).select("trailing_days")
      .as[Long].head()
    assert(afterGap == 0L, "days 0-2 are outside day-50's 7-day RANGE frame")
    intercept[IllegalArgumentException] {
      graft.ops.Anomaly.rateAnomalies(counts, Seq("k"), "day", minPeriods = 1)
    }
  }

  test("densifyDays + rateAnomalies: a device that goes quiet is flagged") {
    // W emits steadily for days 0-5 then DIES; V keeps emitting to day 9
    // (so the corpus feed end is day 9 and W's silence is visible)
    val counts = ((0L to 5L).map(d => ("W", d, 10L + (d % 2))) ++
      (0L to 9L).map(d => ("V", d, 5L))).toDF("k", "day", "n_events")
    val dense = graft.ops.Anomaly.densifyDays(counts, Seq("k"), "day")
    // W now spans day 0..9 with zeros after death
    assert(dense.filter($"k" === "W").count() == 10)
    assert(dense.filter($"k" === "W" && $"day" === 7L)
      .select("n_events").as[Long].head() == 0L)
    val scored = graft.ops.Anomaly.rateAnomalies(dense, Seq("k"), "day")
    val death = scored.filter($"k" === "W" && $"day" === 6L)
      .select("is_anomaly").as[Boolean].head()
    assert(death, "the first silent day must be flagged")
    // the steady key never alarms
    assert(scored.filter($"k" === "V" && $"is_anomaly").count() == 0)
  }

  test("scd2 collapses equal runs, versions changes, half-open intervals") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val log = Seq(
      ("A", ts("2024-01-01 00:00:00"), 1L, "x"),
      ("A", ts("2024-01-02 00:00:00"), 2L, "x"), // unchanged -> collapses
      ("A", ts("2024-01-03 00:00:00"), 3L, "y"), // change -> new version
      ("A", ts("2024-01-04 00:00:00"), 4L, "x"), // back to x -> NEW version
      ("B", ts("2024-01-01 00:00:00"), 5L, null: String), // null first
      ("B", ts("2024-01-02 00:00:00"), 6L, "z")  // null -> z opens version
    ).toDF("k", "at", "seq", "v")
    val got = graft.ops.Scd.scd2(log, Seq("k"), Seq("at", "seq"), Seq("v"))
      .orderBy("k", "valid_from")
      .as[(String, Option[String], Timestamp, Option[Timestamp], Boolean)]
      .collect().toList
    assert(got == List(
      ("A", Some("x"), ts("2024-01-01 00:00:00"), Some(ts("2024-01-03 00:00:00")), false),
      ("A", Some("y"), ts("2024-01-03 00:00:00"), Some(ts("2024-01-04 00:00:00")), false),
      ("A", Some("x"), ts("2024-01-04 00:00:00"), None, true),
      ("B", None, ts("2024-01-01 00:00:00"), Some(ts("2024-01-02 00:00:00")), false),
      ("B", Some("z"), ts("2024-01-02 00:00:00"), None, true)))
    intercept[IllegalArgumentException] { // reserved output column collision
      graft.ops.Scd.scd2(log.withColumn("is_current", lit(true)),
        Seq("k"), Seq("at"), Seq("v"))
    }
  }

  test("filterByPercentile keeps the rows at or above the exact corpus percentile") {
    val df = (1L to 100L).toDF("v") // p10 of 1..100 = 10.9 (interpolated)
    val kept = graft.ops.TextAnalysis.filterByPercentile(df, "v", 0.1)
      .as[Long].collect().sorted
    assert(kept.head == 11L && kept.length == 90)
    intercept[IllegalArgumentException] {
      graft.ops.TextAnalysis.filterByPercentile(df, "v", 1.5)
    }
  }

  test("profile counts rows, nulls, distincts, min/max per column") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(2L), None),
      (Some(2L), Some("b")), (None, Some("a"))
    ).toDF("k", "s")
    val got = Profile.profile(df, Seq("k", "s")).orderBy("col_name")
      .as[(String, Long, Long, Long, Long, String, String)].collect().toList
    assert(got == List(
      ("k", 4L, 3L, 1L, 2L, "1", "2"),
      ("s", 4L, 3L, 1L, 2L, "a", "b")))
  }

  test("empty, duplicate, and non-identifier column lists are rejected") {
    val df = Seq((1, 2)).toDF("a", "b")
    intercept[IllegalArgumentException](Profile.profile(df, Nil))
    intercept[IllegalArgumentException](Profile.profile(df, Seq("a", "a")))
    intercept[IllegalArgumentException](Profile.profile(df, Seq("it's")))
    intercept[IllegalArgumentException](Profile.profile(df, Seq("a`b")))
  }

  test("keySkew: exact ppm shares over ALL rows; null keys denominate but never rank") {
    // k: 3×"hot", 1×"cold", 1×null (5 rows); g: all "x"
    val df = Seq((Some("hot"), "x"), (Some("hot"), "x"), (Some("hot"), "x"),
      (Some("cold"), "x"), (None, "x")).toDF("k", "g")
    val got = Profile.keySkew(df, Seq("k", "g"), topK = 2)
      .orderBy("col_name", "rank")
      .as[(String, String, Long, Long, Int)].collect().toList
    assert(got == List(
      ("g", "x", 5L, 1000000L, 1),
      ("k", "hot", 3L, 600000L, 1),   // 3*1e6 div 5 — null row counts in n_rows
      ("k", "cold", 1L, 200000L, 2)))
    intercept[IllegalArgumentException](Profile.keySkew(df, Nil))
    intercept[IllegalArgumentException](Profile.keySkew(df, Seq("k"), topK = 0))
    intercept[IllegalArgumentException](Profile.keySkew(df, Seq("k", "k")))
  }

  test("giniPpm: uniform values give 0, hand case [1,9] gives 400000") {
    // [1,9] sorted: Σx=10, Σi·x=1+18=19 → 1e6·(38−30)/20 = 400000
    val df = Seq(("u", 5L, 1L), ("u", 5L, 2L), ("u", 5L, 3L),
      ("h", 1L, 1L), ("h", 9L, 2L)).toDF("g", "x", "id")
    val got = Profile.giniPpm(df, "g", "x", "id")
      .orderBy("g").as[(String, Long, Long, Long)].collect().toList
    assert(got == List(("h", 2L, 10L, 400000L), ("u", 3L, 15L, 0L)))
  }

  test("corrPairs: exact ±1 on linear columns, null on zero variance") {
    val df = Seq((1.0, 2.0, 6.0, 7.0), (2.0, 4.0, 4.0, 7.0),
      (3.0, 6.0, 2.0, 7.0)).toDF("a", "b", "c", "k")
    val got = Profile.corrPairs(df, Seq("a", "b", "c", "k"))
      .orderBy("col_a", "col_b")
      .as[(String, String, Long, Option[Double])].collect().toList
    val m = got.map(r => (r._1, r._2) -> r._4).toMap
    // the sqrt pair is irrational → 1.0 only to rounding (still
    // bit-deterministic — the oracle gate q152 pins the exact bits)
    assert(math.abs(m(("a", "b")).get - 1.0) < 1e-12)    // b = 2a
    assert(math.abs(m(("a", "c")).get + 1.0) < 1e-12)    // c = 8 - 2a
    assert(m(("a", "k")).isEmpty, "constant column must yield null corr")
    assert(got.forall(_._3 == 3L))
    intercept[IllegalArgumentException](Profile.corrPairs(df, Seq("a")))
    intercept[IllegalArgumentException](Profile.corrPairs(df, Seq("a", "a")))
  }

  test("weightedMedian: lower-median rule, degenerate and uniform weights") {
    // g: values 1,2,3 weights 1,1,4 → total 6, cum 1,2,6 → first 2cum>=6 is v=3
    // u: uniform weights → plain lower median of (10,20) = 10 (2*10>=20... cum 10*2=20>=20 → v=10)
    val df = Seq(("g", 1L, 1L, 1L), ("g", 2L, 1L, 2L), ("g", 3L, 4L, 3L),
      ("u", 10L, 1L, 1L), ("u", 20L, 1L, 2L)).toDF("grp", "v", "w", "id")
    val got = Profile.weightedMedian(df, "grp", "v", "w", "id")
      .orderBy("grp").as[(String, Long, Long, Long)].collect().toList
    assert(got == List(("g", 3L, 6L, 3L), ("u", 2L, 2L, 10L)))
  }

  test("spearmanByGroup: hand rho, monotone = 1, singleton = null") {
    // g: ranks rx=(1,2,3), ry=(1,3,2) → Σd²=2 → ρ = 1 − 12/24 = 0.5
    val df = Seq(("g", 1.0, 10.0, 1L), ("g", 2.0, 30.0, 2L),
      ("g", 3.0, 20.0, 3L),
      ("m", 1.0, 5.0, 1L), ("m", 2.0, 6.0, 2L),   // monotone → 1.0
      ("x", 9.0, 9.0, 1L)).toDF("g", "a", "b", "id")
    val got = Profile.spearmanByGroup(df, "g", "a", "b", Seq("id"))
      .orderBy("g").as[(String, Long, Option[Double])].collect().toList
    assert(got == List(
      ("g", 3L, Some(0.5)),
      ("m", 2L, Some(1.0)),
      ("x", 1L, None)))
    intercept[IllegalArgumentException](
      Profile.spearmanByGroup(df, "g", "a", "b", Nil))
  }

  test("quantileNormalize: single group is the identity map") {
    val df = Seq(("g", 1L, 10L), ("g", 2L, 20L), ("g", 3L, 30L))
      .toDF("src", "id", "v")
    val got = Profile.quantileNormalize(df, "src", "v", "id")
      .orderBy("id").as[(Long, String, Long, Long, Double)].collect().toList
    assert(got == List(
      (1L, "g", 10L, 0L, 10.0),
      (2L, "g", 20L, 500000L, 20.0),
      (3L, "g", 30L, 1000000L, 30.0)))
  }

  test("quantileNormalize: hand interpolation + singleton group pins to median") {
    // global sorted: 10,20,30,40; g1 ranks 0/500000/1000000 → 10/25/40;
    // singleton g2 pins to rank 500000 → 25
    val df = Seq(("g1", 1L, 10L), ("g1", 2L, 20L), ("g1", 3L, 40L),
      ("g2", 4L, 30L)).toDF("src", "id", "v")
    val got = Profile.quantileNormalize(df, "src", "v", "id")
      .orderBy("id").as[(Long, String, Long, Long, Double)].collect().toList
    assert(got == List(
      (1L, "g1", 10L, 0L, 10.0),
      (2L, "g1", 20L, 500000L, 25.0),
      (3L, "g1", 40L, 1000000L, 40.0),
      (4L, "g2", 30L, 500000L, 25.0)))
  }

  test("fkAudit: null fks are not orphans, duplicate parent keys don't multiply") {
    val child = Seq(Some(1L), Some(2L), None, Some(3L)).toDF("fk")
    val parent = Seq(1L, 1L, 2L).toDF("pk")   // dup pk must not double-count
    val got = Profile.fkAudit(Seq(("e1", child, "fk", parent, "pk")))
      .as[(String, Long, Long, Long)].collect().toList
    assert(got == List(("e1", 4L, 3L, 1L)))   // only fk=3 is an orphan
    intercept[IllegalArgumentException](Profile.fkAudit(Nil))
  }
}

/** Gaps-and-islands interval coalescing: overlap/touch/gap semantics and
  * island numbering, hand-computed.
  */
class IntervalsSpec extends SparkSpec {
  import spark.implicits._

  test("coalesce merges overlapping and touching, splits on gaps, per key") {
    val df = Seq(
      // key A: [1,5] overlaps [3,8]; [8,10] touches; gap; [20,21]
      ("A", 1L, 5L), ("A", 3L, 8L), ("A", 8L, 10L), ("A", 20L, 21L),
      // key B: containment — [2,9] swallows [4,5]; [6,7] also inside
      ("B", 2L, 9L), ("B", 4L, 5L), ("B", 6L, 7L)).toDF("k", "s", "e")
    val got = graft.ops.Intervals.coalesce(df, col("k"), col("s"), col("e"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("A", 1L, 1L, 10L, 3L), ("A", 2L, 20L, 21L, 1L),
      ("B", 1L, 2L, 9L, 3L)))
  }

  test("coalesce: earlier long interval still blocks a later short one " +
    "(running max, not lag)") {
    // [1,100] then [2,3] then [4,99]: lag(e) would see 3 < 4 and split;
    // the running MAX must keep one island
    val df = Seq(("K", 1L, 100L), ("K", 2L, 3L), ("K", 4L, 99L))
      .toDF("k", "s", "e")
    val got = graft.ops.Intervals.coalesce(df, col("k"), col("s"), col("e"))
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("K", 1L, 1L, 100L, 3L)))
  }
}

/** Driver-contract smoke: the flagship entry() must return rows. */
class EntrySmokeSpec extends SparkSpec {
  test("SparkEntry.entry returns a non-empty flagship result at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}

class MadOutliersSpec extends SparkSpec {
  import spark.implicits._

  test("madOutliers: robust stats catch the tail a mean-based cut would not") {
    // group a: {10,10,10,12,1000} — med 10, devs {0,0,0,2,990}, MAD 0...
    // careful: 3 of 5 devs are 0 -> MAD 0 -> zero outliers by contract.
    // group b: {10,12,14,16,100} — med 14, devs {4,2,0,2,86}, MAD 2:
    // only 100 exceeds 3*MAD=6... dev(10)=4 <= 6, dev(100)=86 > 6.
    val df = Seq(
      ("a", 10), ("a", 10), ("a", 10), ("a", 12), ("a", 1000),
      ("b", 10), ("b", 12), ("b", 14), ("b", 16), ("b", 100))
      .toDF("g", "v")
    val got = graft.ops.Profile.madOutliers(df, "g", "v")
      .orderBy("g")
      .as[(String, Double, Double, Long, Long)].collect().toList
    assert(got == List(
      ("a", 10.0, 0.0, 5L, 0L),   // MAD 0 -> no outliers, surfaced as mad=0
      ("b", 14.0, 2.0, 5L, 1L)))  // the 100 is the only point beyond 3 MADs
  }

  test("madOutliers: even-count group uses interpolated median (q43 parity law)") {
    val df = Seq(("g", 1), ("g", 2), ("g", 3), ("g", 100)).toDF("g", "v")
    val (med, mad) = graft.ops.Profile.madOutliers(df, "g", "v")
      .select("med", "mad").as[(Double, Double)].head()
    assert(med == 2.5)            // (2+3)/2
    assert(mad == 1.0)            // sorted devs {0.5, 0.5, 1.5, 97.5} -> (0.5+1.5)/2
  }
}

class WinsorizeSpec extends SparkSpec {
  import spark.implicits._

  test("winsorize: hand-computed quartile clip on 5 points") {
    // v = {0, 10, 20, 30, 1000}; p25 = 10, p75 = 30 (exact order stats at
    // n=5: rank = 1 + q*(n-1) lands on integers). Clips: 0→10 (low),
    // 1000→30 (high); inliers {10,20,30} sum 60.
    // wins_mean = (60 + 1*10 + 1*30)/5 = 20.
    val df = Seq(("g", 0L), ("g", 10L), ("g", 20L), ("g", 30L), ("g", 1000L))
      .toDF("g", "v")
    val got = graft.ops.Profile.winsorize(df, "g", "v", lo = 0.25, hi = 0.75)
      .as[(String, Long, Double, Double, Long, Long, Double)].head()
    assert(got == (("g", 5L, 10.0, 30.0, 1L, 1L, 20.0)))
  }

  test("winsorize: interpolated cut, boundary values are inliers") {
    // v = {1, 2, 3, 4}; p05 = 1 + 0.05*3 = 1.15, p95 = 3.85.
    // 1 < 1.15 clips low; 4 > 3.85 clips high; {2,3} stay.
    // wins_mean = (5 + 1.15 + 3.85)/4 = 2.5.
    val df = Seq(("g", 1L), ("g", 2L), ("g", 3L), ("g", 4L)).toDF("g", "v")
    val r = graft.ops.Profile.winsorize(df, "g", "v")
      .as[(String, Long, Double, Double, Long, Long, Double)].head()
    assert(math.abs(r._3 - 1.15) < 1e-12 && math.abs(r._4 - 3.85) < 1e-12)
    assert(r._5 == 1L && r._6 == 1L)
    assert(r._7 == (5.0 + r._3 + r._4) / 4)
  }

  test("winsorize: degenerate group (all equal) clips nothing") {
    val df = Seq(("g", 7L), ("g", 7L), ("g", 7L)).toDF("g", "v")
    val r = graft.ops.Profile.winsorize(df, "g", "v")
      .as[(String, Long, Double, Double, Long, Long, Double)].head()
    assert(r == (("g", 3L, 7.0, 7.0, 0L, 0L, 7.0)))
  }

}

class SourceDriftSpec extends SparkSpec {
  import spark.implicits._

  test("sourceDriftTvd: two-source hand computation, absent-token mass") {
    // source A: "x x y" (x:2, y:1, N_A=3); source B: "x z" (x:1, z:1, N_B=2)
    // corpus: x:3, y:1, z:1, N=5.
    // TVD(A) = ½(|2/3−3/5| + |1/3−1/5| + |0−1/5|) = ½(1/15+2/15+3/15) = 0.2
    // TVD(B) = ½(|1/2−3/5| + |1/2−1/5| + |0−1/5|) = ½(0.1+0.3+0.2) = 0.3
    val docs = Seq(("A", "x x y"), ("B", "x z")).toDF("source", "text")
    val got = graft.ops.TextAnalysis.sourceDriftTvd(docs)
      .orderBy("source")
      .as[(String, Long, Long, Double)].collect().toList
    assert(got.map(r => (r._1, r._2, r._3)) == List(("A", 3L, 2L), ("B", 2L, 2L)))
    assert(math.abs(got(0)._4 - 0.2) < 1e-15)
    assert(math.abs(got(1)._4 - 0.3) < 1e-15)
  }

  test("vocabOverlap: hand-computed pairwise vocabulary Jaccard") {
    // A: {x,y,z}  B: {x,y,w}  C: {q}
    // A-B: shared 2, union 4 -> 500000 ppm; A-C and B-C: no overlap -> absent
    val docs = Seq(("A", "x y z x"), ("B", "x y w"), ("C", "q"))
      .toDF("source", "text")
    val got = graft.ops.TextAnalysis.vocabOverlap(docs)
      .as[(String, String, Long, Long)].collect().toList
    assert(got == List(("A", "B", 2L, 500000L)))
  }

  test("sourceDriftTvd: a single source has zero drift by definition") {
    val docs = Seq(("only", "a b c a")).toDF("source", "text")
    val r = graft.ops.TextAnalysis.sourceDriftTvd(docs)
      .as[(String, Long, Long, Double)].head()
    assert(r == (("only", 4L, 3L, 0.0)))
  }

  test("pmiPairs: df cap excludes stopwords, pairs count once per doc") {
    // df: x=4 (capped out at maxDf=3), y=3, q=2, z=1; only (q,y) co-occurs
    // (twice); z repeats WITHIN d4 but distinct-per-doc keeps c_w(z)=1
    val docs = Seq(
      (1L, "x y q"), (2L, "x y q"), (3L, "x y"), (4L, "z z x"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.pmiPairs(docs, maxDf = 3L, minPair = 2L)
      .select("w_a", "w_b", "c_ab", "c_a", "c_b", "lift_ppm")
      .as[(String, String, Long, Long, Long, Long)].collect().toList
    // lift_ppm = 1e6 * 2 * 4 div (2 * 3) = 1333333
    assert(got == List(("q", "y", 2L, 2L, 3L, 1333333L)))
  }

  test("bm25TopK: rarer term scores higher; tf saturates sublinearly") {
    val docs = Seq((1L, "a a b"), (2L, "a c c"), (3L, "b b b"))
      .toDF("doc_id", "text")
    val queries = Seq((1L, "b")).toDF("query_id", "term")
    val got = graft.ops.TextAnalysis.bm25TopK(docs, queries, k = 5)
      .select("query_id", "doc_id", "score_ppm", "n_terms_hit", "rank")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    // N=3, total_len=9, df(b)=2 → idf_ppm = 3_000_000 div 5 = 600_000;
    // tf=1,len=3 → tfnorm = 1 exactly → 600_000;
    // tf=3 → (600000*44*3*9) div (540+54+162) = 712_800_000 div 756 = 942_857
    assert(got == List(
      (1L, 3L, 942857L, 1L, 1L),
      (1L, 1L, 600000L, 1L, 2L)))
    // tf tripled but score rose only 1.57x — the saturation BM25 exists for
  }

  test("passageCensus: shared 3-word passage counts in both docs, tail passage kept") {
    // window=3: doc 1 = [a b c][d e f][g] ; doc 2 = [a b c][x y z]
    // "a b c" appears in 2 distinct docs → duplicated in both; the 1-word
    // tail [g] is a passage of its own (unique)
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "a b c x y z")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.passageCensus(docs, window = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got == List(
      (1L, 3L, 1L, 333333L),
      (2L, 2L, 1L, 500000L)))
  }

  test("passageCensus: within-doc repetition alone is NOT cross-doc duplication") {
    // doc 1 repeats its own passage twice; no other doc has it
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "c d e f")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.passageCensus(docs, window = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toList
    // doc 1: passages [a b],[a b] — 2 passages, 0 cross-doc dups
    assert(got == List((1L, 2L, 0L, 0L), (2L, 2L, 0L, 0L)))
  }

  test("charNgramLangId: zero trained profiles (all langs null) yields ZERO rows, not null labels") {
    val docs = Seq((1L, null.asInstanceOf[String], "hello world text"),
      (2L, null.asInstanceOf[String], "more text here"))
      .toDF("doc_id", "lang", "text")
    assert(graft.ops.TextAnalysis.charNgramLangId(docs, docs).count() == 0)
  }

  test("approxQuantileAudit: contract certified on a known distribution") {
    val df = spark.range(1, 100001).toDF("v") // 1..100000, exact quantiles known
    val got = graft.ops.Profile.approxQuantileAudit(
        df, col("v"), Seq(10000L, 500000L, 990000L), accuracy = 1000)
      .as[(Long, Long, Boolean)].collect().toList
    assert(got == List(
      (10000L, 100000L, true),
      (500000L, 100000L, true),
      (990000L, 100000L, true)))
  }

  test("approxQuantileAudit: the exact check really can fail (forged bound)") {
    // sanity that within_eps is a computation, not a constant: audit a
    // degenerate accuracy where eps is huge → still true; then assert the
    // rank arithmetic by probing the internal contract on a tiny frame
    // where we can enumerate ranks by hand: values 1..10, phi=0.5,
    // eps=10% → estimate must have a rank in [4, 6]
    val df = spark.range(1, 11).toDF("v")
    val got = graft.ops.Profile.approxQuantileAudit(
        df, col("v"), Seq(500000L), accuracy = 10)
      .as[(Long, Long, Boolean)].collect().head
    assert(got == ((500000L, 10L, true)))
  }

}

/** Round-14 curation operators: chunking, perplexity buckets, census
  * scoring, NB classifier, SemDeDup, mixture weights, winnowing.
  */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  test("chunkWords boundary laws: every chunk but the last is exactly " +
    "`window` words, the last reaches the document's end, starts are " +
    "stride-multiples, every word is covered — swept over n=1..60") {
    val docs = ((1 to 60)
      .map(n => (n.toLong, (1 to n).map(i => s"w$i").mkString(" ")))
      :+ (100L -> null.asInstanceOf[String])) // null text: absent by contract
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis
      .chunkWords(docs, "doc_id", "text", window = 7, stride = 4)
      .as[(Long, Long, Long, Long, String)].collect()
    val byDoc = got.groupBy(_._1)
    assert(!byDoc.contains(100L), "null-text doc must be absent")
    for (n <- 1 to 60) {
      val cs = byDoc(n.toLong).sortBy(_._2)
      val expected = 1 + math.max(0, math.ceil((n - 7).toDouble / 4).toInt)
      assert(cs.length == expected, s"n=$n chunk count")
      assert(cs.map(_._2).toSeq == (0 until expected).map(_.toLong), s"n=$n ids")
      cs.foreach { case (_, cid, start, nw, text) =>
        assert(start == cid * 4, s"n=$n start")
        val words = text.split(" ", -1)
        assert(words.length == nw, s"n=$n text/word-count parity")
        assert(words.head == s"w${start + 1}", s"n=$n slice alignment")
      }
      cs.init.foreach(c => assert(c._4 == 7L, s"n=$n non-last width"))
      assert(cs.last._3 + cs.last._4 == n.toLong, s"n=$n last reaches end")
      assert(cs.last._4 >= 1L, s"n=$n last non-empty")
      val covered = cs.flatMap(c => c._3 until (c._3 + c._4)).toSet
      assert(covered == (0L until n.toLong).toSet, s"n=$n coverage")
    }
  }

  test("chunkWords stride=window: chunks partition the document exactly") {
    val docs = Seq((1L, (1 to 11).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis
      .chunkWords(docs, "doc_id", "text", window = 4, stride = 4)
      .orderBy("chunk_id")
      .as[(Long, Long, Long, Long, String)].collect()
    assert(got.map(_._5).mkString(" ") == (1 to 11).map(i => s"t$i").mkString(" "))
    assert(got.map(_._4).toSeq == Seq(4L, 4L, 3L))
  }

  test("perplexityBuckets: monotone in score, head holds the min-score " +
    "doc, tail the max, ties share a bucket, counts sum to n") {
    // three frequency tiers: 'c' everywhere (cheap), per-pair words, and
    // unique-per-doc rare words (expensive)
    val docs = Seq(
      (1L, "c c c c"), (2L, "c c c c"),
      (3L, "c c m3 m3"), (4L, "c c m4 m4"),
      (5L, "r5a r5b r5c r5d"), (6L, "r6a r6b r6c r6d"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis
      .perplexityBuckets(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    val ord = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    assert(got.map(_._2).forall(_ == 4L))
    // monotone: higher score never lands in an earlier bucket
    for (a <- got; b <- got if a._3 < b._3)
      assert(ord(a._4) <= ord(b._4), s"monotone: $a vs $b")
    val byScore = got.sortBy(_._3)
    assert(byScore.head._4 == "head" && byScore.last._4 == "tail")
    // identical scores share a bucket
    for (a <- got; b <- got if a._3 == b._3) assert(a._4 == b._4)
    assert(got.length == 6)
  }

  test("scoreAgainstCensus: hand-computed smoothing — census 'a a a b' " +
    "gives N=4 V=2; doc 'a b z' costs 0+1+2 bits, OOV is the max") {
    val ref = Seq((0L, "a a a b")).toDF("doc_id", "text")
    val census = graft.ops.TextAnalysis.unigramCensus(ref, "text")
    // bits(w) = floor(log2((N+V) div (c+1))): a -> (6 div 4)=1 -> 0;
    // b -> (6 div 2)=3 -> 1; OOV z -> (6 div 1)=6 -> 2
    val docs = Seq((1L, "a b z"), (2L, "a a a")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.scoreAgainstCensus(
        docs, census, "doc_id", "text",
        keepLoPpm = 0L, keepHiPpm = 999999L)
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 3L, 3L, 1000000L, false)))
    assert(got(1) == ((2L, 3L, 0L, 0L, true)))
  }

  test("nbBitScore: disjoint-vocab classes predict perfectly; an all-OOV " +
    "doc falls to the deterministic class-name tiebreak") {
    val train = Seq(
      (10L, "X", "x1 x2 x1"),
      (11L, "Y", "y1 y2"))
      .toDF("doc_id", "lang", "text")
    val test = Seq(
      (1L, "X", "x1 x1"), (2L, "Y", "y2"), (3L, "Y", "z"))
      .toDF("doc_id", "lang", "text")
    val got = graft.ops.TextAnalysis
      .nbBitScore(train, test, "doc_id", "text", "lang")
      .as[(Long, String, String, Long, Boolean)].collect().sortBy(_._1)
    // V=4 global; X: T=3, cost(x1)=floor(log2(7 div 3))=1; prior=1
    assert(got(0) == ((1L, "X", "X", 3L, true)))
    assert(got(1) == ((2L, "Y", "Y", 2L, true)))
    // OOV both ways: X costs floor(log2(7 div 1))=2, Y floor(log2(6
    // div 1))=2, priors equal -> tie -> 'X' < 'Y' wins; the doc's own
    // label is Y, so the tiebreak pick is visibly NOT correct
    assert(got(2)._3 == "X" && !got(2)._5)
  }

  test("temperatureWeights: alpha=1/2 flattens the head — hand-checked " +
    "isqrt weights and ppm normalization") {
    val counts = Seq(("big", 10000L), ("mid", 100L), ("tiny", 4L))
      .toDF("src", "c")
    val got = graft.ops.Sampling.temperatureWeights(counts, "src", "c")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    // isqrt: 100, 10, 2; total 112
    assert(got.toSeq == Seq(
      ("big", 10000L, 100L, 1000000L * 100 / 112),
      ("mid", 100L, 10L, 1000000L * 10 / 112),
      ("tiny", 4L, 2L, 1000000L * 2 / 112)))
    // the flattening property itself: weight share strictly exceeds the
    // count share for the small sources, strictly trails for the big one
    val tot = got.map(_._2).sum
    assert(got.find(_._1 == "big").get._4 < 1000000L * 10000 / tot)
    assert(got.find(_._1 == "tiny").get._4 > 1000000L * 4 / tot)
  }

  test("temperatureWeights: negative counts and zero weight totals fail " +
    "fast instead of diverging between engines") {
    val neg = Seq(("bad", -1L)).toDF("src", "c")
    val e1 = intercept[Exception] {
      graft.ops.Sampling.temperatureWeights(neg, "src", "c").collect()
    }
    assert(e1.getMessage.contains("negative") ||
      e1.getCause != null && e1.getCause.getMessage.contains("negative"))
    val zero = Seq(("a", 0L), ("b", 0L)).toDF("src", "c")
    val e2 = intercept[Exception] {
      graft.ops.Sampling.temperatureWeights(zero, "src", "c").collect()
    }
    assert(e2.getMessage.contains("zero") ||
      e2.getCause != null && e2.getCause.getMessage.contains("zero"))
  }

  test("dsirGain: target-like docs earn positive gain, source-typical " +
    "docs negative; OOV words cost both models their max and cancel " +
    "toward the prior gap") {
    // target (wiki-like) and source (crawl-like) with disjoint cores
    val wiki = Seq((1L, "theorem proof lemma theorem corollary"),
      (2L, "proof theorem axiom lemma proof")).toDF("doc_id", "text")
    val crawl = Seq((3L, "click here buy now click"),
      (4L, "subscribe click buy here now"),
      (5L, "theorem proof click here")).toDF("doc_id", "text")
    val tc = graft.ops.TextAnalysis.unigramCensus(wiki, "text")
    val sc = graft.ops.TextAnalysis.unigramCensus(crawl, "text")
    val toScore = Seq(
      (10L, "theorem proof lemma axiom"), // pure target vocab
      (11L, "click here buy subscribe"), // pure source vocab
      (12L, "zzz qqq www xxx")) // pure OOV
      .toDF("doc_id", "text")
    val g = graft.ops.TextAnalysis
      .dsirGain(toScore, tc, sc, "doc_id", "text")
      .select("doc_id", "gain_bits").as[(Long, Long)].collect().toMap
    assert(g(10L) > 0L, s"target-vocab doc must gain: ${g(10L)}")
    assert(g(11L) < 0L, s"source-vocab doc must lose: ${g(11L)}")
    // OOV doc: every word costs each model its own add-1 max — the gap
    // is the two models' size prior, strictly between the extremes
    assert(g(12L) > g(11L) && g(12L) < g(10L))
  }

  test("mergeCensus: union+sum equals the census of the concatenated " +
    "corpus (counts are the mergeable form)") {
    val a = Seq((1L, "x y x")).toDF("doc_id", "text")
    val b = Seq((2L, "y z")).toDF("doc_id", "text")
    val merged = graft.ops.TextAnalysis.mergeCensus(
        graft.ops.TextAnalysis.unigramCensus(a, "text"),
        graft.ops.TextAnalysis.unigramCensus(b, "text"))
      .as[(String, Long)].collect().sortBy(_._1)
    val whole = graft.ops.TextAnalysis.unigramCensus(
        a.unionByName(b), "text")
      .as[(String, Long)].collect().sortBy(_._1)
    assert(merged.toSeq == whole.toSeq)
    assert(merged.toSeq == Seq(("x", 2L), ("y", 2L), ("z", 1L)))
  }

  test("semDedup: identical vectors land in one cluster, exactly one of " +
    "each pair is kept, dup_of points to the (dist2 DESC, id) keeper; " +
    "isolated vectors always keep") {
    val embs = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(1f, 0f)),
      (3L, Seq(0f, 1f)), (4L, Seq(0f, 1f)),
      (5L, Seq(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val got = graft.ops.Similarity
      .semDedup(embs, "vec_id", "embedding", k = 2, iters = 2,
        maxDist2 = 100L)
      .as[(Long, Long, Long, Boolean, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    // identical pairs: equal dist2 -> the LOWER id dominates the tie
    assert(got(1L)._4 && got(1L)._5.isEmpty)
    assert(!got(2L)._4 && got(2L)._5.contains(1L))
    assert(got(3L)._4 && got(3L)._5.isEmpty)
    assert(!got(4L)._4 && got(4L)._5.contains(3L))
    // 5 is nobody's near-dup at maxDist2=100
    assert(got(5L)._4 && got(5L)._5.isEmpty)
    // identical vectors must share a cluster (tie-broken identically)
    assert(got(1L)._2 == got(2L)._2 && got(3L)._2 == got(4L)._2)
  }

  test("semDedupAdmit: frozen-codebook admission — in-range index " +
    "members reject, dup_of is the farthest-from-centroid member, " +
    "out-of-range and empty-cell newcomers keep; no within-batch " +
    "interaction") {
    val ref = Seq(
      (2L, Seq(1f, 0f)), (4L, Seq(0f, 1f)), (6L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val cents = graft.ops.Similarity
      .kmeansCentroids(ref, "vec_id", "embedding", k = 2, iters = 2)
    val fit = graft.ops.Similarity
      .kmeansFit(ref, "vec_id", "embedding", k = 2, iters = 2)
    val index = fit.join(graft.ops.Similarity
      .scaledVectors(ref, "vec_id", "embedding"), Seq("vec_id"))
    val batch = Seq(
      (1L, Seq(1f, 0f)), // exact dup of indexed 2 -> rejected
      (3L, Seq(0f, 1f)), // exact dup of indexed 4 -> rejected
      (5L, Seq(1f, 0f)), // ALSO a dup of 2 — and of batch-mate 1, but
                         // batch mates never interact: dup_of = 2
      (7L, Seq(-5f, -5f))) // far from everything -> kept
      .toDF("vec_id", "embedding")
    val got = graft.ops.Similarity
      .semDedupAdmit(batch, index, cents, "vec_id", "embedding",
        maxDist2 = 100L)
      .select("vec_id", "keep", "dup_of")
      .as[(Long, Boolean, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    assert(!got(1L)._2 && got(1L)._3.contains(2L))
    assert(!got(3L)._2 && got(3L)._3.contains(4L))
    assert(!got(5L)._2 && got(5L)._3.contains(2L),
      "batch mates must not interact; the index member rejects")
    assert(got(7L)._2 && got(7L)._3.isEmpty)
    // batch-boundary invariance: admitting {1,3,5,7} in one batch
    // equals admitting {1,3} then {5,7} against the SAME index (no
    // growth needed — none were admitted)
    val b1 = Seq((1L, Seq(1f, 0f)), (3L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val b2 = Seq((5L, Seq(1f, 0f)), (7L, Seq(-5f, -5f)))
      .toDF("vec_id", "embedding")
    val split = (graft.ops.Similarity.semDedupAdmit(b1, index, cents,
      "vec_id", "embedding", maxDist2 = 100L).collect() ++
      graft.ops.Similarity.semDedupAdmit(b2, index, cents,
        "vec_id", "embedding", maxDist2 = 100L).collect())
      .map(_.toString).sorted.toSeq
    val whole = graft.ops.Similarity.semDedupAdmit(batch, index, cents,
      "vec_id", "embedding", maxDist2 = 100L).collect()
      .map(_.toString).sorted.toSeq
    assert(split == whole, "admission must be batch-boundary invariant")
  }

  test("winnowFingerprints: the winnowing guarantee — a shared run of " +
    "w+k-1 = 6 words yields >= 1 shared fingerprint regardless of " +
    "position; disjoint-vocabulary docs share none") {
    val shared = "s1 s2 s3 s4 s5 s6"
    val docs = Seq(
      (1L, s"a1 a2 a3 $shared b1 b2"), // run at words 3..8
      (2L, s"c1 $shared d1 d2 d3 d4"), // same run, shifted to words 1..6
      (3L, "e1 e2 e3 e4 e5 e6 e7 e8"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis
      .winnowFingerprints(docs, "doc_id", "text")
      .as[(Long, Long)].collect()
    val byDoc = got.groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "shared 6-word run must share a fingerprint")
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    assert((byDoc(2L) & byDoc(3L)).isEmpty)
  }

  test("winnowFingerprints: n=k docs keep exactly one fp, n<k docs are " +
    "absent, and the selected volume sits in [windows/w, windows]") {
    val docs = Seq((1L, "x y z"), (2L, "x y"),
      (3L, (1 to 40).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis
      .winnowFingerprints(docs, "doc_id", "text")
      .as[(Long, Long)].collect()
    assert(!got.exists(_._1 == 2L))
    assert(got.count(_._1 == 1L) == 1)
    // doc 3: 38 grams, 35 full windows; a gram can be min of at most w
    // consecutive windows, so distinct fps >= ceil(35/4)
    val d3 = got.count(_._1 == 3L)
    assert(d3 >= 9 && d3 <= 35, s"density: $d3")
  }

  test("winnowMatches: loud-cap contract — maxPairs=1 on a corpus with " +
    "two qualifying pairs keeps the top pair by (n_shared DESC, ids) " +
    "and flags truncated; uncapped mode has no truncated column") {
    val run = "s1 s2 s3 s4 s5 s6 s7 s8" // long shared run -> several fps
    val docs = Seq(
      (1L, s"$run a1 a2"), (2L, s"$run b1 b2"), (3L, s"c1 c2 $run"))
      .toDF("doc_id", "text")
    val full = graft.ops.TextAnalysis
      .winnowMatches(docs, "doc_id", "text", minShared = 1L)
      .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2))
    assert(full.length == 3) // all three share the run pairwise
    val capped = graft.ops.TextAnalysis
      .winnowMatches(docs, "doc_id", "text", minShared = 1L, maxPairs = 1)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(capped.length == 1 && capped.head._4, "one row, truncated")
    val best = full.maxBy(t => (t._3, -t._1, -t._2))
    assert((capped.head._1, capped.head._2, capped.head._3) ==
      ((best._1, best._2, best._3)))
  }

  test("winnowFingerprintsPos: same fp SET as winnowFingerprints, and a " +
    "repeated gram inside one window selects the RIGHTMOST occurrence") {
    val docs = Seq(
      // "r1 r2 r3" appears at gram positions 0 and 3 — both inside the
      // pos-0..3 window, equal hashes, so the window must select pos 3
      (1L, "r1 r2 r3 r1 r2 r3 z1 z2 z3 z4"),
      (2L, (1 to 25).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pos = graft.ops.TextAnalysis
      .winnowFingerprintsPos(docs, "doc_id", "text")
      .as[(Long, Long, Int)].collect()
    val set = graft.ops.TextAnalysis
      .winnowFingerprints(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pos.map(t => (t._1, t._2)).toSet == set,
      "positional selection must project to the set form")
    // the repeated gram's hash: whichever fp doc 1 selected from the
    // pos-0 window, a pos-0 selection of the duplicated min would
    // violate the rightmost rule. Compute the duplicated gram's fp by
    // intersecting doc 1's selections at pos 0 vs pos 3: pos 3 must be
    // selected whenever that gram's hash won any window covering both.
    val d1 = pos.filter(_._1 == 1L)
    val dupFpPos = d1.filter(t => t._3 == 0 || t._3 == 3)
    // if the duplicated gram won the pos-0..3 window, it must be
    // recorded at pos 3, never pos 0 (pos 0 can only appear if the
    // gram at 0 is NOT the duplicated min — impossible here: grams at
    // 0 and 3 are identical, so any win by one is a tie won by 3)
    assert(dupFpPos.forall(_._3 == 3),
      s"rightmost tiebreak violated: ${d1.mkString(",")}")
  }

  test("winnowCoverage: hand-checked span union — overlapping and " +
    "disjoint matched runs, n_shared equal to winnowMatches") {
    val run = "s1 s2 s3 s4 s5 s6 s7 s8"
    val docs = Seq(
      (1L, s"$run a1 a2 a3 a4"), (2L, s"b1 b2 $run"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"))
      .toDF("doc_id", "text")
    val cov = graft.ops.TextAnalysis
      .winnowCoverage(docs, "doc_id", "text", minShared = 1L)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(cov.length == 1 && cov.head._1 == 1L && cov.head._2 == 2L)
    val m = graft.ops.TextAnalysis
      .winnowMatches(docs, "doc_id", "text", minShared = 1L)
      .as[(Long, Long, Long)].collect()
    assert(cov.head._3 == m.head._3, "n_shared must match the matcher")
    // covered words are within the shared 8-word run: cover ppm is
    // bounded by 8/12 and 8/10, and positive on both sides
    assert(cov.head._4 > 0L && cov.head._4 <= 1000000L * 8 / 12)
    assert(cov.head._5 > 0L && cov.head._5 <= 1000000L * 8 / 10)
  }

  test("perplexityBucketsBy: cuts stratify per group — a language whose " +
    "scores all trail another's still gets its own head/middle/tail") {
    // lang A: common words (low surprisal); lang B: unique words (high).
    // A global cut would put ALL of B in tail; stratified cuts must not.
    // B doc i carries i rare words and 6-i common ones: distinct means
    val docs = (
      (1 to 6).map(i => (i.toLong, "A", "c c c c")) ++ // identical low scores
      (1 to 6).map { i =>
        val words = (1 to i).map(j => s"r${i}x$j") ++ Seq.fill(6 - i)("c")
        (6L + i, "B", words.mkString(" "))
      })
      .toDF("doc_id", "lang", "text")
    val got = graft.ops.TextAnalysis
      .perplexityBucketsBy(docs, "doc_id", "text", "lang")
      .as[(Long, String, Long, Long, String)].collect()
    val byLang = got.groupBy(_._2)
    // B's scores are distinct per doc -> all three buckets appear
    assert(byLang("B").map(_._5).toSet == Set("head", "middle", "tail"))
    // A's scores are all identical -> ties share ONE bucket, and it is
    // head (the smallest score reaches the n/3 cum first)
    assert(byLang("A").map(_._5).toSet == Set("head"))
    // within each lang, bucket order follows score order
    val ord = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    for ((_, rows) <- byLang; a <- rows; b <- rows if a._4 < b._4)
      assert(ord(a._5) <= ord(b._5))
  }

  test("c4LineFilter: line rules attribute first-fail in declared order, " +
    "page rules kill independently of surviving lines") {
    import org.apache.spark.sql.functions.{col, split}
    val docs = Seq(
      // 3 good lines -> kept page
      (1L, Seq("one two three four five.", "a b c d e!",
        "p q r s t?")),
      // punct beats short beats js in attribution
      (2L, Seq("no terminal punct here", "tiny line.",
        "uses javascript once right here.", "one two three four five.",
        "a b c d e.", "p q r s t.")),
      // lorem kills the page even though 3 lines survive
      (3L, Seq("one two three four five.", "a b c d e.",
        "p q r s t.", "lorem ipsum")),
      // only 2 kept lines -> sentence rule kills
      (4L, Seq("one two three four five.", "a b c d e.")),
      // brace kills
      (5L, Seq("one two three four five.", "a b c d e.",
        "p q r s t.", "x { y")))
      .toDF("doc_id", "lines")
    val got = graft.ops.TextAnalysis
      .c4LineFilter(docs, "doc_id", "lines")
      .orderBy("doc_id")
      .select("doc_id", "kept_lines", "dropped_punct", "dropped_short",
        "dropped_js", "has_lorem", "has_brace", "keep", "cleaned")
      .as[(Long, Long, Long, Long, Long, Boolean, Boolean, Boolean,
        String)].collect()
    assert(got(0) == ((1L, 3L, 0L, 0L, 0L, false, false, true,
      "one two three four five.\na b c d e!\np q r s t?")))
    assert(got(1) == ((2L, 3L, 1L, 1L, 1L, false, false, true,
      "one two three four five.\na b c d e.\np q r s t.")))
    // lorem line itself also fails the short rule; page dies regardless
    assert(got(2)._6 && !got(2)._8 && got(2)._2 == 3L)
    assert(!got(3)._8 && got(3)._2 == 2L, "2 sentences must fail the page")
    assert(got(4)._7 && !got(4)._8, "brace must kill the page")
    // splitting cleaned re-yields exactly the kept lines
    assert(got(1)._9.split("\n").length == 3)
  }

  test("substringScreen: matched spans union against the frozen index, " +
    "clean docs admit, verdicts are batch-boundary invariant") {
    import org.apache.spark.sql.functions.col
    val run10 = (1 to 10).map(i => s"w$i").mkString(" ")
    val ref = Seq((0L, s"ref doc $run10 tail words here")).toDF("doc_id", "t")
    val index = graft.ops.TextAnalysis
      .strideGramSpans(ref, "doc_id", "t", n = 10)
      .select(graft.functions.TextFns.hash64(col("g")).as("_gh"))
      .distinct()
    val batch = Seq(
      (1L, s"pre $run10 post pad pad pad pad pad pad pad pad pad pad " +
        "pad pad pad pad pad pad pad pad pad pad pad pad pad pad"),
      (2L, "totally clean document with enough words to carry grams x y"))
      .toDF("doc_id", "t")
    def screen(df: org.apache.spark.sql.DataFrame) = graft.ops.TextAnalysis
      .substringScreen(df, index, "doc_id", "t", n = 10, maxPpm = 100000L)
      .select("doc_id", "matched_grams", "matched_spans", "covered_chars",
        "admit")
    val got = screen(batch).orderBy("doc_id")
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(got(0)._2 == 1L && got(0)._3 == 1L &&
      got(0)._4 == run10.length.toLong)
    assert(got(1) == ((2L, 0L, 0L, 0L, true)))
    // covered 30 chars over a ~143-char doc ≈ 209k ppm > 100k -> rejected
    assert(!got(0)._5, "contaminated doc must be rejected")
    // batch-boundary invariance: screening docs one at a time equals
    // screening them together (verdicts are row-local given the index)
    val solo = screen(batch.filter(col("doc_id") === 1L))
      .unionByName(screen(batch.filter(col("doc_id") === 2L)))
      .orderBy("doc_id").as[(Long, Long, Long, Long, Boolean)].collect()
    assert(solo.toSeq == got.toSeq)
  }

  test("softDedupWeights: a family of c copies sums to one doc's token " +
    "mass (minus an integer remainder < c); unique docs keep full weight") {
    val docs = Seq(
      (1L, "same exact text here"), (2L, "same exact text here"),
      (3L, "same exact text here"),
      (4L, "a unique document"))
      .toDF("doc_id", "t")
    val got = graft.ops.Dedup.softDedupWeights(docs, "doc_id", "t")
      .orderBy("doc_id")
      .select("doc_id", "copies", "n_words", "weight_ppm",
        "eff_tokens_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.take(3).forall(r => r._2 == 3L && r._4 == 333333L))
    // 4 words × 1e6 / 3 copies each; family sum within c of one doc
    val famSum = got.take(3).map(_._5).sum
    assert(famSum <= 4000000L && famSum > 4000000L - 3)
    assert(got(3) == ((4L, 1L, 3L, 1000000L, 3000000L)))
  }

  test("exactSubstringDedup: keep-first at any alignment — later " +
    "occurrences splice out, overlapping spans union, clean docs pass " +
    "through byte-identical") {
    val run10 = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $run10 gamma"), // first occurrence -> untouched
      (2L, s"pre $run10 post"), // second occurrence -> spliced
      // two overlapping dup grams (11-word run shares 10-word grams
      // with doc 1's run at offsets 0 and 1) -> ONE merged span
      (3L, s"$run10 w11x head tail"),
      (4L, "clean doc with no repeated grams at all"))
      .toDF("doc_id", "t")
    val got = graft.ops.TextAnalysis
      .exactSubstringDedup(docs, "doc_id", "t", n = 10)
      .orderBy("doc_id")
      .select("doc_id", "dup_spans", "removed_chars", "cleaned")
      .as[(Long, Long, Long, String)].collect()
    assert(got(0)._2 == 0L && got(0)._4 == s"alpha beta $run10 gamma",
      "first occurrence keeps its text")
    assert(got(1)._2 == 1L && got(1)._4 == s"pre  post",
      s"dup span must splice out: '${got(1)._4}'")
    assert(got(1)._3 == run10.length.toLong)
    // doc 3: grams [w1..w10] and [w2..w11x]? only [w1..w10] repeats
    // corpus-wide; its single span is removed
    assert(got(2)._2 == 1L && got(2)._4.endsWith("head tail"))
    assert(got(3)._2 == 0L && got(3)._3 == 0L &&
      got(3)._4 == "clean doc with no repeated grams at all")
    // within-doc repetition also dedups: one doc, run repeated twice
    val solo = Seq((9L, s"$run10 mid $run10")).toDF("doc_id", "t")
    val s2 = graft.ops.TextAnalysis
      .exactSubstringDedup(solo, "doc_id", "t", n = 10)
      .select("dup_spans", "cleaned").as[(Long, String)].head()
    assert(s2._1 == 1L && s2._2 == s"$run10 mid ")
  }
}
