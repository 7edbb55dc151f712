package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

/** Semantic checks of the dedup / similarity operators on hand-built
  * corpora with known duplicates.
  */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog while " +
    "seven wise badgers quietly watch the river flow past the old stone mill"
  private val docs = Seq(
    (1L, base),
    (2L, base),                                   // exact dup of 1
    (3L, base.replace("stone", "brick")),         // near dup (1 word of 24)
    (4L, "completely different words about spark engines and shuffle plans"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val got = Dedup.exact(docs, "doc_id", "text")
    assert(got.count() == 3)
    val dup = got.filter($"n_copies" === 2)
      .select($"canonical_id").as[Long].collect()
    assert(dup.toSeq == Seq(1L))
  }

  test("minhash LSH surfaces exact and near duplicates") {
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", numHashes = 16)
    assert(sigs.count() == 4 * 16)
    val cand = Dedup.minHashLshCandidates(sigs, "doc_id", rowsPerBand = 2)
      .select($"doc_a", $"doc_b", $"n_shared_bands")
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(cand((1L, 2L)) == 8)        // identical docs collide in all 8 bands
    assert(cand.contains((1L, 3L)))    // near dup shares some bands
    assert(!cand.contains((1L, 4L)))   // unrelated doc does not
  }

  test("dedupAgainstIndex: exact/near dups match the index, novel docs survive") {
    // index: docs 1 (base) and 4 (unrelated); incoming: 2 (= base),
    // 3 (near dup of base), 5 (novel), 6 (too short to shingle -> novel)
    val index = docs.filter($"doc_id".isin(1L, 4L))
    val incoming = Seq(
      (2L, base),
      (3L, base.replace("stone", "brick")),
      (5L, "entirely novel content that resembles nothing in the index at all today"),
      (6L, "tiny doc"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupAgainstIndex(incoming, index, "doc_id", "text",
      numHashes = 16, rowsPerBand = 2)
      .as[(Long, Option[Long], Long)].collect().map(t => t._1 -> t).toMap
    assert(got(2L) == ((2L, Some(1L), 1L)))   // exact dup -> matched to 1
    assert(got(3L)._2 == Some(1L))            // near dup shares >=1 band
    assert(got(5L) == ((5L, None, 0L)))       // novel
    assert(got(6L) == ((6L, None, 0L)))       // shingle-less doc is novel
    assert(got.size == 4)                     // annotation is total over incoming
  }

  test("dedupAgainstBands: prebuilt index band relation gives the same " +
    "annotation as dedupAgainstIndex over the raw index docs") {
    val index = docs.filter($"doc_id".isin(1L, 4L))
    val incoming = Seq(
      (2L, base),
      (3L, base.replace("stone", "brick")),
      (5L, "entirely novel content that resembles nothing in the index at all today"))
      .toDF("doc_id", "text")
    val bands = Dedup.lshBands(
      Dedup.minHashSignatures(index, "doc_id", "text",
        numHashes = 16, shingleSize = 3), "doc_id", rowsPerBand = 2)
    val viaBands = Dedup.dedupAgainstBands(incoming, bands, "doc_id", "text",
      numHashes = 16, rowsPerBand = 2)
      .as[(Long, Option[Long], Long)].collect().toSet
    val viaDocs = Dedup.dedupAgainstIndex(incoming, index, "doc_id", "text",
      numHashes = 16, rowsPerBand = 2)
      .as[(Long, Option[Long], Long)].collect().toSet
    assert(viaBands == viaDocs)
    assert(viaBands.contains((2L, Some(1L), 1L)))
  }

  test("sequential admission: a later batch matches an EARLIER batch's " +
    "admitted novel doc through the appended band relation") {
    def bandsFor(df: org.apache.spark.sql.DataFrame) = Dedup.lshBands(
      Dedup.minHashSignatures(df, "doc_id", "text",
        numHashes = 16, shingleSize = 3), "doc_id", rowsPerBand = 2)
    val index = docs.filter($"doc_id" === 4L)          // unrelated corpus
    val batch1 = docs.filter($"doc_id" === 1L)          // novel vs index
    val batch2 = docs.filter($"doc_id" === 2L)          // copy of doc 1
    val bands0 = bandsFor(index)
    val ann1 = Dedup.dedupAgainstBands(batch1, bands0, "doc_id", "text",
      numHashes = 16, rowsPerBand = 2)
      .as[(Long, Option[Long], Long)].collect()
      .map(t => t._1 -> t).toMap
    assert(ann1(1L) == ((1L, None, 0L)))               // admitted novel
    val bands1 = bands0.unionByName(bandsFor(batch1))  // append-only growth
    val ann2 = Dedup.dedupAgainstBands(batch2, bands1, "doc_id", "text",
      numHashes = 16, rowsPerBand = 2)
      .as[(Long, Option[Long], Long)].collect().head
    assert(ann2 == ((2L, Some(1L), 1L)))  // matched the batch-1 admission
  }

  test("dupLineDocShare: corpus-repeated lines counted per doc, exact ppm, " +
    "keep threshold inclusive") {
    // line L is in docs 1, 2, 3 (repeated); lines u1..u4 are unique.
    // doc 1: L,u1     → 1/2 dup → 500000 ppm
    // doc 2: L,u2,u3  → 1/3 dup → 333333 ppm
    // doc 3: L,L,u4   → 2/3 dup → 666666 ppm (intra-doc occurrences both
    //                   count: the line IS corpus-repeated)
    // doc 4: u5       → 0 ppm
    val lineDocs = Seq(
      (1L, "shared line\nunique one"),
      (2L, "shared line\nunique two\nunique three"),
      (3L, "shared line\nshared line\nunique four"),
      (4L, "unique five"))
      .toDF("doc_id", "text")
    val got = Dedup.dupLineDocShare(lineDocs, "doc_id", "text",
      minDocs = 2, maxDupPpm = 500000L)
      .select($"doc_id", $"n_lines", $"n_dup_lines", $"dup_ppm", $"keep")
      .as[(Long, Long, Long, Long, Boolean)]
      .collect().map(t => t._1 -> t).toMap
    assert(got(1L) == ((1L, 2L, 1L, 500000L, true)))   // boundary: <= keeps
    assert(got(2L) == ((2L, 3L, 1L, 333333L, true)))
    assert(got(3L) == ((3L, 3L, 2L, 666666L, false)))
    assert(got(4L) == ((4L, 1L, 0L, 0L, true)))
  }

  test("budgetSelect: greedy prefix under the budget, deterministic tiebreak") {
    import graft.ops.Sampling
    // source A scores/weights: (id1,w5)(id2,w5)(id3,w4)(id4,w9)
    // order by weight desc, id: 4(9) cum9, 1(5) cum14 > 10 -> stop there?
    // inclusive rule: keep rows while cum <= 10 -> only id4 (cum 9);
    // id1 would push cum to 14. B: two w3 docs both fit (cum 3, 6).
    val df = Seq(("A", 1L, 5L), ("A", 2L, 5L), ("A", 3L, 4L), ("A", 4L, 9L),
      ("B", 5L, 3L), ("B", 6L, 3L))
      .toDF("source", "doc_id", "w")
    val got = Sampling.budgetSelect(df, "source", "w", "w", "doc_id", 10L)
      .select($"source", $"doc_id", $"cum_weight")
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(got == Seq(("A", 4L, 9L), ("B", 5L, 3L), ("B", 6L, 6L)))
  }

  test("budgetSelect ties on score resolve by id: lower id wins the budget") {
    import graft.ops.Sampling
    val df = Seq(("A", 2L, 6L), ("A", 1L, 6L)).toDF("source", "doc_id", "w")
    val got = Sampling.budgetSelect(df, "source", "w", "w", "doc_id", 6L)
      .select($"doc_id").as[Long].collect().toSeq
    assert(got == Seq(1L))
  }

  test("quantizeInt8Audit: error bounded by half a quantization step; " +
    "boundary values clamp; degenerate dims are exact") {
    import graft.ops.Similarity
    val vecs = Seq(
      (1L, Array(0.0f, 1.0f, 7.0f)),    // min/max endpoints + constant dim
      (2L, Array(10.0f, 0.3f, 7.0f)),
      (3L, Array(5.0f, 0.77f, 7.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8Audit(vecs)
      .as[(Long, Double)].collect().toMap
    // dim0 range [0,10] step 10/256; dim1 range [0,1]; dim2 constant -> 0
    val step0 = 10.0 / 256
    assert(got.size == 3)
    got.values.foreach(e => assert(e <= step0 / 2 + 1e-12))
    // vec1: dim0 v=0 -> q0 -> recon step0/2 -> err exactly step0/2
    assert(math.abs(got(1L) - step0 / 2) < 1e-12)
  }

  test("clusterSafeSplit: a near-dup family never straddles splits") {
    import graft.ops.Sampling
    // clusters: {1,2,7} (chain 1-2, 2-7) and {3,4}; 5, 6 singletons
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 7L), (3L, 4L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
      outIdCol = "doc_id")
    val got = Sampling.clusterSafeSplit(ids, "doc_id", cc,
      Seq("train" -> 90, "val" -> 5, "test" -> 5))
      .select($"doc_id", $"rep", $"split")
      .as[(Long, Long, String)].collect().map(t => t._1 -> t).toMap
    // rep is the min reachable id; split identical across each family
    assert(got(1L)._2 == 1L && got(2L)._2 == 1L && got(7L)._2 == 1L)
    assert(Set(got(1L)._3, got(2L)._3, got(7L)._3).size == 1)
    assert(got(3L)._2 == 3L && got(4L)._2 == 3L && got(3L)._3 == got(4L)._3)
    assert(got(5L)._2 == 5L && got(6L)._2 == 6L) // singletons self-represent
    assert(got.size == 7)                        // the split is total
  }

  test("simhash: identical docs at hamming 0, near dups close, others far") {
    val sigs = Dedup.simHash(docs, "doc_id", "text", bits = 32)
    val pairs = Dedup.simHashPairs(sigs, "doc_id", maxHamming = 32, blockBits = 0)
      .select($"doc_a", $"doc_b", $"hamming")
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs((1L, 3L)) < pairs((1L, 4L)))
  }

  test("ngram jaccard: identical 1.0, near dup in (0,1), blocked pairs only") {
    val blocked = docs.withColumn("lang", lit("en"))
      .withColumn("source", when($"doc_id" === 4, "other").otherwise("main"))
    val got = Dedup.ngramJaccard(blocked, "doc_id", "text",
      blockCols = Seq("lang", "source"))
      .select($"doc_a", $"doc_b", $"jaccard")
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(got((1L, 2L)) == 1.0)
    assert(got((1L, 3L)) > 0 && got((1L, 3L)) < 1)
    assert(!got.keySet.exists(p => p._1 == 4L || p._2 == 4L)) // other block
  }

  test("ngram containment: subset doc scores ~1.0 one-way while jaccard stays low") {
    // doc 11 is a verbatim slice of doc 10's much longer text: the
    // quote/boilerplate-inclusion shape a symmetric Jaccard pass misses
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val short = (21 to 30).map(i => s"w$i").mkString(" ")
    val d = Seq((10L, long), (11L, short)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("main"))
    val cont = Dedup.ngramContainment(d, "doc_id", "text",
      blockCols = Seq("lang", "source"))
      .select($"doc_a", $"doc_b", $"cont_a", $"cont_b")
      .as[(Long, Long, Double, Double)].collect()
    assert(cont.length == 1)
    val (_, _, contLong, contShort) = cont.head  // a=10 (long), b=11 (short)
    assert(contShort == 1.0, "every shingle of the short doc is in the long one")
    assert(contLong < 0.2, "the long doc is mostly NOT the short one")
    val jac = Dedup.ngramJaccard(d, "doc_id", "text",
      blockCols = Seq("lang", "source"))
      .select($"jaccard").as[Double].collect().head
    assert(jac < 0.2, "jaccard must miss what containment catches")
  }

  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.99f, 0.1f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("bruteForceTopK: self first at cosine 1.0, nearest vector second") {
    val got = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 1), vecs, "vec_id", "embedding", k = 2)
      .select($"rank", $"neighbor_id", $"cosine")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(got(0)._2 == 1L && got(0)._3 == 1.0)
    assert(got(1)._2 == 2L && got(1)._3 > 0.9)
  }

  test("lshTopK buckets aligned vectors together, opposites apart") {
    val got = Similarity.lshTopK(
      vecs.filter($"vec_id" === 1), vecs, "vec_id", "embedding",
      k = 4, numPlanes = 12)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(got.contains(1L))   // self always shares its own bucket
    assert(!got.contains(4L))  // antipodal vector lands in another bucket
  }

  test("lshTopK: shuffled query side equals broadcast") {
    // broadcastQueries=false must be a pure plan change (corpus-vs-corpus
    // fallback for query sets above the broadcast cap) — same rows out
    val lshB = Similarity.lshTopK(vecs, vecs, "vec_id", "embedding",
      k = 2, numPlanes = 8).collect().toSet
    val lshS = Similarity.lshTopK(vecs, vecs, "vec_id", "embedding",
      k = 2, numPlanes = 8, broadcastQueries = false).collect().toSet
    assert(lshS == lshB)
  }

  test("embeddingNearDup finds the aligned pair within the block") {
    val got = Dedup.embeddingNearDupExact(vecs.withColumn("label", lit(0)),
      "vec_id", "embedding", "label", minCosine = 0.9)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("embeddingNearDupLsh keeps near-identical pairs, prunes the search space") {
    val got = Dedup.embeddingNearDupLsh(vecs.withColumn("label", lit(0)),
      "vec_id", "embedding", "label", minCosine = 0.9, numPlanes = 8)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L))) // near-identical vectors share their bucket
  }

  test("pigeonhole simHashPairs equals brute-force all-pairs on random signatures") {
    val rng = new scala.util.Random(29)
    // random 32-bit sigs plus planted near-pairs at hamming 1..3
    val base = (0 until 150).map(i => (i.toLong, rng.nextLong() & 0xffffffffL))
    val planted = base.take(20).zipWithIndex.map { case ((id, sig), k) =>
      (1000L + id, sig ^ ((1L << (k % 32)) | (if (k % 3 == 0) 1L << ((k + 7) % 32) else 0L)))
    }
    val sigs = (base ++ planted).toDF("doc_id", "simhash")
    for (k <- Seq(1, 2, 3)) {
      val got = Dedup.simHashPairs(sigs, "doc_id", maxHamming = k, blockBits = 0)
        .as[(Long, Long, Int)].collect().toSet
      val rows = (base ++ planted)
      val expected = (for {
        (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
        h = java.lang.Long.bitCount(sa ^ sb) if h <= k
      } yield (ia, ib, h)).toSet
      assert(got == expected, s"maxHamming=$k")
    }
  }

  test("ANN recall: LSH and IVF recover most of the exact top-k on testdata") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter($"vec_id" < 20)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val exact = topSets(graft.ops.Similarity.bruteForceTopK(
      queries, emb, "vec_id", "embedding", k = 5))
    val ivf = topSets(graft.ops.Similarity.ivfTopK(
      queries, emb, emb.filter($"vec_id" % 17 === 3), "vec_id", "embedding",
      k = 5, nProbe = 3))
    val lsh = topSets(graft.ops.Similarity.lshTopK(
      queries, emb, "vec_id", "embedding", k = 5, numPlanes = 4))
    def recall(approx: Map[Long, Set[Long]]): Double = {
      val per = exact.map { case (q, ex) =>
        approx.get(q).fold(0.0)(ap => (ap & ex).size.toDouble / ex.size)
      }
      per.sum / per.size
    }
    // the synthetic embeddings are near-random — the ANN worst case — so
    // these floors are measured-on-this-data sanity bounds (0.45 / 0.34 at
    // pinning time), not general recall claims; clustered real embeddings
    // recall far higher at the same parameters
    assert(recall(ivf) >= 0.35, f"ivf recall ${recall(ivf)}%.2f")
    assert(recall(lsh) >= 0.25, f"lsh recall ${recall(lsh)}%.2f")
    // structural guarantee regardless of data: each query recovers itself
    // (it shares its own centroid list / hyperplane bucket)
    exact.keySet.foreach { q =>
      assert(ivf.get(q).exists(_.contains(q)), s"ivf lost query $q")
      assert(lsh.get(q).exists(_.contains(q)), s"lsh lost query $q")
    }
  }

  test("connectedComponents labels chains, cliques and isolated pairs correctly") {
    // component 1: a 4-node chain 1-2-3-4 (diameter > 1 forces iteration);
    // component 2: triangle 10-11-12; component 3: pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents on an empty pair set returns an empty labeling") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty, "doc_a", "doc_b").count() == 0)
  }

  test("hashSplit is stable, total, and respects the 90/5/5 proportions") {
    import graft.ops.Sampling
    val docs = (0L until 2000L).toDF("doc_id")
    val split = Sampling.hashSplit(docs, $"doc_id",
      Seq("train" -> 90, "val" -> 5, "test" -> 5))
    val counts = split.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == 2000)
    assert(counts("train") > 1700 && counts("train") < 1900) // ~90%
    assert(counts("val") > 50 && counts("val") < 150)
    // deterministic: second run assigns identical labels
    val again = Sampling.hashSplit(docs, $"doc_id",
      Seq("train" -> 90, "val" -> 5, "test" -> 5))
    assert(split.except(again).count() == 0 && again.except(split).count() == 0)
  }

  test("hashSplit surfaces NULL for null keys instead of silently bucketing them") {
    import graft.ops.Sampling
    val df = Seq(Some(1L), Some(2L), None).toDF("k")
    val got = Sampling.hashSplit(df, $"k", Seq("train" -> 90, "test" -> 10))
      .select($"k", $"split").as[(Option[Long], Option[String])].collect().toMap
    assert(got(None).isEmpty)            // null key -> null split
    assert(got(Some(1L)).nonEmpty && got(Some(2L)).nonEmpty)
  }

  test("capPerGroup keeps exactly cap deterministic survivors per group") {
    import graft.ops.Sampling
    val docs = (0L until 300L).map(i => (i, s"src${i % 3}"))
      .toDF("doc_id", "source")
    val capped = Sampling.capPerGroup(docs, $"source", $"doc_id", cap = 10)
    val perGroup = capped.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(perGroup.values.toSeq == Seq(10L, 10L, 10L))
    // deterministic: identical survivor set on re-run
    val again = Sampling.capPerGroup(docs, $"source", $"doc_id", cap = 10)
    assert(capped.except(again).count() == 0 && again.except(capped).count() == 0)
    // a group smaller than the cap survives whole
    val small = Sampling.capPerGroup(docs.limit(4), $"source", $"doc_id", 10)
    assert(small.count() == 4)
    intercept[IllegalArgumentException] {
      Sampling.capPerGroup(docs, $"source", $"doc_id", cap = 0)
    }
  }

  test("capPerGroup survivors are hash-chosen, not scan-ordered") {
    import graft.ops.Sampling
    // if survivors were "first cap rows scanned" the kept ids would be a
    // prefix of 0..; the hash order must NOT collapse to the id order
    val docs = (0L until 200L).map(i => (i, "only")).toDF("doc_id", "source")
    val kept = Sampling.capPerGroup(docs, $"source", $"doc_id", cap = 20)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.length == 20)
    assert(kept.toSeq != (0L until 20L).toSeq,
      "cap picked the id prefix — survivors are scan-biased, not hash-uniform")
  }

  test("weightedMixture keeps ~pct per group, exact default, reproducibly") {
    import graft.ops.Sampling
    val docs = (0L until 3000L).map(i => (i, s"g${i % 3}"))
      .toDF("doc_id", "grp")
    val mixed = Sampling.weightedMixture(docs, $"doc_id", $"grp",
      Seq("g0" -> 100, "g1" -> 50), defaultPct = 0)
    val counts = mixed.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(counts("g0") == 1000)              // 100% keeps everything
    assert(counts("g1") > 400 && counts("g1") < 600) // ~50%
    assert(!counts.contains("g2"))            // default 0% drops the group
    // the g1 survivors are exactly the hashSample(50) rows — same hash law
    val expected = Sampling.hashSample(docs.filter($"grp" === "g1"),
      $"doc_id", 50)
    assert(mixed.filter($"grp" === "g1").except(expected).count() == 0)
    intercept[IllegalArgumentException] {
      Sampling.weightedMixture(docs, $"doc_id", $"grp", Seq("g0" -> 101))
    }
  }

  test("mixtureRebalance: derived rates, pinned counts, bottleneck whole") {
    import graft.ops.Sampling
    // 100 a / 50 b / 10 c; targets 50/30/20% → T = min(200, 166, 50) = 50
    // → want a=25 b=15 c=10 (c, the bottleneck, taken whole)
    val docs = ((0L until 100L).map(i => (i, "a")) ++
      (100L until 150L).map(i => (i, "b")) ++
      (150L until 160L).map(i => (i, "c"))).toDF("id", "grp")
    val targets = Seq("a" -> 500000L, "b" -> 300000L, "c" -> 200000L)
    val out = Sampling.mixtureRebalance(docs, "grp", "id", targets)
    val counts = out.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(counts == Map("a" -> 25L, "b" -> 15L, "c" -> 10L))
    // want column matches the realized count per group
    assert(out.filter($"grp" === "a").select("want").distinct()
      .as[Long].collect().toSeq == Seq(25L))
    // deterministic: the exact same rows on a second run
    val again = Sampling.mixtureRebalance(docs, "grp", "id", targets)
    assert(out.select("id").except(again.select("id")).count() == 0)
    // survivors are hash-picked, not an id-prefix scan bias
    val aIds = out.filter($"grp" === "a").select("id").as[Long]
      .collect().sorted.toSeq
    assert(aIds != (0L until 25L).toSeq)
    // a group missing from the targets is excluded entirely
    val withD = docs.union(Seq((900L, "d"), (901L, "d")).toDF("id", "grp"))
    val outD = Sampling.mixtureRebalance(withD, "grp", "id", targets)
    assert(outD.filter($"grp" === "d").count() == 0)
    assert(outD.count() == 50)
    // a TARGET group with no rows makes the mixture infeasible → empty,
    // not silently renormalized
    val noC = docs.filter($"grp" =!= "c")
    assert(Sampling.mixtureRebalance(noC, "grp", "id", targets).count() == 0)
    intercept[IllegalArgumentException] { // must total 1e6
      Sampling.mixtureRebalance(docs, "grp", "id", Seq("a" -> 999999L))
    }
    intercept[IllegalArgumentException] { // duplicate group
      Sampling.mixtureRebalance(docs, "grp", "id",
        Seq("a" -> 500000L, "a" -> 500000L))
    }
  }

  test("repeatWeighted: integer copies exact, fractional copies hash-deterministic") {
    import graft.ops.Sampling
    val docs = (0L until 1000L).map(i => (i, s"g${i % 4}")).toDF("id", "grp")
    val out = Sampling.repeatWeighted(docs, $"id", $"grp",
      Seq("g0" -> 100, "g1" -> 250, "g2" -> 0), defaultFactorPct = 50)
    val counts = out.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(counts("g0") == 250)                       // 1.0x exact
    assert(counts("g1") >= 500 && counts("g1") <= 750) // 2.5x: 2 + ~50%
    assert(!counts.contains("g2"))                    // 0x drops the group
    assert(counts("g3") > 75 && counts("g3") < 175)   // default 0.5x
    // every g1 row appears at least twice with ordinals 1..n
    val g1 = out.filter($"grp" === "g1").groupBy("id")
      .agg(count(lit(1)).as("n"), max($"copy").as("mx"), min($"copy").as("mn"))
      .as[(Long, Long, Int, Int)].collect()
    assert(g1.forall(r => (r._2 == 2 || r._2 == 3) && r._3 == r._2 && r._4 == 1))
    // deterministic across runs
    val again = Sampling.repeatWeighted(docs, $"id", $"grp",
      Seq("g0" -> 100, "g1" -> 250, "g2" -> 0), defaultFactorPct = 50)
    assert(out.except(again).count() == 0 && again.except(out).count() == 0)
    // fractional 50% copies are EXACTLY the hashSample(50) rows (same law)
    val extra = out.filter($"grp" === "g1" && $"copy" === 3).select($"id")
    val law = Sampling.hashSample(docs.filter($"grp" === "g1"), $"id", 50)
      .select($"id")
    assert(extra.except(law).count() == 0 && law.except(extra).count() == 0)
    intercept[IllegalArgumentException] {
      Sampling.repeatWeighted(docs, $"id", $"grp", Seq("g0" -> -1))
    }
    intercept[IllegalArgumentException] { // output column collision
      Sampling.repeatWeighted(docs.withColumn("copy", lit(1)),
        $"id", $"grp", Seq("g0" -> 100))
    }
    // null keys have no hash identity: integer copies only (the
    // documented hashSample null law) — 2 copies at 250%, dropped at 50%
    val nulls = Seq((Some(1L), "g"), (None, "g")).toDF("id", "grp")
    val at250 = Sampling.repeatWeighted(nulls, $"id", $"grp", Seq("g" -> 250))
    assert(at250.filter($"id".isNull).count() == 2)
    val at50 = Sampling.repeatWeighted(nulls, $"id", $"grp", Seq("g" -> 50))
    assert(at50.filter($"id".isNull).count() == 0)
  }

  test("negativeSamples: k per row, no self-pairs, in-range, deterministic") {
    import graft.ops.Sampling
    val docs = (0L until 200L).toDF("doc_id")
    val negs = Sampling.negativeSamples(docs, "doc_id", k = 4)
    assert(negs.count() == 800)
    val rows = negs.as[(Long, Int, Long)].collect()
    assert(rows.forall { case (id, _, neg) => neg != id && neg >= 0 && neg < 200 })
    assert(rows.map { case (id, r, _) => (id, r) }.toSet.size == 800,
      "every (id, rank) pair exactly once")
    val again = Sampling.negativeSamples(docs, "doc_id", k = 4)
    assert(negs.except(again).count() == 0 && again.except(negs).count() == 0)
    // negatives spread over the id space, not clustered (sanity: > 100
    // distinct partners among 800 draws from 200 ids)
    assert(negs.select("neg_id").distinct().count() > 100)
    // a single-row corpus has NO possible negative: empty, never a
    // self-pair
    assert(Sampling.negativeSamples(docs.limit(1), "doc_id", 3).count() == 0)
    intercept[IllegalArgumentException] {
      Sampling.negativeSamples(docs, "doc_id", k = 0)
    }
  }

  test("centroidOutliers ranks farthest-from-centroid first, exact integers") {
    import graft.ops.Similarity
    val embs = Seq(
      (1L, Array(0f, 0f), 0),
      (2L, Array(1f, 1f), 0),
      (3L, Array(10f, 10f), 0),   // the obvious outlier of label 0
      (4L, Array(-0.5f, -0.5f), 1),
      (5L, Array(-0.5f, -0.5f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidOutliers(embs, "label", "vec_id",
      "embedding", k = 2)
      .orderBy("label", "rank")
      .select("label", "vec_id", "dist2", "rank")
      .as[(Int, Long, Long, Int)].collect().toList
    // label 0 centroid per dim = floor(11e6/3) = 3666666
    val c = 3666666L
    def d2(s: Long) = 2L * (s - c) * (s - c)
    assert(got.take(2) == List((0, 3L, d2(10000000L), 1),
      (0, 1L, d2(0L), 2)))
    // label 1: both vectors AT the centroid -> dist2 0, id tiebreak
    assert(got.drop(2) == List((1, 4L, 0L, 1), (1, 5L, 0L, 2)))
    intercept[IllegalArgumentException] {
      Similarity.centroidOutliers(embs, "label", "vec_id", "embedding", 0)
    }
    intercept[IllegalArgumentException] { // overflow headroom guard
      Similarity.centroidOutliers(embs, "label", "vec_id", "embedding",
        k = 2, scale = 1e9)
    }
  }

  test("centroidOutliers ranks ragged (truncated) vectors FIRST, not as inliers") {
    import graft.ops.Similarity
    // three full-width on-centroid vectors + one corrupt 1-dim vector:
    // distance alone would call the corrupt row the best inlier
    val embs = Seq(
      (1L, Array(1f, 1f), 0), (2L, Array(1f, 1f), 0), (3L, Array(1f, 1f), 0),
      (4L, Array(1f), 0))
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.centroidOutliers(embs, "label", "vec_id",
      "embedding", k = 1)
      .select("vec_id", "n_dims", "rank").as[(Long, Long, Int)].head()
    assert(top == ((4L, 1L, 1)), "the truncated vector must rank as the top outlier")
  }

  test("weightedMixture: null group values take the default percentage") {
    import graft.ops.Sampling
    val df = Seq((1L, Some("a")), (2L, None), (3L, None)).toDF("id", "grp")
    val kept = Sampling.weightedMixture(df, $"id", $"grp",
      Seq("a" -> 0), defaultPct = 100)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L), "null-group rows must follow defaultPct")
  }

  test("packByTokenBudget: packs are contiguous in id order and near-budget") {
    import graft.ops.Packing
    val docs = (1L to 100L).map(i => (i, "src", ("w " * 100).trim))
      .toDF("doc_id", "source", "text")
    val packed = Packing.packByTokenBudget(docs, "doc_id", "text",
      Seq("source"), budget = 250)
    val rows = packed.select($"doc_id", $"pack_id").as[(Long, Long)]
      .collect().sortBy(_._1)
    // contiguity: pack ids are non-decreasing in doc order
    assert(rows.map(_._2).sliding(2).forall(p => p(0) <= p(1)))
    // each 100-token doc starts at prev = (i-1)*100 -> pack floor(prev/250):
    // packs hold 2-3 docs (200-300 tokens, may overflow by < 1 doc)
    val sizes = rows.groupBy(_._2).map(_._2.length).toSet
    assert(sizes.subsetOf(Set(2, 3)))
  }

  test("kmeansFit k=1: round-2 distances are to the exact floored mean") {
    val embs = Seq((1L, Array(1f, 1f)), (2L, Array(3f, 3f)),
      (3L, Array(5f, 7f))).toDF("vec_id", "embedding")
    val got = Similarity.kmeansFit(embs, "vec_id", "embedding",
      k = 1, iters = 2)
      .orderBy("vec_id").as[(Long, Long, Long)].collect().toList
    // after round 1 every row is in cluster 0, so the round-2 centroid is
    // the floored per-dim mean of ALL rows, seed-independent:
    // dim0 = (1+3+5)e6/3 = 3e6; dim1 = floor(11e6/3) = 3666666
    val (c0, c1) = (3000000L, 3666666L)
    def d2(a: Long, b: Long) = (a - c0) * (a - c0) + (b - c1) * (b - c1)
    assert(got == List((1L, 0L, d2(1000000L, 1000000L)),
      (2L, 0L, d2(3000000L, 3000000L)), (3L, 0L, d2(5000000L, 7000000L))))
  }

  test("kmeansFit: identical vectors collapse to cluster 0; empty cluster drops") {
    val embs = Seq((1L, Array(2f, 2f)), (2L, Array(2f, 2f)),
      (3L, Array(2f, 2f))).toDF("vec_id", "embedding")
    val got = Similarity.kmeansFit(embs, "vec_id", "embedding",
      k = 2, iters = 2)
      .as[(Long, Long, Long)].collect().toList
    // both seeds are the same point -> argmin ties break to cluster 0,
    // cluster 1 loses all members and drops out of round 2
    assert(got.map(r => (r._2, r._3)).toSet == Set((0L, 0L)))
    assert(got.map(_._1).toSet == Set(1L, 2L, 3L))
  }

  test("pqTopK exactness law: k = n makes every vector its own codeword, " +
    "so ADC ranking equals brute-force squared distance — for m = 1 AND " +
    "m = 2") {
    // 8 distinct 4-dim vectors; with k = 8 the trained codebook IS the
    // vector set per subspace, encoding is lossless, ADC = exact d2
    val vecs = Seq(
      (0L, Array(0f, 0f, 1f, 0f)), (1L, Array(1f, 0f, 0f, 1f)),
      (2L, Array(0f, 2f, 0f, 0f)), (3L, Array(2f, 0f, 1f, 1f)),
      (4L, Array(0f, 1f, 2f, 0f)), (5L, Array(1f, 1f, 0f, 2f)),
      (6L, Array(2f, 2f, 1f, 0f)), (7L, Array(0f, 0f, 0f, 3f)))
    val embs = vecs.toDF("vec_id", "embedding")
    val s = 1000000L
    def exactRank(q: Long): Seq[(Long, Long, Long)] = {
      val qv = vecs.find(_._1 == q).get._2.map(v => (v * s).toLong)
      vecs.map { case (id, v) =>
        val d2 = v.map(x => (x * s).toLong).zip(qv)
          .map { case (a, b) => (a - b) * (a - b) }.sum
        (id, d2)
      }.sortBy { case (id, d2) => (d2, id) }.take(3)
        .zipWithIndex.map { case ((id, d2), r) => (r + 1L, id, d2) }
    }
    for (m <- Seq(1, 2)) {
      val got = Similarity.pqTopK(embs, "vec_id", "embedding",
          queryIds = Seq(0L, 5L), m = m, k = 8, iters = 2, topK = 3)
        .orderBy("q_id", "rank")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val want = Seq(0L, 5L).flatMap(q =>
        exactRank(q).map { case (r, id, d2) => (q, r, id, d2) })
      assert(got == want, s"m=$m: got $got, want $want")
      // and in particular every query retrieves ITSELF at rank 1, d2 = 0
      assert(got.filter(_._2 == 1L).map(r => (r._1, r._3, r._4)) ==
        Seq((0L, 0L, 0L), (5L, 5L, 0L)))
    }
    intercept[IllegalArgumentException] { // 4 dims don't split 3 ways
      Similarity.pqTopK(embs, "vec_id", "embedding", Seq(0L),
        m = 3, k = 2, iters = 1, topK = 1)
    }
    // and the recall audit reads 100% at the lossless setting
    val audit = Similarity.pqRecallAudit(embs, "vec_id", "embedding",
        Seq(0L, 5L), m = 2, k = 8, iters = 2, topK = 3)
      .orderBy("q_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(audit == Seq((0L, 3L, 3L, 1000000L), (5L, 3L, 3L, 1000000L)))
  }

  test("kmeansNearDupPairs finds only in-threshold pairs, ordered id_a < id_b") {
    // (1,1) and (1.000001,1) are 1 scaled unit apart; (9,9) is far
    val embs = Seq((5L, Array(1f, 1f)), (2L, Array(1.000001f, 1f)),
      (3L, Array(9f, 9f))).toDF("vec_id", "embedding")
    val got = Similarity.kmeansNearDupPairs(embs, "vec_id", "embedding",
      k = 1, iters = 1, maxDist2 = 1000000L)
      .select("id_a", "id_b", "dist2").as[(Long, Long, Long)].collect().toList
    assert(got.length == 1 && got.head._1 == 2L && got.head._2 == 5L,
      s"only the close pair, lower id first: $got")
    assert(got.head._3 <= 1000000L)
  }

  test("kmeansFit excludes ragged vectors and rejects bad params") {
    val embs = Seq((1L, Array(1f, 1f)), (2L, Array(1f, 1f)),
      (3L, Array(9f))).toDF("vec_id", "embedding")
    val ids = Similarity.kmeansFit(embs, "vec_id", "embedding", k = 1,
      iters = 1).select("vec_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L), "truncated vector must not be clustered")
    intercept[IllegalArgumentException](
      Similarity.kmeansFit(embs, "vec_id", "embedding", k = 0, iters = 1))
    intercept[IllegalArgumentException](
      Similarity.kmeansFit(embs, "vec_id", "embedding", k = 1, iters = 0))
    intercept[IllegalArgumentException](
      Similarity.kmeansFit(embs, "vec_id", "embedding", k = 1, iters = 1,
        scale = 1e9))
  }

  test("minHashVerifiedPairs: verify pass rejects far candidates the bands propose") {
    import org.apache.spark.sql.functions.col
    val near = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, near),
      (2L, near + " x"),                      // 2 edits away → verifies
      (3L, "completely different words that still share the quick brown fox jumps run"))
      .toDF("doc_id", "text")
    val verified = Dedup.minHashVerifiedPairs(docs, "doc_id", "text",
      maxDistance = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(verified == Set((1L, 2L)), s"got $verified")
    // the unverified candidate set must be a superset claim: bands may or
    // may not propose (1,3)/(2,3), but the verify NEVER passes them
    val all = Dedup.minHashVerifiedPairs(docs, "doc_id", "text",
      maxDistance = 10000)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(all.contains((1L, 2L)))
    intercept[IllegalArgumentException](
      Dedup.minHashVerifiedPairs(docs, "doc_id", "text", maxDistance = -1))
  }

  test("mutualTopK: reciprocity filter, self excluded, duplicate-tie robust") {
    // v1≈v2 (mutual), v3 far from both but its top-k contains them while
    // they prefer each other — with k=1, (1,2) is the only mutual pair.
    // v4 duplicates v1: cosine-1.0 ties must not leak self pairs.
    val embs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.99f, 0.1f)),
      (3L, Array(0f, 1f)), (4L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mutualTopK(embs, "vec_id", "embedding", k = 1)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got.forall(p => p._1 < p._2))
    assert(got.forall(p => p._1 != p._2), "self pairs must never appear")
    // v1 and v4 are identical → each other's top-1 → mutual
    assert(got.contains((1L, 4L)))
  }

  test("exactStratifiedSplit pins the per-stratum holdout count exactly") {
    import org.apache.spark.sql.functions._
    val df = (1L to 37L).map(i => (if (i <= 30) "big" else "small", i))
      .toDF("g", "id")
    val got = graft.ops.Sampling.exactStratifiedSplit(df, "g", "id", 1, 10)
    val counts = got.filter(col("split") === "holdout")
      .groupBy("g").count().as[(String, Long)].collect().toMap
    assert(counts.getOrElse("big", 0L) == 3L)     // floor(30/10)
    assert(counts.getOrElse("small", 0L) == 0L)   // floor(7/10)
    // deterministic: same rows every run
    val again = graft.ops.Sampling.exactStratifiedSplit(df, "g", "id", 1, 10)
      .filter(col("split") === "holdout").select("id").as[Long].collect().toSet
    val first = got.filter(col("split") === "holdout")
      .select("id").as[Long].collect().toSet
    assert(again == first)
    intercept[IllegalArgumentException](
      graft.ops.Sampling.exactStratifiedSplit(df, "g", "id", 10, 10))
  }

  test("keepBestInCluster: score argmax with id tiebreak; singletons survive") {
    import org.apache.spark.sql.functions.col
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 7L))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = Dedup.keepBestInCluster(docs, pairs, "doc_id", "score")
      .orderBy("doc_id").as[(Long, Long, Long, Boolean)].collect().toList
    assert(got == List(
      (1L, 1L, 5L, false),
      (2L, 1L, 9L, true),    // ties on score=9 break to the lower id
      (3L, 1L, 9L, false),
      (4L, 4L, 7L, true)))   // unpaired doc is its own cluster
    // exactly one keeper per cluster
    val keepers = got.filter(_._4).map(_._2)
    assert(keepers == keepers.distinct)
  }

  test("boilerplateSpans: distinct-doc threshold, within-doc repeats count occurrences only") {
    // "foo" is in docs 1,2,3 (doc 3 twice → 4 occurrences, 3 docs);
    // "X"/"Y"/"Z" are singletons and must not surface
    val docs = Seq((1L, "foo\nX"), (2L, "foo\nY"), (3L, "foo\nfoo"),
      (4L, "Z")).toDF("doc_id", "text")
    val got = Dedup.boilerplateSpans(docs, "doc_id", "text", minDocs = 3)
      .select("n_docs", "n_occurrences", "first_doc", "span")
      .as[(Long, Long, Long, String)].collect().toList
    assert(got == List((3L, 4L, 1L, "foo")))
    // a doc repeating a span alone never clears the distinct-doc bar
    val solo = Seq((1L, "a\na\na"), (2L, "b")).toDF("doc_id", "text")
    assert(Dedup.boilerplateSpans(solo, "doc_id", "text", minDocs = 2)
      .count() == 0L)
    intercept[IllegalArgumentException](
      Dedup.boilerplateSpans(docs, "doc_id", "text", minDocs = 1))
  }

  test("prefixJaccardPairs: hand case — 2/4 overlap at tau=1/2, disjoint excluded") {
    val docs = Seq(
      (1L, "a b c d e"), // shingles {abc,bcd,cde}
      (2L, "a b c d x"), // {abc,bcd,cdx} — inter 2, union 4, J = 1/2
      (3L, "z y x w v")) // disjoint
      .toDF("doc_id", "text")
    val got = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 1, 2)
      .select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    assert(got == List((1L, 2L, 2L, 3L, 3L, 500000L)))
    // tighter tau excludes the same pair
    assert(Dedup.prefixJaccardPairs(docs, "doc_id", "text", 2, 3).count() == 0L)
    intercept[IllegalArgumentException](
      Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, 2))
  }

  test("prefixJaccardPairs: EXACT — equals brute-force all-pairs Jaccard at tau") {
    // 20 docs over a tiny alphabet → dense overlap structure; the prefix
    // filter must reproduce the brute-force >= 1/3 pair set EXACTLY
    val docs = (0L until 20L).map { i =>
      val ws = (0 until 8).map(j => s"w${(i + j * (i % 3 + 1)) % 11}")
      (i, ws.mkString(" "))
    }.toDF("doc_id", "text")
    val brute = Dedup.ngramJaccard(
        docs.withColumn("blk", lit(1)), "doc_id", "text", Seq("blk"))
      .filter(col("jaccard") >= 1.0 / 3.0)
      .select("doc_a", "doc_b", "n_inter")
      .as[(Long, Long, Long)].collect().toSet
    val fast = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 1, 3)
      .select("doc_a", "doc_b", "n_inter")
      .as[(Long, Long, Long)].collect().toSet
    assert(fast == brute)
    assert(fast.nonEmpty)
  }

  test("sourceShingleOverlap: shared shingles counted once per source, " +
    "zero-overlap pairs included, containment both directions") {
    val docs = Seq(
      ("A", "x y z w"),        // shingles: "x y z", "y z w"
      ("A", "x y z"),          // duplicate shingle within A → distinct
      ("B", "x y z q"),        // shares "x y z" with A
      ("C", "p q r s")         // disjoint
    ).toDF("source", "text")
    val got = graft.ops.Dedup.sourceShingleOverlap(docs, "source", "text")
      .select("source_a", "source_b", "n_shared", "n_a", "n_b",
        "contain_a_ppm")
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // A has {xyz, yzw} = 2; B has {xyz, yzq} = 2; C has {pqr, qrs} = 2
    assert(got(("A", "B")) == (("A", "B", 1L, 2L, 2L, 500000L)))
    assert(got(("A", "C"))._3 == 0L)    // zero pair present
    assert(got(("B", "C"))._3 == 0L)
    assert(got.size == 3)
  }

  test("centroidCosineMatrix: orthogonal 0, parallel 1e6, sign on dot, " +
    "centroid division cancels (different group sizes agree)") {
    val vecs = Seq(
      (0, Seq(1.0f, 0.0f)), (0, Seq(1.0f, 0.0f)),     // centroid (1, 0)
      (1, Seq(0.0f, 1.0f)),                           // orthogonal
      (2, Seq(2.0f, 0.0f)), (2, Seq(2.0f, 0.0f)),
      (2, Seq(2.0f, 0.0f)),                           // parallel, n=3
      (3, Seq(-1.0f, 0.0f))                           // anti-parallel
    ).toDF("label", "embedding")
    val got = Similarity.centroidCosineMatrix(vecs, "label", "embedding")
      .select("label_a", "label_b", "n_a", "n_b", "dot", "cos2_ppm")
      .as[(Int, Int, Long, Long, Long, Long)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4, r._5, r._6))).toMap
    assert(got((0, 1)) == ((2L, 1L, 0L, 0L)))             // orthogonal
    assert(got((0, 2))._4 == 1000000L)                    // parallel
    assert(got((0, 2))._3 > 0)                            // positive dot
    assert(got((0, 3))._4 == 1000000L)                    // anti-parallel…
    assert(got((0, 3))._3 < 0)                            // …sign via dot
    assert(got.size == 6)                                 // 4 choose 2
  }
}
