package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFns, VectorFns}

/** Deduplication operators for large-scale document corpora — the
  * generalization of the reference's exact-hash ledger dedup
  * (ideafast_etl/hooks/db.py:49-55, dags/dreem.py:49-67) to near-duplicate
  * detection.
  *
  * Scale design: every operator is expressed as explode → hash-aggregate →
  * (band-bucketed) self-join, i.e. shuffle keys are uniform hashes or small
  * band buckets, never whole documents. Nothing materializes on the driver.
  * The O(n²) comparisons only ever happen WITHIN an LSH band bucket or
  * blocking group, which is the standard way these stay tractable at 100 TB.
  */
object Dedup {

  /** Exact dedup: documents sharing sha256(text). Keeps min id as canonical.
    * One hash-aggregate; at scale this is a single shuffle on a 64-hex key.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), sha2(col(textCol), 256).as("text_sha"))
      .groupBy("text_sha")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Duplicate-aware DOWN-WEIGHTING — soft dedup: instead of dropping
    * copies (the [[exact]] → anti-join path), every document keeps a
    * sampling weight inversely proportional to its exact-duplicate
    * multiplicity, so each duplicate family contributes exactly ONE
    * document's worth of training mass while preserving the family's
    * natural distribution over shards/sources (the published rationale
    * for weighting over removal: hard dedup throws away the duplication
    * SIGNAL a sampler can exploit). weight_ppm = 1e6 ∕ copies exactly;
    * eff_tokens_ppm = (1e6 · n_words) ∕ copies, so a family of c copies
    * sums to one document's token mass (minus an integer remainder < c).
    *
    * Shape at 100 TB: ONE window partitioned by sha256(text) — the
    * duplicate groups are the partitions, typically tiny; no join back,
    * no census relation, no driver state. The near-dup variant composes
    * by feeding minhash family ids ([[lshBands]]/q55) as the partition
    * key instead.
    */
  def softDedupWeights(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val w = Window.partitionBy(col("_sha"))
    docs
      .select(col(idCol),
        size(split(col(textCol), " ")).cast("long").as("n_words"),
        sha2(col(textCol), 256).as("_sha"))
      .withColumn("copies", count(lit(1)).over(w))
      .select(col(idCol), col("copies"), col("n_words"),
        expr("1000000L div copies").as("weight_ppm"),
        expr("(1000000L * n_words) div copies").as("eff_tokens_ppm"))
  }

  /** Span-level corpus dedup (RefinedWeb/Falcon-style): split each document
    * on `sep`, drop every span occurrence except the corpus-wide FIRST
    * (minimum (doc, position) over all documents sharing the span's 60-bit
    * content hash), and reassemble the surviving spans in original order.
    * Exact-duplicate boilerplate (headers, footers, license blocks,
    * navigation chrome) vanishes from every document but its first.
    *
    * Output: idCol, n_spans, n_kept, text_deduped (empty string when every
    * span of a document appeared earlier elsewhere).
    *
    * Shape at 100 TB: posexplode → ONE window over the span hash (uniform
    * 60-bit key: partitions are duplicate-groups, typically tiny, so the
    * per-group sort is trivial) → ONE aggregate on the doc id. A
    * groupBy-winner + join-back formulation was measurably worse: the
    * winner side re-scans and re-splits the whole corpus (same
    * double-tokenize trap q68 had), where the window reads spans once.
    * First-occurrence is a total order (doc, pos), so the result is
    * deterministic under any partitioning — pinned in MiscOpsSpec and
    * PlanIntegritySpec (2 exchanges, 1 scan).
    */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
                 sep: String = "\n"): DataFrame = {
    val spans = docs
      .select(col(idCol), posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "span")))
      .withColumn("sh", TextFns.hash64(col("span")))
    val w = Window.partitionBy(col("sh")).orderBy(col(idCol), col("pos"))
    val kept = spans.withColumn("_keep", row_number().over(w) === 1)
    kept.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("_keep"),
              struct(col("pos"), col("span"))))),
            s => s.getField("span")),
          sep).as("text_deduped"))
  }

  /** Corpus boilerplate detection (the C4/RefinedWeb "repeated line" rule,
    * cross-document form): spans (split on `sep`) that occur in at least
    * `minDocs` DISTINCT documents are boilerplate — headers, footers,
    * cookie banners, license blocks, navigation chrome. Where
    * [[dedupSpans]] keeps the corpus-wide FIRST occurrence of every span,
    * this op reports the repeated spans themselves, for removal lists or
    * curation review.
    *
    * Output: (sh 60-bit span hash, n_docs, n_occurrences, first_doc,
    * span) — one row per boilerplate span.
    *
    * Shape at 100 TB: explode → ONE aggregate keyed by the uniform 60-bit
    * span hash (map-side combine collapses within-partition repeats, and
    * the two-phase count-distinct on the doc id rides the same key); the
    * output relation is bounded by the number of REPEATED spans, a tiny
    * fraction of the corpus. No self-join, no window.
    */
  def boilerplateSpans(docs: DataFrame, idCol: String, textCol: String,
                       sep: String = "\n", minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    docs
      .select(col(idCol),
        explode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as("span"))
      .withColumn("sh", TextFns.hash64(col("span")))
      .groupBy("sh")
      .agg(
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col(idCol)).as("first_doc"),
        min(col("span")).as("span"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Document-level duplicated-line policy (the Gopher/C4 repetition
    * filter, cross-document form — CCNet's "fraction of lines seen
    * elsewhere"): for each document, the share of its line occurrences
    * whose line (split on `sep`) appears in at least `minDocs` DISTINCT
    * documents, as exact ppm; `keep` applies the curation threshold. Where
    * [[boilerplateSpans]] reports the repeated spans themselves and
    * [[dedupSpans]] rewrites documents, this is the ADMISSION rule — drop
    * documents that are mostly corpus boilerplate, keep the rest intact.
    *
    * COLLISION POSTURE (the family's, stated): the census keys on the
    * 60-bit `hash64` of the line, not the line string — a cross-document
    * hash collision counts a unique line as duplicated. Same tolerance
    * as [[boilerplateSpans]]/[[dedupSpans]]: with 2^60 buckets the
    * expected corpus-wide collision count is ~L²/2^61 for L distinct
    * lines (≪1 below ~10^8 lines), and a collision only perturbs one
    * doc's ppm by one line — it never deletes content. Use the exact
    * string as the key if bit-exactness is required and the wider
    * shuffle is acceptable.
    *
    * Output: (idCol, n_lines, n_dup_lines, dup_ppm, keep) — one row per
    * document, including line-free documents (n_lines counts the empty
    * split token, so it is never 0; no division guard needed).
    *
    * Shape at 100 TB: explode → ONE aggregate keyed by (line hash, doc)
    * — the corpus collapses to the distinct (line, doc) relation here,
    * map-side combined, tokenizing exactly once (a census + join-back
    * formulation re-scans and re-splits the whole corpus: the q68/
    * dedupSpans double-tokenize trap) → a window COUNT over the line
    * hash rides that same exchange (partitions are duplicate-groups,
    * typically tiny) → one doc-keyed rollup. No self-join, no driver
    * state.
    */
  def dupLineDocShare(docs: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n", minDocs: Int = 2,
                      maxDupPpm: Long = 300000L): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(maxDupPpm >= 0L && maxDupPpm <= 1000000L,
      s"maxDupPpm must be a ppm value in [0, 1000000], got $maxDupPpm")
    val perDocLine = docs
      .select(col(idCol),
        explode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as("span"))
      .withColumn("sh", TextFns.hash64(col("span")))
      .groupBy(col("sh"), col(idCol))
      .agg(count(lit(1)).as("_c"))
    val w = Window.partitionBy(col("sh"))
    perDocLine
      .withColumn("_n_docs", count(lit(1)).over(w))
      .groupBy(col(idCol))
      .agg(
        sum(col("_c")).as("n_lines"),
        sum(when(col("_n_docs") >= minDocs, col("_c")).otherwise(0L))
          .as("n_dup_lines"))
      .withColumn("dup_ppm", expr("(n_dup_lines * 1000000) div n_lines"))
      .withColumn("keep", col("dup_ppm") <= maxDupPpm)
  }

  /** Quality-aware near-dup removal: given a candidate-pair graph (from
    * [[simHashPairs]], [[minHashLshCandidates]], or any blocked pair
    * source), cluster it with [[connectedComponents]] and keep the
    * HIGHEST-scoring member of each duplicate family (score desc,
    * id-tiebroken) — the curation policy "dedup by quality", versus the
    * min-id canonical the plain CC output implies. Documents in no pair
    * are their own singleton cluster and always survive.
    *
    * Output: idCol, cluster (the family's min id), scoreCol, keep
    * (BOOLEAN — exactly one true per cluster).
    *
    * Shape at 100 TB: CC over the BLOCKED pair graph (sub-quadratic by
    * construction — pass blocked pairs, not exact all-pairs), one LEFT
    * join to attach cluster ids (the CC relation covers only paired
    * docs, ≪ corpus), one cluster-partitioned window for the argmax.
    */
  def keepBestInCluster(docs: DataFrame, pairs: DataFrame, idCol: String,
                        scoreCol: String, aCol: String = "doc_a",
                        bCol: String = "doc_b"): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol, outIdCol = idCol)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col(scoreCol).desc, col(idCol))
    docs.select(col(idCol), col(scoreCol))
      .join(cc, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("canonical_id"), col(idCol)))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("cluster"), col(scoreCol), col("keep"))
  }

  /** MinHash signatures: one row per (id, hashIndex) with the min seeded
    * hash over the doc's distinct word-`shingleSize`-gram shingles.
    *
    * Computed as ONE wide aggregation (numHashes min-columns per doc) so the
    * shuffle carries |shingles| narrow rows with map-side combine — the
    * explode-by-hash-index form would shuffle numHashes× the rows through a
    * (doc, h) key. Unpivoted afterwards (tiny: docs × numHashes).
    */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, shingleSize: Int = 3): DataFrame = {
    // min() is duplicate-insensitive, so MinHash-over-the-shingle-SET needs
    // no distinct(): the per-doc min over raw shingle occurrences equals the
    // min over the set, and skipping the dedup removes an entire shuffle of
    // shingle rows (the signature stage becomes ONE shuffle — the final
    // groupBy(id) with map-side partial min combine).
    //
    // One sha256 per shingle via the native ShingleParts (four 60-bit parts
    // from one digest, computed straight from the text bytes — no shingle
    // strings, no hex/conv decodes); the k hash functions are xor/shift
    // mixes of the parts (standard practice — k independent strong hashes
    // are unnecessary).
    val parts = docs
      .select(col(idCol), explode(TextFns.shingleParts(col(textCol), shingleSize)).as("_ps"))
      .select(col(idCol) +: (0 until 4).map(j => col("_ps")(j).as(s"_p$j")): _*)
    val hashCols = (0 until numHashes).map { h =>
      min(col(s"_p${h % 4}").bitwiseXOR(
        shiftright(col(s"_p${(h + 1) % 4}"), (h * 7) % 29))).as(s"_mh$h")
    }
    val wide = parts.groupBy(col(idCol)).agg(hashCols.head, hashCols.tail: _*)
    val stackArgs = (0 until numHashes).map(h => s"$h, _mh$h").mkString(", ")
    wide.selectExpr(idCol, s"stack($numHashes, $stackArgs) as (h, minh)")
  }

  /** (id, band, band_sig) band relation for a stacked (id, h, minh)
    * signature set — the joinable LSH index form. Persist THIS relation for
    * a standing corpus index: incremental dedup then touches only the new
    * batch's signatures plus one keyed join (see [[dedupAgainstIndex]]).
    */
  def lshBands(signatures: DataFrame, idCol: String,
               rowsPerBand: Int): DataFrame =
    signatures
      .withColumn("band", floor(col("h") / rowsPerBand))
      .groupBy(col(idCol), col("band"))
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("h"), col("minh")))),
          s => s.getField("minh").cast("string")), ",").as("band_sig"))

  /** Incremental near-dup admission: annotate each `incoming` document with
    * its MinHash-LSH match against the standing `index` corpus — `dup_of`
    * (smallest colliding index id, NULL for novel docs) and `n_matches`
    * (distinct index docs sharing ≥1 band). The admission filter is then
    * `n_matches = 0`; returning the annotation instead of pre-filtering
    * keeps the audit trail (what was rejected, and against what).
    *
    * Scale shape: the index side arrives as documents here, but the band
    * relation is what a production pipeline PERSISTS ([[lshBands]]) — then
    * each new batch costs only its own signature pass plus one join keyed
    * by (band, band_sig) whose buckets are near-dup-cluster-sized, never a
    * batch×corpus comparison. The final annotation join is keyed by the
    * incoming id. No driver state; both match aggregates map-side combine.
    *
    * CONTRACT — minimum document length: a document shorter than
    * `shingleSize` words has NO shingles, hence no signature and no bands,
    * and is therefore ALWAYS annotated novel (n_matches = 0) even when the
    * index holds its exact copy — inherent to every shingle-based method
    * in this family, not a quirk of this one. An admission pipeline must
    * route sub-shingle docs through exact-hash dedup ([[exactDedup]] /
    * the q03 anti-join) instead; do not rely on LSH for them.
    */
  def dedupAgainstIndex(incoming: DataFrame, index: DataFrame,
                        idCol: String, textCol: String, numHashes: Int,
                        rowsPerBand: Int, shingleSize: Int = 3): DataFrame =
    dedupAgainstBands(incoming,
      lshBands(
        minHashSignatures(index, idCol, textCol, numHashes, shingleSize),
        idCol, rowsPerBand),
      idCol, textCol, numHashes, rowsPerBand, shingleSize)

  /** [[dedupAgainstIndex]] against a PREBUILT band relation — the form a
    * standing pipeline actually runs. `indexBands` is the persisted
    * (idCol, band, band_sig) output of [[lshBands]] over the corpus,
    * maintained incrementally as batches are admitted; each call then pays
    * ONLY the incoming batch's signature pass plus one keyed join against
    * the stored relation, never a re-signature of the corpus (which
    * [[dedupAgainstIndex]], taking raw index documents, must do every
    * call). Same output contract and same sub-shingle caveat as
    * [[dedupAgainstIndex]].
    *
    * The MinHash parameters (`numHashes`, `rowsPerBand`, `shingleSize`)
    * MUST match the ones the index was built with — band signatures from
    * mismatched parameters never collide, silently admitting everything;
    * callers should persist the parameters alongside the band relation.
    *
    * Shape at 100 TB: the (band, band_sig) join's buckets are
    * near-dup-cluster-sized; bucketing the stored relation BY (band,
    * band_sig) makes the per-batch join shuffle-free on the index side —
    * only the batch-sized incoming bands move.
    */
  def dedupAgainstBands(incoming: DataFrame, indexBands: DataFrame,
                        idCol: String, textCol: String, numHashes: Int,
                        rowsPerBand: Int, shingleSize: Int = 3): DataFrame =
    annotateAgainstBands(incoming.select(col(idCol)),
      lshBands(
        minHashSignatures(incoming, idCol, textCol, numHashes, shingleSize),
        idCol, rowsPerBand),
      indexBands, idCol)

  /** The join half of [[dedupAgainstBands]], for callers that already
    * hold the incoming batch's band relation (e.g. a sequential-admission
    * loop that will also APPEND those bands to the index — signing the
    * batch once for both uses, q256's shape). `incomingIds` must be the
    * one-column id relation of the batch (annotation is total over it:
    * band-less docs come back novel).
    */
  def annotateAgainstBands(incomingIds: DataFrame, incomingBands: DataFrame,
                           indexBands: DataFrame, idCol: String): DataFrame = {
    val idx = indexBands
      .select(col(idCol).as("_idx_id"), col("band"), col("band_sig"))
    val matches = incomingBands.join(idx, Seq("band", "band_sig"))
      .groupBy(col(idCol))
      .agg(min(col("_idx_id")).as("dup_of"),
        countDistinct(col("_idx_id")).as("n_matches"))
    incomingIds
      .join(matches, Seq(idCol), "left")
      .na.fill(0L, Seq("n_matches"))
  }

  /** LSH banding: group each signature into bands of `rowsPerBand` hashes,
    * serialize the band signature, and emit candidate pairs that collide in
    * at least one band. The self-join key is (band, band_sig) — tiny buckets,
    * so the pair blow-up is bounded by bucket size, not corpus size.
    */
  def minHashLshCandidates(signatures: DataFrame, idCol: String,
                           rowsPerBand: Int): DataFrame = {
    val bands = lshBands(signatures, idCol, rowsPerBand)
    val a = bands.select(col(idCol).as("doc_a"), col("band"), col("band_sig"))
    val b = bands.select(col(idCol).as("doc_b"), col("band"), col("band_sig"))
    a.join(b, Seq("band", "band_sig"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** The canonical two-stage near-dup pipeline: MinHash+LSH CANDIDATES →
    * exact edit-distance VERIFY. LSH banding alone over-triggers on
    * shared shingle runs; the Levenshtein pass (O(len²) per pair — far
    * too expensive for all pairs, affordable on the bucket-bounded
    * candidate set) keeps only pairs whose full texts actually sit
    * within `maxDistance` edits.
    *
    * Output: (doc_a, doc_b, n_shared_bands, edit_dist), only verified
    * pairs.
    *
    * Shape at 100 TB: candidates come from [[minHashLshCandidates]]
    * (band-bucketed, never all-pairs). The candidate relation is tiny
    * relative to the corpus, so it is BROADCAST into both text joins —
    * the corpus text column streams through two broadcast hash joins and
    * never shuffles. The surviving pair rows then get an EXPLICIT-COUNT
    * repartition ([[Partitions.parts]]) before the Levenshtein kernel: the pair relation is a
    * few KB of ids but carries O(len²) CPU per row, and AQE's
    * input-bytes-driven coalescing would otherwise fold the whole verify
    * stage onto one task (the expansion-join trap, CPU flavor — the
    * explicit numPartitions exempts the exchange from coalescing).
    */
  def minHashVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
                           maxDistance: Int, numHashes: Int = 16,
                           rowsPerBand: Int = 2): DataFrame = {
    require(maxDistance >= 0, s"maxDistance must be >= 0: $maxDistance")
    val sigs = minHashSignatures(docs, idCol, textCol, numHashes)
    val cands = minHashLshCandidates(sigs, idCol, rowsPerBand)
    val ta = docs.select(col(idCol).as("doc_a"), col(textCol).as("_ta"))
    val tb = docs.select(col(idCol).as("doc_b"), col(textCol).as("_tb"))
    broadcast(broadcast(cands).join(ta, "doc_a")).join(tb, "doc_b")
      .repartition(Partitions.parts(docs.sparkSession),
        col("doc_a"), col("doc_b"))
      .withColumn("edit_dist", levenshtein(col("_ta"), col("_tb")))
      .filter(col("edit_dist") <= maxDistance)
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
        col("edit_dist"))
  }

  /** SimHash: `bits`-bit signature; bit b is the sign of the sum of ±1 votes
    * from every word token's hash bit b (term frequency = vote weight).
    *
    * One wide aggregation — `bits` vote-sum columns per doc — instead of
    * exploding a (doc, bit) row per word×bit: the shuffle carries |words|
    * rows once, partially combined map-side, not bits× that through an
    * extra aggregation.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int = 32): DataFrame =
    docs.select(col(idCol),
      graft.expressions.SimHashBits(col(textCol), bits).as("simhash"))

  /** SimHash near-dup pairs under a Hamming-distance threshold.
    *
    * DEFAULT (`blockBits = 4`) is the blocked scale path: only pairs
    * sharing the `blockBits` high signature bits are compared at all
    * (bucket-local; a documented recall trade, gate q51). This is the
    * behavior a user should hit without reading further — on a
    * near-duplicate-heavy corpus the exact path's verified OUTPUT alone
    * grows quadratically with cluster density (measured 5.8M pairs at 10×
    * in SCALING.md), so exactness is the opt-in, not the default.
    *
    * `blockBits = 0` opts into the EXACT sub-quadratic pigeonhole
    * multi-probe: the signature splits into `maxHamming + 1` bit-blocks,
    * and a pair within the threshold differs in at most `maxHamming`
    * blocks — so it matches EXACTLY in at least one block. Candidates
    * come from an equi-join on (block index, block value) (~(k+1)× row
    * fan-out, near-unique keys), then the true Hamming distance verifies.
    * Identical result to all-pairs comparison, without the n² — this is
    * what replaced the round-1 `crossJoin(broadcast)`. Gates q23/q55 pin
    * this form explicitly.
    */
  def simHashPairs(sigs: DataFrame, idCol: String, maxHamming: Int,
                   blockBits: Int = 4, bits: Int = 32): DataFrame = {
    if (blockBits > 0) {
      val a = sigs.select(col(idCol).as("doc_a"), col("simhash").as("sig_a"))
      val b = sigs.select(col(idCol).as("doc_b"), col("simhash").as("sig_b"))
      val ab = a.withColumn("block", expr(s"sig_a >> ($bits - $blockBits)"))
      val bb = b.withColumn("block", expr(s"sig_b >> ($bits - $blockBits)"))
      ab.join(bb, "block").drop("block")
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
        .filter(col("hamming") <= maxHamming)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    } else {
      val nBlocks = maxHamming + 1
      // Scala shifts are mod 64: (1L << 64) - 1 is 0, which would collapse
      // every signature to bucket 0 and silently degrade the equi-join to
      // all-pairs for the single-block (maxHamming = 0, bits = 64) config
      def mask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1
      val probes =
        if (nBlocks > bits) {
          // maxHamming >= bits: EVERY pair is within threshold, so the
          // complete candidate set is all pairs — previously this worked
          // only by accident (a zero-width block's zero mask bucketed
          // everything together); make the degenerate exhaustive pairing
          // explicit with one constant probe
          Seq(struct(lit(0).as("j"), lit(0L).as("bv")))
        } else {
          val base = bits / nBlocks
          val widths =
            (0 until nBlocks).map(j => base + (if (j < bits % nBlocks) 1 else 0))
          val shifts = widths.scanLeft(0)(_ + _).init
          (0 until nBlocks).map { j =>
            struct(lit(j).as("j"),
              expr(s"(simhash >> ${shifts(j)}) & ${mask(widths(j))}").as("bv"))
          }
        }
      val probed = sigs.select(col(idCol), col("simhash"),
        explode(array(probes: _*)).as("p"))
        .select(col(idCol), col("simhash"), col("p.j").as("j"), col("p.bv").as("bv"))
      val a = probed.select(col(idCol).as("doc_a"), col("simhash").as("sig_a"),
        col("j"), col("bv"))
      val b = probed.select(col(idCol).as("doc_b"), col("simhash").as("sig_b"),
        col("j").as("j_b"), col("bv").as("bv_b"))
      a.join(b.hint("shuffle_hash"),
          col("j") === col("j_b") && col("bv") === col("bv_b") &&
            col("doc_a") < col("doc_b"))
        // a close pair can match in several blocks — dedup before the verify
        .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
        .distinct()
        .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
        .filter(col("hamming") <= maxHamming)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    }
  }

  /** N-gram Jaccard similarity over candidate pairs inside blocking groups
    * (`blockCols`). intersection via shingle equi-join, union from set sizes.
    *
    * Shingles are joined by their 60-bit sha256 hash, not the string — the
    * shuffled self-join carries fixed-width longs, and the oracle computes
    * the identical hash so even a (2^-60-rare) collision cannot diverge.
    */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   blockCols: Seq[String], shingleSize: Int = 3,
                   minJaccard: Double = 0.0): DataFrame =
    shingleIntersection(docs, idCol, textCol, blockCols, shingleSize)
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))

  /** Shared candidate core of [[ngramJaccard]] and [[ngramContainment]]:
    * per-doc DISTINCT shingle-hash sets, the blocked equi-join pairs
    * (doc_a < doc_b, same block) with intersection sizes, and both docs'
    * set sizes — (doc_a, doc_b, n_inter, n_a, n_b). One definition so a
    * change to the blocking or hashing cannot drift between the twins.
    */
  private def shingleIntersection(docs: DataFrame, idCol: String,
                                  textCol: String, blockCols: Seq[String],
                                  shingleSize: Int): DataFrame = {
    val sh = docs.select(
      col(idCol) +: blockCols.map(col) :+
        explode(TextFns.shingleHashes(col(textCol), shingleSize)).as("sh"): _*)
      .distinct()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col(idCol).as("doc_a") +: blockCols.map(col) :+ col("sh"): _*)
    val b = sh.select(col(idCol).as("doc_b") +: blockCols.map(c => col(c).as(s"b_$c")) :+ col("sh").as("b_sh"): _*)
    val joinCond = blockCols.map(c => col(c) === col(s"b_$c"))
      .reduce(_ && _) && col("sh") === col("b_sh") && col("doc_a") < col("doc_b")
    a.join(b, joinCond)
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
      .join(sizes.withColumnRenamed(idCol, "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed(idCol, "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
  }

  /** Asymmetric twin of [[ngramJaccard]]: containment(A→B) =
    * |sh(A) ∩ sh(B)| / |sh(A)| — the quote/subset-duplicate detector.
    * A short document pasted inside a long one scores near 1.0 here while
    * its Jaccard stays low (the union is dominated by the long side), so a
    * Jaccard-only near-dup pass systematically misses boilerplate
    * inclusions and quoted reposts. Same blocked shingle-intersection core
    * (never all-pairs); emits both directions for each unordered pair and
    * keeps those where EITHER side is mostly contained.
    */
  def ngramContainment(docs: DataFrame, idCol: String, textCol: String,
                       blockCols: Seq[String], shingleSize: Int = 3,
                       minContainment: Double = 0.0): DataFrame =
    shingleIntersection(docs, idCol, textCol, blockCols, shingleSize)
      .withColumn("cont_a", col("n_inter").cast("double") / col("n_a"))
      .withColumn("cont_b", col("n_inter").cast("double") / col("n_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        col("cont_a"), col("cont_b"))

  /** Scale path for [[embeddingNearDupExact]]: candidates must ALSO
    * collide in a `numPlanes`-bit random-hyperplane bucket, so block
    * size (and the quadratic pair count) shrinks ~2^numPlanes-fold at a
    * recall cost — measured in SCALING.md: the exact variant is the one
    * operator that scales quadratically with density.
    */
  def embeddingNearDupLsh(embs: DataFrame, idCol: String, vecCol: String,
                          blockCol: String, minCosine: Double,
                          numPlanes: Int): DataFrame = {
    val sig = Similarity.planeSignature(embs, idCol, vecCol, numPlanes)
    val blocked = embs.join(sig, idCol)
      .withColumn("_block2", concat_ws("|", col(blockCol), col("sig")))
    embeddingNearDupExact(blocked, idCol, vecCol, "_block2", minCosine)
  }

  /** Canonicalize near-dup PAIR output into dedup decisions: connected
    * components over the candidate-pair graph, labeling every doc with the
    * minimum doc id reachable from it — the step that turns "these pairs
    * look alike" (MinHash/SimHash/Jaccard/embedding pairs) into "keep this
    * one, drop those".
    *
    * Min-label propagation: labels(v) = min over N(v) ∪ {v}, iterated to
    * fixpoint with pointer jumping (follow label→label(label)), so the hop
    * distance to each component's minimum doubles per round — O(log
    * diameter) rounds. Each round is one join + one hash-aggregate on
    * (node), both on uniform keys; lineage is truncated per round
    * (localCheckpoint) so plans stay flat. The edge set is CACHED in a
    * dst-partitioned layout (the pageRank/labelPropagation posture), so
    * after round 1 only the node-sized label relation shuffles — at
    * 100 TB the per-round exchange is O(nodes), never O(edges). The edge
    * layout is released before returning: the labels handed back are a
    * checkpoint, and so is the fallback's input.
    *
    * If the label loop still hasn't converged after `maxRounds` (an
    * adversarial graph whose diameter exceeds 2^maxRounds — not a shape
    * near-dup clusters produce, but the 100 TB posture is degrade, don't
    * crash), the computation FALLS BACK to alternating large-star /
    * small-star contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond"), which provably converges in O(log² n) rounds
    * on any graph (the paper proves log²; observed behavior is O(log n))
    * and shrinks the edge set as it goes.
    *
    * Output: (idCol, canonical_id) for every node that appears in a pair.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          outIdCol: String = "doc_id",
                          maxRounds: Int = 25): DataFrame = {
    // r17: the per-round join reads the edge set through a CACHED
    // dst-partitioned layout (the pageRank/labelPropagation reuse
    // posture) — the edges never re-exchange after round 1; only the
    // node-sized label relation shuffles per round. The old
    // localCheckpoint(true) edge materialization paid one eager action
    // AND re-shuffled the full edge set inside every round's join.
    withPersisted(pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct()
        .repartition(col("dst")).sortWithinPartitions("dst")) { edges =>
      // lazy cut: the seed is referenced twice per round (edge join + own-
      // label union) — the localCheckpoint dedups it at the RDD level, and
      // the labelSum action below materializes it (no separate eager job)
      var labels = edges.select(col("src").as("node"))
        .distinct()
        .withColumn("label", col("node"))
        .localCheckpoint(false)
      // convergence checksum over xxhash64 of the label, NOT a numeric cast
      // of the label itself: string doc ids cast to NULL, which summed to
      // NULL -> ZERO every round and declared convergence after round 1
      // with wrong components. The hash is type-agnostic; labels only move
      // by min-propagation, so an unconverged round changes the label
      // multiset and (w.h.p.) this sum.
      def labelSum(df: DataFrame): java.math.BigDecimal = {
        val s = df
          .agg(sum(xxhash64(col("label"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))))
          .head().getDecimal(0)
        if (s == null) java.math.BigDecimal.ZERO else s // empty graph
      }
      var round = 0
      var prevSum = labelSum(labels)
      var converged = false
      while (!converged && round < maxRounds) {
        // neighbor labels (via edges) + own label, min per node
        val neighborMin = edges
          .join(labels.withColumnRenamed("node", "dst"), "dst")
          .select(col("src").as("node"), col("label"))
          .union(labels)
          .groupBy("node").agg(min(col("label")).as("label"))
        // pointer jumping: follow label -> label(label) so the hop distance
        // to each component's minimum DOUBLES per round — O(log diameter)
        // rounds instead of O(diameter) (a label is always a node id, so the
        // lookup is a self-join on the same frame; exchange reuse dedups the
        // shared subtree below the aggregate)
        //
        // LAZY checkpoint + the labelSum action = ONE job per round that
        // materializes the round AND observes the fixpoint sum (the LPA
        // converge-mode shape) — the old eager checkpoint-then-sum paid two
        // jobs per round of a loop whose sf0.1 cost is pure scheduling floor
        val next = neighborMin
          .join(neighborMin.select(col("node").as("_l"), col("label").as("_l2")),
            col("label") === col("_l"), "left")
          .select(col("node"), coalesce(col("_l2"), col("label")).as("label"))
          .localCheckpoint(false)
        // labels only ever decrease, so an unchanged (exact decimal) sum IS
        // the fixpoint — one cheap aggregate instead of a join per round
        val curSum = labelSum(next)
        converged = curSum.compareTo(prevSum) == 0
        prevSum = curSum
        labels = next
        round += 1
      }
      if (!converged) {
        // degrade to the guaranteed-O(log n) contraction instead of crashing
        labels = starContraction(edges)
      }
      labels.select(col("node").as(outIdCol), col("label").as("canonical_id"))
    }
  }

  /** Alternating large-star/small-star contraction over a SYMMETRIC distinct
    * edge list — the adversarial-diameter fallback for
    * [[connectedComponents]]. Each alternation strictly contracts long
    * chains toward component minima; the fixpoint is a star set (every
    * surviving edge connects a node to its component's minimum id).
    *
    *  - large-star: per node u with m = min(N(u) ∪ {u}), rewire every
    *    LARGER neighbor v > u to (v, m);
    *  - small-star (on the canonical big→small pairs): per node a with
    *    m = min of its smaller neighbors, rewire those neighbors and a
    *    itself to m.
    *
    * Both steps are groupBy-min + join on node ids (uniform keys, no
    * driver materialization); the edge set only shrinks, and convergence
    * is an exact set comparison (count + anti-join) per alternation.
    */
  private[ops] def starContraction(edgesSym: DataFrame): DataFrame = {
    val allNodes = edgesSym.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    // canonical undirected pairs (a > b); self-loops carry no connectivity
    var e = edgesSym.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("a"),
        least(col("src"), col("dst")).as("b"))
      .distinct().localCheckpoint(true)
    var stable = e.isEmpty
    var rounds = 0
    while (!stable) {
      rounds += 1
      // runaway backstop sized to the PROVEN bound, not the observed one:
      // Kiveris et al. prove O(log² n) alternations (≈ 63² for any graph
      // addressable by Long ids); observed convergence is ~log n. 4096
      // covers the proven bound with slack — hitting it means a logic bug,
      // not an adversarial input, so failing loudly beats looping forever.
      require(rounds <= 4096,
        "starContraction failed to converge within the proven O(log² n) " +
          "round bound — edge-shrink logic bug")
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val mins2 = large.groupBy("a").agg(min(col("b")).as("m"))
      val small = large.join(mins2, "a")
        .select(col("b").as("node"), col("m"))
        .filter(col("node") =!= col("m"))
        .select(col("node").as("a"), col("m").as("b"))
        .union(mins2.select(col("a"), col("m").as("b")))
        .distinct().localCheckpoint(true)
      stable = small.count() == e.count() && small.except(e).isEmpty
      e = small
    }
    // star set → labels: leaves point at the root, roots at themselves,
    // nodes whose edges were all self-loops label themselves
    val leafLabels = e.select(col("a").as("node"), col("b").as("label"))
      .union(e.select(col("b").as("node"), col("b").as("label")))
      .groupBy("node").agg(min(col("label")).as("label"))
    allNodes.join(leafLabels, Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
  }

  /** Embedding near-duplicates: cosine above threshold, blocked by `blockCol`
    * (e.g. a label / coarse cluster) so comparisons stay bucket-local.
    *
    * The full in-block pairwise comparison (gate q27 pins it): correct at
    * any block size that fits the time budget, quadratic in the densest
    * block. [[embeddingNearDupLsh]] sub-blocks each bucket by a
    * hyperplane-LSH signature when the raw blocks are too dense.
    */
  def embeddingNearDupExact(
      embs: DataFrame, idCol: String, vecCol: String,
      blockCol: String, minCosine: Double): DataFrame = {
    // raw float vectors through the shuffle; native kernels widen per element
    val withNorm = embs.select(col(idCol), col(blockCol),
      col(vecCol).as("dvec"))
      .withColumn("n2s", VectorFns.norm2Scaled(col("dvec")))
    val a = withNorm.select(col(idCol).as("doc_a"), col(blockCol),
      col("dvec").as("vec_a"), col("n2s").as("n2s_a"))
    val b = withNorm.select(col(idCol).as("doc_b"), col(blockCol),
      col("dvec").as("vec_b"), col("n2s").as("n2s_b"))
    a.join(b, blockCol)
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("cosine", VectorFns.cosineScaled(
        VectorFns.dotScaled(col("vec_a"), col("vec_b")), col("n2s_a"), col("n2s_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
  }

  /** PPJoin-style prefix-filtered EXACT Jaccard similarity join — the third
    * exact near-dup family next to the blocked shingle intersection
    * ([[ngramJaccard]], needs a blocking column) and sketch-then-verify
    * ([[minHashVerifiedPairs]], probabilistic recall): corpus-wide, no
    * blocking key, no recall loss, and still never all-pairs.
    *
    * Canonical order: each doc's distinct shingle hashes sort by (global
    * document frequency ASC, hash) — rarest first. Prefix-filtering theorem
    * (SSJoin/PPJoin, Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08): if
    * jaccard(A,B) ≥ τ then |A∩B| ≥ ⌈τ·|A|⌉, so B must hit one of the first
    * |A| − ⌈τ·|A|⌉ + 1 elements of A under ANY shared total order. Indexing
    * only those prefixes keeps every qualifying pair a candidate — EXACT,
    * unlike LSH banding — while the rare-first order makes prefix postings
    * the smallest-df lists, so candidate fan-out is bounded by rare-shingle
    * df, not corpus size. A (τ·max ≤ min) size-compatibility test prunes
    * length-mismatched collisions before the verify join.
    *
    * τ is the rational `tauNum/tauDen` so prefix length and threshold are
    * integer-exact: ceil(τn) = (tauNum·n + tauDen − 1) div tauDen, accept
    * iff tauDen·inter ≥ tauNum·union — no float drift vs the oracle, and
    * `jaccard_ppm` is one floor division at the end.
    *
    * 100 TB shape: one shingle-keyed aggregate for df, one doc-keyed window
    * for (pos, n), a prefix-postings self-join whose buckets are df-bounded
    * (a global df cap on indexable shingles slots in here if a pathological
    * corpus makes even prefixes hot), and a candidate-bounded verify join
    * back to the full sets — the sketch-then-verify cost model with a
    * guarantee instead of a recall gamble.
    *
    * OUTPUT-BOUND BY NATURE — posture at 100×: every exact pairwise
    * operator's ANSWER grows with corpus pair density (measured 15× time
    * for 10× data on the densified replica, ~45× true pairs — SCALING.md),
    * and no plan shape changes that; the knobs do. In preference order:
    * (1) raise τ — the qualifying set shrinks superlinearly in the
    * threshold; (2) `probeFilter` — audit/spot-check a deterministic hash
    * slice against the full corpus at 1/sampleDen cost (the q190 posture);
    * (3) `maxPairs` > 0 — keep only the top `maxPairs` pairs by
    * (jaccard_ppm DESC, doc_a, doc_b) via a distributed top-k
    * (TakeOrderedAndProject: full generation cost, but only k rows
    * materialize/shuffle), with truncation reported LOUDLY in-band: the
    * capped mode appends a `truncated` boolean column (true on every row
    * iff qualifying pairs exceeded the cap — computed from a k+1-row
    * internal top-k, so it costs one extra row, not a second pass). The
    * scale-flat alternative for pipeline stages remains the LSH family
    * (q21, scale-flat at 10×), gated separately.
    */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         tauNum: Int, tauDen: Int,
                         shingleSize: Int = 3,
                         probeFilter: Option[Column => Column] = None,
                         maxPairs: Int = 0)
      : DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"tau must be a rational in (0,1]: $tauNum/$tauDen")
    // same sentinel-overflow guard as TextAnalysis.sparseCosinePairs: the
    // capped path runs limit(maxPairs + 1)
    require(maxPairs < Int.MaxValue,
      s"maxPairs must be < Int.MaxValue (sentinel is maxPairs + 1): $maxPairs")
    val sh = docs.select(col(idCol).as("_id"),
        explode(TextFns.shingleHashes(col(textCol), shingleSize)).as("sh"))
      .distinct()
    // global df via a window over the SAME relation — a groupBy+join-back
    // would derive the shingle subtree twice (measured: the naive shape
    // re-ran the documents scan + shingle kernel SIX times across the
    // df/rank/verify consumers)
    val withDf = sh.withColumn("df",
      count(lit(1)).over(Window.partitionBy("sh")))
    // ONE doc-keyed aggregate carries each doc's full rare-first-sorted
    // set; checkpointed because prefix postings AND both verify sides read
    // it — doc-count rows, set-sized arrays, computed once by the first
    // action over the returned plan
    val byDoc = withDf.groupBy("_id")
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ss"))
      .select(col("_id"),
        transform(col("ss"), s => s.getField("sh")).as("arr"),
        size(col("ss")).cast("long").as("n"))
      // prefix length: n - ceil(tau*n) + 1, all-integer
      .withColumn("plen",
        (col("n") - expr(s"($tauNum * n + ${tauDen - 1}) div $tauDen")
          + lit(1)).cast("int"))
      .localCheckpoint(false)
    val prefix = byDoc.select(col("_id"), col("n"),
      explode(slice(col("arr"), lit(1), col("plen"))).as("sh"))
    // PROBE MODE (probeFilter = Some(p)): candidate generation joins the
    // prefix postings of the PROBE slice against the prefix postings of
    // the FULL corpus — the output universe is every qualifying pair with
    // >= 1 probe endpoint. Completeness is the same prefix theorem: a
    // qualifying pair's prefixes intersect, and the probe endpoint's
    // prefix is on the probe side by construction. Join work scales with
    // the probe fraction; df, the sorted sets and the verify arrays stay
    // corpus-global (linear passes), so the exact Jaccard per pair is
    // IDENTICAL to full mode — only the pair universe shrinks.
    val cands = probeFilter match {
      case None =>
        prefix.select(col("_id").as("doc_a"), col("sh"),
            col("n").as("n_a"))
          .join(prefix.select(col("_id").as("doc_b"), col("sh"),
            col("n").as("n_b")), "sh")
          .filter(col("doc_a") < col("doc_b") &&
            lit(tauDen) * least(col("n_a"), col("n_b")) >=
              lit(tauNum) * greatest(col("n_a"), col("n_b")))
          .select("doc_a", "doc_b").distinct()
      case Some(p) =>
        // both-probed pairs generate twice (once per orientation); the
        // least/greatest normalization + distinct collapses them
        prefix.filter(p(col("_id")))
          .select(col("_id").as("_pa"), col("sh"), col("n").as("n_a"))
          .join(prefix.select(col("_id").as("_pb"), col("sh"),
            col("n").as("n_b")), "sh")
          .filter(col("_pa") =!= col("_pb") &&
            lit(tauDen) * least(col("n_a"), col("n_b")) >=
              lit(tauNum) * greatest(col("n_a"), col("n_b")))
          .select(least(col("_pa"), col("_pb")).as("doc_a"),
            greatest(col("_pa"), col("_pb")).as("doc_b"))
          .distinct()
    }
    // verify is ROW-LOCAL: both sorted distinct sets ride the candidate
    // row, the intersection is one array_intersect — no per-pair shuffle
    val verified = cands
      .join(byDoc.select(col("_id").as("doc_a"), col("arr").as("_aa"),
        col("n").as("n_a")), "doc_a")
      .join(byDoc.select(col("_id").as("doc_b"), col("arr").as("_ab"),
        col("n").as("n_b")), "doc_b")
      .withColumn("n_inter",
        size(array_intersect(col("_aa"), col("_ab"))).cast("long"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .filter(lit(tauDen) * col("n_inter") >= lit(tauNum) * col("n_union"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"),
        col("n_b"),
        expr("(1000000 * n_inter) div n_union").as("jaccard_ppm"))
    if (maxPairs <= 0) verified
    else {
      // distributed top-(k+1): per-partition top-k then one merge of k+1
      // rows — only the kept rows ever shuffle. The +1 row is the
      // truncation sentinel; the window below runs over <= maxPairs + 1
      // rows (bounded by the CALLER's cap, not the corpus), so the
      // single-partition frame is safe by construction.
      val ord = Seq(col("jaccard_ppm").desc, col("doc_a"), col("doc_b"))
      val top = verified.orderBy(ord: _*).limit(maxPairs + 1)
      top
        .withColumn("_rn", row_number().over(Window.orderBy(ord: _*)))
        .withColumn("truncated",
          max(col("_rn")).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)) > maxPairs)
        .filter(col("_rn") <= maxPairs)
        .drop("_rn")
    }
  }

  /** Sketch-recall audit: how much of the EXACT Jaccard-≥-τ pair set do
    * the MinHash-LSH band candidates actually cover? The near-dup suite
    * ships both families — probabilistic candidates ([[minHashLshCandidates]],
    * cheap, tunable) and exact guarantees ([[prefixJaccardPairs]]) — and
    * this is the measurement that justifies a band configuration before
    * pointing it at 100 TB: recall_ppm on a held-out slice decides
    * (numHashes, rowsPerBand), not folklore. Precision's complement
    * (candidates that aren't real pairs) is the verify-stage cost, also
    * reported.
    *
    * One row: n_exact, n_candidates, n_hit (exact pairs the sketch
    * found), recall_ppm — exact floor division, null when the exact set
    * is empty.
    *
    * SAMPLED MODE (`sampleDen` > 1) — the scale path: the exact side of
    * an audit is inherently pair-output-bound (the full-corpus exact set
    * grew 51x on the 10x replica), so the default audit restricts BOTH
    * families to the pair universe with at least one endpoint in a
    * deterministic hash slice (`hash64('lshaudit:' || id) % sampleDen =
    * 0` — the q53/q127 shared-hash order: stable across runs AND
    * engines, no RNG). Probe-side postings/bands join against the FULL
    * corpus, so a sampled query's partners are never missed; recall_ppm
    * is then the exact recall ON that universe — an unbiased estimate of
    * corpus recall, because the slice is chosen by an id hash
    * independent of anything the sketch sees. Audit cost scales with
    * 1/sampleDen instead of with the full pair count (the q216
    * `hubSample` posture applied to audits). `sampleDen = 1` is the
    * exact full-corpus audit, unchanged and still available.
    */
  def lshRecallAudit(docs: DataFrame, idCol: String, textCol: String,
                     tauNum: Int, tauDen: Int, numHashes: Int = 16,
                     rowsPerBand: Int = 2, shingleSize: Int = 3,
                     sampleDen: Int = 1): DataFrame = {
    require(sampleDen >= 1, s"sampleDen must be >= 1: $sampleDen")
    val probe: Option[Column => Column] =
      if (sampleDen == 1) None
      else Some(id => pmod(TextFns.hash64(
        concat(lit("lshaudit:"), id.cast("string"))),
        lit(sampleDen.toLong)) === 0)
    val exact = prefixJaccardPairs(docs, idCol, textCol, tauNum, tauDen,
      shingleSize, probe).select("doc_a", "doc_b")
    val bands = lshBands(
      minHashSignatures(docs, idCol, textCol, numHashes, shingleSize),
      idCol, rowsPerBand)
    val cands = probe match {
      case None =>
        bands.select(col(idCol).as("doc_a"), col("band"), col("band_sig"))
          .join(bands.select(col(idCol).as("doc_b"), col("band"),
            col("band_sig")), Seq("band", "band_sig"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b").distinct()
      case Some(p) =>
        bands.filter(p(col(idCol)))
          .select(col(idCol).as("_ba"), col("band"), col("band_sig"))
          .join(bands.select(col(idCol).as("_bb"), col("band"),
            col("band_sig")), Seq("band", "band_sig"))
          .filter(col("_ba") =!= col("_bb"))
          .select(least(col("_ba"), col("_bb")).as("doc_a"),
            greatest(col("_ba"), col("_bb")).as("doc_b"))
          .distinct()
    }
    val hit = exact.join(cands, Seq("doc_a", "doc_b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(cands.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_exact"), col("n_candidates"), col("n_hit"),
        when(col("n_exact") > 0,
          expr("(1000000 * n_hit) div n_exact")).as("recall_ppm"))
  }

  /** Cross-source contamination matrix at the PASSAGE level: for every
    * source pair, the count of shared distinct word n-gram shingles and
    * the containment ppm in BOTH directions — "which crawls copied from
    * which" when exact doc-level dedup (q20) reads clean but passages
    * still leak across sources (boilerplate, syndication, mirrored
    * sections). Zero-overlap pairs are INCLUDED via the counts grid — a
    * pair that shares nothing is the answer, not a missing row.
    *
    * Shape at 100 TB: one native shingle-hash pass (ShingleHashes — no
    * per-shingle string materializes) collapses the corpus to the
    * DISTINCT (source, shingle) relation; the pair join is keyed on the
    * shingle hash with per-shingle fan-out bounded by |sources|² — the
    * output is |sources|²-sized no matter the corpus. The counts grid is
    * a |sources|×|sources| cross join of a category-sized relation.
    */
  def sourceShingleOverlap(docs: DataFrame, sourceCol: String,
                           textCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    val sh = docs
      .select(col(sourceCol).as("_src"),
        explode(graft.functions.TextFns.shingleHashes(col(textCol), n))
          .as("_h"))
      .distinct()
      .localCheckpoint(false)
    val counts = sh.groupBy("_src").agg(count(lit(1)).as("_n"))
    val pairs = sh.as("a")
      .join(sh.as("b"),
        col("a._h") === col("b._h") && col("a._src") < col("b._src"))
      .groupBy(col("a._src").as("source_a"), col("b._src").as("source_b"))
      .agg(count(lit(1)).as("_shared"))
    val grid = counts.select(col("_src").as("source_a"), col("_n").as("n_a"))
      .crossJoin(counts.select(col("_src").as("source_b"),
        col("_n").as("n_b")))
      .filter(col("source_a") < col("source_b"))
    grid.join(pairs, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("_shared"), lit(0L)).as("n_shared"),
        col("n_a"), col("n_b"),
        expr("(1000000 * coalesce(_shared, 0)) div n_a")
          .as("contain_a_ppm"),
        expr("(1000000 * coalesce(_shared, 0)) div n_b")
          .as("contain_b_ppm"))
  }
}
