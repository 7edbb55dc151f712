package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFns, VectorFns}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths, per the standard scale playbook:
  *  - [[bruteForceTopK]]: exact cosine top-k; the query side is broadcast so
  *    the corpus is scanned exactly once with no shuffle of the big side.
  *    Right answer for small query batches at any corpus size.
  *  - [[lshTopK]]: random-hyperplane LSH — corpus and queries are bucketed by
  *    a `numPlanes`-bit signature, candidates come only from the query's
  *    bucket, then exact cosine re-ranks. Signatures use scaled-integer
  *    accumulation (VectorFns) so bucket assignment is deterministic — a
  *    float-sum sign flip would silently move a vector across buckets.
  */
object Similarity {

  // the raw (float) vector ships through shuffles/broadcasts — half the
  // width of a widened double array; the native kernels widen per element
  private def withNorm2(embs: DataFrame, idCol: String, vecCol: String) =
    embs.select(col(idCol), col(vecCol).as("dvec"))
      .withColumn("n2s", VectorFns.norm2Scaled(col("dvec")))

  /** Exact top-k neighbors for each query vector (queries ⊆ corpus shape:
    * both need (idCol, vecCol)). Output: query_id, neighbor_id, rank, cosine.
    *
    * The query side is always broadcast: brute force has no equi-key, so
    * a query set above the broadcast cap is [[lshTopK]]'s job (it keeps
    * the `sig` equi-key and can shuffle instead).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = broadcast(withNorm2(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("dvec").as("q_vec"), col("n2s").as("q_n2s")))
    val c = withNorm2(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("dvec").as("c_vec"), col("n2s").as("c_n2s"))
    val pairs = c.join(q) // hinted: query side small → broadcast NL join
      .withColumn("cosine", VectorFns.cosineScaled(
        VectorFns.dotScaled(col("q_vec"), col("c_vec")), col("q_n2s"), col("c_n2s")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Mutual-kNN pair mining: pairs where EACH vector is in the other's
    * cosine top-k (self excluded) — the reciprocity filter that turns a
    * directed kNN list into the high-precision edge set semantic-dedup
    * and clustering pipelines build on (a one-way neighbor is often just
    * a hub; a mutual pair is evidence of a genuine local neighborhood).
    *
    * Querying top-(k+1) then dropping self and re-ranking guarantees the
    * true non-self top-k even when duplicate embeddings tie at cosine
    * 1.0 ahead of the self match.
    *
    * Output: (a, b, cosine) with a < b, one row per mutual pair.
    *
    * Shape at 100 TB: inherits [[bruteForceTopK]]'s posture (exact
    * contrast; the LSH/IVF variants are the scale path for the kNN
    * lists); the mutual join itself is cheap — two copies of the
    * (n·k)-sized list equi-joined on the swapped id pair.
    */
  def mutualTopK(embs: DataFrame, idCol: String, vecCol: String,
                 k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("rank"))
    val tk = bruteForceTopK(embs, embs, idCol, vecCol, k + 1)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("_rk2", row_number().over(wq))
      .filter(col("_rk2") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    tk.as("x").join(tk.as("y"),
        col("x.query_id") === col("y.neighbor_id") &&
        col("x.neighbor_id") === col("y.query_id"))
      .filter(col("x.query_id") < col("x.neighbor_id"))
      .select(col("x.query_id").as("a"), col("x.neighbor_id").as("b"),
        col("x.cosine").as("cosine"))
  }

  /** Deterministic pseudo-random hyperplane coefficient for (plane b, dim i,
    * 1-based): integer in [-1000, 1000], derived from the shared
    * sha256-based hash so the DuckDB oracle reproduces it exactly.
    * Driver-side: the (planes × dims) matrix is model-parameter sized and
    * computed ONCE — the previous inline form re-derived a sha256 per
    * row × plane × dim inside an interpreted higher-order aggregate.
    */
  private[ops] def hpCoefMatrix(numPlanes: Int, dims: Int): Array[Array[Long]] =
    Array.tabulate(numPlanes, dims) { (b, i) =>
      (graft.expressions.HashUtil.sha256Prefix60(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$b,${i + 1}"))
        % 2001L) - 1000L
    }

  /** `numPlanes`-bit signature: bit b = sign of <plane_b, vec>, accumulated
    * as scaled integers (1e9 fixed point — coefficients are ≤1000). One
    * narrow native expression per row (graft.expressions.PlaneSig) — no
    * explode, no per-row aggregation.
    */
  def planeSignature(embs: DataFrame, idCol: String, vecCol: String,
                     numPlanes: Int): DataFrame = {
    // dimensionality = max vector length (an arbitrary first row would
    // truncate longer vectors on ragged input AND vary with partition
    // layout); the aggregate scans only the size of the vector column.
    // Empty / all-null input yields an empty signature frame, not an NPE.
    val probe = embs.select(max(size(col(vecCol))).as("d")).head()
    if (probe.isNullAt(0))
      return embs.select(col(idCol), lit(0L).as("sig")).limit(0)
    val coefs = hpCoefMatrix(numPlanes, probe.getInt(0))
    embs.select(col(idCol),
      graft.expressions.PlaneSig(col(vecCol), coefs, 1e9).as("sig"))
  }

  /** IVF-style ANN: the corpus is coarsely quantized to its nearest
    * centroid (an inverted file per centroid); a query probes only its
    * `nProbe` closest centroid lists and exact-re-ranks inside them.
    *
    * `centroids` stands in for a trained codebook (k-means at scale; any
    * deterministic seed set works for correctness) — shape (idCol, vecCol).
    * All similarity math uses the scaled-integer kernels, so cluster
    * assignment is deterministic and oracle-reproducible.
    *
    * Scale: centroids broadcast twice (assignment + probe); the corpus
    * shuffles once on its centroid id — the partition IS the inverted list,
    * so a probe touches |corpus|·nProbe/C candidates instead of |corpus|.
    * The query side is broadcast.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nProbe: Int): DataFrame = {
    val cent = broadcast(centroids
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec"))
      .withColumn("cent_n2s", VectorFns.norm2Scaled(col("cent_vec"))))
    def assign(df: DataFrame, side: String, probes: Int) = {
      val scored = df.join(cent)
        .withColumn("cent_cos", VectorFns.cosineScaled(
          VectorFns.dotScaled(col(s"${side}_vec"), col("cent_vec")),
          col(s"${side}_n2s"), col("cent_n2s")))
      if (probes == 1) {
        // CORPUS-side argmin as a map-side-combinable aggregate (the
        // kmeansFit idiom): min(struct(-cos, cent_id, payload)) picks the
        // same (max cos, min cent_id) winner as the rank window but
        // partially combines the k candidate rows per vector BEFORE the
        // exchange — k-fold less shuffle than sorting corpus × k rows.
        // cos is never -0.0 here (positive norms; a zero dot casts to
        // +0.0), so negation keeps the double total order intact.
        scored.groupBy(col(s"${side}_id"))
          .agg(min(struct(negate(col("cent_cos")).as("_nc"),
            col("cent_id").as("cent_id"),
            col(s"${side}_vec").as("_v"),
            col(s"${side}_n2s").as("_n"))).as("_m"))
          .select(col(s"${side}_id"), col("_m.cent_id").as("cent_id"),
            col("_m._v").as(s"${side}_vec"),
            col("_m._n").as(s"${side}_n2s"))
      } else {
        // nProbe > 1 needs the top-N centroids, which is a genuine rank
        val w = Window.partitionBy(col(s"${side}_id"))
          .orderBy(col("cent_cos").desc, col("cent_id").asc)
        scored
          .withColumn("_cr", row_number().over(w))
          .filter(col("_cr") <= probes)
          .drop("cent_vec", "cent_n2s", "cent_cos", "_cr")
      }
    }
    val c = assign(withNorm2(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("dvec").as("neighbor_vec"),
        col("n2s").as("neighbor_n2s")), "neighbor", probes = 1)
    val q = broadcast(assign(withNorm2(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("dvec").as("query_vec"),
        col("n2s").as("query_n2s")), "query", probes = nProbe))
    val pairs = c.join(q, "cent_id")
      .withColumn("cosine", VectorFns.cosineScaled(
        VectorFns.dotScaled(col("query_vec"), col("neighbor_vec")),
        col("query_n2s"), col("neighbor_n2s")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Bucketed ANN: candidates share the full signature bucket; exact cosine
    * re-rank inside the bucket. Output like [[bruteForceTopK]] (queries whose
    * bucket is otherwise empty yield no rows — the recall/latency trade).
    *
    * `broadcastQueries = false`: the candidate join routes through the
    * existing `sig` equi-key as a shuffled join — the corpus-vs-corpus
    * path, where the query side exceeds any broadcast cap (gate q82 pins
    * it equal to the broadcast plan's result).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, numPlanes: Int,
              broadcastQueries: Boolean = true): DataFrame = {
    val qSig = planeSignature(queries, idCol, vecCol, numPlanes)
      .withColumnRenamed(idCol, "query_id")
    val cSig = planeSignature(corpus, idCol, vecCol, numPlanes)
      .withColumnRenamed(idCol, "neighbor_id")
    val q0 = withNorm2(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("dvec").as("q_vec"), col("n2s").as("q_n2s"))
      .join(qSig, "query_id")
    val q = if (broadcastQueries) broadcast(q0) else q0
    val c = withNorm2(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("dvec").as("c_vec"), col("n2s").as("c_n2s"))
      .join(cSig, "neighbor_id")
    val pairs = c.join(q, "sig")
      .withColumn("cosine", VectorFns.cosineScaled(
        VectorFns.dotScaled(col("q_vec"), col("c_vec")), col("q_n2s"), col("c_n2s")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Deterministic Lloyd k-means over an embedding column — the codebook
    * trainer for [[ivfTopK]] and the clustering step of SemDeDup-style
    * curation ([[centroidOutliers]] screens within the clusters this
    * produces). Fixed `iters` assignment/update rounds; every step is
    * integer-valued and deterministic, so the final assignment
    * hash-matches an oracle in any engine:
    *  - components scale to BIGINT (floor(v·scale), as [[centroidOutliers]]);
    *  - seeds are the `k` vectors with the smallest shared hash64(id)
    *    (deterministic pseudo-random init, no RNG), cluster ids 0..k-1
    *    assigned in (hash, id) order;
    *  - squared distances accumulate (s-c)² in BIGINT; argmin ties break
    *    on the lower cluster id;
    *  - the centroid update is floor(sum.cast(double)/count) — exact
    *    integer semantics while |per-dim sum| < 2^53, i.e. ~9e8 members
    *    per cluster at scale=1e7 (the same double-division headroom bound
    *    Regression.scala documents); the oracle divides identically, so
    *    engines agree even at the bound.
    * A cluster that loses all members drops out of later rounds (standard
    * Lloyd dropout — deterministic, mirrored by the oracle).
    *
    * RAGGED rows (width ≠ the corpus max) are EXCLUDED from clustering: a
    * truncated vector accrues distance over fewer dims and would win every
    * argmin it touches. Screen them separately — [[centroidOutliers]]
    * ranks them first for exactly this reason.
    *
    * Scale shape per round: the centroid relation is k×dims (model-sized)
    * and BROADCASTS into the assignment — the corpus is scanned once per
    * round with no shuffle of the big side; the update is one posexplode
    * + map-side-combined (cluster, dim) aggregate. Seeding is a
    * distributed TakeOrdered of k rows, not a global sort. The plan grows
    * linearly with `iters` (fixed small rounds is the production pattern;
    * checkpoint between rounds if iters must be large).
    *
    * Output: the final assignment (idCol, cluster, dist2).
    */
  def kmeansFit(embs: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int, scale: Double = 1e6): DataFrame =
    kmeansFitFull(embs, idCol, vecCol, k, iters, scale)
      .select(col(idCol), col("cluster"), col("dist2"))

  /** [[kmeansFit]] keeping the scaled vector: (idCol, svec, cluster,
    * dist2). The family's pair scans ([[kmeansNearDupPairs]],
    * [[semDedup]]) read the assignment AND the scaled vectors — this
    * hands both over in one relation, instead of the old re-scan of the
    * corpus plus an id-keyed join back (one full exchange saved per
    * consumer; identical rows under the family's unique-id contract).
    * ONE probe action, ONE checkpointed sv relation shared by the Lloyd
    * rounds and the final assignment (r16 verdict: the eager per-round
    * codebook collects re-derived sv from parquet every round).
    */
  private[ops] def kmeansFitFull(embs: DataFrame, idCol: String,
                                 vecCol: String, k: Int, iters: Int,
                                 scale: Double = 1e6): DataFrame =
    lloydInput(embs, idCol, vecCol, k, iters, scale) match {
      case None => embs.select(col(idCol),
        array().cast("array<long>").as("svec"),
        lit(0L).as("cluster"), lit(0L).as("dist2")).limit(0)
      case Some((d, scaled)) =>
        // checkpointed: the seed job (which materializes it), every Lloyd
        // round's update and the returned assignment all read this relation
        val sv = scaled.localCheckpoint(false)
        assignSv(sv, idCol, centroidsFromSv(sv, idCol, d, k, iters))
    }

  /** The FROZEN codebook [[kmeansFit]] trains: the (cluster, cvec)
    * centroid relation after iters−1 Lloyd updates — exactly the
    * centroids kmeansFit's final assignment measures dist2 against,
    * exposed so admission pipelines ([[semDedupAdmit]]) can train the
    * codebook once and assign every later batch against it without a
    * refit (the q270 frozen-artifact discipline, in embedding space). It
    * comes back materialized (a k-row checkpoint). Deterministic:
    * hash-seeded, integer-exact updates — a refit on the same input is
    * bit-identical.
    */
  def kmeansCentroids(embs: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int, scale: Double = 1e6): DataFrame =
    lloydInput(embs, idCol, vecCol, k, iters, scale) match {
      case None => embs.select(lit(0L).as("cluster"),
        array().cast("array<long>").as("cvec")).limit(0)
      case Some((d, scaled)) =>
        // persisted across the Lloyd rounds (each round's codebook collect
        // is a driver action that would otherwise re-scan + re-scale the
        // corpus from parquet — the r16-verdict q277 regression); the
        // k-row codebook is materialized before sv is released
        withPersisted(scaled) { sv =>
          centroidsFromSv(sv, idCol, d, k, iters).localCheckpoint(true)
        }
    }

  /** What a Lloyd run reads, after checking its arguments (`scale` has the
    * same Long-overflow headroom bound as centroidOutliers): None when no
    * row has a vector, else the corpus's max width d and the lazy
    * (idCol, svec) relation of the rows at that width (the ragged-row
    * contract). One probe action. */
  private def lloydInput(embs: DataFrame, idCol: String, vecCol: String,
                         k: Int, iters: Int,
                         scale: Double): Option[(Int, DataFrame)] = {
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale > 0 && scale <= 1e7,
      s"scale must be in (0, 1e7], got $scale")
    val probe = embs.select(max(size(col(vecCol))).as("d")).head()
    if (probe.isNullAt(0)) None
    else {
      val d = probe.getInt(0)
      Some((d, embs.filter(size(col(vecCol)) === d)
        .select(col(idCol), scaleVec(col(vecCol), scale).as("svec"))))
    }
  }

  /** The Lloyd loop over a prepared (idCol, svec) relation — `d` is the
    * (already probed) dimensionality, `sv` should be cached or checkpointed
    * by the caller (every round reads it).
    *
    * Round-17 update shape: ONE wide aggregate per round — d per-element
    * long sums + the member count, keyed by cluster (map-side combined,
    * one exchange of k×(d+1) values) — replacing the posexplode +
    * (cluster, dim) aggregate + (cluster) re-aggregate chain: two
    * exchanges and an n×d row blow-up per round. floor(sum/count) per
    * element is expression-identical, so centroids are bit-equal.
    */
  private def centroidsFromSv(sv: DataFrame, idCol: String, d: Int,
                              k: Int, iters: Int): DataFrame = {
    // k seed rows: distributed top-k by (hash, id), then a k-row window
    // hands out cluster ids — never a global sort of the corpus
    val seedW = Window.orderBy(col("_h"), col(idCol))
    var cents = sv
      .withColumn("_h", TextFns.hash64(col(idCol).cast("string")))
      .orderBy(col("_h"), col(idCol)).limit(k)
      .withColumn("cluster", (row_number().over(seedW) - 1).cast("long"))
      .select(col("cluster"), col("svec").as("cvec"))
    for (round <- 1 until iters) {
      val sums = (0 until d).map(i => sum(col("svec")(i)).as(s"_s$i"))
      cents = assignSv(sv, idCol, cents)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("_n"), sums: _*)
        .select(col("cluster"),
          array((0 until d).map(i =>
            floor(col(s"_s$i").cast("double") / col("_n").cast("double"))
              .cast("long")): _*).as("cvec"))
    }
    cents
  }

  /** floor(v·scale) integer component scaling — the exact-arithmetic
    * vector form every op in this file hashes/joins on. */
  private def scaleVec(vecCol: Column, scale: Double): Column =
    transform(vecCol, v => floor(v.cast("double") * scale).cast("long"))

  /** The (idCol, svec) scaled-vector relation — public so admission
    * gates can build a persistable per-cell index (kept ids joined with
    * their scaled vectors) without duplicating the scaling rule. Rows
    * not at the table's max dimensionality are EXCLUDED (the kmeansFit
    * ragged-row contract); empty input yields the empty relation.
    */
  def scaledVectors(embs: DataFrame, idCol: String, vecCol: String,
                    scale: Double = 1e6): DataFrame =
    lloydInput(embs, idCol, vecCol, k = 1, iters = 1, scale).fold(
      embs.select(col(idCol), array().cast("array<long>").as("svec"))
        .limit(0))(_._2)

  /** kmeansFit's loop body: nearest centroid per vector by exact BIGINT
    * dist2 (ties to the lower cluster id).
    *
    * Round-16 shape: the codebook is model-sized (k = ⌈√n⌉ at every
    * call site — the same relation the old form collected to the driver
    * to BROADCAST), so collect it once and evaluate the argmin as ONE
    * whole-stage-codegen kernel per corpus row
    * ([[graft.expressions.NearestCell]]). The old
    * crossJoin(broadcast) + groupBy(min(struct)) materialized n×k rows
    * through an interpreted zip_with/aggregate (CodegenFallback) and
    * paid one exchange PER ASSIGNMENT CALL (per Lloyd round); this pays
    * zero shuffles and touches each vector once. Bit-identical: exact
    * long arithmetic, ties to the lower cluster id (codebook sorted
    * ascending, strict <).
    */
  private def assignSv(sv: DataFrame, idCol: String,
                       cents: DataFrame): DataFrame =
    assignCollected(sv, idCol, collectCodebook(cents))

  /** Model-sized collect of a (cluster, cvec) relation, sorted ascending
    * by cluster (the tie-break order) — bounded exactly like the
    * broadcast relation the old crossJoin form shipped. Null-cvec rows
    * (unreachable by construction) are skipped.
    */
  private def collectCodebook(cents: DataFrame): Array[(Long, Array[Long])] =
    cents.select(col("cluster").cast("long"), col("cvec"))
      .collect()
      .filter(!_.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)

  /** The argmin projection over an already-collected codebook.
    *
    * PRECONDITION (r16 ADVICE made explicit): `sv` ids are UNIQUE — this
    * is a pure projection, so a duplicate (id, svec) row yields a
    * duplicate assignment row (the old groupBy form collapsed them),
    * multiplying rows through downstream joins. Every gate feeds
    * table-keyed ids; violating callers own the cardinality change.
    */
  private def assignCollected(sv: DataFrame, idCol: String,
                              cb: Array[(Long, Array[Long])]): DataFrame = {
    if (cb.isEmpty)
      return sv.select(col(idCol), col("svec"),
        lit(0L).as("cluster"), lit(0L).as("dist2")).limit(0)
    sv.withColumn("_m",
        graft.expressions.NearestCell(col("svec"),
          cb.map(_._1), cb.map(_._2)))
      .select(col(idCol), col("svec"),
        col("_m.cluster").as("cluster"), col("_m.dist2").as("dist2"))
  }

  /** Assign vectors to a FROZEN codebook — [[kmeansFit]]'s final-round
    * assignment against an externally trained (cluster, cvec)
    * relation: nearest centroid by exact scaled-BIGINT dist2, ties to
    * the lower cluster id. Vectors whose dimensionality differs from
    * the codebook's are EXCLUDED (the ragged-row contract).
    *
    * Output: (idCol, svec, cluster, dist2).
    */
  def assignToCodebook(vecs: DataFrame, idCol: String, vecCol: String,
                       cents: DataFrame,
                       scale: Double = 1e6): DataFrame = {
    require(scale > 0 && scale <= 1e7,
      s"scale must be in (0, 1e7], got $scale")
    // ONE action: the codebook collect also answers the dimensionality
    // probe (the old separate max(size(cvec)) head() executed the full
    // centroid plan a second time when cents wasn't cached)
    val cb = collectCodebook(cents)
    if (cb.isEmpty)
      return vecs.select(col(idCol),
        array().cast("array<long>").as("svec"),
        lit(0L).as("cluster"), lit(0L).as("dist2")).limit(0)
    val d = cb.iterator.map(_._2.length).max
    val sv = vecs.filter(size(col(vecCol)) === d)
      .select(col(idCol), scaleVec(col(vecCol), scale).as("svec"))
    assignCollected(sv, idCol, cb)
  }

  /** SemDeDup ADMISSION against a frozen codebook + per-cell keep set —
    * [[semDedup]]'s live form (the q266→q267 census-scoring pattern in
    * embedding space): incoming vectors assign to their nearest FROZEN
    * centroid ([[assignToCodebook]]); an index member in the same cell
    * within maxDist2 rejects the newcomer — keep = no member in range,
    * dup_of = the in-range member farthest from the centroid (ties to
    * the lower id). That is semDedup's dominator pick specialized to
    * the frozen-index order: every indexed vector precedes every
    * newcomer, so the batch needs no within-batch comparisons and the
    * verdict is batch-boundary invariant GIVEN the index — the property
    * the streaming twin certifies bit-for-bit.
    *
    * `index`: (idCol, cluster, dist2, svec) — kept vectors with their
    * frozen-codebook assignment and scaled vectors ([[scaledVectors]]);
    * grow it between batches by unioning admitted rows (the q270
    * census-growth pattern). Materialize it pre-partitioned by
    * `cluster` (the q248 bucketed-index discipline) so each batch
    * shuffles only itself.
    *
    * Shape at 100 TB: one broadcast assignment pass over the batch +
    * one cluster-keyed join against the index — batch-sized work; the
    * index is the corpus's KEEP set, never re-derived.
    *
    * Output: (idCol, cluster, dist2, keep, dup_of, svec) — svec rides
    * along so admitted rows can join the index without re-scaling.
    */
  def semDedupAdmit(newVecs: DataFrame, index: DataFrame,
                    cents: DataFrame, idCol: String, vecCol: String,
                    maxDist2: Long, scale: Double = 1e6): DataFrame = {
    require(maxDist2 >= 0L, s"maxDist2 must be >= 0, got $maxDist2")
    val asg = assignToCodebook(newVecs, idCol, vecCol, cents, scale)
    val idx = index.select(col("cluster").as("_ci"), col(idCol).as("_ii"),
      col("dist2").as("_di"), col("svec").as("_vi"))
    // native codegen kernel — HOF-parity exact (see VecUtil.sqDistLong)
    val pd2 = graft.expressions.SqDistLong(col("svec"), col("_vi"))
    val doms = asg.join(idx, col("cluster") === col("_ci"))
      .withColumn("_pd2", pd2)
      .filter(col("_pd2") <= maxDist2)
      .groupBy(col(idCol))
      .agg(min(struct((-col("_di")).as("_nd"), col("_ii").as("_ii")))
        .as("_m"))
      .select(col(idCol).as("_domid"), col("_m._ii").as("dup_of"))
    asg.join(doms, asg(idCol) === col("_domid"), "left")
      .select(asg(idCol), col("cluster"), col("dist2"),
        col("dup_of").isNull.as("keep"), col("dup_of"), col("svec"))
  }

  /** Exact near-duplicate pairs within LEARNED k-means cells — SemDeDup's
    * blocking strategy: train a codebook ([[kmeansFit]]), then run the
    * quadratic pair scan only INSIDE each cell. Where [[graft.ops.Dedup]]
    * blocks on hashes (LSH bands, SimHash prefixes), this blocks on data
    * geometry: vectors land in the same cell because they are close, so
    * the candidate set is semantically targeted, and the per-cell
    * quadratic is bounded by the cell size (raise `k` to shrink cells as
    * the corpus grows — the same knob IVF uses). Distances are the exact
    * BIGINT scaled squares of [[kmeansFit]], hash-stable across engines.
    *
    * Recall caveat (inherent to single-assignment blocking): a pair
    * straddling a cell boundary is missed; multi-probe or overlapping
    * assignment buys recall back at candidate-volume cost.
    *
    * Output: (cluster, id_a, id_b, dist2), id_a < id_b, dist2 <= maxDist2.
    */
  def kmeansNearDupPairs(embs: DataFrame, idCol: String, vecCol: String,
                         k: Int, iters: Int, maxDist2: Long,
                         scale: Double = 1e6): DataFrame = {
    // the assignment relation carries svec — no re-scan of the corpus and
    // no id-keyed join back (r17; identical rows under the unique-id
    // contract, and one probe action instead of two)
    val m = kmeansFitFull(embs, idCol, vecCol, k, iters, scale)
      .select(col("cluster"), col(idCol), col("svec"))
    val a = m.select(col("cluster"), col(idCol).as("id_a"), col("svec").as("va"))
    val b = m.select(col("cluster").as("_cb"), col(idCol).as("id_b"),
      col("svec").as("vb"))
    a.join(b, col("cluster") === col("_cb") && col("id_a") < col("id_b"))
      .withColumn("dist2",
        graft.expressions.SqDistLong(col("va"), col("vb")))
      .filter(col("dist2") <= maxDist2)
      .select(col("cluster"), col("id_a"), col("id_b"), col("dist2"))
  }

  /** SemDeDup — semantic near-duplicate PRUNING (Abbas et al. 2023), the
    * selection stage on top of [[kmeansNearDupPairs]]'s blocking: cluster
    * with the deterministic [[kmeansFit]] codebook, call two same-cluster
    * vectors near-duplicates when their exact scaled-BIGINT squared
    * distance is ≤ maxDist2, and KEEP, within every near-dup
    * neighborhood, the vector FARTHEST from its centroid — the paper's
    * keep-lowest-centroid-similarity rule, which preserves cluster-edge
    * diversity; ties break on the lower id. The rule is LOCAL (x drops
    * iff some near-dup neighbor precedes it in (dist2 DESC, id ASC)
    * order), not a transitive closure: a chain a~b~c with a≁c keeps a
    * and drops b and c — deliberately matching the paper's ε-ball
    * pruning; [[graft.ops.Dedup]]'s connected-component
    * canonicalization (q55) exists for the closure semantics.
    *
    * Shape at 100 TB: the quadratic runs INSIDE cells only (raise k
    * like n/targetCellSize — the IVF knob); the dominator pass is one
    * aggregate over the pair relation plus one left join back to the
    * assignment. No iteration beyond kmeansFit's fixed rounds, no
    * driver state. Ragged rows are excluded by [[kmeansFit]]'s
    * contract — screen them with [[centroidOutliers]].
    *
    * Output: (idCol, cluster, dist2, keep, dup_of) — one row per
    * clustered vector; dup_of = the deterministically-chosen dominating
    * neighbor (highest centroid-dist2, then lowest id), NULL when kept.
    */
  def semDedup(embs: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int, maxDist2: Long,
               scale: Double = 1e6,
               centsOpt: Option[DataFrame] = None): DataFrame = {
    require(maxDist2 >= 0L, s"maxDist2 must be >= 0, got $maxDist2")
    // centsOpt: a caller that already trained THIS codebook
    // (kmeansCentroids with the same args — q277/q278 reuse it for the
    // admission passes) can hand it in so the fit is not re-derived;
    // kmeansFit(embs,…) ≡ assignToCodebook(embs, kmeansCentroids(embs,…))
    // by construction (deterministic training), so results are identical.
    // the assignment relation carries svec either way (r17) — the old
    // re-scan + id-keyed join back is gone, and so is the extra probe
    // action (empty input flows through the lazy plan as zero rows with
    // the same schema)
    val full = centsOpt match {
      case Some(cb) => assignToCodebook(embs, idCol, vecCol, cb, scale)
      case None => kmeansFitFull(embs, idCol, vecCol, k, iters, scale)
    }
    val fin = full.select(col(idCol), col("cluster"), col("dist2"))
    val m = full.select(col(idCol), col("cluster"), col("dist2"),
      col("svec").as("_svec"))
    val a = m.select(col("cluster"), col(idCol).as("_ia"),
      col("dist2").as("_da"), col("_svec").as("_va"))
    val b = m.select(col("cluster").as("_cb"), col(idCol).as("_ib"),
      col("dist2").as("_db"), col("_svec").as("_vb"))
    // a dominates b: a precedes b in the keep order (farther from the
    // centroid first, lower id on ties) and the pair is a near-dup
    val dominators = a
      .join(b, col("cluster") === col("_cb") &&
        (col("_da") > col("_db") ||
          (col("_da") === col("_db") && col("_ia") < col("_ib"))))
      .withColumn("_pd2",
        graft.expressions.SqDistLong(col("_va"), col("_vb")))
      .filter(col("_pd2") <= maxDist2)
      .groupBy(col("_ib"))
      .agg(min(struct((-col("_da")).as("_nd"), col("_ia").as("_ia")))
        .as("_m"))
      .select(col("_ib").as("_domid"), col("_m._ia").as("dup_of"))
    fin.join(dominators, fin(idCol) === col("_domid"), "left")
      .select(col(idCol), col("cluster"), col("dist2"),
        col("dup_of").isNull.as("keep"), col("dup_of"))
  }

  /** Embedding-space outliers per group — the SemDeDup-style semantic
    * screen: vectors farthest from their group's centroid are the
    * mislabeled / off-topic / junk candidates a curation pass reviews or
    * drops. Components scale to integers (floor(v·scale)), the centroid
    * floors exact integer sums (exact while |Σs| < 2^53 — the one double
    * in the pipeline; every distance term is a BIGINT), so results
    * hash-match an oracle in any engine, independent of partitioning.
    *
    * RAGGED vectors (fewer dims than the group's widest — truncated or
    * corrupt rows) rank FIRST, ahead of every full-width vector: a short
    * vector accrues distance over fewer dims, so sorting by distance
    * alone would score exactly the most broken rows as inliers. The
    * emitted `n_dims` column makes the reason visible.
    *
    * NULL-group vectors have no centroid and are NOT screened (the
    * equi-join drops them, in every engine) — select them separately if
    * an unlabeled slice needs review. `idCol` null ties order last,
    * pinned explicitly (engines disagree on default null order).
    *
    * Shape: one explode + two aggregates; the per-(group, dim) centroid
    * relation is |groups|·dims rows — broadcast-sized by construction.
    */
  def centroidOutliers(embs: DataFrame, groupCol: String, idCol: String,
                       vecCol: String, k: Int,
                       scale: Double = 1e6): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // overflow bound: |d| ≤ 2·scale·|v|max, so Σ d² ≤ dims·4·scale²·|v|²max.
    // scale ≤ 1e7 keeps that under Long.MAX for |v| ≤ ~1, dims ≤ ~4096
    // (ANSI Spark and the oracle would otherwise ERROR, not wrap — but
    // fail-fast beats a runtime overflow mid-job)
    require(scale > 0 && scale <= 1e7,
      s"scale must be in (0, 1e7] (Long-overflow headroom for the squared distances), got $scale")
    val el = embs.select(col(groupCol), col(idCol),
        posexplode(col(vecCol)).as(Seq("i", "v")))
      .withColumn("s", floor(col("v").cast("double") * scale).cast("long"))
    val cent = el.groupBy(col(groupCol), col("i"))
      .agg(sum(col("s")).as("csum"), count(lit(1)).as("n"))
      // floor (not cast-truncation): negative sums must bucket the same
      // way in every engine
      .withColumn("c",
        floor(col("csum").cast("double") / col("n").cast("double")).cast("long"))
      .select(col(groupCol), col("i"), col("c"))
    val d2 = el.join(broadcast(cent), Seq(groupCol, "i"))
      .withColumn("d", col("s") - col("c"))
      .groupBy(col(groupCol), col(idCol))
      .agg(sum(col("d") * col("d")).as("dist2"),
        count(lit(1)).as("n_dims"))
    val flagged = d2
      .withColumn("__wide",
        max(col("n_dims")).over(Window.partitionBy(col(groupCol))))
      .withColumn("__short", col("n_dims") =!= col("__wide"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__short").desc, col("dist2").desc,
        col(idCol).asc_nulls_last)
    flagged.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .drop("__wide", "__short")
  }

  /** Scalar int8 quantization audit: per-dimension corpus min/max bounds,
    * 256-level mid-rise quantization of every component, and each
    * vector's maximum absolute reconstruction error — the "can we ship
    * the ANN index at 4× less memory" check run BEFORE swapping float32
    * embeddings for int8 codes. All arithmetic is fixed-shape IEEE
    * doubles over exact float inputs (floor/least/abs only — no
    * accumulation across rows), so the audit is engine-portable.
    *
    * Scale shape: one posexplode → (dim) aggregate for the bounds (64
    * rows), reassembled into min/max ARRAYS on a one-row relation and
    * broadcast; the per-vector error is a row-local HOF fold. The corpus
    * never shuffles. Degenerate dimensions (max = min) quantize to code 0
    * with zero error.
    *
    * Output: (idCol, max_err DOUBLE), one row per vector, unordered.
    */
  def quantizeInt8Audit(emb: DataFrame, idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val bounds = emb
      .select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))
      .agg(sort_array(collect_list(struct(col("dim"), col("mn"), col("mx"))))
        .as("bs"))
      .select(transform(col("bs"), b => b.getField("mn")).as("mns"),
        transform(col("bs"), b => b.getField("mx")).as("mxs"))
    emb.crossJoin(broadcast(bounds))
      .select(col(idCol),
        array_max(zip_with(col(vecCol),
          sequence(lit(0), size(col(vecCol)) - 1), (v, i) => {
            val mn = element_at(col("mns"), i + 1)
            val mx = element_at(col("mxs"), i + 1)
            val vd = v.cast("double")
            val q = least(lit(255.0),
              floor((vd - mn) * lit(256.0) / (mx - mn)))
            val recon = mn + (q + lit(0.5)) * (mx - mn) / lit(256.0)
            when(mx === mn, lit(0.0)).otherwise(abs(vd - recon))
          })).as("max_err"))
  }

  /** Clustering-quality audit for an assignment (e.g. [[kmeansFit]]'s
    * output): per cluster, cohesion as the exact intra-cluster sum of
    * squared distances to the cluster's OWN centroid-of-members, and
    * separation as the squared distance to the nearest OTHER centroid —
    * the Davies-Bouldin-style diagnostic that tells you whether a
    * SemDeDup/IVF codebook actually carved the corpus or smeared it.
    * Both reported as UNROUNDED exact BIGINT parts (the q170 discipline:
    * a ratio would floor/truncate-drift; callers divide at their chosen
    * scale).
    *
    * Centroids are recomputed from the assignment with [[kmeansFit]]'s
    * floored-integer-mean idiom, so quality refers to the clustering AS
    * MATERIALIZED, independent of which training round produced it.
    * Shape: one posexplode aggregate to k×d centroid cells, intra via a
    * broadcast join of the k-row centroid relation back onto members
    * (corpus never shuffles), inter via the k×k centroid self-join —
    * model-sized. Empty clusters vanish (no members, no centroid); a
    * lone surviving cluster reports null separation.
    */
  def clusterQuality(embs: DataFrame, assignments: DataFrame,
                     idCol: String, vecCol: String,
                     clusterCol: String = "cluster",
                     scale: Double = 1e6): DataFrame = {
    require(scale > 0 && scale <= 1e7, s"scale must be in (0, 1e7]: $scale")
    // full-dimension vectors only (the kmeansFit discipline): a ragged
    // member would null out its zip_with distance — skipped by the SUM
    // but still counted in n_members, silently understating cohesion
    val dmax = embs.agg(max(size(col(vecCol))).as("_dmax"))
    val sv = embs.crossJoin(broadcast(dmax))
      .filter(size(col(vecCol)) === col("_dmax"))
      .select(col(idCol),
        transform(col(vecCol),
          v => floor(v.cast("double") * scale).cast("long")).as("svec"))
      .join(assignments.select(col(idCol), col(clusterCol).as("cluster")),
        idCol)
    val cents = sv
      .select(col("cluster"), posexplode(col("svec")).as(Seq("i", "s")))
      .groupBy(col("cluster"), col("i"))
      .agg(floor(sum(col("s")).cast("double") /
        count(lit(1)).cast("double")).cast("long").as("c"))
      .groupBy(col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        x => x.getField("c")).as("cvec"))
    val d2 = graft.expressions.SqDistLong(col("svec"), col("cvec"))
    val intra = sv.join(broadcast(cents), "cluster")
      .withColumn("_d2", d2)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        sum("_d2").as("intra_sum_sq"))
    val cd2 = graft.expressions.SqDistLong(col("cvec"), col("_ovec"))
    val inter = cents
      .join(cents.select(col("cluster").as("_oc"), col("cvec").as("_ovec")),
        col("cluster") =!= col("_oc"))
      .withColumn("_cd2", cd2)
      .groupBy("cluster")
      .agg(min("_cd2").as("min_inter_sq"))
    intra.join(inter, Seq("cluster"), "left")
      .select(col("cluster"), col("n_members"), col("intra_sum_sq"),
        col("min_inter_sq"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein '98):
    * greedily pick `k` items maximizing λ·relevance − (1−λ)·max-cosine-to-
    * already-selected — the diversification step between ANN retrieval
    * and a RAG context window (top-k alone returns k near-duplicates of
    * the best hit; MMR trades relevance for coverage).
    *
    * `candidates` is a RETRIEVED, model-sized relation (an ANN gate's
    * top-k output joined back to vectors — tens of rows), NOT a corpus:
    * greedy MMR is inherently sequential, so each of the k rounds runs
    * one candidates×selected cosine pass and one argmax `limit(1)` —
    * the bounded-driver-loop posture of the BPE trainer (driver holds
    * only the k selected rows, materialized per round via
    * localCheckpoint). All cosines come from the exact scaled parts
    * ([[graft.functions.VectorFns]]) with one fixed-shape IEEE finale,
    * so selection is engine-reproducible; the first round's score is
    * λ·relevance (max-sim over the empty set pinned to 0). Ties break
    * on the id ascending.
    *
    * Output: (rank, id, score) — rank in selection order.
    */
  /** Product-quantization ANN (PQ with asymmetric distance computation —
    * Jégou, Douze & Schmid 2011): split each vector into `m` contiguous
    * subspaces, train a tiny k-means codebook PER SUBSPACE (the same
    * hash-seeded exact-integer Lloyd as [[kmeansFit]], all subspaces in
    * ONE relation keyed by a `sub` column — one job per round, not m),
    * encode every vector as its m nearest-codeword ids, and answer
    * queries by ADC: the query's exact per-(subspace, codeword) distance
    * table is summed over each vector's CODES — the corpus's float
    * vectors are never touched at query time.
    *
    * Memory story at 100 TB (the reason PQ exists): m·log₂(k) bits per
    * vector instead of d floats — here 64-dim floats (256 B) compress to
    * m codes (m bytes at k ≤ 256), a ~64× index shrink, at the cost of
    * quantization error the gate AUDITS rather than hides (adc_d2 is
    * reported; q190's recall-audit posture applies).
    *
    * Scale shape: codebooks are m·k rows (broadcast everywhere); per
    * round ONE corpus-sized argmin aggregate; encode is the same argmin
    * against the final codebook; the ADC join keys codes to the
    * |queries|·m·k-row distance table by EQUI-key (sub, code) and
    * aggregates per (query, vector) — no vector math on the corpus side,
    * no shuffle of raw vectors. Exact integers end-to-end (scaled
    * components, BIGINT d²), so ranks are engine-portable; ties break on
    * vec_id.
    *
    * Queries are given BY ID (a subset of the corpus — the standard
    * recall-audit shape); self-matches stay in the output (rank 1 at
    * distance ≥ 0 is itself a quantization-error signal).
    *
    * Output: (q_id, rank, vec_id, adc_d2), topK rows per query.
    */
  def pqTopK(embs: DataFrame, idCol: String, vecCol: String,
             queryIds: Seq[Long], m: Int, k: Int, iters: Int,
             topK: Int, scale: Double = 1e6): DataFrame = {
    require(m >= 1 && k >= 1 && iters >= 1 && topK >= 1,
      s"need positive m/k/iters/topK: $m/$k/$iters/$topK")
    require(queryIds.nonEmpty, "queryIds must be non-empty")
    require(scale > 0 && scale <= 1e7, s"scale must be in (0, 1e7]: $scale")
    val probe = embs.select(max(size(col(vecCol))).as("d")).head()
    require(!probe.isNullAt(0), "pqTopK needs a non-empty corpus")
    val d = probe.getInt(0)
    require(d % m == 0, s"dim $d must divide into $m subspaces")
    val w = d / m
    // (id, sub, sv): every vector's m scaled-integer sub-vectors
    // the training working set: persisted because SIX consumers read it
    // (assign + memberMeans per round, the final encode, the query
    // distance tables) — the iterative-trainer posture; released after the
    // (topK·|q|-row) result materializes below
    withPersisted(embs.filter(size(col(vecCol)) === d)
      .select(col(idCol).as("_id"),
        transform(col(vecCol),
          v => floor(v.cast("double") * scale).cast("long")).as("_svec"))
      .select(col("_id"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("_svec"))
      .select(col("_id"), col("sub"),
        expr(s"slice(_svec, sub * $w + 1, $w)").as("_sv"))) { sv =>
      // k global seed rows by (hash, id) — each contributes its sub-vector
      // to every subspace's initial codebook (q91's seeding, PQ-wide)
      val seedW = Window.orderBy(col("_h"), col("_id"))
      val seeds = embs.select(col(idCol).as("_id"))
        .withColumn("_h", TextFns.hash64(col("_id").cast("string")))
        .orderBy(col("_h"), col("_id")).limit(k)
        .withColumn("cluster", (row_number().over(seedW) - 1).cast("long"))
        .select(col("_id"), col("cluster"))
      var cents = sv.join(broadcast(seeds), "_id")
        .select(col("sub"), col("cluster"), col("_sv").as("_cv"))
      val d2 = graft.expressions.SqDistLong(col("_sv"), col("_cv"))
      // the sub-vector rides THROUGH the argmin aggregate (kmeansFit's
      // shape) so the centroid update needs no corpus-to-corpus re-join
      def assign(cb: DataFrame): DataFrame =
        sv.join(broadcast(cb), Seq("sub"))
          .withColumn("_d2", d2)
          .groupBy(col("_id"), col("sub"), col("_sv"))
          .agg(min(struct(col("_d2"), col("cluster"))).as("_m"))
          .select(col("_id"), col("sub"), col("_sv"),
            col("_m.cluster").as("code"), col("_m._d2").as("_d2"))
      def memberMeans(asg: DataFrame): DataFrame =
        asg.select(col("sub"), col("code").as("cluster"),
            posexplode(col("_sv")).as(Seq("i", "s")))
          .groupBy(col("sub"), col("cluster"), col("i"))
          .agg(floor(sum(col("s")).cast("double") /
            count(lit(1)).cast("double")).cast("long").as("c"))
          .groupBy(col("sub"), col("cluster"))
          .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
            x => x.getField("c")).as("_cv"))
      for (_ <- 1 to iters) cents = memberMeans(assign(cents))
      // the trained codebook is m·k rows with TWO consumers below (encode
      // + distance tables) — one eager materialization stops the whole
      // training chain from evaluating twice (pageRank's checkpoint
      // discipline); rounds themselves are a linear chain, one evaluation
      cents = cents.localCheckpoint(true)
      // encode the whole corpus against the TRAINED codebook
      val codes = assign(cents).select(col("_id"), col("sub"), col("code"))
      // exact per-(query, sub, codeword) distance table — |q|·m·k rows
      val dt = sv.filter(col("_id").isin(queryIds: _*))
        .select(col("_id").as("q_id"), col("sub"), col("_sv"))
        .join(cents, Seq("sub"))
        .withColumn("_d2", d2)
        .select(col("q_id"), col("sub"), col("cluster").as("code"),
          col("_d2"))
      val rankW = Window.partitionBy(col("q_id"))
        .orderBy(col("adc_d2"), col("vec_id"))
      codes.join(broadcast(dt), Seq("sub", "code"))
        .groupBy(col("q_id"), col("_id"))
        .agg(sum(col("_d2")).as("adc_d2"))
        .select(col("q_id"), col("_id").as("vec_id"), col("adc_d2"))
        .withColumn("rank", row_number().over(rankW).cast("long"))
        .filter(col("rank") <= topK)
        .select(col("q_id"), col("rank"), col("vec_id"), col("adc_d2"))
        .localCheckpoint(true) // the (≤ topK·|q|-row) answer
    }
  }

  /** Recall audit for [[pqTopK]] — the q190 posture applied to PQ:
    * measure the compressed index's top-k against the EXACT squared-
    * distance top-k (same tie-break: (d², id)) and report overlap in
    * ppm. The exact side is the honest brute-force contrast (queries
    * broadcast, corpus scanned once); the audit is what a pipeline runs
    * at sample scale to pick (m, k, iters) before trusting the
    * compressed index at 100 TB.
    *
    * Output: (q_id, k, n_overlap, recall_ppm), one row per query.
    */
  def pqRecallAudit(embs: DataFrame, idCol: String, vecCol: String,
                    queryIds: Seq[Long], m: Int, k: Int, iters: Int,
                    topK: Int, scale: Double = 1e6): DataFrame = {
    val pq = pqTopK(embs, idCol, vecCol, queryIds, m, k, iters, topK, scale)
      .select(col("q_id"), col("vec_id"))
    val sv = embs.select(col(idCol).as("_id"),
      transform(col(vecCol),
        v => floor(v.cast("double") * scale).cast("long")).as("_svec"))
    val q = sv.filter(col("_id").isin(queryIds: _*))
      .select(col("_id").as("q_id"), col("_svec").as("_qvec"))
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("_d2"), col("_id"))
    val exact = sv.crossJoin(broadcast(q))
      .withColumn("_d2",
        graft.expressions.SqDistLong(col("_svec"), col("_qvec")))
      .withColumn("_r", row_number().over(rankW))
      .filter(col("_r") <= topK)
      .select(col("q_id"), col("_id").as("vec_id"))
    val overlap = pq.join(exact, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
    q.select(col("q_id")).join(overlap, Seq("q_id"), "left")
      .select(col("q_id"), lit(topK.toLong).as("k"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("recall_ppm", expr("1000000L * n_overlap div k"))
  }

  def mmrSelect(candidates: DataFrame, idCol: String, vecCol: String,
                relCol: String, k: Int, lam: Double = 0.5): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val base = candidates.select(col(idCol).as("_id"),
        col(vecCol).as("_vec"), col(relCol).cast("double").as("_rel"))
      .withColumn("_n2s", VectorFns.norm2Scaled(col("_vec")))
      .localCheckpoint(true)
    var selected: DataFrame = null
    for (round <- 1 to k) {
      val scored =
        if (selected == null)
          base.withColumn("_score", lit(lam) * col("_rel"))
        else {
          val sel = broadcast(selected.select(col("_vec").as("_svec"),
            col("_n2s").as("_sn2s")))
          base.join(selected.select(col("_id")), Seq("_id"), "left_anti")
            .crossJoin(sel)
            .withColumn("_sim", VectorFns.cosineScaled(
              VectorFns.dotScaled(col("_vec"), col("_svec")),
              col("_n2s"), col("_sn2s")))
            .groupBy(col("_id"), col("_vec"), col("_n2s"), col("_rel"))
            .agg(max(col("_sim")).as("_maxsim"))
            .withColumn("_score",
              lit(lam) * col("_rel") - lit(1.0 - lam) * col("_maxsim"))
        }
      val pick = scored
        .orderBy(col("_score").desc, col("_id").asc)
        .limit(1)
        .select(col("_id"), col("_vec"), col("_n2s"),
          col("_rel"), col("_score"), lit(round.toLong).as("rank"))
        .localCheckpoint(true) // k rows total on the driver side, ever
      selected = if (selected == null) pick else selected.unionByName(pick)
    }
    selected.select(col("rank"), col("_id").as(idCol),
      col("_score").as("score"))
  }

  /** Pairwise centroid cosine between label groups — the embedding-space
    * drift matrix ("did source A move toward source B between snapshots?"
    * / "are these two clusters secretly one?"). Exact integers end to
    * end: components quantize to floor(v·scale) (fixed-shape IEEE double
    * op, engine-portable), and the centroid DIVISION cancels out of
    * cosine — cos(Σa/n_a, Σb/n_b) = cos(Σa, Σb) — so the op works on
    * per-dim SUM vectors and never divides until the final
    * cos²·10⁶ div (‖a‖²·‖b‖²), whose operands are non-negative (floor
    * vs truncating integer division never disagrees). dot carries the
    * sign; cos2_ppm carries the magnitude.
    *
    * Output: (label_a, label_b, n_a, n_b, dot, cos2_ppm), a < b.
    *
    * Shape at 100 TB: one explode + map-side-combined aggregate collapses
    * the corpus to |labels|·dims sum rows; the pairwise join is over THAT
    * (category-sized, never data-sized). Sums ride DECIMAL(38,0) so a
    * trillion-row label can't overflow the int64 partials; `dot` is
    * emitted as BIGINT (|dot| < 2⁶³ holds while n·scale·‖v‖ < ~3·10⁹ per
    * dim — far past any tested SF; past that, read dot from the decimal).
    */
  def centroidCosineMatrix(df: DataFrame, labelCol: String, embCol: String,
                           scale: Int = 1000): DataFrame = {
    require(scale >= 1, s"scale must be >= 1: $scale")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sums = df
      .filter(col(labelCol).isNotNull)
      .select(col(labelCol).as("_l"), posexplode(col(embCol)))
      .select(col("_l"), col("pos").as("_dim"),
        floor(col("col").cast("double") * scale).cast("long").as("_q"))
      .groupBy("_l", "_dim")
      .agg(sum(col("_q").cast(dec)).as("_s"))
    val counts = df.filter(col(labelCol).isNotNull)
      .groupBy(col(labelCol).as("_l")).agg(count(lit(1)).as("_n"))
    val norms = sums.groupBy("_l")
      .agg(sum(col("_s") * col("_s")).as("_n2"))
    val dots = sums.as("a")
      .join(sums.as("b"),
        col("a._dim") === col("b._dim") && col("a._l") < col("b._l"))
      .groupBy(col("a._l").as("label_a"), col("b._l").as("label_b"))
      .agg(sum(col("a._s") * col("b._s")).as("_dot"))
    dots
      .join(counts.select(col("_l").as("label_a"), col("_n").as("n_a")),
        Seq("label_a"))
      .join(counts.select(col("_l").as("label_b"), col("_n").as("n_b")),
        Seq("label_b"))
      .join(norms.select(col("_l").as("label_a"), col("_n2").as("_n2a")),
        Seq("label_a"))
      .join(norms.select(col("_l").as("label_b"), col("_n2").as("_n2b")),
        Seq("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        col("_dot").cast("long").as("dot"),
        // SQL `div`, not decimal `/`: the latter rounds HALF_UP at scale
        // 6 before the long cast and can land one above the exact floor
        when(col("_n2a") > 0 && col("_n2b") > 0,
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * _dot * _dot) div " +
            "(_n2a * _n2b) AS BIGINT)"))
          .as("cos2_ppm"))
  }

  /** Matryoshka truncation audit: how much top-k recall survives keeping
    * only the first `d` of the embedding's dimensions? For each d, exact
    * brute-force top-k over the TRUNCATED vectors measured against the
    * full-dimension top-k, overlap in ppm per query — the
    * store-a-prefix-at-¼-the-bytes decision (Kusupati et al.'s
    * matryoshka setting; even for embeddings not trained that way, the
    * audit IS the answer) made the q190/q211 way: sketch-vs-exact at
    * sample scale before trusting the cheaper index at 100 TB.
    *
    * Output: (query_id, dim, k, n_overlap, recall_ppm), one row per
    * (query, d); d = full width reads 10⁶ by construction (the sanity
    * row). All comparisons ride the scaled-integer cosine kernels.
    */
  def truncationRecallAudit(embs: DataFrame, idCol: String, vecCol: String,
                            queryIds: Seq[Long], dims: Seq[Int],
                            k: Int): DataFrame = {
    require(queryIds.nonEmpty && dims.nonEmpty && k >= 1,
      s"bad args: $queryIds $dims $k")
    require(dims.forall(_ >= 1), s"dims must be >= 1: $dims")
    val queries = embs.filter(col(idCol).isin(queryIds: _*))
    def topk(d: Option[Int]): DataFrame = {
      def cut(df: DataFrame) = d match {
        case Some(n) => df.select(col(idCol),
          slice(col(vecCol), 1, n).as(vecCol))
        case None => df.select(col(idCol), col(vecCol))
      }
      bruteForceTopK(cut(queries), cut(embs), idCol, vecCol, k)
        .select(col("query_id"), col("neighbor_id"))
    }
    val full = topk(None).localCheckpoint(true)
    val perDim = dims.map { d =>
      val ov = topk(Some(d)).join(full, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
      full.select(col("query_id")).distinct()
        .join(ov, Seq("query_id"), "left")
        .select(col("query_id"), lit(d.toLong).as("dim"),
          lit(k.toLong).as("k"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          expr(s"(1000000 * coalesce(n_overlap, 0)) div ${k}L")
            .as("recall_ppm"))
    }
    perDim.reduce(_ unionByName _)
  }

  /** Contrastive triplet mining — the training-data op of metric/embedding
    * learning: per anchor, the hardest positive candidate (most-similar
    * SAME-label vector) and the hardest negative (most-similar
    * DIFFERENT-label vector — the informative one precisely because it is
    * close), mined inside random-hyperplane LSH buckets so candidate
    * generation is bucket-quadratic, never corpus-quadratic (the
    * [[lshTopK]] recall/latency trade: anchors whose bucket lacks a
    * same-label or different-label neighbor yield no triplet — at corpus
    * scale buckets are dense and the misses are the sparse tail).
    *
    * Output: (anchor_id, label, pos_id, pos_cosine, neg_id, neg_cosine)
    * for anchors with both halves; cosines via the scaled-integer kernels
    * (deterministic, oracle-reproducible), ties on (cosine DESC, id).
    *
    * Scale: one signature pass, one bucket self-join repartitioned by
    * bucket key with an explicit count ([[Partitions.parts]] rule —
    * quadratic OUTPUT from small input, AQE must not fold it), two rank
    * windows partitioned by anchor.
    */
  def tripletMining(embs: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, numPlanes: Int = 4): DataFrame = {
    val sig = planeSignature(embs, idCol, vecCol, numPlanes)
    val base = withNorm2(embs, idCol, vecCol)
      .select(col(idCol).as("_id"), col("dvec").as("_vec"),
        col("n2s").as("_n2s"))
      .join(embs.select(col(idCol).as("_id"), col(labelCol).as("_lbl"))
        .filter(col("_lbl").isNotNull), "_id")
      .join(sig.withColumnRenamed(idCol, "_id"), "_id")
    val nParts = Partitions.parts(embs.sparkSession)
    val b = base.repartition(nParts, col("sig"))
    val pairs = b.select(col("sig"), col("_id").as("a_id"),
        col("_lbl").as("a_lbl"), col("_vec").as("a_vec"),
        col("_n2s").as("a_n2s"))
      .join(b.select(col("sig"), col("_id").as("b_id"),
        col("_lbl").as("b_lbl"), col("_vec").as("b_vec"),
        col("_n2s").as("b_n2s")), "sig")
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cosine", VectorFns.cosineScaled(
        VectorFns.dotScaled(col("a_vec"), col("b_vec")),
        col("a_n2s"), col("b_n2s")))
      .select("a_id", "a_lbl", "b_id", "b_lbl", "cosine")
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine").desc, col("b_id").asc)
    def top1(half: DataFrame, prefix: String) = half
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("a_id"), col("a_lbl"),
        col("b_id").as(s"${prefix}_id"),
        col("cosine").as(s"${prefix}_cosine"))
    top1(pairs.filter(col("a_lbl") === col("b_lbl")), "pos")
      .join(top1(pairs.filter(col("a_lbl") =!= col("b_lbl")), "neg")
        .drop("a_lbl"), "a_id")
      .select(col("a_id").as("anchor_id"), col("a_lbl").as("label"),
        col("pos_id"), col("pos_cosine"), col("neg_id"), col("neg_cosine"))
  }
}
