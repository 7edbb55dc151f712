package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Decontamination, Dedup, Diff, EventAnalytics, Formats, Graph, Intervals, Multimodal, Output, Partitions, Profile, Regression, Sampling, Sessionize, Similarity, TextAnalysis}

/** Scale-extension queries: dedup suite, similarity search, text analysis,
  * multimodal binary plumbing — each oracle-backed over `documents` /
  * `embeddings` (SURVEY.md §7.1 step 7; builder-prompt extension mandate).
  *
  * The sha256-based `hash64` (TextFns) keeps every pseudo-random choice
  * reproducible in DuckDB: CAST('0x' || substr(sha256(x),1,15) AS BIGINT).
  */
object Extensions {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Tables.table(s, dir, n)

  /** The shared 5-word line synthesis (documents.text carries no
    * newlines, so span/line gates manufacture them the same way their
    * oracles' list_transform CTE does): doc_id + the text re-joined as
    * ceil(|words|/5) newline-separated 5-word lines. One definition —
    * q87/q145/q249/q258/q260 all compose it, and the oracle CTE is the
    * single thing it must stay in lockstep with. */
  private def fiveWordLines(ws: Column): Column = {
    val k = ceil(size(ws).cast("double") / 5.0).cast("int")
    transform(sequence(lit(0), k - 1),
      i => array_join(slice(ws, i * 5 + 1, lit(5)), " "))
  }

  private def fiveWordLined(s: org.apache.spark.sql.SparkSession,
                            dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      array_join(fiveWordLines(split(col("text"), " ")), "\n").as("text"))

  /** Row-local top-n-gram char cover (Gopher's duplicate-n-gram family):
    * max over the doc's distinct word n-grams of occurrences × gram char
    * length — the characters the heaviest repeated n-gram accounts for.
    * Deterministic where "the most frequent n-gram" is not: count ties
    * resolve by taking the larger covered-char product, so no arbitrary
    * tiebreak leaks into the ppm. ZERO shuffles (the q64/repetition
    * posture), native expression (the interpreted
    * transform+sort+aggregate fold measured ~1.2 ms/doc — see
    * [[graft.expressions.TopGramCovUtil]]). Docs with < n words cover
    * 0 chars. */
  private def topGramCov(text: Column, n: Int): Column =
    graft.expressions.TopGramCov(text, n)

  private val q20 = Q("q20_dedup_exact",
    "exact dedup: sha256(text) group, canonical id, copy count",
    Some("""
      SELECT sha256(text) AS text_sha, min(doc_id) AS canonical_id,
             count(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY text_sha"""),
    (s, dir) => Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("text_sha"))

  private val q21 = Q("q21_dedup_minhash_lsh",
    "MinHash(16) + LSH banding (8 bands of 2): near-dup candidate pairs",
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      jx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS j FROM w),
      shs AS (SELECT DISTINCT doc_id, w[j] || ' ' || w[j+1] || ' ' || w[j+2] AS sh FROM jx),
      sh AS (SELECT doc_id,
             CAST('0x' || substr(sha256(sh), 1, 15) AS BIGINT) AS p0,
             CAST('0x' || substr(sha256(sh), 16, 15) AS BIGINT) AS p1,
             CAST('0x' || substr(sha256(sh), 31, 15) AS BIGINT) AS p2,
             CAST('0x' || substr(sha256(sh), 46, 15) AS BIGINT) AS p3
             FROM shs),
      mh AS (SELECT doc_id, h,
             min(xor(
               CASE WHEN h % 4 = 0 THEN p0 WHEN h % 4 = 1 THEN p1
                    WHEN h % 4 = 2 THEN p2 ELSE p3 END,
               (CASE WHEN (h + 1) % 4 = 0 THEN p0 WHEN (h + 1) % 4 = 1 THEN p1
                     WHEN (h + 1) % 4 = 2 THEN p2 ELSE p3 END)
                 >> ((h * 7) % 29))) AS minh
             FROM sh CROSS JOIN generate_series(0, 15) t(h) GROUP BY doc_id, h),
      bands AS (SELECT doc_id, h // 2 AS band,
                string_agg(CAST(minh AS VARCHAR), ',' ORDER BY h) AS band_sig
                FROM mh GROUP BY doc_id, h // 2)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      ORDER BY doc_a, doc_b"""),
    (s, dir) => {
      val sigs = Dedup.minHashSignatures(t(s, dir, "documents"),
        "doc_id", "text", numHashes = 16)
      Dedup.minHashLshCandidates(sigs, "doc_id", rowsPerBand = 2)
        .orderBy("doc_a", "doc_b")
    })

  private val q22 = Q("q22_dedup_simhash_sig",
    "SimHash 32-bit signatures (term-frequency ±1 votes per bit)",
    Some("""
      WITH wds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      wh AS (SELECT doc_id, CAST('0x' || substr(sha256(w), 1, 15) AS BIGINT) AS wh FROM wds),
      votes AS (SELECT doc_id, b,
                SUM(CASE WHEN (wh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS votes
                FROM wh CROSS JOIN generate_series(0, 31) t(b) GROUP BY doc_id, b),
      sig AS (SELECT doc_id,
              SUM(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
              FROM votes GROUP BY doc_id)
      -- DuckDB SUM(BIGINT) yields HUGEINT; cast so the physical type the
      -- driver hashes matches Spark's int64.
      SELECT doc_id, CAST(simhash AS BIGINT) AS simhash FROM sig ORDER BY doc_id"""),
    (s, dir) => Dedup.simHash(t(s, dir, "documents"), "doc_id", "text", bits = 32)
      .orderBy("doc_id"))

  private val q23 = Q("q23_dedup_simhash_pairs",
    "SimHash near-dup pairs at Hamming distance <= 2",
    Some("""
      WITH wds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      wh AS (SELECT doc_id, CAST('0x' || substr(sha256(w), 1, 15) AS BIGINT) AS wh FROM wds),
      votes AS (SELECT doc_id, b,
                SUM(CASE WHEN (wh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS votes
                FROM wh CROSS JOIN generate_series(0, 31) t(b) GROUP BY doc_id, b),
      sig AS (SELECT doc_id,
              SUM(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
              FROM votes GROUP BY doc_id)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
      ORDER BY doc_a, doc_b"""),
    (s, dir) => {
      val sigs = Dedup.simHash(t(s, dir, "documents"), "doc_id", "text", bits = 32)
      // blockBits = 0 opts into the EXACT pigeonhole path — this gate pins it
      Dedup.simHashPairs(sigs, "doc_id", maxHamming = 2, blockBits = 0)
        .orderBy("doc_a", "doc_b")
    })

  private val q24 = Q("q24_dedup_ngram_jaccard",
    "word-3-gram Jaccard similarity, blocked by (lang, source)",
    Some("""
      WITH w AS (SELECT doc_id, lang, source, string_split(text, ' ') AS w FROM documents),
      jx AS (SELECT doc_id, lang, source, w, unnest(generate_series(1, len(w)-2)) AS j FROM w),
      sh AS (SELECT DISTINCT doc_id, lang, source,
             CAST('0x' || substr(sha256(w[j] || ' ' || w[j+1] || ' ' || w[j+2]), 1, 15) AS BIGINT) AS sh
             FROM jx),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
                FROM sh a JOIN sh b
                  ON a.lang = b.lang AND a.source = b.source
                 AND a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT doc_a, doc_b, n_inter,
             CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
      FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                 JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.05
      ORDER BY doc_a, doc_b"""),
    (s, dir) => Dedup.ngramJaccard(t(s, dir, "documents"), "doc_id", "text",
      blockCols = Seq("lang", "source"), minJaccard = 0.05)
      .orderBy("doc_a", "doc_b"))

  private val q25 = Q("q25_emb_cosine_topk",
    "brute-force cosine top-5 for query vectors (vec_id < 10), exact decimal dot",
    Some("""
      WITH el AS (SELECT vec_id, unnest(embedding) AS v,
                  unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
      dots AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(SUM(CAST(floor(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dot_s
               FROM el q JOIN el c ON q.i = c.i WHERE q.vec_id < 10 GROUP BY 1, 2),
      nrm AS (SELECT vec_id,
              CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS n2s
              FROM el GROUP BY 1),
      cosv AS (SELECT query_id, neighbor_id,
               CAST(d.dot_s AS DOUBLE) / (sqrt(CAST(nq.n2s AS DOUBLE)) * sqrt(CAST(nc.n2s AS DOUBLE))) AS cosine
               FROM dots d JOIN nrm nq ON d.query_id = nq.vec_id
                           JOIN nrm nc ON d.neighbor_id = nc.vec_id),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rank FROM cosv)
      SELECT query_id, neighbor_id, rank, cosine FROM rk WHERE rank <= 5
      ORDER BY query_id, rank"""),
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    })

  private val q26 = Q("q26_emb_ann_lsh",
    "ANN via 8 random-hyperplane LSH buckets + exact re-rank (top-3)",
    Some("""
      WITH el AS (SELECT vec_id, unnest(embedding) AS v,
                  unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
      planes AS (SELECT vec_id, b,
                 SUM(CAST(floor((CAST('0x' || substr(sha256(CAST(b AS VARCHAR) || ',' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT)
                           % 2001 - 1000) * CAST(v AS DOUBLE) * 1e9) AS BIGINT)) AS pdot
                 FROM el CROSS JOIN generate_series(0, 7) t(b) GROUP BY vec_id, b),
      sig AS (SELECT vec_id,
              SUM(CASE WHEN pdot >= 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS sig
              FROM planes GROUP BY vec_id),
      nrm AS (SELECT vec_id,
              CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS n2s
              FROM el GROUP BY 1),
      cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
               FROM sig q JOIN sig c ON q.sig = c.sig WHERE q.vec_id < 10),
      dots AS (SELECT cand.query_id, cand.neighbor_id,
               CAST(SUM(CAST(floor(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dot_s
               FROM cand JOIN el a ON a.vec_id = cand.query_id
                         JOIN el b ON b.vec_id = cand.neighbor_id AND a.i = b.i
               GROUP BY 1, 2),
      cosv AS (SELECT query_id, neighbor_id,
               CAST(d.dot_s AS DOUBLE) / (sqrt(CAST(nq.n2s AS DOUBLE)) * sqrt(CAST(nc.n2s AS DOUBLE))) AS cosine
               FROM dots d JOIN nrm nq ON d.query_id = nq.vec_id
                           JOIN nrm nc ON d.neighbor_id = nc.vec_id),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rank FROM cosv)
      SELECT query_id, neighbor_id, rank, cosine FROM rk WHERE rank <= 3
      ORDER BY query_id, rank"""),
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 3, numPlanes = 8)
        .orderBy("query_id", "rank")
    })

  private val q27 = Q("q27_emb_neardup",
    "embedding near-duplicates: cosine >= 0.3 within label block",
    Some("""
      WITH el AS (SELECT vec_id, label, unnest(embedding) AS v,
                  unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
      dots AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
               CAST(SUM(CAST(floor(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dot_s
               FROM el a JOIN el b
                 ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
               GROUP BY 1, 2),
      nrm AS (SELECT vec_id,
              CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS n2s
              FROM el GROUP BY 1)
      SELECT doc_a, doc_b,
             CAST(d.dot_s AS DOUBLE) / (sqrt(CAST(na.n2s AS DOUBLE)) * sqrt(CAST(nb.n2s AS DOUBLE))) AS cosine
      FROM dots d JOIN nrm na ON doc_a = na.vec_id
                  JOIN nrm nb ON doc_b = nb.vec_id
      WHERE CAST(d.dot_s AS DOUBLE) / (sqrt(CAST(na.n2s AS DOUBLE)) * sqrt(CAST(nb.n2s AS DOUBLE))) >= 0.3
      ORDER BY doc_a, doc_b"""),
    (s, dir) => Dedup.embeddingNearDupExact(t(s, dir, "embeddings"),
      "vec_id", "embedding", "label", minCosine = 0.3)
      .orderBy("doc_a", "doc_b"))

  private val q28 = Q("q28_text_langid",
    "wordlist language-ID heuristic with deterministic argmax",
    Some("""
      WITH dict(dlang, word) AS (VALUES
        ('en','the'),('en','a'),('en','of'),('en','and'),('en','is'),('en','to'),('en','in'),
        ('de','der'),('de','die'),('de','das'),('de','und'),('de','ist'),
        ('fr','le'),('fr','la'),('fr','les'),('fr','et'),('fr','est'),
        ('es','el'),('es','los'),('es','y'),('es','es'),('es','un'),
        ('zh','的'),('zh','是'),('zh','了')),
      langs AS (SELECT DISTINCT dlang FROM dict),
      wds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      hits AS (SELECT doc_id, dlang, count(*) AS hits
               FROM wds JOIN dict USING (word) GROUP BY 1, 2),
      grid AS (SELECT d.doc_id, d.lang, l.dlang FROM documents d CROSS JOIN langs l),
      scored AS (SELECT g.doc_id, g.lang, g.dlang, coalesce(h.hits, CAST(0 AS BIGINT)) AS score
                 FROM grid g LEFT JOIN hits h
                   ON g.doc_id = h.doc_id AND g.dlang = h.dlang),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, dlang) AS rn FROM scored)
      SELECT doc_id, dlang AS pred_lang, score, lang AS labelled_lang
      FROM rk WHERE rn = 1 ORDER BY doc_id"""),
    (s, dir) => TextAnalysis.langId(s, t(s, dir, "documents")).orderBy("doc_id"))

  private val q29 = Q("q29_text_quality",
    "quality scoring: stopword/punct ratios, word stats, weighted score",
    Some("""
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(length(text) AS BIGINT) AS n_chars_measured,
             CAST(len(list_filter(string_split(text, ' '),
               x -> list_contains(['the','a','of','and','is','to','in'], x))) AS BIGINT) AS n_stopwords,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_word_len,
             CAST(len(list_filter(string_split(text, ' '),
               x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stopword_ratio,
             CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
             0.5 * (CAST(len(list_filter(string_split(text, ' '),
                      x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE)
                    / len(string_split(text, ' ')))
             + 0.3 * (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                      / length(text))
             + 0.2 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
               AS quality_score
      FROM documents ORDER BY doc_id"""),
    (s, dir) => TextAnalysis.quality(t(s, dir, "documents")).orderBy("doc_id"))

  private val q30 = Q("q30_text_tokens",
    "token counting: whitespace, BPE-ish regex, chars/4 estimate",
    Some("""
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
             CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
             CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS est_bpe_tokens
      FROM documents ORDER BY doc_id"""),
    (s, dir) => TextAnalysis.tokenCounts(t(s, dir, "documents")).orderBy("doc_id"))

  private val q31 = Q("q31_text_fingerprint",
    "rolling-hash fingerprint over 64-char prefix + duplicate-group size",
    Some("""
      WITH f AS (SELECT doc_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split(substr(text, 1, 64), ''),
            s -> CAST(unicode(s) AS BIGINT))),
          (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
        FROM documents)
      SELECT doc_id, fingerprint,
             count(*) OVER (PARTITION BY fingerprint) AS n_same_fp
      FROM f ORDER BY doc_id"""),
    (s, dir) => TextAnalysis.fingerprints(t(s, dir, "documents"), prefixLen = 64)
      .orderBy("doc_id"))

  private val q32 = Q("q32_multimodal_binary",
    "multimodal plumbing: opaque binary payload + typed metadata + checksum",
    Some("""
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             sha256(text) AS payload_sha,
             upper(substr(hex(encode(text)), 1, 16)) AS hex_prefix,
             (CAST(octet_length(encode(text)) AS BIGINT) * 31 + doc_id) % 1000003 AS fake_feature,
             doc_id % 640 + 1 AS meta_width,
             doc_id % 480 + 1 AS meta_height
      FROM documents ORDER BY doc_id"""),
    (s, dir) => {
      val payload = col("text").cast("binary")
      t(s, dir, "documents").select(
        col("doc_id"),
        octet_length(payload).cast("long").as("n_bytes"),
        sha2(col("text"), 256).as("payload_sha"),
        upper(substring(hex(payload), 1, 16)).as("hex_prefix"),
        pmod(octet_length(payload).cast("long") * 31 + col("doc_id"),
          lit(1000003L)).as("fake_feature"),
        (pmod(col("doc_id"), lit(640)) + 1).as("meta_width"),
        (pmod(col("doc_id"), lit(480)) + 1).as("meta_height"))
        .orderBy("doc_id")
    })

  private val q36 = Q("q36_emb_ivf_topk",
    "IVF ANN: coarse quantization to 8 centroid lists, nprobe=2, exact " +
      "re-rank top-3 (centroids = lowest vec_ids as a deterministic codebook)",
    Some("""
      WITH el AS (SELECT vec_id, unnest(embedding) AS v,
                  unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
      n2 AS (SELECT vec_id,
             CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS n2s
             FROM el GROUP BY 1),
      cd AS (SELECT a.vec_id AS vid, c.vec_id AS cent_id,
             CAST(SUM(CAST(floor(CAST(a.v AS DOUBLE) * CAST(c.v AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dot_s
             FROM el a JOIN el c ON a.i = c.i AND c.vec_id < 8 GROUP BY 1, 2),
      cc AS (SELECT vid, cent_id,
             CAST(dot_s AS DOUBLE) / (sqrt(CAST(na.n2s AS DOUBLE)) * sqrt(CAST(nc.n2s AS DOUBLE))) AS ccos
             FROM cd JOIN n2 na ON vid = na.vec_id JOIN n2 nc ON cent_id = nc.vec_id),
      cr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vid
                       ORDER BY ccos DESC, cent_id) AS r FROM cc),
      cassign AS (SELECT vid, cent_id FROM cr WHERE r = 1),
      qprobe AS (SELECT vid AS query_id, cent_id FROM cr WHERE r <= 2 AND vid < 10),
      cand AS (SELECT q.query_id, a.vid AS neighbor_id
               FROM qprobe q JOIN cassign a ON q.cent_id = a.cent_id),
      dots AS (SELECT cand.query_id, cand.neighbor_id,
               CAST(SUM(CAST(floor(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dot_s
               FROM cand JOIN el a ON a.vec_id = cand.query_id
                         JOIN el b ON b.vec_id = cand.neighbor_id AND a.i = b.i
               GROUP BY 1, 2),
      cosv AS (SELECT query_id, neighbor_id,
               CAST(d.dot_s AS DOUBLE) / (sqrt(CAST(nq.n2s AS DOUBLE)) * sqrt(CAST(nc.n2s AS DOUBLE))) AS cosine
               FROM dots d JOIN n2 nq ON d.query_id = nq.vec_id
                           JOIN n2 nc ON d.neighbor_id = nc.vec_id),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rank FROM cosv)
      SELECT query_id, neighbor_id, rank, cosine FROM rk WHERE rank <= 3
      ORDER BY query_id, rank"""),
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
        centroids = emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 3, nProbe = 2)
        .orderBy("query_id", "rank")
    })

  private val q37 = Q("q37_cube",
    "CUBE grouping sets over (event_type, day)",
    Some("""
      WITH e AS (SELECT event_type,
                 strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, value
                 FROM events)
      SELECT coalesce(event_type, 'ALL') AS etype,
             coalesce(day, 'ALL') AS day_str,
             count(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM e GROUP BY CUBE(event_type, day)
      ORDER BY etype, day_str"""),
    (s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"), col("value"))
        .cube(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_value"))
        .select(coalesce(col("event_type"), lit("ALL")).as("etype"),
          coalesce(col("day"), lit("ALL")).as("day_str"),
          col("n"), col("sum_value"))
        .orderBy("etype", "day_str")
    })

  private val q40 = Q("q40_multimodal_frames",
    "frame sampling over binary payloads: 32-byte frames every 24 bytes; " +
      "oracle mirrors the byte windows over the hex encoding (DuckDB 1.0 " +
      "cannot substring BLOBs)",
    Some("""
      WITH p AS (SELECT doc_id, hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS n FROM documents)
      SELECT doc_id,
             CASE WHEN n >= 32
                  THEN CAST(floor(CAST(n - 32 AS DOUBLE) / 24) AS BIGINT) + 1
                  ELSE 0 END AS n_frames,
             upper(substr(hx, 1, 64)) AS first_frame_hex,
             upper(substr(hx,
               CAST((CASE WHEN n >= 32
                     THEN CAST(floor(CAST(n - 32 AS DOUBLE) / 24) AS BIGINT) + 1
                     ELSE 0 END) // 2 AS BIGINT) * 48 + 1, 64)) AS mid_frame_hex
      FROM p ORDER BY doc_id"""),
    (s, dir) => {
      val withPayload = graft.ops.Multimodal.withPayload(t(s, dir, "documents"))
      graft.ops.Multimodal.frameSample(withPayload, "payload", frameSize = 32, stride = 24)
        .select(col("doc_id"), col("n_frames"),
          upper(hex(element_at(col("frames"), 1))).as("first_frame_hex"),
          upper(hex(element_at(col("frames"),
            (col("n_frames") / 2).cast("int") + 1))).as("mid_frame_hex"))
        .orderBy("doc_id")
    })

  private val q41 = Q("q41_salted_join",
    "skew-salted join equals the plain join (hot key spread across salt buckets)",
    Some("""
      SELECT event_id, CAST(user_id % 5 AS BIGINT) AS hot, r_name
      FROM events JOIN region ON user_id % 5 = r_regionkey
      ORDER BY event_id"""),
    (s, dir) => {
      val big = t(s, dir, "events")
        .select(col("event_id"), pmod(col("user_id"), lit(5)).cast("int").as("hot"))
      val small = t(s, dir, "region")
        .select(col("r_regionkey").cast("int").as("hot"), col("r_name"))
      graft.ops.Skew.saltedJoin(big, small, Seq("hot"), saltBuckets = 8)
        .select(col("event_id"), col("hot"), col("r_name"))
        .orderBy("event_id")
    })

  // ---- scale-path variants, oracle-gated (VERDICT r1 item 5): the
  // sub-quadratic siblings of q23/q27 and the Bloom-prefiltered J1, each
  // pinned to the same DuckDB oracle discipline as their exact forms.

  private val q50 = Q("q50_emb_neardup_lsh",
    "embedding near-dup SCALE PATH: label block AND 6-plane LSH bucket " +
      "must both match (recall trade documented in SCALING.md), cosine >= 0.3",
    Some("""
      WITH el AS (SELECT vec_id, label, unnest(embedding) AS v,
                  unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
      planes AS (SELECT vec_id, b,
                 SUM(CAST(floor((CAST('0x' || substr(sha256(CAST(b AS VARCHAR) || ',' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT)
                           % 2001 - 1000) * CAST(v AS DOUBLE) * 1e9) AS BIGINT)) AS pdot
                 FROM el CROSS JOIN generate_series(0, 5) t(b) GROUP BY vec_id, b),
      sig AS (SELECT vec_id,
              SUM(CASE WHEN pdot >= 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS sig
              FROM planes GROUP BY vec_id),
      nrm AS (SELECT vec_id,
              CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS n2s
              FROM el GROUP BY 1),
      dots AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
               CAST(SUM(CAST(floor(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dot_s
               FROM el a JOIN sig sa ON a.vec_id = sa.vec_id
                         JOIN el b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
                         JOIN sig sb ON b.vec_id = sb.vec_id AND sa.sig = sb.sig
               GROUP BY 1, 2),
      cosv AS (SELECT doc_a, doc_b,
               CAST(d.dot_s AS DOUBLE) / (sqrt(CAST(na.n2s AS DOUBLE)) * sqrt(CAST(nb.n2s AS DOUBLE))) AS cosine
               FROM dots d JOIN nrm na ON doc_a = na.vec_id
                           JOIN nrm nb ON doc_b = nb.vec_id)
      SELECT doc_a, doc_b, cosine FROM cosv WHERE cosine >= 0.3
      ORDER BY doc_a, doc_b"""),
    (s, dir) => Dedup.embeddingNearDupLsh(t(s, dir, "embeddings"),
      "vec_id", "embedding", "label", minCosine = 0.3, numPlanes = 6)
      .orderBy("doc_a", "doc_b"))

  private val q51 = Q("q51_simhash_blocked_pairs",
    "SimHash pairs SCALE PATH: 4 high signature bits block the self-join " +
      "(bucket-local comparisons), Hamming <= 2 within the block",
    Some("""
      WITH wds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      wh AS (SELECT doc_id, CAST('0x' || substr(sha256(w), 1, 15) AS BIGINT) AS wh FROM wds),
      votes AS (SELECT doc_id, b,
                SUM(CASE WHEN (wh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS votes
                FROM wh CROSS JOIN generate_series(0, 31) t(b) GROUP BY doc_id, b),
      sig AS (SELECT doc_id,
              CAST(SUM(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM sig a JOIN sig b
        ON (a.simhash >> 28) = (b.simhash >> 28) AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
      ORDER BY doc_a, doc_b"""),
    (s, dir) => {
      val sigs = Dedup.simHash(t(s, dir, "documents"), "doc_id", "text", bits = 32)
      Dedup.simHashPairs(sigs, "doc_id", maxHamming = 2, blockBits = 4)
        .orderBy("doc_a", "doc_b")
    })

  private val q52 = Q("q52_bloom_dedup",
    "J1 SCALE PATH: Bloom-prefiltered ledger dedup — result is identical " +
      "to the exact anti-join (the filter only routes rows; suspects still " +
      "anti-join exactly), so the q03 oracle applies verbatim",
    Some("""
      WITH inc AS (
        SELECT event_id, sha256('DRM' || CAST(event_id AS VARCHAR)) AS hash
        FROM events),
      led AS (
        SELECT sha256('DRM' || CAST(event_id AS VARCHAR)) AS hash
        FROM events WHERE event_id % 10 < 3)
      SELECT event_id, hash FROM inc
      WHERE hash NOT IN (SELECT hash FROM led)
      ORDER BY event_id"""),
    (s, dir) => {
      val ev = t(s, dir, "events")
      val incoming = ev.select(col("event_id"), lit("DRM").as("device_type"),
        col("event_id").cast("string").as("manufacturer_ref"))
      val ledger = ev.filter(pmod(col("event_id"), lit(10)) < 3)
        .select(graft.functions.Etl.recordHash(lit("DRM"),
          col("event_id").cast("string")).as("hash"))
      graft.etl.Stages.ingestDedupBloom(incoming, ledger,
        expectedLedgerItems = 100000)
        .select(col("event_id"), col("hash"))
        .orderBy("event_id")
    })

  // ---- training-data pipeline machinery: deterministic splits, sequence
  // packing, and dedup-cluster canonicalization — the steps between "score
  // the corpus" and "emit training batches".

  private val q53 = Q("q53_hash_split",
    "deterministic stratified train/val/test split (90/5/5 by hashed doc " +
      "id — stable across runs AND engines, no RNG), counts per (split, lang)",
    Some("""
      WITH b AS (SELECT doc_id, lang,
                 CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bucket
                 FROM documents),
      s AS (SELECT lang,
            CASE WHEN bucket < 90 THEN 'train'
                 WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
            FROM b)
      SELECT split, lang, count(*) AS n_docs
      FROM s GROUP BY 1, 2 ORDER BY split, lang"""),
    (s, dir) => {
      graft.ops.Sampling.hashSplit(t(s, dir, "documents"), col("doc_id"),
        Seq("train" -> 90, "val" -> 5, "test" -> 5))
        .groupBy("split", "lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("split", "lang")
    })

  private val q54 = Q("q54_token_packing",
    "sequence packing: docs binned into 2000-token packs per source " +
      "(offset binning over one window sum — the batch-construction step " +
      "of a training pipeline)",
    Some("""
      WITH d AS (SELECT source, doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                 FROM documents),
      c AS (SELECT source, doc_id, n_tokens,
            COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
            FROM d)
      SELECT source, CAST(prev // 2000 AS BIGINT) AS pack_id,
             count(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
      FROM c GROUP BY 1, 2 ORDER BY source, pack_id"""),
    (s, dir) => {
      graft.ops.Packing.packByTokenBudget(t(s, dir, "documents"),
        "doc_id", "text", Seq("source"), budget = 2000)
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
        .orderBy("source", "pack_id")
    })

  private val q55 = Q("q55_dedup_clusters",
    "near-dup canonicalization: connected components over the SimHash pair " +
      "graph; every clustered doc labeled with the min reachable doc id " +
      "(oracle: recursive-CTE transitive closure)",
    Some("""
      WITH wds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      wh AS (SELECT doc_id, CAST('0x' || substr(sha256(w), 1, 15) AS BIGINT) AS wh FROM wds),
      votes AS (SELECT doc_id, b,
                SUM(CASE WHEN (wh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS votes
                FROM wh CROSS JOIN generate_series(0, 31) t(b) GROUP BY doc_id, b),
      sig AS (SELECT doc_id,
              CAST(SUM(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM sig a JOIN sig b ON a.doc_id < b.doc_id
                WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs),
      reach AS (
        WITH RECURSIVE r(node, lab) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, r.lab FROM edges e JOIN r ON e.dst = r.node)
        SELECT node, min(lab) AS canonical_id FROM r GROUP BY node)
      SELECT node AS doc_id, canonical_id FROM reach ORDER BY doc_id"""),
    (s, dir) => {
      val sigs = Dedup.simHash(t(s, dir, "documents"), "doc_id", "text", bits = 32)
      val pairs = Dedup.simHashPairs(sigs, "doc_id", maxHamming = 2, blockBits = 0)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b", outIdCol = "doc_id")
        .orderBy("doc_id")
    })

  private val q61 = Q("q61_shard_manifest",
    "range-sharded training-data writer manifest: deterministic integer-" +
      "width shard assignment over [min,max] doc_id (graft.ops.Output." +
      "rangeShardAssign — the auditable twin of repartitionByRange's " +
      "sampled boundaries), then per-shard row count and key range",
    Some("""
      WITH s AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
      a AS (SELECT doc_id,
            CAST(least(15, ((CAST(doc_id AS HUGEINT) - lo) * 16)
                           // (CAST(hi AS HUGEINT) - lo + 1)) AS BIGINT)
              AS shard_id
            FROM documents, s)
      SELECT shard_id, count(*) AS n_rows,
             min(doc_id) AS min_key, max(doc_id) AS max_key
      FROM a GROUP BY 1 ORDER BY shard_id"""),
    (s, dir) => {
      val assigned = graft.ops.Output.rangeShardAssign(
        t(s, dir, "documents"), "doc_id", shards = 16)
      graft.ops.Output.shardManifest(assigned, "doc_id")
    })

  private val q62 = Q("q62_corpus_e2e",
    "training-corpus curation end-to-end — the LLM-data analog of q18's " +
      "reference chain: quality filter (word count + punct ratio) → exact " +
      "sha256 dedup (min-id canonical) → MinHash-LSH near-dup removal " +
      "(drop the larger id of every candidate pair) → deterministic 90/5/5 " +
      "hash split → per-(split, lang) doc and token accounting. Every stage " +
      "is an already-gated operator (q29/q20/q21/q53/q54 semantics); this " +
      "gate proves they COMPOSE under one oracle.",
    Some("""
      WITH feat AS (
        SELECT doc_id, lang, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                 / length(text) AS punct_ratio
        FROM documents),
      kept AS (SELECT * FROM feat WHERE n_words >= 10 AND punct_ratio < 0.2),
      canon AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY sha256(text)),
      uniq AS (SELECT k.* FROM kept k JOIN canon c USING (doc_id)),
      w AS (SELECT doc_id, string_split(text, ' ') AS w FROM uniq),
      jx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS j FROM w),
      shs AS (SELECT DISTINCT doc_id, w[j] || ' ' || w[j+1] || ' ' || w[j+2] AS sh FROM jx),
      sh AS (SELECT doc_id,
             CAST('0x' || substr(sha256(sh), 1, 15) AS BIGINT) AS p0,
             CAST('0x' || substr(sha256(sh), 16, 15) AS BIGINT) AS p1,
             CAST('0x' || substr(sha256(sh), 31, 15) AS BIGINT) AS p2,
             CAST('0x' || substr(sha256(sh), 46, 15) AS BIGINT) AS p3
             FROM shs),
      mh AS (SELECT doc_id, h,
             min(xor(
               CASE WHEN h % 4 = 0 THEN p0 WHEN h % 4 = 1 THEN p1
                    WHEN h % 4 = 2 THEN p2 ELSE p3 END,
               (CASE WHEN (h + 1) % 4 = 0 THEN p0 WHEN (h + 1) % 4 = 1 THEN p1
                     WHEN (h + 1) % 4 = 2 THEN p2 ELSE p3 END)
                 >> ((h * 7) % 29))) AS minh
             FROM sh CROSS JOIN generate_series(0, 15) t(h) GROUP BY doc_id, h),
      bands AS (SELECT doc_id, h // 2 AS band,
                string_agg(CAST(minh AS VARCHAR), ',' ORDER BY h) AS band_sig
                FROM mh GROUP BY doc_id, h // 2),
      dropd AS (SELECT DISTINCT b.doc_id
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.band_sig = b.band_sig
                 AND a.doc_id < b.doc_id),
      surv AS (SELECT u.* FROM uniq u LEFT JOIN dropd d ON u.doc_id = d.doc_id
               WHERE d.doc_id IS NULL),
      sp AS (SELECT *, CASE WHEN bucket < 90 THEN 'train'
                            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
             FROM (SELECT *,
                   CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                     % 100 AS bucket
                   FROM surv))
      SELECT split, lang, count(*) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS sum_tokens,
             min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM sp GROUP BY 1, 2 ORDER BY split, lang"""),
    (s, dir) => {
      val docs = t(s, dir, "documents")
      // stage 1 — quality filter (q29's features; integer + ratio gates).
      // passthrough keeps lang/text in the SAME scan — no second corpus
      // read + join just to recover them.
      val kept = TextAnalysis.quality(docs, passthrough = Seq("lang", "text"))
        .filter(col("n_words") >= 10 && col("punct_ratio") < 0.2)
        .select(col("doc_id"), col("lang"), col("text"),
          col("n_words"), col("punct_ratio"))
      // stage 2 — exact dedup, min-id canonical survivors (q20)
      val canon = Dedup.exact(kept, "doc_id", "text")
        .select(col("canonical_id").as("doc_id"))
      val uniq = kept.join(canon, "doc_id")
      // stage 3 — near-dup removal: drop the larger id of every
      // MinHash-LSH candidate pair (q21's banding)
      val sigs = Dedup.minHashSignatures(uniq, "doc_id", "text", numHashes = 16)
      val dropped = Dedup.minHashLshCandidates(sigs, "doc_id", rowsPerBand = 2)
        .select(col("doc_b").as("doc_id")).distinct()
      val survivors = uniq.join(dropped, Seq("doc_id"), "left_anti")
      // stage 4 — deterministic split (q53) + accounting
      graft.ops.Sampling.hashSplit(survivors, col("doc_id"),
        Seq("train" -> 90, "val" -> 5, "test" -> 5))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("sum_tokens"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("split", "lang")
    })

  private val q63 = Q("q63_decontamination",
    "benchmark decontamination: corpus docs sharing word-3-gram shingles " +
      "with the held-out eval slice (doc_id % 97 = 0). Eval shingles " +
      "broadcast (benchmarks are tiny vs a 100 TB corpus); corpus shingles " +
      "dedup row-locally and never shuffle — the one exchange is the " +
      "hit-only groupBy(doc)",
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      jx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS j FROM w),
      sh AS (SELECT DISTINCT doc_id,
             CAST('0x' || substr(sha256(w[j] || ' ' || w[j+1] || ' ' || w[j+2]), 1, 15) AS BIGINT) AS sh
             FROM jx),
      ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
      corp AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
      sizes AS (SELECT doc_id, count(*) AS n_shingles FROM corp GROUP BY 1),
      hits AS (SELECT c.doc_id, count(*) AS n_contaminated
               FROM corp c JOIN ev USING (sh) GROUP BY 1)
      SELECT h.doc_id, s.n_shingles, h.n_contaminated,
             CAST(h.n_contaminated AS DOUBLE) / s.n_shingles AS contam_ratio
      FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
      ORDER BY h.doc_id"""),
    (s, dir) => Decontamination.contamination(
      t(s, dir, "documents"), "doc_id", "text",
      evalPred = col("doc_id") % 97 === 0).orderBy("doc_id"))

  private val q64 = Q("q64_text_repetition",
    "within-doc repetition metrics (Gopher/C4 boilerplate filters): " +
      "duplicate-word fraction, duplicate-2-gram fraction, most-repeated-" +
      "2-gram count; single scan, row-local word stats, two-level hash " +
      "aggregate on hashed grams; <2-word docs keep NULL gram columns",
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
               CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_words, w
               FROM w),
      jx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-1)) AS j FROM base),
      g AS (SELECT doc_id, w[j] || ' ' || w[j+1] AS g FROM jx),
      gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
      ga AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
             CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dup_grams,
             MAX(c) AS max_gram_count FROM gc GROUP BY 1)
      SELECT b.doc_id, n_words, n_distinct_words,
             1.0 - CAST(n_distinct_words AS DOUBLE) / n_words AS dup_word_ratio,
             n_grams, n_dup_grams, max_gram_count,
             CAST(n_dup_grams AS DOUBLE) / n_grams AS dup_gram_ratio
      FROM base b LEFT JOIN ga USING (doc_id)
      ORDER BY doc_id"""),
    (s, dir) => TextAnalysis.repetition(t(s, dir, "documents"))
      .orderBy("doc_id"))

  private val q65 = Q("q65_sessionization",
    "batch sessionization of the events stream: per-user sessions split at " +
      ">30 min inactivity gaps (lag-gap flag + running sum), summarized per " +
      "session; ONE exchange — the summary groupBy reuses the windows' " +
      "user_id hashpartitioning. Batch twin of the streaming session " +
      "windows (IncrementalIngest.sessionCounts)",
    Some("""
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS tms
                 FROM events),
      l AS (SELECT user_id, event_id, tms,
            CASE WHEN tms - LAG(tms) OVER
                   (PARTITION BY user_id
                    ORDER BY tms NULLS LAST, event_id NULLS LAST) <= 1800000
                 THEN 0 ELSE 1 END AS new_s
            FROM e),
      s AS (SELECT user_id, tms,
            CAST(SUM(new_s) OVER (PARTITION BY user_id
                 ORDER BY tms NULLS LAST, event_id NULLS LAST
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
            FROM l)
      SELECT user_id, session_idx, count(*) AS n_events,
             min(tms) AS start_ms, max(tms) AS end_ms,
             max(tms) - min(tms) AS duration_ms
      FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx"""),
    (s, dir) => Sessionize.sessionize(t(s, dir, "events"),
      "user_id", "ts", "event_id", gapMs = 30L * 60 * 1000)
      .orderBy("user_id", "session_idx"))

  private val q66 = Q("q66_table_profile",
    "table profiling: per-column row/non-null/null/distinct counts and " +
      "stringified min/max over documents(doc_id, lang, source, n_chars) — " +
      "one scan, one global aggregate (exact-distinct Expand; " +
      "approx_count_distinct variant for full-width scale), stack-unpivoted",
    Some("""
      WITH p AS (
        SELECT 'doc_id' AS col_name, count(*) AS n_rows,
               count(doc_id) AS n_nonnull, count(*) - count(doc_id) AS n_null,
               count(DISTINCT doc_id) AS n_distinct,
               CAST(min(doc_id) AS VARCHAR) AS min_v,
               CAST(max(doc_id) AS VARCHAR) AS max_v FROM documents
        UNION ALL
        SELECT 'lang', count(*), count(lang), count(*) - count(lang),
               count(DISTINCT lang), CAST(min(lang) AS VARCHAR),
               CAST(max(lang) AS VARCHAR) FROM documents
        UNION ALL
        SELECT 'source', count(*), count(source), count(*) - count(source),
               count(DISTINCT source), CAST(min(source) AS VARCHAR),
               CAST(max(source) AS VARCHAR) FROM documents
        UNION ALL
        SELECT 'n_chars', count(*), count(n_chars), count(*) - count(n_chars),
               count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
               CAST(max(n_chars) AS VARCHAR) FROM documents)
      SELECT * FROM p ORDER BY col_name"""),
    (s, dir) => Profile.profile(t(s, dir, "documents"),
      Seq("doc_id", "lang", "source", "n_chars")).orderBy("col_name"))

  private val q67 = Q("q67_vocabulary",
    "corpus vocabulary: per-token term frequency + document frequency, " +
      "top-100 by tf (lexicographic tiebreak). One scan: each row explodes " +
      "words ++ distinct-words with tf/df flags (row-local df dedup, no " +
      "count-distinct Expand), one map-side-combined aggregate, " +
      "distributed top-k",
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      tf AS (SELECT unnest(w) AS tok FROM w),
      tfc AS (SELECT tok, count(*) AS tf FROM tf GROUP BY 1),
      df AS (SELECT doc_id, unnest(list_distinct(w)) AS tok FROM w),
      dfc AS (SELECT tok, count(*) AS df FROM df GROUP BY 1)
      SELECT tok, tf, df FROM tfc JOIN dfc USING (tok)
      ORDER BY tf DESC, tok LIMIT 100"""),
    (s, dir) => TextAnalysis.vocabulary(t(s, dir, "documents"), topK = 100))

  private val q68 = Q("q68_tfidf_top_terms",
    "per-doc top-3 terms by rational TF-IDF (tf * n_docs / df — ln-free, " +
      "rank-identical, IEEE-deterministic): one explode feeds both " +
      "frequencies, corpus size broadcast, df joined back (planner picks " +
      "broadcast vs shuffle — vocab cardinality is data-dependent), " +
      "per-doc ranking window",
    Some("""
      WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents),
      t AS (SELECT doc_id, tok, count(*) AS tf FROM w GROUP BY 1, 2),
      d AS (SELECT tok, count(*) AS df FROM t GROUP BY 1),
      n AS (SELECT count(*) AS n_docs FROM documents),
      s AS (SELECT t.doc_id, t.tok, t.tf, d.df,
            CAST(t.tf AS DOUBLE) * n.n_docs / d.df AS score
            FROM t JOIN d USING (tok) CROSS JOIN n),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY score DESC, tok NULLS LAST) AS rank FROM s)
      SELECT doc_id, tok, tf, df, score, rank FROM r
      WHERE rank <= 3 ORDER BY doc_id, rank"""),
    (s, dir) => TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), k = 3)
      .orderBy("doc_id", "rank"))

  private val q69 = Q("q69_dedup_clusters_blocked",
    "cluster canonicalization SCALE PATH: connected components over the " +
      "BLOCKED SimHash pair graph (q51's 4-bit-bucketed candidates instead " +
      "of q55's exact pigeonhole graph) — bounds the input edge count, " +
      "which SCALING.md shows is q55's 10x cost driver; same min-label + " +
      "pointer-jumping operator",
    Some("""
      WITH wds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      wh AS (SELECT doc_id, CAST('0x' || substr(sha256(w), 1, 15) AS BIGINT) AS wh FROM wds),
      votes AS (SELECT doc_id, b,
                SUM(CASE WHEN (wh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS votes
                FROM wh CROSS JOIN generate_series(0, 31) t(b) GROUP BY doc_id, b),
      sig AS (SELECT doc_id,
              CAST(SUM(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM sig a JOIN sig b
                  ON (a.simhash >> 28) = (b.simhash >> 28) AND a.doc_id < b.doc_id
                WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs),
      reach AS (
        WITH RECURSIVE r(node, lab) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, r.lab FROM edges e JOIN r ON e.dst = r.node)
        SELECT node, min(lab) AS canonical_id FROM r GROUP BY node)
      SELECT node AS doc_id, canonical_id FROM reach ORDER BY doc_id"""),
    (s, dir) => {
      val sigs = Dedup.simHash(t(s, dir, "documents"), "doc_id", "text", bits = 32)
      val pairs = Dedup.simHashPairs(sigs, "doc_id", maxHamming = 2, blockBits = 4)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b", outIdCol = "doc_id")
        .orderBy("doc_id")
    })

  private val q71 = Q("q71_token_freq_score",
    "unigram-LM quality scoring (perplexity-filter core): per-doc mean/min " +
      "corpus frequency of its tokens — exact BIGINT aggregation, ONE " +
      "trailing double division (the ln-sum form can never hash-match " +
      "across engines; this rank-equivalent core can)",
    Some("""
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                    FROM documents),
      freq AS (SELECT word, count(*) AS c FROM toks GROUP BY word)
      SELECT t.doc_id,
             count(*) AS n_tokens,
             CAST(min(f.c) AS BIGINT) AS min_tok_freq,
             CAST(sum(f.c) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_tok_freq
      FROM toks t JOIN freq f ON t.word = f.word
      GROUP BY t.doc_id ORDER BY doc_id"""),
    (s, dir) => TextAnalysis.tokenFrequencyScore(t(s, dir, "documents"))
      .orderBy("doc_id"))

  private val q72 = Q("q72_domain_cap",
    "domain balancing: at most 20 docs per source, survivors chosen by " +
      "deterministic hash order (a stable uniform sample per group — scan " +
      "order would bias toward old data)",
    Some("""
      WITH r AS (SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source ORDER BY
                   CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
                   doc_id) AS rn
                 FROM documents)
      SELECT doc_id, source FROM r WHERE rn <= 20 ORDER BY doc_id"""),
    (s, dir) => Sampling.capPerGroup(
      t(s, dir, "documents").select("doc_id", "source"),
      col("source"), col("doc_id"), cap = 20)
      .orderBy("doc_id"))

  private val q73 = Q("q73_language_mixture",
    "training-mix downsampling: per-language keep percentages " +
      "(en 100 / de 50 / fr 50 / es 25 / default 10) applied row-locally " +
      "from the shared deterministic hash — no shuffle, no RNG, " +
      "reproducible across engines",
    Some("""
      SELECT doc_id, lang FROM documents
      WHERE CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 <
        CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 50 WHEN 'fr' THEN 50
                  WHEN 'es' THEN 25 ELSE 10 END
      ORDER BY doc_id"""),
    (s, dir) => Sampling.weightedMixture(
      t(s, dir, "documents").select("doc_id", "lang"),
      col("doc_id"), col("lang"),
      Seq("en" -> 100, "de" -> 50, "fr" -> 50, "es" -> 25), defaultPct = 10)
      .orderBy("doc_id"))

  private val q74 = Q("q74_percentile_filter",
    "corpus-relative quality cut: drop docs below the exact p10 of " +
      "n_chars — the percentile is computed once (sort-based order " +
      "statistic, engine-portable) and broadcast as a one-row threshold " +
      "relation; no driver collect, no correlated subquery",
    Some("""
      WITH t AS (SELECT quantile_cont(n_chars, 0.1) AS thr FROM documents)
      SELECT d.doc_id, d.n_chars
      FROM documents d, t WHERE d.n_chars >= t.thr
      ORDER BY d.doc_id"""),
    (s, dir) => TextAnalysis.filterByPercentile(
      t(s, dir, "documents").select("doc_id", "n_chars"), "n_chars", 0.1)
      .orderBy("doc_id"))

  private val q77 = Q("q77_epoch_weighted_repeat",
    "training-mix UPSAMPLING: epoch-weighted repetition (en 1.0x / de " +
      "2.5x / fr 1.5x / default 0.5x) — integer copies plus a hash-" +
      "deterministic fractional copy, emitted with a 1-based copy ordinal; " +
      "row-local, no shuffle, no RNG",
    Some("""
      WITH d AS (SELECT doc_id, lang,
                   CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 250
                             WHEN 'fr' THEN 150 ELSE 50 END AS pct,
                   CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS b
                 FROM documents),
      c AS (SELECT doc_id, lang,
              pct // 100 + CASE WHEN b < pct % 100 THEN 1 ELSE 0 END AS n
            FROM d)
      SELECT doc_id, lang,
             CAST(unnest(generate_series(1, n)) AS BIGINT) AS copy
      FROM c ORDER BY doc_id, copy"""),
    (s, dir) => Sampling.repeatWeighted(
      t(s, dir, "documents").select("doc_id", "lang"),
      col("doc_id"), col("lang"),
      Seq("en" -> 100, "de" -> 250, "fr" -> 150), defaultFactorPct = 50)
      .select(col("doc_id"), col("lang"), col("copy").cast("long").as("copy"))
      .orderBy("doc_id", "copy"))

  private val q78 = Q("q78_negative_samples",
    "contrastive negative sampling: 3 hash-deterministic partners per doc " +
      "over the dense id space via a [1, n-1] stride (self-pairs " +
      "impossible by construction), partner payload joined — reproducible " +
      "across runs AND engines, no RNG",
    Some("""
      WITH nn AS (SELECT count(*) AS n FROM documents),
      s AS (SELECT d.doc_id, t.i AS neg_rank,
              CAST('0x' || substr(sha256(CAST(d.doc_id AS VARCHAR) || '#' ||
                CAST(t.i AS VARCHAR)), 1, 15) AS BIGINT) % (nn.n - 1) AS st,
              nn.n AS n
            FROM documents d CROSS JOIN nn, generate_series(0, 2) t(i)),
      p AS (SELECT doc_id, neg_rank,
              (doc_id + 1 + st) % n AS neg_id
            FROM s)
      SELECT p.doc_id, CAST(p.neg_rank AS BIGINT) AS neg_rank, p.neg_id,
             d2.lang AS neg_lang
      FROM p JOIN documents d2 ON d2.doc_id = p.neg_id
      ORDER BY p.doc_id, neg_rank"""),
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val negs = Sampling.negativeSamples(docs, "doc_id", k = 3)
      negs.join(docs.select(col("doc_id").as("neg_id"),
          col("lang").as("neg_lang")), Seq("neg_id"))
        .select(col("doc_id"), col("neg_rank").cast("long").as("neg_rank"),
          col("neg_id"), col("neg_lang"))
        .orderBy("doc_id", "neg_rank")
    })

  private val q79 = Q("q79_scd2_history",
    "SCD2 effective-dated history from an update log: consecutive equal " +
      "values collapse, each change opens a version with [valid_from, " +
      "valid_to) and is_current — the audit-history twin of the ledger's " +
      "no-override merge; ONE shuffle (both windows share the key " +
      "partitioning)",
    Some("""
      WITH h AS (SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
                   LAG(o_orderpriority) OVER
                     (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev,
                   ROW_NUMBER() OVER
                     (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
                 FROM orders),
      c AS (SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority FROM h
            WHERE rn = 1 OR prev IS DISTINCT FROM o_orderpriority),
      v AS (SELECT o_custkey, o_orderpriority, o_orderdate AS vf,
              LEAD(o_orderdate) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS vt
            FROM c)
      SELECT o_custkey, o_orderpriority,
             strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
             strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
             vt IS NULL AS is_current
      FROM v ORDER BY o_custkey, valid_from, o_orderpriority"""),
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority")
      graft.ops.Scd.scd2(o, keyCols = Seq("o_custkey"),
        orderCols = Seq("o_orderdate", "o_orderkey"),
        trackedCols = Seq("o_orderpriority"))
        .select(col("o_custkey"), col("o_orderpriority"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("is_current"))
        // o_orderpriority tiebreak: two versions for one custkey can OPEN
        // on the same o_orderdate (two priority changes on one date,
        // tiebroken into versions by o_orderkey) — without it the gate's
        // relative row order at equal (custkey, valid_from) is
        // engine-dependent, a latent hash flake at other scale factors
        .orderBy("o_custkey", "valid_from", "o_orderpriority")
    })

  private val q80 = Q("q80_rate_anomaly",
    "ingest-feed observability: per-(type, day) event counts z-scored " +
      "against the type's own trailing 7-day RANGE window (current day " +
      "excluded, >=3 baseline days; flat-baseline deviations flagged " +
      "without a fake z) — moments are exact integer sums, so even the " +
      "double z-scores hash-match across engines",
    Some("""
      WITH c AS (SELECT event_type,
                   epoch_ns(ts) // 1000000 // 86400000 AS day,
                   count(*) AS n_events
                 FROM events GROUP BY 1, 2),
      w AS (SELECT event_type, day, n_events,
              COUNT(*) OVER win AS trailing_days,
              CAST(SUM(n_events) OVER win AS DOUBLE) AS sx,
              CAST(SUM(n_events * n_events) OVER win AS DOUBLE) AS sxx
            FROM c
            WINDOW win AS (PARTITION BY event_type ORDER BY day
                           RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      v AS (SELECT event_type, day, n_events, trailing_days, sx,
              CAST(n_events AS DOUBLE) AS cd,
              CAST(trailing_days AS DOUBLE) AS nd,
              (sxx - sx * sx / CAST(trailing_days AS DOUBLE))
                / (CAST(trailing_days AS DOUBLE) - 1.0) AS var
            FROM w),
      z AS (SELECT event_type, day, n_events, trailing_days,
              CASE WHEN trailing_days >= 3 AND var > 0
                   THEN (cd - sx / nd) / sqrt(var) END AS z_score,
              (trailing_days >= 3 AND var = 0 AND cd <> sx / nd) AS flat_dev
            FROM v)
      SELECT event_type, day, n_events, trailing_days, z_score,
             COALESCE(COALESCE(abs(z_score) > 3.0, FALSE) OR flat_dev,
                      FALSE) AS is_anomaly
      FROM z ORDER BY event_type, day"""),
    (s, dir) => {
      val counts = graft.ops.Anomaly.dailyCounts(
        t(s, dir, "events").select("event_type", "ts"),
        Seq("event_type"), unix_millis(col("ts")))
      graft.ops.Anomaly.rateAnomalies(counts, Seq("event_type"), "day",
        window = 7, minPeriods = 3, threshold = 3.0)
        .orderBy("event_type", "day")
    })

  private val q81 = Q("q81_centroid_outliers",
    "SemDeDup-style semantic screen: top-5 farthest-from-centroid vectors " +
      "per label — scaled-integer components, floored integer centroid, " +
      "exact BIGINT squared distances (no float accumulation anywhere)",
    Some("""
      WITH el AS (SELECT label, vec_id, unnest(embedding) AS v,
                  unnest(generate_series(1, len(embedding))) AS i
                  FROM embeddings),
      sc AS (SELECT label, vec_id, i,
               CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT) AS s FROM el),
      cent AS (SELECT label, i, CAST(SUM(s) AS BIGINT) AS csum,
                 count(*) AS n FROM sc GROUP BY 1, 2),
      cc AS (SELECT label, i,
               CAST(floor(CAST(csum AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS c
             FROM cent),
      d AS (SELECT sc.label, sc.vec_id,
              CAST(SUM((s - c) * (s - c)) AS BIGINT) AS dist2,
              count(*) AS n_dims
            FROM sc JOIN cc ON sc.label = cc.label AND sc.i = cc.i
            GROUP BY 1, 2),
      f AS (SELECT *, MAX(n_dims) OVER (PARTITION BY label) AS mx FROM d),
      rk AS (SELECT label, vec_id, dist2, n_dims,
               ROW_NUMBER() OVER (PARTITION BY label
                 ORDER BY (n_dims <> mx) DESC, dist2 DESC, vec_id) AS rank
             FROM f)
      SELECT CAST(label AS BIGINT) AS label, vec_id, dist2, n_dims, rank FROM rk WHERE rank <= 5
      ORDER BY label, rank"""),
    (s, dir) => Similarity.centroidOutliers(t(s, dir, "embeddings"),
      "label", "vec_id", "embedding", k = 5)
      .orderBy("label", "rank"))

  private val q82 = Q("q82_ann_corpus_vs_corpus",
    "lshTopK with broadcastQueries=false: the query side IS the corpus " +
      "(exceeds any broadcast cap at scale), so the candidate join routes " +
      "through the sig equi-key as a shuffled join — result must equal " +
      "the broadcast plan's (6-plane buckets, top-2 incl. self)",
    Some("""
      WITH el AS (SELECT vec_id, unnest(embedding) AS v,
                  unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
      planes AS (SELECT vec_id, b,
                 SUM(CAST(floor((CAST('0x' || substr(sha256(CAST(b AS VARCHAR) || ',' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT)
                           % 2001 - 1000) * CAST(v AS DOUBLE) * 1e9) AS BIGINT)) AS pdot
                 FROM el CROSS JOIN generate_series(0, 5) t(b) GROUP BY vec_id, b),
      sig AS (SELECT vec_id,
              SUM(CASE WHEN pdot >= 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS sig
              FROM planes GROUP BY vec_id),
      nrm AS (SELECT vec_id,
              CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS n2s
              FROM el GROUP BY 1),
      cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
               FROM sig q JOIN sig c ON q.sig = c.sig),
      dots AS (SELECT cand.query_id, cand.neighbor_id,
               CAST(SUM(CAST(floor(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dot_s
               FROM cand JOIN el a ON a.vec_id = cand.query_id
                         JOIN el b ON b.vec_id = cand.neighbor_id AND a.i = b.i
               GROUP BY 1, 2),
      cosv AS (SELECT query_id, neighbor_id,
               CAST(d.dot_s AS DOUBLE) / (sqrt(CAST(nq.n2s AS DOUBLE)) * sqrt(CAST(nc.n2s AS DOUBLE))) AS cosine
               FROM dots d JOIN nrm nq ON d.query_id = nq.vec_id
                           JOIN nrm nc ON d.neighbor_id = nc.vec_id),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rank FROM cosv)
      SELECT query_id, neighbor_id, rank, cosine FROM rk WHERE rank <= 2
      ORDER BY query_id, rank"""),
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb, "vec_id", "embedding",
        k = 2, numPlanes = 6, broadcastQueries = false)
        .orderBy("query_id", "rank")
    })

  private val q83 = Q("q83_video_container_metadata",
    "MP4/AVI container-header metadata without decoding a frame: payloads " +
      "are synthesized per doc_id (no media files ship offline), parsed " +
      "back by the ISO-BMFF/RIFF walkers, and the oracle predicts every " +
      "extracted field arithmetically — a wrong box offset or endianness " +
      "mismatch breaks the round-trip",
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'avi' END AS container,
             CASE WHEN doc_id % 2 = 0 THEN 1000 + (doc_id * 7) % 100000
                  ELSE (33333 * (100 + doc_id % 1000)) // 1000
             END AS duration_ms,
             CAST(doc_id % 640 + 1 AS BIGINT) AS width,
             CAST(doc_id % 480 + 1 AS BIGINT) AS height,
             CASE WHEN doc_id % 2 = 0
                  THEN ['avc1','hev1','av01'][CAST(doc_id % 3 AS INT) + 1]
                  ELSE ['XVID','MJPG','H264'][CAST(doc_id % 3 AS INT) + 1]
             END AS codec
      FROM documents ORDER BY doc_id"""),
    (s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents").select("doc_id").as[Long]
        .mapPartitions(_.map { id =>
          val w = (id % 640 + 1).toInt
          val h = (id % 480 + 1).toInt
          if (id % 2 == 0)
            (id, Multimodal.buildMp4(timescale = 1000,
              durationUnits = 1000 + (id * 7) % 100000, w, h,
              Seq("avc1", "hev1", "av01")((id % 3).toInt)))
          else
            (id, Multimodal.buildAvi(usPerFrame = 33333,
              totalFrames = 100 + id % 1000, w, h,
              Seq("XVID", "MJPG", "H264")((id % 3).toInt)))
        }).toDF("doc_id", "payload")
      Multimodal.videoMetadata(s, payloads).toDF().orderBy("doc_id")
    })

  private val q122 = Q("q122_video_frame_decode",
    "REAL MJPEG video-frame decode: payloads are AVIs whose movi chunks " +
      "are genuine JDK-encoded JPEGs (the one video codec family a stock " +
      "JVM decodes); decodeMjpegFrames walks the RIFF container and " +
      "ImageIO-decodes EVERY frame, and the gate checks per-doc frame " +
      "count and decoded-raster geometry (not the container's claim) " +
      "against the builder's arithmetic — a skipped chunk, failed decode, " +
      "or wrong raster breaks the round-trip",
    Some("""
      SELECT doc_id, doc_id % 5 + 1 AS n_frames,
             CAST(doc_id % 64 + 16 AS BIGINT) AS width,
             CAST(doc_id % 48 + 16 AS BIGINT) AS height
      FROM documents ORDER BY doc_id"""),
    (s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents").select("doc_id").repartition(Partitions.base(s)).as[Long]
        .mapPartitions(_.map { id =>
          val w = (id % 64 + 16).toInt
          val h = (id % 48 + 16).toInt
          val grays = (0 until (id % 5 + 1).toInt)
            .map(k => ((id * 37 + k * 11) % 256).toInt)
          (id, Multimodal.buildMjpegAvi(usPerFrame = 33333, w, h, grays))
        }).toDF("doc_id", "payload")
      Multimodal.decodeMjpegFrames(s, payloads)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_frames"),
             max("width").as("width"), max("height").as("height"))
        .orderBy("doc_id")
    })

  private val q123 = Q("q123_image_resize",
    "REAL image resize round-trip: per-doc solid-color PNGs decode " +
      "(ImageIO), bilinear-resample (Graphics2D) to per-row half targets, " +
      "re-encode as PNG, and the gate DECODES THE OUTPUT — geometry from " +
      "the resampled raster and the probe pixel's exact packed RGB " +
      "(lossless PNG + solid color ⇒ bit-exact round trip the oracle " +
      "predicts arithmetically)",
    Some("""
      SELECT doc_id,
             CAST(doc_id % 40 + 8 AS BIGINT) AS width_in,
             CAST(doc_id % 30 + 8 AS BIGINT) AS height_in,
             CAST((doc_id % 40 + 8) // 2 AS BIGINT) AS width_out,
             CAST((doc_id % 30 + 8) // 2 AS BIGINT) AS height_out,
             (doc_id % 256) * 65536 + ((doc_id * 7) % 256) * 256
               + (doc_id * 13) % 256 AS rgb_out
      FROM documents ORDER BY doc_id"""),
    (s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents").select("doc_id").repartition(Partitions.base(s)).as[Long]
        .mapPartitions(_.map { id =>
          val w = (id % 40 + 8).toInt
          val h = (id % 30 + 8).toInt
          val rgb = (((id % 256) << 16) | (((id * 7) % 256) << 8) |
            ((id * 13) % 256)).toInt
          (id, Multimodal.pngBytes(w, h, rgb), w / 2, h / 2)
        }).toDF("doc_id", "payload", "target_w", "target_h")
      Multimodal.resizeImages(s, payloads)
        .flatMap(r => Multimodal.pixel0(r.payload).map(px =>
          (r.doc_id, r.width_in, r.height_in, r.width_out, r.height_out,
            px.toLong)))
        .toDF("doc_id", "width_in", "height_in", "width_out", "height_out",
          "rgb_out")
        .orderBy("doc_id")
    })

  private val q85 = Q("q85_audio_container_metadata",
    "MP3/FLAC header metadata without decoding: CBR frame-header duration " +
      "estimate for MP3, exact STREAMINFO duration for FLAC — synthesized " +
      "payloads per doc_id, fields predicted arithmetically by the oracle " +
      "(same round-trip discipline as q83)",
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'flac' ELSE 'mp3' END AS container,
             CASE WHEN doc_id % 2 = 0 THEN
               (([8000,16000,22050,24000,32000,44100,48000][CAST(doc_id % 7 AS INT) + 1]
                  * (doc_id % 30 + 1) + doc_id % 997) * 1000)
                 // [8000,16000,22050,24000,32000,44100,48000][CAST(doc_id % 7 AS INT) + 1]
             ELSE 8 * (10 + doc_id % 90) END AS duration_ms,
             CAST(CASE WHEN doc_id % 2 = 0
                  THEN [8000,16000,22050,24000,32000,44100,48000][CAST(doc_id % 7 AS INT) + 1]
                  ELSE [44100,48000,32000][CAST(doc_id % 3 AS INT) + 1]
             END AS BIGINT) AS sample_rate,
             CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 2 + 1
                  WHEN doc_id % 4 = 1 THEN 1 ELSE 2 END AS BIGINT) AS channels,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 0
                  ELSE [32,40,48,56,64,80,96,112,128,160,192,224,256,320][CAST(doc_id % 14 AS INT) + 1]
             END AS BIGINT) AS bitrate_kbps
      FROM documents ORDER BY doc_id"""),
    (s, dir) => {
      import s.implicits._
      val rates = Array(8000, 16000, 22050, 24000, 32000, 44100, 48000)
      val kbps = Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
      val payloads = t(s, dir, "documents").select("doc_id").as[Long]
        .mapPartitions(_.map { id =>
          if (id % 2 == 0) {
            val sr = rates((id % 7).toInt)
            (id, Multimodal.buildFlac(sr, channels = (id % 2 + 1).toInt,
              totalSamples = sr.toLong * (id % 30 + 1) + id % 997))
          } else {
            val bi = (id % 14).toInt + 1
            (id, Multimodal.buildMp3(bitrateIdx = bi, rateIdx = (id % 3).toInt,
              mono = id % 4 == 1,
              totalBytes = kbps(bi - 1) * (10 + (id % 90)).toInt))
          }
        }).toDF("doc_id", "payload")
      Multimodal.audioMetadata(s, payloads).toDF().orderBy("doc_id")
    })

  private val q86 = Q("q86_pii_redaction",
    "PII scrub before training: emails, IPv4 literals, and 7+-digit runs " +
      "replaced with typed placeholders, per-category counts for redaction-" +
      "rate metrics; row-local. PII is synthesized deterministically into " +
      "the corpus (none exists in the testdata) with identical expressions " +
      "on both sides; patterns are engine-portable (no lookaround).",
    Some("""
      WITH p AS (SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@mail' || CAST(doc_id % 7 AS VARCHAR)
                        || '.example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.' || CAST(doc_id % 100 AS VARCHAR)
                        || ' ref ' || CAST(1000000 + doc_id * 13 AS VARCHAR) AS text
                 FROM documents),
      s1 AS (SELECT doc_id, text,
               len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_email,
               regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g') AS t1
             FROM p),
      s2 AS (SELECT doc_id, n_email,
               len(regexp_extract_all(t1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ipv4,
               regexp_replace(t1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IPV4>', 'g') AS t2
             FROM s1),
      s3 AS (SELECT doc_id, n_email, n_ipv4,
               len(regexp_extract_all(t2, '[0-9]{7,}')) AS n_id_number,
               regexp_replace(t2, '[0-9]{7,}', '<ID_NUMBER>', 'g') AS text_redacted
             FROM s2)
      SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
             CAST(n_ipv4 AS BIGINT) AS n_ipv4,
             CAST(n_id_number AS BIGINT) AS n_id_number, text_redacted
      FROM s3 ORDER BY doc_id"""),
    (s, dir) => {
      val withPii = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".example.com from 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
          pmod(col("doc_id"), lit(100)).cast("string"),
          lit(" ref "), (col("doc_id") * 13 + 1000000).cast("string"))
          .as("text"))
      TextAnalysis.redactPii(withPii)
        .select("doc_id", "n_email", "n_ipv4", "n_id_number", "text_redacted")
        .orderBy("doc_id")
    })

  private val q87 = Q("q87_span_dedup",
    "RefinedWeb-style span-level corpus dedup: documents split into 5-word " +
      "spans (synthesized line structure — the corpus is flat text), every " +
      "span occurrence except the corpus-wide first (min (doc, pos)) " +
      "removed, survivors reassembled in order. One uniform-hash shuffle + " +
      "one doc-key aggregate.",
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      ln AS (SELECT doc_id,
               list_transform(generate_series(0, CAST(ceil(len(ws) / 5.0) AS INT) - 1),
                 i -> array_to_string(ws[(i*5+1):(i*5+5)], ' ')) AS lines
             FROM w),
      sp AS (SELECT doc_id, unnest(lines) AS span,
                    unnest(generate_series(1, len(lines))) - 1 AS pos
             FROM ln),
      fr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY span
                        ORDER BY doc_id, pos) AS rn FROM sp),
      agg AS (SELECT doc_id, count(*) AS n_spans,
                SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept,
                string_agg(CASE WHEN rn = 1 THEN span END, chr(10) ORDER BY pos) AS text_deduped
              FROM fr GROUP BY doc_id)
      SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
             CAST(n_kept AS BIGINT) AS n_kept,
             coalesce(text_deduped, '') AS text_deduped
      FROM agg ORDER BY doc_id"""),
    (s, dir) => {
      val lined = fiveWordLined(s, dir)
      Dedup.dedupSpans(lined, "doc_id", "text")
        .orderBy("doc_id")
    })

  private val q91 = Q("q91_kmeans_fit",
    "deterministic Lloyd k-means (k=10, 2 rounds) over the embeddings — " +
      "the IVF codebook trainer: hash-seeded init (no RNG), exact BIGINT " +
      "squared distances over scaled components, floored integer centroid " +
      "updates; centroids broadcast each round, corpus never shuffles",
    Some("""
      WITH el AS (SELECT vec_id, unnest(embedding) AS v,
                  unnest(generate_series(1, len(embedding))) AS i
                  FROM embeddings
                  WHERE len(embedding) = (SELECT max(len(embedding)) FROM embeddings)),
      sc AS (SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT) AS s FROM el),
      seed AS (SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY CAST('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT), vec_id) - 1 AS cluster
               FROM (SELECT DISTINCT vec_id FROM sc)),
      c0 AS (SELECT cluster, i, s AS c FROM seed JOIN sc USING (vec_id) WHERE cluster < 10),
      a1 AS (SELECT sc.vec_id, c0.cluster, CAST(SUM((s - c) * (s - c)) AS BIGINT) AS d2
             FROM sc JOIN c0 USING (i) GROUP BY 1, 2),
      w1 AS (SELECT vec_id, cluster FROM
             (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS r FROM a1)
             WHERE r = 1),
      c1 AS (SELECT w1.cluster, sc.i,
             CAST(floor(CAST(CAST(SUM(sc.s) AS BIGINT) AS DOUBLE) / count(*)) AS BIGINT) AS c
             FROM w1 JOIN sc USING (vec_id) GROUP BY 1, 2),
      a2 AS (SELECT sc.vec_id, c1.cluster, CAST(SUM((s - c) * (s - c)) AS BIGINT) AS dist2
             FROM sc JOIN c1 USING (i) GROUP BY 1, 2)
      SELECT vec_id, cluster, dist2 FROM
      (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS r FROM a2)
      WHERE r = 1 ORDER BY vec_id"""),
    (s, dir) => Similarity.kmeansFit(t(s, dir, "embeddings"),
      "vec_id", "embedding", k = 10, iters = 2)
      .orderBy("vec_id"))

  /** q92's registered cap. 500 is certification-sized: ABOVE the
    * qualifying-pair count at every test scale (25 at sf0.01, 201 at
    * sf0.1), so the gate still hash-verifies the COMPLETE exact pair
    * relation (`truncated` = false pins that completeness in-band), yet
    * the materialization is bounded at 100 TB where the uncapped
    * relation grows with corpus pair density (~45x on the 10x densified
    * replica — the argument that retired q190's full mode in r12). The
    * uncapped mode stays available as `maxPairs = 0`; q246 (cap 10)
    * pins the truncated=true branch of the same contract. ONE constant
    * feeds description, oracle and Spark call — the Q216MaxDegree
    * pinning pattern. */
  private val Q92MaxPairs = 500

  private val q92 = Q("q92_sparse_cosine_pairs",
    "TF-IDF sparse cosine pairs via inverted index: docs pair only through " +
      "shared hashed 3-gram terms (posting-list self-join, df<=100 pruning " +
      "bounds the quadratic term); integer idf weights, BIGINT dot/norms, " +
      "one final IEEE division; registered under the family-wide loud-cap " +
      s"contract (top-$Q92MaxPairs by cosine DESC — above every test-scale " +
      "qualifying count, so the full exact relation is certified with " +
      "truncated=false, while 100 TB materialization stays bounded)",
    Some(s"""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      jx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS j FROM w),
      tf AS (SELECT doc_id,
             CAST('0x' || substr(sha256(w[j] || ' ' || w[j+1] || ' ' || w[j+2]), 1, 15) AS BIGINT) AS term,
             count(*) AS tf
             FROM jx GROUP BY 1, 2),
      dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 100),
      n AS (SELECT count(*) AS n_docs FROM documents),
      wt AS (SELECT doc_id, term, (tf * n_docs) // df AS wi FROM tf JOIN dfr USING (term) CROSS JOIN n),
      norms AS (SELECT doc_id, CAST(SUM(wi * wi) AS BIGINT) AS n2 FROM wt GROUP BY 1),
      dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.wi * b.wi) AS BIGINT) AS dot, count(*) AS n_common
               FROM wt a JOIN wt b ON a.term = b.term AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
      cosv AS (SELECT doc_a, doc_b, n_common,
               CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
               FROM dots JOIN norms na ON doc_a = na.doc_id
                         JOIN norms nb ON doc_b = nb.doc_id
               WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.5),
      ranked AS (SELECT *,
                 row_number() OVER (ORDER BY cosine DESC, doc_a, doc_b) AS rn,
                 count(*) OVER () AS n_tot
                 FROM cosv)
      SELECT doc_a, doc_b, n_common, cosine, n_tot > $Q92MaxPairs AS truncated
      FROM ranked WHERE rn <= $Q92MaxPairs ORDER BY doc_a, doc_b"""),
    (s, dir) => TextAnalysis.sparseCosinePairs(t(s, dir, "documents"),
      minCosine = 0.5, maxDf = 100, maxPairs = Q92MaxPairs)
      .orderBy("doc_a", "doc_b"))

  private val q93 = Q("q93_bpe_pair_stats",
    "BPE tokenizer-training pair statistics: adjacent character-pair " +
      "frequencies weighted by word frequency — identical words collapse " +
      "first (corpus volume -> vocabulary), char work runs on distinct " +
      "words only; top-50 merge candidates",
    Some("""
      WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      wc AS (SELECT word, count(*) AS wc FROM w WHERE length(word) >= 2 GROUP BY 1),
      p AS (SELECT substr(word, CAST(i AS INT), 2) AS pair, wc
            FROM (SELECT word, wc, unnest(generate_series(1, length(word) - 1)) AS i FROM wc))
      SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM p GROUP BY 1
      ORDER BY cnt DESC, pair LIMIT 50"""),
    (s, dir) => TextAnalysis.bpePairStats(t(s, dir, "documents"), topK = 50))

  /** q100 scales its cell count with the corpus — k = ceil(sqrt(n)) — so
    * per-cell pair work stays bounded as data grows (fixed k would grow
    * cells 10× and pair work 100× at 10× data; measured 20.7× wall before
    * this). sqrt is correctly-rounded IEEE in both engines, so the k the
    * oracle derives is bit-identical.
    */
  private val q100 = Q("q100_kmeans_blocked_neardup",
    "SemDeDup-blocked exact near-dup pairs: k-means cells (q91's learned " +
      "codebook) replace hash blocks — the quadratic scan runs only " +
      "inside each cell, candidates are geometrically targeted; exact " +
      "BIGINT distances, threshold-filtered; k = ceil(sqrt(n)) keeps " +
      "cell size (and so pair volume per cell) scale-stable",
    Some("""
      WITH el AS (SELECT vec_id, unnest(embedding) AS v,
                  unnest(generate_series(1, len(embedding))) AS i
                  FROM embeddings
                  WHERE len(embedding) = (SELECT max(len(embedding)) FROM embeddings)),
      sc AS (SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT) AS s FROM el),
      seed AS (SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY CAST('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT), vec_id) - 1 AS cluster
               FROM (SELECT DISTINCT vec_id FROM sc)),
      kk AS (SELECT CAST(ceil(sqrt(count(DISTINCT vec_id))) AS BIGINT) AS k FROM sc),
      c0 AS (SELECT cluster, i, s AS c FROM seed JOIN sc USING (vec_id)
             WHERE cluster < (SELECT k FROM kk)),
      a1 AS (SELECT sc.vec_id, c0.cluster, CAST(SUM((s - c) * (s - c)) AS BIGINT) AS d2
             FROM sc JOIN c0 USING (i) GROUP BY 1, 2),
      w1 AS (SELECT vec_id, cluster FROM
             (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS r FROM a1)
             WHERE r = 1),
      c1 AS (SELECT w1.cluster, sc.i,
             CAST(floor(CAST(CAST(SUM(sc.s) AS BIGINT) AS DOUBLE) / count(*)) AS BIGINT) AS c
             FROM w1 JOIN sc USING (vec_id) GROUP BY 1, 2),
      a2 AS (SELECT sc.vec_id, c1.cluster, CAST(SUM((s - c) * (s - c)) AS BIGINT) AS dist2
             FROM sc JOIN c1 USING (i) GROUP BY 1, 2),
      w2 AS (SELECT vec_id, cluster FROM
             (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS r FROM a2)
             WHERE r = 1),
      pr AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(SUM((sa.s - sb.s) * (sa.s - sb.s)) AS BIGINT) AS dist2
             FROM w2 a JOIN w2 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
             JOIN sc sa ON sa.vec_id = a.vec_id
             JOIN sc sb ON sb.vec_id = b.vec_id AND sa.i = sb.i
             GROUP BY 1, 2, 3)
      SELECT cluster, id_a, id_b, dist2 FROM pr WHERE dist2 <= 1200000000000
      ORDER BY cluster, id_a, id_b"""),
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      // an empty / all-null embeddings table gives a null max — degrade to
      // the operator's own empty result instead of an NPE in the prelude
      // (same isNullAt guard kmeansFit uses internally)
      val probe = e.select(max(size(col("embedding")))).head()
      if (probe.isNullAt(0))
        e.select(col("vec_id").as("id_a"), col("vec_id").as("id_b"),
          lit(0L).as("cluster"), lit(0L).as("dist2")).limit(0)
          .select(col("cluster"), col("id_a"), col("id_b"), col("dist2"))
      else {
        val d = probe.getInt(0)
        val n = e.filter(size(col("embedding")) === d)
          .select(countDistinct(col("vec_id"))).head().getLong(0)
        val k = math.ceil(math.sqrt(n.toDouble)).toInt
        Similarity.kmeansNearDupPairs(e, "vec_id", "embedding",
          k = k, iters = 2, maxDist2 = 1200000000000L)
          .orderBy("cluster", "id_a", "id_b")
      }
    })

  private val q106 = Q("q106_key_skew_census",
    "heavy-hitter census per key column (the pre-flight skew diagnostic " +
      "for saltedJoin/AQE decisions): ONE scan explodes (column, value) " +
      "pairs into one map-side-combined aggregate; exact integer ppm " +
      "shares; top-5 per column",
    Some("""
      WITH pairs AS (
        SELECT 'source' AS col_name, CAST(source AS VARCHAR) AS key_value FROM documents
        UNION ALL SELECT 'lang', CAST(lang AS VARCHAR) FROM documents),
      c AS (SELECT col_name, key_value, count(*) AS cnt FROM pairs GROUP BY 1, 2),
      tot AS (SELECT col_name, CAST(SUM(cnt) AS BIGINT) AS n_rows FROM c GROUP BY 1),
      r AS (SELECT c.col_name, key_value, cnt, (cnt * 1000000) // n_rows AS share_ppm,
            ROW_NUMBER() OVER (PARTITION BY c.col_name ORDER BY cnt DESC, key_value) AS rk
            FROM c JOIN tot USING (col_name) WHERE key_value IS NOT NULL)
      SELECT col_name, key_value, cnt, share_ppm, CAST(rk AS BIGINT) AS rank
      FROM r WHERE rk <= 5
      ORDER BY col_name, rank"""),
    (s, dir) => Profile.keySkew(t(s, dir, "documents"),
      Seq("source", "lang"), topK = 5)
      .orderBy("col_name", "rank"))

  /** ORACLE CAVEAT: the SQL form's per-round `GROUP BY e.dst` drops nodes
    * that receive no contributions that round, so a node with no IN-edge
    * would lose its teleport (base) mass, while Graph.pageRank keeps every
    * out-degree node at base mass (pinned by GraphSpec). The two agree only
    * because the gate's edge list is SYMMETRIZED (every node has an
    * in-edge). Reusing this oracle for a directed graph requires a left
    * join against `deg` in each round (r1/r2/r3) to re-admit no-in-edge
    * nodes at base mass.
    */
  private val q112 = Q("q112_pagerank",
    "iterative graph compute: 3-round integer-scaled PageRank (d=0.85) " +
      "over the symmetrized customer-supplier trade graph — each round " +
      "joins ranks back into the persisted src-partitioned edge list; " +
      "integral division makes every round bit-portable",
    Some("""
      WITH pairs AS (
        SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS a,
                        'S' || CAST(l_suppkey AS VARCHAR) AS b
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (SELECT a AS src, b AS dst FROM pairs
                UNION ALL SELECT b, a FROM pairs),
      deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
      nn AS (SELECT count(*) AS n FROM deg),
      r0 AS (SELECT src AS node, CAST(1000000000 // n AS BIGINT) AS rank FROM deg, nn),
      b AS (SELECT CAST(150000000 // n AS BIGINT) AS base FROM nn),
      r1 AS (SELECT e.dst AS node,
             CAST((SELECT base FROM b) + 85 * SUM(r0.rank // d.outdeg) // 100 AS BIGINT) AS rank
             FROM edges e JOIN r0 ON e.src = r0.node JOIN deg d ON d.src = e.src
             GROUP BY e.dst),
      r2 AS (SELECT e.dst AS node,
             CAST((SELECT base FROM b) + 85 * SUM(r1.rank // d.outdeg) // 100 AS BIGINT) AS rank
             FROM edges e JOIN r1 ON e.src = r1.node JOIN deg d ON d.src = e.src
             GROUP BY e.dst),
      r3 AS (SELECT e.dst AS node,
             CAST((SELECT base FROM b) + 85 * SUM(r2.rank // d.outdeg) // 100 AS BIGINT) AS rank
             FROM edges e JOIN r2 ON e.src = r2.node JOIN deg d ON d.src = e.src
             GROUP BY e.dst)
      SELECT node, rank FROM r3 ORDER BY rank DESC, node"""),
    (s, dir) => {
      val pairs = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("C"), col("o_custkey").cast("string")).as("a"),
          concat(lit("S"), col("l_suppkey").cast("string")).as("b"))
        .distinct()
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      Graph.pageRank(edges, "src", "dst", iters = 3)
        .orderBy(col("rank").desc, col("node"))
    })

  private val q114 = Q("q114_snapshot_diff",
    "keyed snapshot diff (published-state audit): ONE full-outer join " +
      "classifies every key added/removed/changed/unchanged and names " +
      "the changed columns row-locally — null-safe, no per-column rescan",
    Some("""
      WITH v1 AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 7 <> 0),
      v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 13 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
               o_orderpriority
        FROM orders WHERE o_orderkey % 11 <> 0),
      j AS (
        SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
               v1.o_orderkey IS NOT NULL AS in_v1, v2.o_orderkey IS NOT NULL AS in_v2,
               v1.o_orderstatus AS s1, v2.o_orderstatus AS s2,
               v1.o_totalprice AS t1, v2.o_totalprice AS t2,
               v1.o_orderpriority AS p1, v2.o_orderpriority AS p2
        FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
      SELECT o_orderkey,
        CASE WHEN NOT in_v1 THEN 'added' WHEN NOT in_v2 THEN 'removed'
             WHEN s1 IS NOT DISTINCT FROM s2 AND t1 IS NOT DISTINCT FROM t2
                  AND p1 IS NOT DISTINCT FROM p2 THEN 'unchanged'
             ELSE 'changed' END AS status,
        CASE WHEN in_v1 AND in_v2 THEN concat_ws(',',
          CASE WHEN s1 IS DISTINCT FROM s2 THEN 'o_orderstatus' END,
          CASE WHEN t1 IS DISTINCT FROM t2 THEN 'o_totalprice' END,
          CASE WHEN p1 IS DISTINCT FROM p2 THEN 'o_orderpriority' END)
        ELSE '' END AS changed_cols
      FROM j ORDER BY o_orderkey"""),
    (s, dir) => {
      val o = t(s, dir, "orders")
      val v1 = o.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
      val v2 = o.filter(col("o_orderkey") % 11 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 13 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderpriority"))
      Diff.snapshotDiff(v1, v2, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice", "o_orderpriority"))
        .orderBy("o_orderkey")
    })

  private val q115 = Q("q115_funnel",
    "ordered conversion funnel with a 24h per-step deadline: each step is " +
      "a per-user min-aggregate joined user-keyed to the previous step's " +
      "survivors (strictly-after semantics — one event can't satisfy two " +
      "steps); per-user state persists so counting a step never re-walks " +
      "the chain",
    Some("""
      WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                  WHERE event_type = 'click' GROUP BY user_id),
      s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
             JOIN s1 ON e.user_id = s1.user_id
             WHERE e.event_type = 'view' AND e.ts > s1.t1
               AND e.ts <= s1.t1 + INTERVAL 24 HOUR
             GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
             JOIN s2 ON e.user_id = s2.user_id
             WHERE e.event_type = 'purchase' AND e.ts > s2.t2
               AND e.ts <= s2.t2 + INTERVAL 24 HOUR
             GROUP BY e.user_id)
      SELECT CAST(1 AS BIGINT) AS step, 'click' AS step_type, count(*) AS users_reached FROM s1
      UNION ALL SELECT 2, 'view', count(*) FROM s2
      UNION ALL SELECT 3, 'purchase', count(*) FROM s3
      ORDER BY step"""),
    (s, dir) => EventAnalytics.funnel(t(s, dir, "events"),
      "user_id", "ts", "event_type",
      Seq("click", "view", "purchase"), "24 hours")
      .orderBy("step"))

  private val q116 = Q("q116_cohort_retention",
    "cohort retention: users bucketed by first-event day; active-user " +
      "counts at day offsets 0/1/7 — two aggregates and ONE user-keyed " +
      "join, offsets filtered before the distinct",
    Some("""
      WITH cohort AS (SELECT user_id, date_trunc('day', min(ts)) AS c_day
                      FROM events GROUP BY user_id),
      act AS (SELECT DISTINCT c.user_id,
                     strftime(c.c_day, '%Y-%m-%d') AS cohort_day,
                     date_diff('day', c.c_day, date_trunc('day', e.ts)) AS offset_days
              FROM events e JOIN cohort c ON e.user_id = c.user_id)
      SELECT cohort_day, CAST(offset_days AS BIGINT) AS offset_days,
             count(*) AS active_users
      FROM act WHERE offset_days IN (0, 1, 7)
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, dir) => EventAnalytics.retention(t(s, dir, "events"),
      "user_id", "ts", Seq(0, 1, 7))
      .orderBy("cohort_day", "offset_days"))

  /** q117's oracle mirrors the greedy merge pass set-orientedly: matching
    * positions group into runs (overlaps only happen inside equal-symbol
    * runs), odd ranks within a run merge, the position after each merge
    * start drops — provably the same result as the Spark side's
    * left-to-right fold. The w..v3 CTE chain (3 training rounds) is shared
    * with q124's encode oracle via [[bpeTrainCtes]].
    */
  private val bpeTrainCtes = """
      w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      wc AS (SELECT word, count(*) AS wc FROM w WHERE length(word) >= 2 GROUP BY 1),
      v0 AS (SELECT word, wc, list_transform(generate_series(1, length(word)),
                    i -> substr(word, CAST(i AS INT), 1)) AS syms FROM wc),
      p1 AS (SELECT list_extract(syms, CAST(i AS INT)) AS l,
                    list_extract(syms, CAST(i AS INT) + 1) AS r, wc
             FROM (SELECT syms, wc, unnest(generate_series(1, len(syms) - 1)) AS i FROM v0)),
      c1 AS (SELECT l, r, CAST(SUM(wc) AS BIGINT) AS cnt FROM p1 GROUP BY 1, 2),
      w1 AS (SELECT l, r FROM c1 ORDER BY cnt DESC, l, r LIMIT 1),
      e1 AS (SELECT word, wc, unnest(syms) AS sym,
                    unnest(generate_series(1, len(syms))) AS pos FROM v0),
      m1 AS (SELECT a.word, a.pos FROM e1 a JOIN e1 b
             ON a.word = b.word AND b.pos = a.pos + 1, w1
             WHERE a.sym = w1.l AND b.sym = w1.r),
      s1 AS (SELECT word, pos, ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos) AS rn
             FROM (SELECT word, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS grp FROM m1)),
      t1 AS (SELECT word, pos FROM s1 WHERE rn % 2 = 1),
      v1 AS (SELECT e.word, e.wc,
             list(CASE WHEN st.pos IS NOT NULL THEN (SELECT l || r FROM w1)
                       ELSE e.sym END ORDER BY e.pos) AS syms
             FROM e1 e
             LEFT JOIN t1 st ON e.word = st.word AND e.pos = st.pos
             LEFT JOIN t1 dr ON e.word = dr.word AND e.pos = dr.pos + 1
             WHERE dr.pos IS NULL
             GROUP BY e.word, e.wc),
      p2 AS (SELECT list_extract(syms, CAST(i AS INT)) AS l,
                    list_extract(syms, CAST(i AS INT) + 1) AS r, wc
             FROM (SELECT syms, wc, unnest(generate_series(1, len(syms) - 1)) AS i FROM v1)),
      c2 AS (SELECT l, r, CAST(SUM(wc) AS BIGINT) AS cnt FROM p2 GROUP BY 1, 2),
      w2 AS (SELECT l, r FROM c2 ORDER BY cnt DESC, l, r LIMIT 1),
      e2 AS (SELECT word, wc, unnest(syms) AS sym,
                    unnest(generate_series(1, len(syms))) AS pos FROM v1),
      m2 AS (SELECT a.word, a.pos FROM e2 a JOIN e2 b
             ON a.word = b.word AND b.pos = a.pos + 1, w2
             WHERE a.sym = w2.l AND b.sym = w2.r),
      s2 AS (SELECT word, pos, ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos) AS rn
             FROM (SELECT word, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS grp FROM m2)),
      t2 AS (SELECT word, pos FROM s2 WHERE rn % 2 = 1),
      v2 AS (SELECT e.word, e.wc,
             list(CASE WHEN st.pos IS NOT NULL THEN (SELECT l || r FROM w2)
                       ELSE e.sym END ORDER BY e.pos) AS syms
             FROM e2 e
             LEFT JOIN t2 st ON e.word = st.word AND e.pos = st.pos
             LEFT JOIN t2 dr ON e.word = dr.word AND e.pos = dr.pos + 1
             WHERE dr.pos IS NULL
             GROUP BY e.word, e.wc),
      p3 AS (SELECT list_extract(syms, CAST(i AS INT)) AS l,
                    list_extract(syms, CAST(i AS INT) + 1) AS r, wc
             FROM (SELECT syms, wc, unnest(generate_series(1, len(syms) - 1)) AS i FROM v2)),
      c3 AS (SELECT l, r, CAST(SUM(wc) AS BIGINT) AS cnt FROM p3 GROUP BY 1, 2),
      w3 AS (SELECT l, r FROM c3 ORDER BY cnt DESC, l, r LIMIT 1),
      e3 AS (SELECT word, wc, unnest(syms) AS sym,
                    unnest(generate_series(1, len(syms))) AS pos FROM v2),
      m3 AS (SELECT a.word, a.pos FROM e3 a JOIN e3 b
             ON a.word = b.word AND b.pos = a.pos + 1, w3
             WHERE a.sym = w3.l AND b.sym = w3.r),
      s3 AS (SELECT word, pos, ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos) AS rn
             FROM (SELECT word, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS grp FROM m3)),
      t3 AS (SELECT word, pos FROM s3 WHERE rn % 2 = 1),
      v3 AS (SELECT e.word, e.wc,
             list(CASE WHEN st.pos IS NOT NULL THEN (SELECT l || r FROM w3)
                       ELSE e.sym END ORDER BY e.pos) AS syms
             FROM e3 e
             LEFT JOIN t3 st ON e.word = st.word AND e.pos = st.pos
             LEFT JOIN t3 dr ON e.word = dr.word AND e.pos = dr.pos + 1
             WHERE dr.pos IS NULL
             GROUP BY e.word, e.wc)"""

  private val q117 = Q("q117_bpe_train",
    "the real BPE TRAINING LOOP, 3 merge rounds: per round ONE " +
      "vocabulary-sized pair aggregate picks the argmax merge (driver " +
      "holds only the model-sized merge table), then a row-local fold " +
      "rewrites every word's symbol array — the corpus is scanned once " +
      "total; output is the final vocabulary segmentation",
    Some(s"""
      WITH $bpeTrainCtes
      SELECT word, CAST(wc AS BIGINT) AS wc, array_to_string(syms, ' ') AS seg
      FROM v3 ORDER BY word"""),
    (s, dir) => TextAnalysis.bpeTrain(t(s, dir, "documents"), rounds = 3)
      ._1.orderBy("word"))

  private val q124 = Q("q124_bpe_encode",
    "ENCODE the corpus with the trained tokenizer — the q117 pair and the " +
      "step a pretraining pipeline actually runs at scale: train 3 merges, " +
      "fold every DISTINCT word through them once (vocabulary-sized work), " +
      "broadcast the segmentation back onto the doc→word relation, explode " +
      "to tokens; the gate checks per-doc token count and distinct-token " +
      "count against the oracle re-deriving the same merges in SQL",
    Some(s"""
      WITH $bpeTrainCtes,
      dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
             FROM documents),
      dw1 AS (SELECT doc_id, word FROM dw WHERE length(word) >= 1),
      dtok AS (
        SELECT d.doc_id, t.sym
        FROM dw1 d JOIN (SELECT word, unnest(syms) AS sym FROM v3) t
          ON d.word = t.word
        UNION ALL
        SELECT doc_id, word AS sym FROM dw1 WHERE length(word) = 1)
      SELECT doc_id, count(*) AS n_tokens,
             CAST(count(DISTINCT sym) AS BIGINT) AS n_distinct_tokens
      FROM dtok GROUP BY doc_id ORDER BY doc_id"""),
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrain(docs, rounds = 3)._2
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq // model-sized
      TextAnalysis.bpeEncode(docs, merges)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
             countDistinct(col("token")).as("n_distinct_tokens"))
        .orderBy("doc_id")
    })

  private val q125 = Q("q125_doc_chunking",
    "overlapping fixed-window chunking (RAG/retrieval prep): windows of " +
      "32 words starting every 24 (8-word overlap), last window short, " +
      "empty-word-free — row-local codegen explode, no shuffle; gate " +
      "checks every chunk's index, token count, and exact rejoined text",
    Some("""
      WITH t AS (SELECT doc_id,
                   list_filter(string_split(text, ' '),
                               x -> length(x) >= 1) AS w
                 FROM documents),
      c AS (SELECT doc_id, w, unnest(generate_series(1, len(w), 24)) AS s
            FROM t WHERE len(w) >= 1)
      SELECT doc_id, CAST((s - 1) // 24 AS BIGINT) AS chunk_idx,
             CAST(LEAST(s + 31, len(w)) - s + 1 AS BIGINT) AS n_tokens,
             array_to_string(list_slice(w, s, LEAST(s + 31, len(w))), ' ')
               AS chunk
      FROM c ORDER BY doc_id, chunk_idx"""),
    (s, dir) => TextAnalysis.chunkDocuments(t(s, dir, "documents"),
        windowTokens = 32, strideTokens = 24)
      .orderBy("doc_id", "chunk_idx"))

  /** The testdata text is pure ASCII, so the accented surface is injected
    * IN THE QUERY, identically on both engines (regexp/replace chains with
    * the same literals): 'a' → decomposed a+U+0301, 'e' → composed 'é',
    * 'o' → composed 'ö'. The gate then proves graft_unicode_norm (NFC +
    * strip_accents, java.text.Normalizer) byte-equal to DuckDB's
    * independent utf8proc nfc_normalize/strip_accents, and that the
    * canonical form round-trips to the plain-ASCII canonicalization of the
    * original text — the invariant that makes canonicalize() safe to hash
    * for dedup.
    */
  private val q126 = Q("q126_unicode_canonical",
    "Unicode canonicalization for dedup (native graft_unicode_norm: NFC + " +
      "accent-strip + casefold + whitespace-collapse) — composed AND " +
      "decomposed accents collapse to one canonical form; oracle is " +
      "DuckDB's independent utf8proc implementation",
    Some("""
      WITH v AS (SELECT doc_id,
             replace(replace(replace(text, 'a', 'a""" + "́" + """'),
                     'e', '""" + "é" + """'), 'o', '""" + "ö" + """') AS noisy
             FROM documents),
      c AS (SELECT doc_id,
            trim(regexp_replace(lower(strip_accents(nfc_normalize(noisy))),
                 '\s+', ' ', 'g')) AS canonical FROM v)
      SELECT c.doc_id, c.canonical,
             c.canonical = trim(regexp_replace(lower(d.text), '\s+', ' ', 'g'))
               AS roundtrip
      FROM c JOIN documents d USING (doc_id) ORDER BY doc_id"""),
    (s, dir) => {
      val d = t(s, dir, "documents")
      val noisy = regexp_replace(regexp_replace(regexp_replace(col("text"),
        "a", "á"), "e", "é"), "o", "ö")
      val plain = trim(regexp_replace(lower(col("text")), "\\s+", " "))
      d.select(col("doc_id"),
          graft.functions.TextFns.canonicalize(noisy).as("canonical"),
          plain.as("plain"))
        .withColumn("roundtrip", col("canonical") === col("plain"))
        .drop("plain")
        .orderBy("doc_id")
    })

  private val q128 = Q("q128_ngram_containment",
    "asymmetric n-gram containment |A∩B|/|A| (quote/subset-duplicate " +
      "detector — high when a short doc is pasted inside a long one even " +
      "though Jaccard stays low), blocked by (lang, source)",
    Some("""
      WITH w AS (SELECT doc_id, lang, source, string_split(text, ' ') AS w FROM documents),
      jx AS (SELECT doc_id, lang, source, w, unnest(generate_series(1, len(w)-2)) AS j FROM w),
      sh AS (SELECT DISTINCT doc_id, lang, source,
             CAST('0x' || substr(sha256(w[j] || ' ' || w[j+1] || ' ' || w[j+2]), 1, 15) AS BIGINT) AS sh
             FROM jx),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
                FROM sh a JOIN sh b
                  ON a.lang = b.lang AND a.source = b.source
                 AND a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT doc_a, doc_b, n_inter,
             CAST(n_inter AS DOUBLE) / sa.n_sh AS cont_a,
             CAST(n_inter AS DOUBLE) / sb.n_sh AS cont_b
      FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                 JOIN sizes sb ON doc_b = sb.doc_id
      WHERE GREATEST(CAST(n_inter AS DOUBLE) / sa.n_sh,
                     CAST(n_inter AS DOUBLE) / sb.n_sh) >= 0.05
      ORDER BY doc_a, doc_b"""),
    (s, dir) => Dedup.ngramContainment(t(s, dir, "documents"), "doc_id", "text",
      blockCols = Seq("lang", "source"), minContainment = 0.05)
      .orderBy("doc_a", "doc_b"))

  /** The locality law the gate's min/max columns exhibit: with 64 buckets
    * over a 16-bit×16-bit Morton grid, each bucket spans ~1/8 of EACH
    * dimension's range (measured ~12% both dims on lineitem), where a
    * single-column sort leaves the second dimension's span at 100% per
    * bucket — that footer tightening is what lets a two-dim filter skip
    * ~7/8 of the files at 100 TB.
    */
  private val q131 = Q("q131_zorder_layout",
    "Z-order (Morton) two-dimensional clustering: quantize (l_partkey, " +
      "l_suppkey) to 16-bit grids, interleave with the native " +
      "graft_interleave_bits kernel, bucket by the top 6 curve bits; the " +
      "gate audits per-bucket counts and both dims' min/max (the file-" +
      "skipping footprint), bit-for-bit against the same curve in SQL",
    Some("""
      WITH src AS (SELECT l_partkey AS x, l_suppkey AS y FROM lineitem),
      mm AS (SELECT min(x) AS xmin, max(x) AS xmax,
                    min(y) AS ymin, max(y) AS ymax FROM src),
      q AS (SELECT x, y,
            CASE WHEN xmax = xmin THEN 0 ELSE
              CAST(floor((CAST(x AS DOUBLE) - xmin) / (xmax - xmin) * 65535)
                   AS BIGINT) END AS qx,
            CASE WHEN ymax = ymin THEN 0 ELSE
              CAST(floor((CAST(y AS DOUBLE) - ymin) / (ymax - ymin) * 65535)
                   AS BIGINT) END AS qy
            FROM src, mm),
      z AS (SELECT x, y,
            (SELECT SUM((((qx >> i) & 1) << (2*i)) + (((qy >> i) & 1) << (2*i+1)))
             FROM generate_series(0, 15) AS t(i)) AS zval
            FROM q)
      SELECT CAST(zval >> 26 AS BIGINT) AS zbucket, count(*) AS n_rows,
             min(x) AS x_min, max(x) AS x_max,
             min(y) AS y_min, max(y) AS y_max
      FROM z GROUP BY 1 ORDER BY 1"""),
    (s, dir) => graft.ops.Output.zorderBuckets(
        t(s, dir, "lineitem").select(
          col("l_partkey").as("x"), col("l_suppkey").as("y")),
        "x", "y", bits = 16, nBuckets = 64)
      .groupBy("zbucket").agg(
        count(lit(1)).as("n_rows"),
        min("x").as("x_min"), max("x").as("x_max"),
        min("y").as("y_min"), max("y").as("y_max"))
      .orderBy("zbucket"))

  /** The output is EXACT despite the sketch in the middle: Misra–Gries
    * guarantees every value with frequency > n/(k+1) survives its k
    * counters (no false negatives at the gate's > n/k bar), and the second
    * pass exact-counts the ≤k candidates (no false positives) — so the
    * oracle is a plain HAVING over true counts. What the sketch buys at
    * 100 TB is the PLAN: the naive form shuffles every row of a
    * high-cardinality column; this moves k counters per partition plus the
    * candidate rows only.
    */
  private val q132 = Q("q132_heavy_hitters",
    "exact frequent words (freq > n/200) via a Misra-Gries candidate pass " +
      "+ exact verification — the two-pass mergeable-summary pattern; " +
      "oracle recomputes the same set from true counts",
    Some("""
      WITH w AS (SELECT unnest(string_split(text, ' ')) AS v FROM documents),
      n AS (SELECT count(*) AS total FROM w)
      SELECT v AS value, count(*) AS n_occurrences
      FROM w, n GROUP BY v, total HAVING count(*) * 200 > total
      ORDER BY value"""),
    (s, dir) => graft.ops.HeavyHitters.heavyHitters(
        t(s, dir, "documents").select(
          explode(graft.functions.TextFns.words(col("text"))).as("w")),
        col("w"), k = 200)
      .orderBy("value"))

  private val q133 = Q("q133_mad_outliers",
    "robust per-language length outliers: exact median + MAD (50% " +
      "breakdown — immune to the heavy tail a stddev cut is inflated by), " +
      "rows beyond 3 MADs counted; the corpus length-quality filter in " +
      "robust-statistics form",
    Some("""
      WITH m AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med
                 FROM documents GROUP BY lang),
      d AS (SELECT doc.lang, doc.n_chars, m.med,
                   abs(doc.n_chars - m.med) AS dev
            FROM documents doc JOIN m USING (lang)),
      md AS (SELECT lang, med, quantile_cont(dev, 0.5) AS mad
             FROM d GROUP BY lang, med)
      SELECT d.lang, d.med, md.mad,
             count(*) AS n_rows,
             count(*) FILTER (md.mad > 0 AND d.dev > 3 * md.mad) AS n_outliers
      FROM d JOIN md ON d.lang = md.lang
      GROUP BY d.lang, d.med, md.mad ORDER BY d.lang"""),
    (s, dir) => graft.ops.Profile.madOutliers(
        t(s, dir, "documents"), "lang", "n_chars", cutoff = 3.0)
      .orderBy("lang"))

  private val q127 = Q("q127_weighted_sample",
    "Efraimidis–Spirakis weighted sampling without replacement: 50 docs " +
      "with inclusion odds proportional to n_chars (token-budget-" +
      "proportional corpus draw), u from the shared deterministic hash — " +
      "distributed top-k, reproducible across engines",
    Some("""
      WITH w AS (SELECT doc_id, lang, n_chars,
             (CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % 1000000 + 0.5) / 1000000.0 AS u
             FROM documents)
      SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars FROM w
        ORDER BY pow(u, 1.0 / n_chars) DESC, doc_id LIMIT 50)
      ORDER BY doc_id"""),
    (s, dir) => Sampling.weightedTopK(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        col("doc_id"), col("n_chars"), k = 50)
      .orderBy("doc_id"))

  private val q118 = Q("q118_triangle_census",
    "global triangle census (nodes/edges/wedges/triangles/clustering " +
      "coefficient) over the part co-purchase graph via degree-ordered " +
      "orientation: every edge points from its lower (deg,node) endpoint, " +
      "so wedge enumeration is O(sqrt(m)) per node regardless of hub skew " +
      "and each triangle is counted exactly once, at its minimum corner",
    Some("""
      WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        WHERE a.l_quantity >= 30 AND b.l_quantity >= 30),
      deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
              (SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs)
              GROUP BY 1),
      wedges AS (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS w FROM deg),
      tri AS (SELECT CAST(count(*) AS BIGINT) AS t
              FROM pairs e1 JOIN pairs e2 ON e2.a = e1.a AND e2.b > e1.b
              JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS nodes,
             (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS edges,
             (SELECT w FROM wedges) AS wedges,
             (SELECT t FROM tri) AS triangles,
             CAST(3 * (SELECT t FROM tri) * 1000000 // (SELECT w FROM wedges)
                  AS BIGINT) AS global_cc_ppm"""),
    (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 30)
        .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
      val pairs = li.as("x")
        .join(li.as("y"),
          col("x.k") === col("y.k") && col("x.p") < col("y.p"))
        .select(col("x.p").as("a"), col("y.p").as("b"))
      Graph.triangleStats(pairs)
    })

  private val q119 = Q("q119_interval_coalesce",
    "gaps-and-islands interval coalescing: per-customer 30-day order " +
      "windows merge into maximal covered islands in ONE exchange — " +
      "running-max window flags island starts, a running sum numbers " +
      "them, and the per-island aggregate reuses the same partitioning",
    Some("""
      WITH iv AS (SELECT o_custkey, o_orderdate AS s,
                         o_orderdate + INTERVAL 30 DAY AS e FROM orders),
      flg AS (SELECT o_custkey, s, e,
              CASE WHEN s <= MAX(e) OVER (PARTITION BY o_custkey
                   ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   THEN 0 ELSE 1 END AS new_island
              FROM iv),
      isl AS (SELECT o_custkey, s, e,
              SUM(new_island) OVER (PARTITION BY o_custkey ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS island_id
              FROM flg)
      SELECT o_custkey, CAST(island_id AS BIGINT) AS island_id,
             strftime(MIN(s), '%Y-%m-%d') AS island_start,
             strftime(MAX(e), '%Y-%m-%d') AS island_end,
             CAST(count(*) AS BIGINT) AS n_intervals,
             CAST(date_diff('day', MIN(s), MAX(e)) AS BIGINT) AS covered_days
      FROM isl GROUP BY 1, 2 ORDER BY o_custkey, island_id"""),
    (s, dir) => {
      val o = t(s, dir, "orders")
      Intervals.coalesce(o, col("o_custkey"), col("o_orderdate"),
          col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .select(col("key").as("o_custkey"), col("island_id"),
          date_format(col("island_start"), "yyyy-MM-dd").as("island_start"),
          date_format(col("island_end"), "yyyy-MM-dd").as("island_end"),
          col("n_intervals"),
          datediff(col("island_end").cast("date"),
            col("island_start").cast("date")).cast("long").as("covered_days"))
        .orderBy("o_custkey", "island_id")
    })

  private val q120 = Q("q120_cooccurrence_pmi",
    "token collocations: exact integer PMI over a bounded top-100-df " +
      "vocabulary — the quadratic pair step is capped by construction " +
      "(broadcast vocab filter before the per-doc self-join), never " +
      "corpus-wide all-pairs; top-50 by pmi desc",
    Some("""
      WITH tok AS (SELECT DISTINCT doc_id,
                          unnest(string_split(text, ' ')) AS w
                   FROM documents WHERE length(text) > 0),
      tok2 AS (SELECT doc_id, w FROM tok WHERE length(w) >= 2),
      df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tok2 GROUP BY 1),
      vocab AS (SELECT w, df FROM df ORDER BY df DESC, w LIMIT 100),
      vt AS (SELECT t.doc_id, t.w FROM tok2 t JOIN vocab v ON t.w = v.w),
      nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
             FROM documents WHERE length(text) > 0),
      pairs AS (SELECT a.w AS wa, b.w AS wb, CAST(count(*) AS BIGINT) AS c_ab
                FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.w < b.w
                GROUP BY 1, 2)
      SELECT wa, wb, c_ab,
             CAST(c_ab * (SELECT n FROM nd) * 1000000 // (va.df * vb.df)
                  AS BIGINT) AS pmi_ppm
      FROM pairs JOIN vocab va ON wa = va.w JOIN vocab vb ON wb = vb.w
      ORDER BY pmi_ppm DESC, wa, wb LIMIT 50"""),
    (s, dir) => TextAnalysis.cooccurrencePmi(t(s, dir, "documents")))

  private val q121 = Q("q121_trend_per_key",
    "per-supplier OLS shipment trend: ONE map-side-combined aggregate " +
      "carries the five sufficient statistics, the closed-form solve is " +
      "row-local, and every coefficient is exact integer ppm — " +
      "bit-portable where parallel float summation would not be",
    Some("""
      WITH pts AS (SELECT l_suppkey,
             CAST(date_diff('day', TIMESTAMP '1995-01-01', l_shipdate)
                  AS BIGINT) AS x,
             CAST(l_quantity AS BIGINT) AS y FROM lineitem),
      agg AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
              CAST(SUM(x*y) AS BIGINT) AS sxy,
              CAST(SUM(x*x) AS BIGINT) AS sxx
              FROM pts GROUP BY 1)
      SELECT l_suppkey, n,
             CAST(1000000 * (n*sxy - sx*sy) // (n*sxx - sx*sx) AS BIGINT)
               AS slope_ppm,
             CAST((1000000 * sy - (1000000 * (n*sxy - sx*sy)
                   // (n*sxx - sx*sx)) * sx) // n AS BIGINT) AS intercept_ppm
      FROM agg WHERE n >= 2 AND n*sxx - sx*sx > 0
      ORDER BY l_suppkey"""),
    (s, dir) => Regression.fitLinePerKey(t(s, dir, "lineitem"),
        col("l_suppkey"),
        datediff(col("l_shipdate").cast("date"), lit("1995-01-01")),
        col("l_quantity"))
      .select(col("key").as("l_suppkey"), col("n"), col("slope_ppm"),
        col("intercept_ppm"))
      .orderBy("l_suppkey"))

  private val q135 = Q("q135_markov_transitions",
    "first-order Markov transition matrix over per-user event timelines: " +
      "lead() pairs each event with its successor (ts then event_id " +
      "tiebreak), pairs aggregate to the |types|^2 matrix, probability as " +
      "exact integer ppm via floor division — one user-partitioned window " +
      "shuffle, the normalizing total windows over the TINY matrix " +
      "relation, never the event set",
    Some("""
      WITH seq AS (
        SELECT event_type AS src,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS dst
        FROM events),
      c AS (SELECT src, dst, count(*) AS n FROM seq
            WHERE dst IS NOT NULL GROUP BY 1, 2)
      SELECT src, dst, n,
             CAST(1000000 * n // SUM(n) OVER (PARTITION BY src) AS BIGINT)
               AS p_ppm
      FROM c ORDER BY src, dst"""),
    (s, dir) => EventAnalytics.transitionMatrix(
        Tables.events(s, dir), "user_id", "ts", "event_type", "event_id")
      .orderBy("src", "dst"))

  private val q136 = Q("q136_source_drift_tvd",
    "per-source corpus drift: exact total-variation distance between each " +
      "source's token distribution and the corpus distribution — rational " +
      "BIGINT arithmetic (no logs), absent-token mass folded in by one " +
      "subtraction, corpus counts re-aggregated from the per-source " +
      "aggregate (one scan), final ratio one IEEE division",
    Some("""
      WITH st AS (
        SELECT source, tok, count(*) AS c_st FROM (
          SELECT source, unnest(string_split(text, ' ')) AS tok
          FROM documents) GROUP BY 1, 2),
      corpus AS (SELECT tok, sum(c_st) AS c_t FROM st GROUP BY 1),
      totals AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY 1),
      n AS (SELECT sum(c_st) AS n_corpus FROM st),
      j AS (SELECT st.source, totals.n_s, n.n_corpus,
                   count(*) AS n_distinct,
                   sum(abs(st.c_st * n.n_corpus - corpus.c_t * totals.n_s))
                     AS a_s,
                   sum(corpus.c_t) AS cov_s
            FROM st JOIN corpus USING (tok) JOIN totals USING (source)
                 CROSS JOIN n
            GROUP BY 1, 2, 3)
      SELECT source, CAST(n_s AS BIGINT) AS n_tokens,
             CAST(n_distinct AS BIGINT) AS n_distinct,
             CAST(a_s + (n_corpus - cov_s) * n_s AS DOUBLE)
               / CAST(2 * n_s * n_corpus AS DOUBLE) AS tvd
      FROM j ORDER BY source"""),
    (s, dir) => TextAnalysis.sourceDriftTvd(t(s, dir, "documents"))
      .orderBy("source"))

  private val q137 = Q("q137_winsorized_stats",
    "per-language winsorized length statistics: exact p05/p95 quantiles " +
      "(interpolated order statistic), clip counts, winsorized mean " +
      "assembled from exact parts (BIGINT inlier sum + count x threshold) " +
      "in one fixed-shape double expression — the heavy-tail-taming " +
      "normalization before lengths feed a training mix",
    Some("""
      WITH cuts AS (SELECT lang, quantile_cont(n_chars, 0.05) AS p_lo,
                           quantile_cont(n_chars, 0.95) AS p_hi
                    FROM documents GROUP BY 1)
      SELECT d.lang, count(*) AS n, c.p_lo, c.p_hi,
             count(*) FILTER (d.n_chars < c.p_lo) AS n_lo,
             count(*) FILTER (d.n_chars > c.p_hi) AS n_hi,
             (CAST(sum(CASE WHEN d.n_chars >= c.p_lo AND d.n_chars <= c.p_hi
                            THEN d.n_chars ELSE 0 END) AS DOUBLE)
              + count(*) FILTER (d.n_chars < c.p_lo) * c.p_lo
              + count(*) FILTER (d.n_chars > c.p_hi) * c.p_hi)
             / CAST(count(*) AS DOUBLE) AS wins_mean
      FROM documents d JOIN cuts c USING (lang)
      GROUP BY d.lang, c.p_lo, c.p_hi ORDER BY d.lang"""),
    (s, dir) => Profile.winsorize(t(s, dir, "documents"), "lang", "n_chars")
      .orderBy("lang"))

  /** The MinHash(16)/LSH(8×2) band-relation CTE chain over `documents` —
    * ONE copy of the recipe, composed into every oracle that joins bands
    * (q138, q248 via [[minHashAdmissionOracle]], q256's two-batch tail):
    * a recipe tweak that touched only one copy would silently
    * desynchronize gates pinning the same operator family.
    */
  private[queries] val minHashBandsCte: String = """
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      jx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS j FROM w),
      shs AS (SELECT DISTINCT doc_id, w[j] || ' ' || w[j+1] || ' ' || w[j+2] AS sh FROM jx),
      sh AS (SELECT doc_id,
             CAST('0x' || substr(sha256(sh), 1, 15) AS BIGINT) AS p0,
             CAST('0x' || substr(sha256(sh), 16, 15) AS BIGINT) AS p1,
             CAST('0x' || substr(sha256(sh), 31, 15) AS BIGINT) AS p2,
             CAST('0x' || substr(sha256(sh), 46, 15) AS BIGINT) AS p3
             FROM shs),
      mh AS (SELECT doc_id, h,
             min(xor(
               CASE WHEN h % 4 = 0 THEN p0 WHEN h % 4 = 1 THEN p1
                    WHEN h % 4 = 2 THEN p2 ELSE p3 END,
               (CASE WHEN (h + 1) % 4 = 0 THEN p0 WHEN (h + 1) % 4 = 1 THEN p1
                     WHEN (h + 1) % 4 = 2 THEN p2 ELSE p3 END)
                 >> ((h * 7) % 29))) AS minh
             FROM sh CROSS JOIN generate_series(0, 15) t(h) GROUP BY doc_id, h),
      bands AS (SELECT doc_id, h // 2 AS band,
                string_agg(CAST(minh AS VARCHAR), ',' ORDER BY h) AS band_sig
                FROM mh GROUP BY doc_id, h // 2)"""

  private[queries] val minHashAdmissionOracle: String = minHashBandsCte + """,
      m AS (SELECT inc.doc_id, min(idx.doc_id) AS dup_of,
                   count(DISTINCT idx.doc_id) AS n_matches
            FROM bands inc JOIN bands idx
              ON inc.band = idx.band AND inc.band_sig = idx.band_sig
            WHERE inc.doc_id % 2 = 1 AND idx.doc_id % 2 = 0
            GROUP BY 1)
      SELECT d.doc_id, m.dup_of, coalesce(m.n_matches, 0) AS n_matches
      FROM documents d LEFT JOIN m USING (doc_id)
      WHERE d.doc_id % 2 = 1
      ORDER BY d.doc_id"""

  private val q138 = Q("q138_dedup_against_index",
    "incremental near-dup admission: odd-id docs (the incoming batch) " +
      "annotated with their MinHash(16)/LSH(8x2) match against even-id " +
      "docs (the standing corpus index) — dup_of = smallest colliding " +
      "index id (NULL = novel), n_matches = distinct colliding index " +
      "docs; production persists the index band relation, so each batch " +
      "costs one signature pass + one bucket-sized keyed join, never " +
      "batch x corpus",
    Some(minHashAdmissionOracle),
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dedupAgainstIndex(
        incoming = docs.filter(col("doc_id") % 2 === 1),
        index = docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", numHashes = 16, rowsPerBand = 2)
        .orderBy("doc_id")
    })

  private val q139 = Q("q139_source_vocab_overlap",
    "pairwise source resemblance: distinct-vocabulary intersection and " +
      "exact integer Jaccard (ppm) for every source pair — the token self-" +
      "join is keyed by token so each token costs only its own source-set " +
      "cross, corpus-size-independent; vocabulary sizes broadcast",
    Some("""
      WITH st AS (SELECT DISTINCT source, tok FROM (
             SELECT source, unnest(string_split(text, ' ')) AS tok
             FROM documents)),
      sizes AS (SELECT source, count(*) AS n_vocab FROM st GROUP BY 1),
      ix AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
             FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
             GROUP BY 1, 2)
      SELECT src_a, src_b, n_shared,
             CAST(1000000 * n_shared //
                  (na.n_vocab + nb.n_vocab - n_shared) AS BIGINT)
               AS jaccard_ppm
      FROM ix JOIN sizes na ON na.source = src_a
              JOIN sizes nb ON nb.source = src_b
      ORDER BY src_a, src_b"""),
    (s, dir) => TextAnalysis.vocabOverlap(t(s, dir, "documents"))
      .orderBy("src_a", "src_b"))

  private val q140 = Q("q140_cluster_safe_split",
    "leakage-safe train/val/test split: the 90/5/5 hash split keys on the " +
      "near-dup CLUSTER representative (blocked SimHash pair graph -> " +
      "connected components, q69's scale path), so no near-duplicate " +
      "family straddles train and eval — the contamination hole a per-doc " +
      "split leaves open; singletons represent themselves",
    Some("""
      WITH wds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      wh AS (SELECT doc_id, CAST('0x' || substr(sha256(w), 1, 15) AS BIGINT) AS wh FROM wds),
      votes AS (SELECT doc_id, b,
                SUM(CASE WHEN (wh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS votes
                FROM wh CROSS JOIN generate_series(0, 31) t(b) GROUP BY doc_id, b),
      sig AS (SELECT doc_id,
              CAST(SUM(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM sig a JOIN sig b
                  ON (a.simhash >> 28) = (b.simhash >> 28) AND a.doc_id < b.doc_id
                WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs),
      reach AS (
        WITH RECURSIVE r(node, lab) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, r.lab FROM edges e JOIN r ON e.dst = r.node)
        SELECT node, min(lab) AS canonical_id FROM r GROUP BY node),
      rep AS (SELECT d.doc_id,
              coalesce(reach.canonical_id, d.doc_id) AS rep
              FROM documents d LEFT JOIN reach ON reach.node = d.doc_id),
      s AS (SELECT doc_id, rep,
            CASE WHEN CAST('0x' || substr(sha256(CAST(rep AS VARCHAR)), 1, 15)
                      AS BIGINT) % 100 < 90 THEN 'train'
                 WHEN CAST('0x' || substr(sha256(CAST(rep AS VARCHAR)), 1, 15)
                      AS BIGINT) % 100 < 95 THEN 'val'
                 ELSE 'test' END AS split
            FROM rep)
      SELECT split, count(DISTINCT rep) AS n_clusters, count(*) AS n_docs
      FROM s GROUP BY 1 ORDER BY split"""),
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val sigs = Dedup.simHash(docs, "doc_id", "text", bits = 32)
      val pairs = Dedup.simHashPairs(sigs, "doc_id", maxHamming = 2,
        blockBits = 4)
      val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
        outIdCol = "doc_id")
      Sampling.clusterSafeSplit(docs.select("doc_id"), "doc_id", cc,
        Seq("train" -> 90, "val" -> 5, "test" -> 5))
        .groupBy("split")
        .agg(countDistinct("rep").as("n_clusters"),
          count(lit(1)).as("n_docs"))
        .orderBy("split")
    })

  private val q141 = Q("q141_image_dhash_neardup",
    "image-modality near-dup: REAL 9x8 patterned PNGs (synthesized per " +
      "doc_id, encoded+decoded through ImageIO) hash to a 63-bit dHash " +
      "(brightness-gradient signature) and pair via the same blocked " +
      "signature join as SimHash text dedup (top-4-bit block, hamming<=4) " +
      "— the oracle predicts the decoded pixels arithmetically (lossless " +
      "PNG round trip, q123's discipline)",
    Some("""
      WITH px AS (
        SELECT doc_id, x, y,
          ((doc_id % 499 + 1) * (x + 3) * (y + 5) +
           CASE WHEN x = doc_id * 7 % 9 AND y = doc_id * 11 % 8
                THEN 128 ELSE 0 END) % 251 AS g
        FROM documents
        CROSS JOIN generate_series(0, 8) tx(x)
        CROSS JOIN generate_series(0, 7) ty(y)),
      bits AS (
        SELECT a.doc_id, a.y * 8 + a.x AS bit,
               CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS v
        FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.y = a.y
                           AND b.x = a.x + 1
        WHERE a.x < 8 AND NOT (a.x = 7 AND a.y = 7)),
      h AS (SELECT doc_id,
            CAST(SUM(CAST(v AS BIGINT) << bit) AS BIGINT) AS sig
            FROM bits GROUP BY 1)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      FROM h a JOIN h b ON (a.sig >> 59) = (b.sig >> 59)
                       AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 4
      ORDER BY doc_a, doc_b"""),
    (s, dir) => {
      import s.implicits._
      val sigs = t(s, dir, "documents").select("doc_id").repartition(Partitions.base(s)).as[Long]
        .mapPartitions(_.flatMap { id =>
          val bx = (id * 7 % 9).toInt
          val by = (id * 11 % 8).toInt
          val cls = id % 499 + 1
          val png = Multimodal.pngBytesGrid(9, 8, (x, y) =>
            ((cls * (x + 3) * (y + 5) +
              (if (x == bx && y == by) 128 else 0)) % 251).toInt)
          Multimodal.dHash(png).map(sig => (id, sig))
        }).toDF("doc_id", "simhash")
      Dedup.simHashPairs(sigs, "doc_id", maxHamming = 4, blockBits = 4,
        bits = 63)
        .orderBy("doc_a", "doc_b")
    })

  private val q142 = Q("q142_quantile_bins",
    "per-language equal-frequency decile binning of document lengths " +
      "(ntile over a deterministic (value, id) order): bucket population " +
      "and value range per bin — the feature-bucketization / difficulty-" +
      "tier primitive; one group-partitioned window shuffle, the per-bin " +
      "aggregate reuses the key",
    Some("""
      WITH b AS (SELECT lang, n_chars,
                 ntile(10) OVER (PARTITION BY lang
                                 ORDER BY n_chars, doc_id) AS bin
                 FROM documents)
      SELECT lang, bin, count(*) AS n,
             min(n_chars) AS lo, max(n_chars) AS hi
      FROM b GROUP BY 1, 2 ORDER BY lang, bin"""),
    (s, dir) => Profile.quantileBins(
        t(s, dir, "documents"), "lang", "n_chars", "doc_id", nBins = 10)
      .orderBy("lang", "bin"))

  private val q143 = Q("q143_token_budget_select",
    "greedy per-source data selection under a token budget: docs rank by " +
      "(length desc, id) within source and the running-total prefix <= " +
      "4000 chars survives — the quality-per-token knapsack step of " +
      "training-mix construction; one group-partitioned window, row-" +
      "local filter",
    Some("""
      WITH c AS (SELECT source, doc_id, n_chars,
                 CAST(SUM(n_chars) OVER (PARTITION BY source
                                         ORDER BY n_chars DESC, doc_id
                                         ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum_weight
                 FROM documents)
      SELECT source, doc_id, n_chars, cum_weight FROM c
      WHERE cum_weight <= 4000 ORDER BY source, doc_id"""),
    (s, dir) => Sampling.budgetSelect(
        t(s, dir, "documents").select("source", "doc_id", "n_chars"),
        "source", "n_chars", "n_chars", "doc_id", budget = 4000L)
      .orderBy("source", "doc_id"))

  private val q144 = Q("q144_embedding_quantize",
    "int8 scalar-quantization audit: per-dimension corpus min/max bounds " +
      "(broadcast as two arrays on a one-row relation), 256-level mid-" +
      "rise quantization, per-vector max reconstruction error via a row-" +
      "local HOF fold — the memory-vs-recall check before shipping the " +
      "ANN index at 4x less memory; fixed-shape IEEE arithmetic, no " +
      "cross-row float accumulation, corpus never shuffles",
    Some("""
      WITH d AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                        unnest(range(1, len(embedding) + 1)) AS dim
                 FROM embeddings),
      b AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM d GROUP BY 1),
      e AS (SELECT d.vec_id,
                   CASE WHEN b.mx = b.mn THEN 0.0
                        ELSE abs(d.v - (b.mn +
                          (least(255.0, floor((d.v - b.mn) * 256.0
                                              / (b.mx - b.mn))) + 0.5)
                          * (b.mx - b.mn) / 256.0))
                   END AS err
            FROM d JOIN b USING (dim))
      SELECT vec_id, max(err) AS max_err FROM e
      GROUP BY 1 ORDER BY vec_id"""),
    (s, dir) => Similarity.quantizeInt8Audit(t(s, dir, "embeddings"))
      .orderBy("vec_id"))

  private val q145 = Q("q145_boilerplate_spans",
    "cross-document boilerplate detection (the C4 repeated-line rule): " +
      "5-word spans (synthesized line structure, q87's discipline) " +
      "occurring in >= 3 DISTINCT documents — headers/footers/license " +
      "chrome surfaced as a removal list; explode -> ONE uniform-hash " +
      "aggregate, output bounded by the repeated-span count, no self-join",
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      ln AS (SELECT doc_id,
               list_transform(generate_series(0, CAST(ceil(len(ws) / 5.0) AS INT) - 1),
                 i -> array_to_string(ws[(i*5+1):(i*5+5)], ' ')) AS lines
             FROM w),
      sp AS (SELECT doc_id, unnest(lines) AS span FROM ln),
      h AS (SELECT doc_id, span,
              CAST('0x' || substr(sha256(span), 1, 15) AS BIGINT) AS sh
            FROM sp)
      SELECT sh, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences,
             min(doc_id) AS first_doc, min(span) AS span
      FROM h GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3 ORDER BY sh"""),
    (s, dir) => {
      val lined = fiveWordLined(s, dir)
      Dedup.boilerplateSpans(lined, "doc_id", "text", minDocs = 3)
        .orderBy("sh")
    })

  private val q146 = Q("q146_gini_inequality",
    "per-source Gini coefficient of document lengths in exact ppm " +
      "(sorted-prefix identity, all-BIGINT, one floor division) — the " +
      "data-balance diagnostic: high Gini means token mass concentrates " +
      "in few documents and a uniform doc sample misrepresents the " +
      "source; ONE group window + aggregate on the same key",
    Some("""
      WITH r AS (SELECT source, CAST(n_chars AS BIGINT) AS x,
                 CAST(row_number() OVER (PARTITION BY source
                                         ORDER BY n_chars, doc_id) AS BIGINT) AS i
                 FROM documents)
      SELECT source, count(*) AS n, CAST(sum(x) AS BIGINT) AS total,
             CAST(1000000 * (2 * sum(i * x) - (count(*) + 1) * sum(x))
                  // (count(*) * sum(x)) AS BIGINT) AS gini_ppm
      FROM r GROUP BY 1 ORDER BY source"""),
    (s, dir) => Profile.giniPpm(
        t(s, dir, "documents"), "source", "n_chars", "doc_id")
      .orderBy("source"))

  private val q147 = Q("q147_fk_integrity",
    "referential-integrity audit over six declared FK edges (child key " +
      "-> parent DISTINCT key, LEFT join + one aggregate per edge; " +
      "dimension sides broadcast) — the pre-flight joinability check: " +
      "orphans vanish from inner joins silently; includes the " +
      "events.user_id->customer edge where orphans are expected",
    Some("""
      SELECT * FROM (
        SELECT 'customer.c_nationkey->nation' AS edge, count(*) AS n_child,
               count(c.c_nationkey) AS n_fk_nonnull,
               CAST(sum(CASE WHEN c.c_nationkey IS NOT NULL AND p._pk IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        FROM customer c LEFT JOIN
          (SELECT DISTINCT n_nationkey AS _pk FROM nation) p
          ON c.c_nationkey = p._pk
        UNION ALL
        SELECT 'events.user_id->customer', count(*), count(c.user_id),
               CAST(sum(CASE WHEN c.user_id IS NOT NULL AND p._pk IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT)
        FROM events c LEFT JOIN
          (SELECT DISTINCT c_custkey AS _pk FROM customer) p
          ON c.user_id = p._pk
        UNION ALL
        SELECT 'lineitem.l_orderkey->orders', count(*), count(c.l_orderkey),
               CAST(sum(CASE WHEN c.l_orderkey IS NOT NULL AND p._pk IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem c LEFT JOIN
          (SELECT DISTINCT o_orderkey AS _pk FROM orders) p
          ON c.l_orderkey = p._pk
        UNION ALL
        SELECT 'lineitem.l_partkey->part', count(*), count(c.l_partkey),
               CAST(sum(CASE WHEN c.l_partkey IS NOT NULL AND p._pk IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem c LEFT JOIN
          (SELECT DISTINCT p_partkey AS _pk FROM part) p
          ON c.l_partkey = p._pk
        UNION ALL
        SELECT 'orders.o_custkey->customer', count(*), count(c.o_custkey),
               CAST(sum(CASE WHEN c.o_custkey IS NOT NULL AND p._pk IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders c LEFT JOIN
          (SELECT DISTINCT c_custkey AS _pk FROM customer) p
          ON c.o_custkey = p._pk
        UNION ALL
        SELECT 'supplier.s_nationkey->nation', count(*), count(c.s_nationkey),
               CAST(sum(CASE WHEN c.s_nationkey IS NOT NULL AND p._pk IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT)
        FROM supplier c LEFT JOIN
          (SELECT DISTINCT n_nationkey AS _pk FROM nation) p
          ON c.s_nationkey = p._pk
      ) ORDER BY edge"""),
    (s, dir) => Profile.fkAudit(Seq(
        ("customer.c_nationkey->nation",
          t(s, dir, "customer"), "c_nationkey", t(s, dir, "nation"), "n_nationkey"),
        ("events.user_id->customer",
          t(s, dir, "events"), "user_id", t(s, dir, "customer"), "c_custkey"),
        ("lineitem.l_orderkey->orders",
          t(s, dir, "lineitem"), "l_orderkey", t(s, dir, "orders"), "o_orderkey"),
        ("lineitem.l_partkey->part",
          t(s, dir, "lineitem"), "l_partkey", t(s, dir, "part"), "p_partkey"),
        ("orders.o_custkey->customer",
          t(s, dir, "orders"), "o_custkey", t(s, dir, "customer"), "c_custkey"),
        ("supplier.s_nationkey->nation",
          t(s, dir, "supplier"), "s_nationkey", t(s, dir, "nation"), "n_nationkey")))
      .orderBy("edge"))

  private val q148 = Q("q148_bigram_lm_score",
    "bigram conditional-probability scoring (second-order LM filter): " +
      "per doc the mean/min of 10^6*c(w1,w2) div c(w1.) over its " +
      "bigrams — catches word-salad built from common tokens that the " +
      "unigram q71 filter scores as normal; exact floor-division ppm, " +
      "one corpus tokenize, vocab^2-bounded count relations broadcast",
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
             FROM w, unnest(generate_series(1, len(ws) - 1)) t(i)),
      pc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
      lc AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM pc GROUP BY 1)
      SELECT bg.doc_id, count(*) AS n_bigrams,
             CAST(sum(1000000 * c12 // c1) // count(*) AS BIGINT) AS mean_cond_ppm,
             CAST(min(1000000 * c12 // c1) AS BIGINT) AS min_cond_ppm
      FROM bg JOIN pc USING (w1, w2) JOIN lc USING (w1)
      GROUP BY 1 ORDER BY doc_id"""),
    (s, dir) => TextAnalysis.bigramLmScore(t(s, dir, "documents"))
      .orderBy("doc_id"))

  private val q149 = Q("q149_cdc_apply",
    "CDC merge (the lakehouse MERGE INTO): a change feed derived from " +
      "customer (seq-1 updates on key%5=0, seq-2 deletes on key%10=0, " +
      "inserts where the key is absent from the key%3<>0 base) folds " +
      "into the base snapshot — highest seq wins per key, D removes, " +
      "I/U upserts, untouched keys pass through; ONE delta-sized window " +
      "+ ONE full-outer key join",
    Some("""
      WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer
                    WHERE c_custkey % 3 <> 0),
      changes AS (
        SELECT c_custkey, 1 AS seq, 'U' AS op, upper(c_name) AS c_name,
               c_acctbal + 10.0 AS c_acctbal
        FROM customer WHERE c_custkey % 5 = 0
        UNION ALL
        SELECT c_custkey, 2, 'D', NULL, NULL
        FROM customer WHERE c_custkey % 10 = 0),
      w AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
                                         ORDER BY seq DESC) AS rn
            FROM changes),
      win AS (SELECT * FROM w WHERE rn = 1)
      SELECT coalesce(win.c_custkey, base.c_custkey) AS c_custkey,
             CASE WHEN win.c_custkey IS NOT NULL THEN win.c_name
                  ELSE base.c_name END AS c_name,
             CASE WHEN win.c_custkey IS NOT NULL THEN win.c_acctbal
                  ELSE base.c_acctbal END AS c_acctbal
      FROM base FULL OUTER JOIN win ON base.c_custkey = win.c_custkey
      WHERE win.c_custkey IS NULL OR win.op <> 'D'
      ORDER BY c_custkey"""),
    (s, dir) => {
      val cust = t(s, dir, "customer")
      val base = cust.filter(expr("c_custkey % 3 <> 0"))
        .select("c_custkey", "c_name", "c_acctbal")
      val upd = cust.filter(expr("c_custkey % 5 = 0"))
        .select(col("c_custkey"), lit(1L).as("seq"), lit("U").as("op"),
          upper(col("c_name")).as("c_name"),
          (col("c_acctbal") + 10.0).as("c_acctbal"))
      val del = cust.filter(expr("c_custkey % 10 = 0"))
        .select(col("c_custkey"), lit(2L).as("seq"), lit("D").as("op"),
          lit(null).cast("string").as("c_name"),
          lit(null).cast("double").as("c_acctbal"))
      Diff.applyChanges(base, upd.unionByName(del), Seq("c_custkey"),
          Seq("c_name", "c_acctbal"))
        .orderBy("c_custkey")
    })

  private val q150 = Q("q150_ewma",
    "per-user EWMA of event values in EXACT scaled-integer arithmetic " +
      "(alpha=1/4: e' = (3e + x) div 4 over cents; timeline order " +
      "(ts, event_id)) — the smoothed-baseline primitive; ONE keyed " +
      "aggregate, sort + fold row-local (array_sort + aggregate HOF, " +
      "codegen, no UDF); per-key state = the timeline, the " +
      "sessionization bound",
    Some("""
      WITH x AS (SELECT user_id, ts, event_id,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
                 FROM events),
      l AS (SELECT user_id, count(*) AS n_events,
                   list(x ORDER BY ts, event_id) AS xs
            FROM x GROUP BY 1)
      SELECT user_id, n_events, xs[len(xs)] AS last_cents,
             CAST(list_reduce(xs, (acc, v) -> (3 * acc + v) // 4) AS BIGINT)
               AS ewma_cents
      FROM l ORDER BY user_id"""),
    (s, dir) => EventAnalytics.ewmaCents(
        t(s, dir, "events"), "user_id", "ts", "event_id", "value")
      .orderBy("user_id"))

  private val q151 = Q("q151_vocab_coverage",
    "vocabulary coverage curve (tokenizer vocab-size selection): exact " +
      "ppm of corpus token occurrences covered by the top-k frequent " +
      "words for k in {10,100,1000}; the rank/running-sum window runs " +
      "over the VOCAB-sized count relation (never the corpus), totals " +
      "and ks broadcast",
    Some("""
      WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      c AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
      r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rank,
                   sum(c) OVER (ORDER BY c DESC, w
                                ROWS UNBOUNDED PRECEDING) AS cum
            FROM c),
      t AS (SELECT CAST(sum(c) AS BIGINT) AS total, count(*) AS vocab_n
            FROM c)
      SELECT CAST(k AS BIGINT) AS k, vocab_n, total,
             CAST(1000000 * cum // total AS BIGINT) AS covered_ppm,
             CAST(c AS BIGINT) AS kth_count
      FROM (VALUES (10), (100), (1000)) ks(k), r, t
      WHERE r.rank = least(ks.k, t.vocab_n)
      ORDER BY k"""),
    (s, dir) => TextAnalysis.vocabCoverage(
        t(s, dir, "documents"), Seq(10, 100, 1000))
      .orderBy("k"))

  private val q152 = Q("q152_corr_pairs",
    "pairwise Pearson correlation over the four lineitem measures from " +
      "EXACT integer parts (cents, DECIMAL(38,0) sums — no float " +
      "accumulation, no int64 overflow at scale) with ONE fixed-shape " +
      "IEEE expression per pair; ONE scan, ONE aggregate for all sums + " +
      "cross products, stack-unpivoted — the feature-redundancy screen",
    Some("""
      WITH c AS (SELECT
        CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS cq,
        CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS ce,
        CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS cd,
        CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS ct
        FROM lineitem),
      s AS (SELECT count(*) AS n,
        sum(cq) sq, sum(ce) se, sum(cd) sd, sum(ct) st,
        sum(cq*cq) qq, sum(ce*ce) ee, sum(cd*cd) dd, sum(ct*ct) tt,
        sum(cq*ce) pqe, sum(cq*cd) pqd, sum(cq*ct) pqt,
        sum(ce*cd) ped, sum(ce*ct) pet, sum(cd*ct) pdt
        FROM c)
      SELECT * FROM (
        SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
               CAST(n AS BIGINT) AS n,
               CAST(n*pqe - sq*se AS DOUBLE)
                 / (sqrt(CAST(n*qq - sq*sq AS DOUBLE))
                    * sqrt(CAST(n*ee - se*se AS DOUBLE))) AS corr FROM s
        UNION ALL
        SELECT 'l_quantity', 'l_discount', CAST(n AS BIGINT),
               CAST(n*pqd - sq*sd AS DOUBLE)
                 / (sqrt(CAST(n*qq - sq*sq AS DOUBLE))
                    * sqrt(CAST(n*dd - sd*sd AS DOUBLE))) FROM s
        UNION ALL
        SELECT 'l_quantity', 'l_tax', CAST(n AS BIGINT),
               CAST(n*pqt - sq*st AS DOUBLE)
                 / (sqrt(CAST(n*qq - sq*sq AS DOUBLE))
                    * sqrt(CAST(n*tt - st*st AS DOUBLE))) FROM s
        UNION ALL
        SELECT 'l_extendedprice', 'l_discount', CAST(n AS BIGINT),
               CAST(n*ped - se*sd AS DOUBLE)
                 / (sqrt(CAST(n*ee - se*se AS DOUBLE))
                    * sqrt(CAST(n*dd - sd*sd AS DOUBLE))) FROM s
        UNION ALL
        SELECT 'l_extendedprice', 'l_tax', CAST(n AS BIGINT),
               CAST(n*pet - se*st AS DOUBLE)
                 / (sqrt(CAST(n*ee - se*se AS DOUBLE))
                    * sqrt(CAST(n*tt - st*st AS DOUBLE))) FROM s
        UNION ALL
        SELECT 'l_discount', 'l_tax', CAST(n AS BIGINT),
               CAST(n*pdt - sd*st AS DOUBLE)
                 / (sqrt(CAST(n*dd - sd*sd AS DOUBLE))
                    * sqrt(CAST(n*tt - st*st AS DOUBLE))) FROM s
      ) ORDER BY col_a, col_b"""),
    (s, dir) => Profile.corrPairs(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy("col_a", "col_b"))

  private val q153 = Q("q153_quantile_normalize",
    "cross-source quantile normalization: each doc's length maps to its " +
      "within-source rank (exact ppm) and then to the GLOBAL length at " +
      "that rank fraction (exact interpolated order statistic held as " +
      "integer floor-position + frac-ppm; one final fixed-shape IEEE " +
      "interpolation) — score calibration so one threshold compares " +
      "across sources; group window + global window + ONE equi-join",
    Some("""
      WITH s AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS v,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_chars, doc_id) AS rn,
                   count(*) OVER (PARTITION BY source) AS ns
                 FROM documents),
      r AS (SELECT source, doc_id, v,
              CASE WHEN ns = 1 THEN 500000
                   ELSE 1000000 * (rn - 1) // (ns - 1) END AS rank_ppm
            FROM s),
      g AS (SELECT CAST(n_chars AS BIGINT) AS gv,
              row_number() OVER (ORDER BY n_chars, doc_id) AS grn,
              lead(CAST(n_chars AS BIGINT))
                OVER (ORDER BY n_chars, doc_id) AS gnext
            FROM documents),
      t AS (SELECT count(*) AS ng FROM documents),
      j AS (SELECT r.*,
              (1000000 + (t.ng - 1) * r.rank_ppm) // 1000000 AS fpos,
              (1000000 + (t.ng - 1) * r.rank_ppm) % 1000000 AS frac
            FROM r, t)
      SELECT j.doc_id, j.source, j.v AS n_chars,
             CAST(j.rank_ppm AS BIGINT) AS rank_ppm,
             CAST(g.gv AS DOUBLE) + (CAST(j.frac AS DOUBLE) / 1000000.0)
               * (CAST(coalesce(g.gnext, g.gv) AS DOUBLE)
                  - CAST(g.gv AS DOUBLE)) AS norm
      FROM j JOIN g ON j.fpos = g.grn
      ORDER BY doc_id"""),
    (s, dir) => Profile.quantileNormalize(
        t(s, dir, "documents"), "source", "n_chars", "doc_id")
      .orderBy("doc_id"))

  private val q154 = Q("q154_keep_best_in_cluster",
    "quality-aware near-dup removal: connected components over the " +
      "BLOCKED SimHash pair graph (q69's sub-quadratic candidates), " +
      "then keep the LONGEST member of each duplicate family " +
      "(n_chars desc, id-tiebroken) — dedup-by-quality, the curation " +
      "policy min-id canonicalization can't express; singletons always " +
      "survive; one LEFT join + one cluster-partitioned window",
    Some("""
      WITH wds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      wh AS (SELECT doc_id, CAST('0x' || substr(sha256(w), 1, 15) AS BIGINT) AS wh FROM wds),
      votes AS (SELECT doc_id, b,
                SUM(CASE WHEN (wh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS votes
                FROM wh CROSS JOIN generate_series(0, 31) t(b) GROUP BY doc_id, b),
      sig AS (SELECT doc_id,
              CAST(SUM(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM sig a JOIN sig b
                  ON (a.simhash >> 28) = (b.simhash >> 28) AND a.doc_id < b.doc_id
                WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs),
      reach AS (
        WITH RECURSIVE r(node, lab) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, r.lab FROM edges e JOIN r ON e.dst = r.node)
        SELECT node, min(lab) AS canonical_id FROM r GROUP BY node),
      base AS (SELECT d.doc_id, d.n_chars,
                      coalesce(r.canonical_id, d.doc_id) AS cluster
               FROM documents d LEFT JOIN reach r ON d.doc_id = r.node)
      SELECT doc_id, cluster, n_chars,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY n_chars DESC, doc_id) = 1 AS keep
      FROM base ORDER BY doc_id"""),
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val sigs = Dedup.simHash(docs, "doc_id", "text", bits = 32)
      val pairs = Dedup.simHashPairs(sigs, "doc_id", maxHamming = 2,
        blockBits = 4)
      Dedup.keepBestInCluster(docs, pairs, "doc_id", "n_chars")
        .orderBy("doc_id")
    })

  private val q155 = Q("q155_distinctive_terms",
    "distinctive terms per source (rational log-odds lift): for words " +
      "with >= 3 in-source occurrences, lift_ppm = 10^6*tf_s*total div " +
      "(tf*total_s) as ONE exact cross-multiplied floor division; top-5 " +
      "per source by (lift desc, word) — the 'what does this source talk " +
      "about' diagnostic; word/source totals re-aggregate the (source, " +
      "word) relation, no second corpus scan",
    Some("""
      WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
                    FROM documents),
      sw AS (SELECT source, w, count(*) AS tf_s FROM toks GROUP BY 1, 2),
      wt AS (SELECT w, CAST(sum(tf_s) AS BIGINT) AS tf FROM sw GROUP BY 1),
      st AS (SELECT source, CAST(sum(tf_s) AS BIGINT) AS total_s
             FROM sw GROUP BY 1),
      t AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM wt),
      j AS (SELECT sw.source, sw.w, sw.tf_s, wt.tf,
              CAST(1000000 * sw.tf_s * t.total
                   // (wt.tf * st.total_s) AS BIGINT) AS lift_ppm
            FROM sw
            JOIN wt ON sw.w = wt.w
            JOIN st ON sw.source = st.source
            CROSS JOIN t
            WHERE sw.tf_s >= 3),
      r AS (SELECT *, row_number() OVER (PARTITION BY source
                       ORDER BY lift_ppm DESC, w) AS rank FROM j)
      SELECT source, w, tf_s, tf, lift_ppm, rank
      FROM r WHERE rank <= 5 ORDER BY source, rank"""),
    (s, dir) => TextAnalysis.distinctiveTerms(
        t(s, dir, "documents"), k = 5, minCount = 3L)
      .orderBy("source", "rank"))

  private val q156 = Q("q156_spearman_by_group",
    "per-event-type Spearman rank correlation of value vs event time " +
      "(does the metric trend over time?) — corrPairs' monotone-" +
      "invariant sibling: row_number ranks tiebroken by the UNIQUE " +
      "event_id (the total-order contract; lineitem's (orderkey, " +
      "linenumber) is NOT unique in this testdata, so identical rows " +
      "would swap ranks between engines), exact DECIMAL(38,0) sum of " +
      "squared rank differences, ONE trailing IEEE division; both rank " +
      "windows share one group exchange",
    Some("""
      WITH r AS (SELECT event_type AS g,
          row_number() OVER (PARTITION BY event_type
            ORDER BY value, event_id) AS rx,
          row_number() OVER (PARTITION BY event_type
            ORDER BY ts, event_id) AS ry
        FROM events)
      SELECT g, count(*) AS n,
             1.0 - CAST(6 * sum((rx - ry) * (rx - ry)) AS DOUBLE)
               / CAST(CAST(count(*) AS HUGEINT)
                      * (CAST(count(*) AS HUGEINT) * count(*) - 1)
                      AS DOUBLE) AS rho
      FROM r GROUP BY g ORDER BY g"""),
    (s, dir) => Profile.spearmanByGroup(
        t(s, dir, "events").withColumn("g", col("event_type")),
        "g", "value", "ts", Seq("event_id"))
      .orderBy("g"))

  private val q158 = Q("q158_exact_stratified_split",
    "EXACT-count stratified holdout: per source, exactly floor(n/10) " +
      "docs (hash-ordered, salted, id-tiebroken) — where the per-row " +
      "hash split's realized fraction wanders on small strata, this " +
      "pins the per-stratum COUNT; one group window, row-local filter",
    Some("""
      WITH h AS (SELECT source, doc_id,
              CAST('0x' || substr(sha256('strat:' || CAST(doc_id AS VARCHAR)),
                   1, 15) AS BIGINT) AS hh
              FROM documents),
      r AS (SELECT source, doc_id,
              row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn,
              count(*) OVER (PARTITION BY source) AS n
            FROM h)
      SELECT source, doc_id,
             CASE WHEN rn <= n * 1 // 10 THEN 'holdout' ELSE 'train' END AS split
      FROM r ORDER BY doc_id"""),
    (s, dir) => Sampling.exactStratifiedSplit(
        t(s, dir, "documents").select("source", "doc_id"),
        "source", "doc_id", num = 1, den = 10)
      .orderBy("doc_id"))

  private val q159 = Q("q159_mutual_knn",
    "mutual-kNN pair mining (vec_id < 100, k=5): pairs where EACH vector " +
      "is in the other's cosine top-5 (self excluded via top-6 + " +
      "re-rank) — the reciprocity filter that turns directed kNN lists " +
      "into the high-precision edge set semantic clustering builds on; " +
      "exact scaled-integer dots, mutual join over the (n*k)-sized lists",
    Some("""
      WITH el AS (SELECT vec_id, unnest(embedding) AS v,
                  unnest(generate_series(1, len(embedding))) AS i
                  FROM embeddings WHERE vec_id < 100),
      dots AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(SUM(CAST(floor(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS dot_s
               FROM el q JOIN el c ON q.i = c.i AND q.vec_id <> c.vec_id
               GROUP BY 1, 2),
      nrm AS (SELECT vec_id,
              CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS n2s
              FROM el GROUP BY 1),
      cosv AS (SELECT query_id, neighbor_id,
               CAST(d.dot_s AS DOUBLE) / (sqrt(CAST(nq.n2s AS DOUBLE)) * sqrt(CAST(nc.n2s AS DOUBLE))) AS cosine
               FROM dots d JOIN nrm nq ON d.query_id = nq.vec_id
                           JOIN nrm nc ON d.neighbor_id = nc.vec_id),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rank FROM cosv),
      tk AS (SELECT * FROM rk WHERE rank <= 5)
      SELECT x.query_id AS a, x.neighbor_id AS b, x.cosine
      FROM tk x JOIN tk y ON x.query_id = y.neighbor_id
                         AND x.neighbor_id = y.query_id
      WHERE x.query_id < x.neighbor_id
      ORDER BY a, b"""),
    (s, dir) => Similarity.mutualTopK(
        t(s, dir, "embeddings").filter(col("vec_id") < 100),
        "vec_id", "embedding", k = 5)
      .orderBy("a", "b"))

  private val q160 = Q("q160_runlength_collapse",
    "run-length collapse of per-user event streams: consecutive " +
      "same-type events fold to one row (type, run_seq, opening " +
      "event_id, length) — the event-compression / only-keep-changes " +
      "primitive; lag compare + running-sum numbering + per-run " +
      "aggregate all on ONE user-keyed shuffle",
    Some("""
      WITH s AS (SELECT user_id, ts, event_id, event_type,
              CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id)
                        IS NOT DISTINCT FROM event_type
                   THEN 0 ELSE 1 END AS chg
              FROM events),
      r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS run_seq FROM s)
      SELECT user_id, event_type, CAST(run_seq AS BIGINT) AS run_seq,
             max(CASE WHEN chg = 1 THEN event_id END) AS first_tie,
             count(*) AS n_in_run
      FROM r GROUP BY user_id, event_type, run_seq
      ORDER BY user_id, run_seq"""),
    (s, dir) => EventAnalytics.runLength(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type")
      .orderBy("user_id", "run_seq"))

  private val q161 = Q("q161_weighted_median",
    "per-language exact weighted median doc length, weight = n_chars " +
      "(the length below which half the corpus CHARACTER MASS sits — " +
      "the row median treats a 10-char and 10k-char doc equally); " +
      "all-integer lower-median rule 2*cum >= total, one group window",
    Some("""
      WITH s AS (SELECT lang, CAST(n_chars AS BIGINT) AS v,
                        CAST(n_chars AS BIGINT) AS w, doc_id
                 FROM documents),
      c AS (SELECT *, sum(w) OVER (PARTITION BY lang ORDER BY v, doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(w) OVER (PARTITION BY lang) AS tot FROM s)
      SELECT lang, count(*) AS n, CAST(max(tot) AS BIGINT) AS total_w,
             CAST(min(CASE WHEN cum * 2 >= tot THEN v END) AS BIGINT)
               AS w_median
      FROM c GROUP BY lang ORDER BY lang"""),
    (s, dir) => Profile.weightedMedian(
        t(s, dir, "documents"), "lang", "n_chars", "n_chars", "doc_id")
      .orderBy("lang"))

  private val q162 = Q("q162_minhash_verified_pairs",
    "the canonical two-stage near-dup pipeline: MinHash+LSH candidates " +
      "(q21's banding) -> exact Levenshtein VERIFY (<= 50 edits) — the " +
      "O(len^2) kernel runs ONLY on the bucket-bounded candidate set, " +
      "never all pairs; 25 of 31 sf0.01 candidates survive, pinning " +
      "that banding over-triggers and verification is load-bearing",
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      jx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS j FROM w),
      shs AS (SELECT DISTINCT doc_id, w[j] || ' ' || w[j+1] || ' ' || w[j+2] AS sh FROM jx),
      sh AS (SELECT doc_id,
             CAST('0x' || substr(sha256(sh), 1, 15) AS BIGINT) AS p0,
             CAST('0x' || substr(sha256(sh), 16, 15) AS BIGINT) AS p1,
             CAST('0x' || substr(sha256(sh), 31, 15) AS BIGINT) AS p2,
             CAST('0x' || substr(sha256(sh), 46, 15) AS BIGINT) AS p3
             FROM shs),
      mh AS (SELECT doc_id, h,
             min(xor(
               CASE WHEN h % 4 = 0 THEN p0 WHEN h % 4 = 1 THEN p1
                    WHEN h % 4 = 2 THEN p2 ELSE p3 END,
               (CASE WHEN (h + 1) % 4 = 0 THEN p0 WHEN (h + 1) % 4 = 1 THEN p1
                     WHEN (h + 1) % 4 = 2 THEN p2 ELSE p3 END)
                 >> ((h * 7) % 29))) AS minh
             FROM sh CROSS JOIN generate_series(0, 15) t(h) GROUP BY doc_id, h),
      bands AS (SELECT doc_id, h // 2 AS band,
                string_agg(CAST(minh AS VARCHAR), ',' ORDER BY h) AS band_sig
                FROM mh GROUP BY doc_id, h // 2),
      cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      count(*) AS n_shared_bands
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.band_sig = b.band_sig
                    AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
      SELECT doc_a, doc_b, n_shared_bands,
             levenshtein(ta.text, tb.text) AS edit_dist
      FROM cand JOIN documents ta ON cand.doc_a = ta.doc_id
                JOIN documents tb ON cand.doc_b = tb.doc_id
      WHERE levenshtein(ta.text, tb.text) <= 50
      ORDER BY doc_a, doc_b"""),
    (s, dir) => Dedup.minHashVerifiedPairs(
        t(s, dir, "documents"), "doc_id", "text", maxDistance = 50)
      .orderBy("doc_a", "doc_b"))

  private val q163 = Q("q163_session_cooccurrence",
    "within-session co-occurrence: of all 30-min-gap sessions, how many " +
      "contain a click, a purchase, and BOTH (the unordered sibling of " +
      "the q115 funnel's ordered-within-deadline question); sessionize's " +
      "one key shuffle + per-session flags + one-row roll-up",
    Some("""
      WITH s AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS tms
                 FROM events),
      l AS (SELECT *, CASE WHEN tms - lag(tms) OVER (PARTITION BY user_id
                                ORDER BY tms, event_id) <= 1800000
                           THEN 0 ELSE 1 END AS ns FROM s),
      r AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
                        ORDER BY tms, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid FROM l),
      g AS (SELECT user_id, sid,
              max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ha,
              max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS hb
            FROM r GROUP BY 1, 2)
      SELECT count(*) AS n_sessions, CAST(sum(ha) AS BIGINT) AS n_with_click,
             CAST(sum(hb) AS BIGINT) AS n_with_purchase,
             CAST(sum(ha * hb) AS BIGINT) AS n_with_both
      FROM g"""),
    (s, dir) => EventAnalytics.sessionCooccurrence(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        "click", "purchase", gapMs = 1800000L)
      .select(col("n_sessions"), col("n_with_a").as("n_with_click"),
        col("n_with_b").as("n_with_purchase"), col("n_with_both")))

  private val q164 = Q("q164_simpson_diversity",
    "per-source Simpson concentration in exact ppm (the no-log " +
      "diversity measure — entropy's transcendentals can never " +
      "hash-match engines): D = sum c(c-1) div n(n-1) over token " +
      "counts; high = templated/repetitive source; DECIMAL(38,0) sums " +
      "carry sum(c^2) past int64 at corpus scale",
    Some("""
      WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
                    FROM documents),
      sw AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2)
      SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS vocab,
             CAST((1000000 * sum(c * (c - 1)))
                  // (CAST(sum(c) AS HUGEINT) * (sum(c) - 1)) AS BIGINT)
               AS simpson_ppm
      FROM sw GROUP BY 1 ORDER BY source"""),
    (s, dir) => TextAnalysis.simpsonDiversity(t(s, dir, "documents"))
      .orderBy("source"))

  private val q165 = Q("q165_heaps_curve",
    "vocabulary growth curve (Heaps' law, measured): distinct 3-gram " +
      "shingles among the first k docs for k in {100,250,500} — 'is new " +
      "data still contributing novel n-grams?'; ONE shingle aggregate " +
      "carrying min(first doc), per-k conditional sums in one pass, " +
      "stack-unpivoted",
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      jx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS j
             FROM w),
      sh AS (SELECT doc_id,
               CAST('0x' || substr(sha256(w[j] || ' ' || w[j+1] || ' ' || w[j+2]),
                    1, 15) AS BIGINT) AS sh
             FROM jx),
      fs AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY 1)
      SELECT k, CAST(sum(CASE WHEN first_doc <= k THEN 1 ELSE 0 END) AS BIGINT)
               AS distinct_shingles
      FROM (VALUES (CAST(100 AS BIGINT)), (CAST(250 AS BIGINT)),
                   (CAST(500 AS BIGINT))) ks(k), fs
      GROUP BY k ORDER BY k"""),
    (s, dir) => TextAnalysis.heapsCurve(
        t(s, dir, "documents"), Seq(100L, 250L, 500L))
      .orderBy("k"))

  private val q167 = Q("q167_gap_fill_locf",
    "time-series resampling: per-type daily grid with silent days " +
      "materialized as zero-count filled rows and the last OBSERVED " +
      "count carried forward (null before first observation) — the " +
      "gap-fill step before any window/feature model; all integers, " +
      "grid bounded by |keys|x|span days| not event volume",
    Some("""
      WITH c AS (SELECT event_type, epoch_ns(ts) // 1000000 // 86400000 AS day,
                   count(*) AS n_events
                 FROM events GROUP BY 1, 2),
      spans AS (SELECT event_type, min(day) AS d0 FROM c GROUP BY 1),
      fend AS (SELECT max(day) AS d1 FROM c),
      grid AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
               FROM spans, fend),
      j AS (SELECT g.event_type, g.day,
              coalesce(c.n_events, 0) AS n_events,
              c.n_events IS NULL AS filled
            FROM grid g LEFT JOIN c
              ON c.event_type = g.event_type AND c.day = g.day)
      SELECT event_type, day, n_events, filled,
             last_value(CASE WHEN NOT filled THEN n_events END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS locf_n
      FROM j ORDER BY event_type, day"""),
    (s, dir) => {
      val counts = graft.ops.Anomaly.dailyCounts(
        t(s, dir, "events").select("event_type", "ts"),
        Seq("event_type"), unix_millis(col("ts")))
      graft.ops.Anomaly.gapFillLocf(counts, Seq("event_type"), "day")
        .orderBy("event_type", "day")
    })

  private val q168 = Q("q168_benford_digits",
    "profiling smoke test: first-significant-digit census of order totals " +
      "vs Benford's law — digit from the DECIMAL STRING of integer cents " +
      "(no float log10), expectation ppm pinned as literals, observed " +
      "share by exact integer floor division; one map-side-combined scan",
    Some("""
      WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0)
                     AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
                 FROM orders
                 WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) > 0),
      g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
      t AS (SELECT sum(n) AS total FROM g),
      law(digit, benford_ppm) AS (VALUES
        (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
        (6, 66947), (7, 57992), (8, 51153), (9, 45757))
      SELECT CAST(g.digit AS BIGINT) AS digit, g.n,
             CAST(1000000 * g.n // t.total AS BIGINT) AS observed_ppm,
             CAST(law.benford_ppm AS BIGINT) AS benford_ppm,
             CAST(abs(1000000 * g.n // t.total - law.benford_ppm)
                  AS BIGINT) AS abs_dev_ppm
      FROM g CROSS JOIN t JOIN law ON law.digit = g.digit
      ORDER BY g.digit"""),
    (s, dir) => graft.ops.Profile.benfordDigits(
        t(s, dir, "orders"), col("o_totalprice"))
      .orderBy("digit"))

  private val q169 = Q("q169_ks_two_sample",
    "distribution-shift gate: exact two-sample Kolmogorov-Smirnov " +
      "distance between doc-length distributions of single-digit vs " +
      "double-digit sources — D as an exact integer cross-multiplied " +
      "numerator (max over the distinct-value ECDF), one floor division " +
      "to ppm; shuffle bounded by distinct values, not rows",
    Some("""
      WITH x AS (SELECT n_chars AS v,
                   CASE WHEN length(source) = 4 THEN 1 ELSE 0 END AS a
                 FROM documents),
      g AS (SELECT v, sum(a) AS ca, sum(1 - a) AS cb FROM x GROUP BY 1),
      t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM g),
      c AS (SELECT v,
              sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cuma,
              sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumb
            FROM g)
      SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
             CAST(max(abs(cuma * t.nb - cumb * t.na)) AS BIGINT) AS ks_num,
             CAST(1000000 * max(abs(cuma * t.nb - cumb * t.na))
                  // (t.na * t.nb) AS BIGINT) AS ks_ppm
      FROM c, t GROUP BY t.na, t.nb"""),
    (s, dir) => graft.ops.Profile.ksTwoSample(
      t(s, dir, "documents"), col("n_chars"), length(col("source")) === 4))

  private val q170 = Q("q170_autocorr_daily",
    "per-type lag-1/2/3 autocorrelation SUFFICIENT STATISTICS of the " +
      "densified daily count series — n-scaled residuals keep everything " +
      "in exact integers; (num, den) emitted unrounded because the signed " +
      "numerator would hit floor-vs-truncate division drift between " +
      "engines; windows partition by key (parallel), nothing rescans " +
      "raw events",
    Some("""
      WITH c AS (SELECT event_type, epoch_ns(ts) // 1000000 // 86400000 AS day,
                   count(*) AS n FROM events GROUP BY 1, 2),
      spans AS (SELECT event_type, min(day) AS d0 FROM c GROUP BY 1),
      fend AS (SELECT max(day) AS d1 FROM c),
      grid AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
               FROM spans, fend),
      g AS (SELECT grid.event_type, grid.day, coalesce(c.n, 0) AS n
            FROM grid LEFT JOIN c USING (event_type, day)),
      st AS (SELECT event_type, count(*) AS nn, sum(n) AS s
             FROM g GROUP BY 1),
      r AS (SELECT g.event_type, g.day, st.nn * g.n - st.s AS r
            FROM g JOIN st USING (event_type)),
      l AS (SELECT event_type, day, r,
              lead(r, 1) OVER w AS r1,
              lead(r, 2) OVER w AS r2,
              lead(r, 3) OVER w AS r3
            FROM r WINDOW w AS (PARTITION BY event_type ORDER BY day))
      SELECT event_type, CAST(lag AS BIGINT) AS lag, count(*) AS n_days,
             CAST(coalesce(sum(r * CASE lag WHEN 1 THEN r1 WHEN 2 THEN r2
                                   ELSE r3 END), 0) AS BIGINT) AS num,
             CAST(sum(r * r) AS BIGINT) AS den
      FROM l CROSS JOIN (VALUES (1), (2), (3)) ls(lag)
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, dir) => {
      val counts = graft.ops.Anomaly.dailyCounts(
        t(s, dir, "events").select("event_type", "ts"),
        Seq("event_type"), unix_millis(col("ts")))
        .withColumnRenamed("n_events", "n")
      val grid = graft.ops.Anomaly.densifyDays(
        counts.withColumnRenamed("n", "n_events"), Seq("event_type"), "day")
      graft.ops.Anomaly.autocorrStats(grid, Seq("event_type"), "day",
        "n_events", Seq(1, 2, 3)).orderBy("event_type", "lag")
    })

  private val q171 = Q("q171_cusum_shift",
    "per-type one-sided CUSUM level-shift scan over the densified daily " +
      "series — the max(0, C+dev) recurrence rewritten as running-sum " +
      "minus running-min (two plain windows, no recursion); exact " +
      "n-scaled integers, first peak day deterministic under ties",
    Some("""
      WITH c AS (SELECT event_type, epoch_ns(ts) // 1000000 // 86400000 AS day,
                   count(*) AS n FROM events GROUP BY 1, 2),
      spans AS (SELECT event_type, min(day) AS d0 FROM c GROUP BY 1),
      fend AS (SELECT max(day) AS d1 FROM c),
      grid AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day
               FROM spans, fend),
      g AS (SELECT grid.event_type, grid.day, coalesce(c.n, 0) AS n
            FROM grid LEFT JOIN c USING (event_type, day)),
      st AS (SELECT event_type, count(*) AS nn, sum(n) AS s
             FROM g GROUP BY 1),
      p AS (SELECT g.event_type, g.day, st.nn,
              sum(st.nn * g.n - st.s)
                OVER (PARTITION BY g.event_type ORDER BY g.day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
            FROM g JOIN st USING (event_type)),
      cc AS (SELECT event_type, day, nn,
               p - least(0, min(p) OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS c
             FROM p),
      cm AS (SELECT *, max(c) OVER (PARTITION BY event_type) AS cmax FROM cc)
      SELECT event_type, CAST(max(nn) AS BIGINT) AS n_days,
             CAST(max(c) AS BIGINT) AS max_cusum,
             min(CASE WHEN c = cmax THEN day END) AS peak_day
      FROM cm GROUP BY 1 ORDER BY 1"""),
    (s, dir) => {
      val counts = graft.ops.Anomaly.dailyCounts(
        t(s, dir, "events").select("event_type", "ts"),
        Seq("event_type"), unix_millis(col("ts")))
      val grid = graft.ops.Anomaly.densifyDays(
        counts, Seq("event_type"), "day")
      graft.ops.Anomaly.cusumShift(grid, Seq("event_type"), "day",
        "n_events").orderBy("event_type")
    })

  private val q172 = Q("q172_zipf_octaves",
    "corpus shape fingerprint: token frequencies bucketed by rank OCTAVE " +
      "per source (octave = length(bin(rank))-1 — integer-exact, never " +
      "floor(log2) whose one-ulp-low libm misclassifies powers of two); " +
      "Zipfian text yields near-constant per-octave mass, templated " +
      "sources go front-loaded; the rank window is vocabulary-bounded",
    Some("""
      WITH tf AS (SELECT source, tok, count(*) AS freq
                  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                        FROM documents)
                  GROUP BY 1, 2),
      rk AS (SELECT source, freq,
               row_number() OVER (PARTITION BY source
                                  ORDER BY freq DESC, tok) AS rank
             FROM tf)
      SELECT source, CAST(length(bin(rank)) - 1 AS BIGINT) AS octave,
             count(*) AS n_tokens, CAST(sum(freq) AS BIGINT) AS total_freq
      FROM rk GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, dir) => TextAnalysis.zipfOctaves(t(s, dir, "documents"))
      .orderBy("source", "octave"))

  private val q173 = Q("q173_jw_blocked_pairs",
    "record linkage on noisy names: Jaro-Winkler similarity >= 0.9 over " +
      "pairs blocked by first name token — the JW scalar is a native " +
      "codegen expression matching DuckDB's built-in bit-for-bit (fixed " +
      "double tree over exact small integers; empty-vs-empty pinned to 0 " +
      "like the oracle); pair cost is quadratic in BLOCK size only",
    Some("""
      WITH p AS (SELECT p_partkey AS id, p_name AS name,
                   string_split(p_name, ' ')[1] AS blk FROM part),
      cand AS (SELECT a.id AS id_a, b.id AS id_b,
                 CAST(round(jaro_winkler_similarity(a.name, b.name)
                   * 1000000, 0) AS BIGINT) AS jw_ppm
               FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id)
      SELECT id_a, id_b, jw_ppm FROM cand
      WHERE jw_ppm >= 900000 ORDER BY id_a, id_b"""),
    (s, dir) => graft.ops.Fuzzy.jaroWinklerPairs(
        t(s, dir, "part"), "p_partkey", "p_name",
        split(col("p_name"), " ").getItem(0), minSimPpm = 900000L)
      .orderBy("id_a", "id_b"))

  private val q175 = Q("q175_interval_gaps",
    "outage census — the complement of q119's islands: per-customer " +
      "silent stretches between maximal 30-day-coverage islands (gap " +
      "from island end to next island start, strictly positive by " +
      "maximality; single-island keys emit nothing); one lead() over " +
      "the island relation, riding coalesce's single key exchange",
    Some("""
      WITH iv AS (SELECT o_custkey, o_orderdate AS s,
                         o_orderdate + INTERVAL 30 DAY AS e FROM orders),
      flg AS (SELECT o_custkey, s, e,
              CASE WHEN s <= MAX(e) OVER (PARTITION BY o_custkey
                   ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   THEN 0 ELSE 1 END AS new_island
              FROM iv),
      isl AS (SELECT o_custkey, s, e,
              SUM(new_island) OVER (PARTITION BY o_custkey ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS island_id
              FROM flg),
      g AS (SELECT o_custkey, island_id,
              MIN(s) AS island_start, MAX(e) AS island_end
            FROM isl GROUP BY 1, 2),
      nx AS (SELECT o_custkey, island_id, island_end,
               lead(island_start, 1) OVER (PARTITION BY o_custkey
                 ORDER BY island_id) AS next_start
             FROM g)
      SELECT o_custkey, CAST(island_id AS BIGINT) AS gap_seq,
             strftime(island_end, '%Y-%m-%d') AS gap_start,
             strftime(next_start, '%Y-%m-%d') AS gap_end,
             CAST(date_diff('day', island_end, next_start) AS BIGINT)
               AS gap_days
      FROM nx WHERE next_start IS NOT NULL
      ORDER BY o_custkey, gap_seq"""),
    (s, dir) => {
      val o = t(s, dir, "orders")
      Intervals.gaps(o, col("o_custkey"), col("o_orderdate"),
          col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .select(col("key").as("o_custkey"), col("gap_seq"),
          date_format(col("gap_start"), "yyyy-MM-dd").as("gap_start"),
          date_format(col("gap_end"), "yyyy-MM-dd").as("gap_end"),
          datediff(col("gap_end").cast("date"),
            col("gap_start").cast("date")).cast("long").as("gap_days"))
        .orderBy("o_custkey", "gap_seq")
    })

  private val q176 = Q("q176_time_weighted_avg",
    "per-type TIME-weighted mean of the irregularly-sampled value " +
      "stream (step-function integral / span — the plain mean " +
      "over-weights bursts): cents via the q150 DECIMAL(18,2) idiom, " +
      "epoch-micros deltas, DECIMAL(38,0) integral, ONE key exchange " +
      "shared by the lead window and the aggregate",
    Some("""
      WITH e AS (SELECT event_type,
                   epoch_us(ts) AS us, event_id,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
                 FROM events),
      d AS (SELECT event_type, us, x,
              lead(us, 1) OVER (PARTITION BY event_type
                ORDER BY us, event_id) - us AS dt
            FROM e)
      SELECT event_type, count(*) AS n_events,
             max(us) - min(us) AS span_us,
             CASE WHEN max(us) = min(us) THEN min(x)
                  ELSE CAST(CAST(sum(CAST(x AS DECIMAL(38,0)) * dt)
                       AS HUGEINT) -- decimal // returns DOUBLE in DuckDB
                       // (max(us) - min(us)) AS BIGINT) END AS twa_cents
      FROM d GROUP BY 1 ORDER BY 1"""),
    (s, dir) => graft.ops.EventAnalytics.timeWeightedAvg(
        t(s, dir, "events"), "event_type", "ts", "event_id", "value")
      .orderBy("event_type"))

  private val q177 = Q("q177_group_checksum",
    "replication/migration audit: order-insensitive per-type content " +
      "checksum (n_rows, bit_xor, wrapping add of the 60-bit sha row " +
      "digest) — matching triples mean byte-identical groups whp, only " +
      "mismatches need q114's row diff; both digests map-side combine, " +
      "one scan",
    Some("""
      WITH h AS (SELECT event_type,
                   CAST('0x' || substr(sha256(
                     CAST(event_id AS VARCHAR) || '|' || event_type || '|' ||
                     CAST(epoch_us(ts) AS VARCHAR)), 1, 15) AS BIGINT) AS hv
                 FROM events)
      SELECT event_type, count(*) AS n_rows,
             bit_xor(hv) AS xor_sum,
             CAST(sum(CAST(hv AS HUGEINT)) % 9223372036854775808
               AS BIGINT) AS add_sum
      FROM h GROUP BY 1 ORDER BY 1"""),
    (s, dir) => graft.ops.Profile.groupChecksum(
        graft.Tables.table(s, dir, "events"), "event_type",
        concat_ws("|", col("event_id").cast("string"), col("event_type"),
          unix_micros(col("ts")).cast("string")))
      .orderBy("event_type"))

  private val q178 = Q("q178_prefix_jaccard_join",
    "PPJoin-style prefix-filtered EXACT Jaccard join at tau = 1/2, " +
      "corpus-wide (no blocking column, no LSH recall loss): rare-first " +
      "canonical order, prefix length n - ceil(n/2) + 1, size-compat " +
      "prune, candidate-bounded verify — the oracle brute-forces every " +
      "shared-shingle pair and must agree pair-for-pair",
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      jx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS j FROM w),
      sh AS (SELECT DISTINCT doc_id,
             CAST('0x' || substr(sha256(w[j] || ' ' || w[j+1] || ' ' || w[j+2]), 1, 15) AS BIGINT) AS sh
             FROM jx),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT doc_a, doc_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
             (1000000 * n_inter) // (sa.n_sh + sb.n_sh - n_inter)
               AS jaccard_ppm
      FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                 JOIN sizes sb ON doc_b = sb.doc_id
      WHERE 2 * n_inter >= sa.n_sh + sb.n_sh - n_inter
      ORDER BY doc_a, doc_b"""),
    (s, dir) => Dedup.prefixJaccardPairs(t(s, dir, "documents"), "doc_id",
      "text", tauNum = 1, tauDen = 2)
      .orderBy("doc_a", "doc_b"))

  private val q179 = Q("q179_pmi_collocations",
    "PMI collocations, the ROW-LOCAL scale twin of q120's self-join " +
      "formulation (q51/q23 twin discipline): same exact " +
      "cross-multiplied lift ppm, but pairs enumerate inside each " +
      "doc's sorted kept-word ARRAY (vocabOverlap slice idiom — no " +
      "doc-keyed self-join shuffle) and the bound is an absolute df " +
      "cap (drop stopwords before any pair forms) rather than q120's " +
      "top-df vocabulary; emits the full capped relation, not top-50",
    Some("""
      WITH dw AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents),
      cw AS (SELECT w, count(*) AS c_w FROM dw GROUP BY 1),
      kept AS (SELECT doc_id, dw.w, c_w FROM dw JOIN cw USING (w)
               WHERE c_w <= 395),
      p AS (SELECT a.w AS w_a, b.w AS w_b, a.c_w AS c_a, b.c_w AS c_b,
                   count(*) AS c_ab
            FROM kept a JOIN kept b
              ON a.doc_id = b.doc_id AND a.w < b.w
            GROUP BY 1, 2, 3, 4),
      n AS (SELECT count(*) AS n_docs FROM documents)
      SELECT w_a, w_b, c_ab, c_a, c_b,
             (1000000 * c_ab * n_docs) // (c_a * c_b) AS lift_ppm
      FROM p, n WHERE c_ab >= 3 ORDER BY w_a, w_b"""),
    (s, dir) => TextAnalysis.pmiPairs(t(s, dir, "documents"),
      maxDf = 395L, minPair = 3L)
      .orderBy("w_a", "w_b"))

  private val q180 = Q("q180_wav_pcm_features",
    "REAL audio decode (q122's discipline, audio modality): 16-bit PCM " +
      "WAVs synthesized per doc_id, RIFF-parsed back, and the sample-" +
      "domain features — peak, integer mean square, frame-silence ppm — " +
      "computed from the decoded samples; the oracle predicts every " +
      "sample arithmetically",
    Some("""
      WITH par AS (SELECT doc_id, 400 + (doc_id % 5) * 100 AS n,
                          8000 + (doc_id % 3) * 4000 AS rate
                   FROM documents),
      ix AS (SELECT doc_id, n, rate,
                    unnest(generate_series(0, n - 1)) AS i
             FROM par),
      s AS (SELECT doc_id, n, rate, i,
              CASE WHEN (i // 200) % 3 = 2 THEN 0
                   ELSE ((31 * i * i + 7 * i + doc_id) % 65536) - 32768
              END AS v
            FROM ix),
      fr AS (SELECT doc_id, i // 200 AS f, max(abs(v)) AS fpeak
             FROM s GROUP BY 1, 2),
      sil AS (SELECT doc_id, count(*) AS n_frames,
                     sum(CASE WHEN fpeak < 1000 THEN 1 ELSE 0 END)
                       AS n_silent
              FROM fr GROUP BY 1),
      ag AS (SELECT doc_id, max(n) AS n, max(rate) AS rate,
                    max(abs(v)) AS peak, sum(v * v) AS ssq
             FROM s GROUP BY 1)
      SELECT ag.doc_id, CAST(rate AS BIGINT) AS sample_rate, n AS n_samples,
             peak AS peak_abs, CAST(ssq // n AS BIGINT) AS rms_sq,
             CAST(1000000 * n_silent // n_frames AS BIGINT) AS silence_ppm
      FROM ag JOIN sil USING (doc_id)
      ORDER BY doc_id"""),
    (s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents").select("doc_id").repartition(Partitions.base(s)).as[Long]
        .mapPartitions(_.map { id =>
          val n = (400 + (id % 5) * 100).toInt
          val rate = (8000 + (id % 3) * 4000).toInt
          val samples = Array.tabulate(n) { i =>
            if ((i / 200) % 3 == 2) 0.toShort
            else (((31L * i * i + 7L * i + id) % 65536L) - 32768L).toShort
          }
          (id, Multimodal.buildWav(rate, samples))
        }).toDF("doc_id", "payload")
      Multimodal.wavFeatures(s, payloads).toDF()
        .orderBy("doc_id")
    })

  private val q181 = Q("q181_incremental_agg",
    "incremental view maintenance for the (count, sum) aggregate: a " +
      "standing per-type aggregate over the even-id events absorbs a " +
      "change batch (odd-id inserts + every-10th-id deletes) via one " +
      "delta-sized aggregate + one key join — NEVER rescanning base " +
      "rows; the oracle recomputes from scratch and must match " +
      "bit-for-bit (exact cents)",
    Some("""
      SELECT event_type, count(*) AS n_rows,
             CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS BIGINT) AS sum_cents
      FROM events
      WHERE event_id % 2 = 1 OR event_id % 10 <> 0
      GROUP BY 1 ORDER BY 1"""),
    (s, dir) => {
      val ev = graft.Tables.table(s, dir, "events")
      val base = Diff.aggregateCents(
        ev.filter(col("event_id") % 2 === 0), Seq("event_type"), "value")
      val delta = ev.filter(col("event_id") % 2 === 1)
        .withColumn("op", lit("I"))
        .unionByName(ev.filter(col("event_id") % 10 === 0)
          .withColumn("op", lit("D")))
      Diff.incrementalAgg(base, delta, Seq("event_type"), "value")
        .orderBy("event_type")
    })

  private val q182 = Q("q182_bm25_topk",
    "BM25 keyword retrieval (exact-rational k1=6/5 b=3/4 variant — " +
      "every term score is ONE integer floor division both engines " +
      "compute identically; see TextAnalysis.bm25TopK for the int64 " +
      "audit): three literal queries, top-5 docs each; the lexical " +
      "complement the ANN gates (q25/q26/q36) fuse with in a RAG stack",
    Some("""
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM documents),
      tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
      len AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
      dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      tot AS (SELECT count(*) AS n_docs, CAST(sum(len) AS BIGINT)
                AS total_len FROM len),
      q(query_id, w) AS (VALUES (1, 'join'), (1, 'hash'), (2, 'vector'),
                                (2, 'stream'), (2, 'slow'), (3, 'customer')),
      m AS (SELECT q.query_id, tf.doc_id, tf.tf, len.len, dfq.df,
                   tot.n_docs, tot.total_len,
              (1000000 * (2 * (tot.n_docs - dfq.df) + 1)) // (2 * dfq.df + 1)
                AS idf_ppm
            FROM tf JOIN q USING (w) JOIN len USING (doc_id)
                 JOIN dfq USING (w) CROSS JOIN tot),
      ts AS (SELECT query_id, doc_id,
               CAST((idf_ppm * 44 * tf * total_len) //
                 (20 * tf * total_len + 6 * total_len + 18 * len * n_docs)
                 AS BIGINT) AS term_score
             FROM m),
      sc AS (SELECT query_id, doc_id,
               CAST(sum(term_score) AS BIGINT) AS score_ppm,
               count(*) AS n_terms_hit
             FROM ts GROUP BY 1, 2),
      rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY score_ppm DESC, doc_id) AS rank FROM sc)
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score_ppm,
             n_terms_hit, CAST(rank AS BIGINT) AS rank
      FROM rk WHERE rank <= 5 ORDER BY query_id, rank"""),
    (s, dir) => {
      import s.implicits._
      val queries = Seq((1L, "join"), (1L, "hash"), (2L, "vector"),
        (2L, "stream"), (2L, "slow"), (3L, "customer"))
        .toDF("query_id", "term")
      TextAnalysis.bm25TopK(t(s, dir, "documents"), queries, k = 5)
        .orderBy("query_id", "rank")
    })

  private val q183 = Q("q183_sorted_neighborhood_pairs",
    "sorted-neighborhood record linkage (SNM): rank by name, compare " +
      "each record only to its 4 successors — O(n·window) candidates by " +
      "construction (skew-proof vs a hot blocking key); rank is " +
      "range-partition + local row_number + broadcast offsets, never a " +
      "single-partition global window; JW >= 0.9 verify",
    Some("""
      WITH p AS (SELECT p_partkey AS id, p_name AS name,
                   row_number() OVER (ORDER BY p_name, p_partkey) AS rn
                 FROM part)
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(round(jaro_winkler_similarity(a.name, b.name) * 1000000,
               0) AS BIGINT) AS jw_ppm
      FROM p a JOIN p b ON b.rn > a.rn AND b.rn <= a.rn + 4
      WHERE CAST(round(jaro_winkler_similarity(a.name, b.name) * 1000000,
            0) AS BIGINT) >= 900000
      ORDER BY id_a, id_b"""),
    (s, dir) => graft.ops.Fuzzy.sortedNeighborhoodPairs(
        t(s, dir, "part"), "p_partkey", "p_name",
        sortKey = col("p_name"), window = 5, minSimPpm = 900000L)
      .orderBy("id_a", "id_b"))

  private val q184 = Q("q184_join_cardinality_predict",
    "exact equi-join cardinality prediction from per-key histograms — " +
      "two count aggregates + one histogram join predict |lineitem ⋈ " +
      "orders| per key WITHOUT executing the join (the shuffle-sizing / " +
      "blow-up-key pre-flight); the oracle runs the REAL join and " +
      "counts: prediction ≡ execution",
    Some("""
      WITH l AS (SELECT l_orderkey AS key, count(*) AS n_left
                 FROM lineitem GROUP BY 1),
      o AS (SELECT o_orderkey AS key, count(*) AS n_right
            FROM orders GROUP BY 1),
      j AS (SELECT l_orderkey AS key, count(*) AS n_pairs
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1)
      SELECT l.key, n_left, n_right, n_pairs
      FROM l JOIN o USING (key) JOIN j USING (key)
      ORDER BY key"""),
    (s, dir) => graft.ops.Profile.joinCardinality(
        t(s, dir, "lineitem"), t(s, dir, "orders"),
        "l_orderkey", "o_orderkey")
      .orderBy("key"))

  private val q185 = Q("q185_merkle_range_digest",
    "hierarchical Merkle range digest over event_id buckets (width 500, " +
      "fanout 8, 3 levels) — q177's checksum tells WHETHER replicas " +
      "diverge, this tells WHERE: reconciliation descends only into " +
      "mismatching buckets (anti-entropy walk); raw rows are scanned " +
      "once, higher levels re-aggregate the leaf relation",
    Some("""
      WITH h AS (SELECT event_id // 500 AS bucket,
                   CAST('0x' || substr(sha256(
                     CAST(event_id AS VARCHAR) || '|' || event_type || '|' ||
                     CAST(epoch_us(ts) AS VARCHAR)), 1, 15) AS BIGINT) AS hv
                 FROM events),
      l0 AS (SELECT bucket, count(*) AS n_rows, bit_xor(hv) AS xor_sum,
               CAST(sum(CAST(hv AS HUGEINT)) % 9223372036854775808
                 AS BIGINT) AS add_sum
             FROM h GROUP BY 1),
      l1 AS (SELECT bucket // 8 AS bucket,
               CAST(sum(n_rows) AS BIGINT) AS n_rows,
               bit_xor(xor_sum) AS xor_sum,
               CAST(sum(CAST(add_sum AS HUGEINT)) % 9223372036854775808
                 AS BIGINT) AS add_sum
             FROM l0 GROUP BY 1),
      l2 AS (SELECT bucket // 8 AS bucket,
               CAST(sum(n_rows) AS BIGINT) AS n_rows,
               bit_xor(xor_sum) AS xor_sum,
               CAST(sum(CAST(add_sum AS HUGEINT)) % 9223372036854775808
                 AS BIGINT) AS add_sum
             FROM l1 GROUP BY 1)
      SELECT CAST(0 AS BIGINT) AS level, bucket, n_rows, xor_sum, add_sum
        FROM l0
      UNION ALL SELECT 1, bucket, n_rows, xor_sum, add_sum FROM l1
      UNION ALL SELECT 2, bucket, n_rows, xor_sum, add_sum FROM l2
      ORDER BY level, bucket"""),
    (s, dir) => graft.ops.Profile.merkleRanges(
        graft.Tables.table(s, dir, "events"), "event_id",
        concat_ws("|", col("event_id").cast("string"), col("event_type"),
          unix_micros(col("ts")).cast("string")),
        bucketWidth = 500L, fanout = 8, levels = 3)
      .orderBy("level", "bucket"))

  private val q186 = Q("q186_asof_forward_horizon",
    "FORWARD as-of join with a 1-hour lookahead horizon: each query " +
      "event matched to the EARLIEST following state event of the same " +
      "user (ties → smallest event_id), no-match when the nearest " +
      "following sits beyond the horizon — q60's machinery with the " +
      "sort reversed (AsOf.join direction=forward, maxDelta), same " +
      "one-union-one-window cost; the next-scheduled-event lookup",
    Some("""
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS tms,
                 value FROM events),
      l AS (SELECT user_id, event_id AS q_id, tms AS q_tms FROM e
            WHERE event_id % 7 = 0),
      r AS (SELECT user_id, event_id, tms, value FROM e
            WHERE event_id % 7 <> 0),
      cand AS (SELECT l.user_id, l.q_id, l.q_tms, r.tms AS asof_tms,
               r.event_id AS asof_event_id, r.value AS asof_value,
               ROW_NUMBER() OVER (PARTITION BY l.q_id
                 ORDER BY r.tms ASC, r.event_id ASC) AS rn
               FROM l JOIN r ON l.user_id = r.user_id AND r.tms >= l.q_tms
                            AND r.tms <= l.q_tms + 3600000)
      SELECT user_id, q_id, q_tms, asof_tms, asof_event_id, asof_value
      FROM cand WHERE rn = 1
      UNION ALL
      SELECT user_id, q_id, q_tms, NULL, NULL, NULL FROM l
      WHERE NOT EXISTS (SELECT 1 FROM r
                        WHERE r.user_id = l.user_id AND r.tms >= l.q_tms
                          AND r.tms <= l.q_tms + 3600000)
      ORDER BY q_id"""),
    (s, dir) => {
      val e = graft.Tables.table(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("tms"), col("value"))
      val l = e.filter(pmod(col("event_id"), lit(7)) === 0)
        .select(col("user_id"), col("event_id").as("q_id"),
          col("tms").as("q_tms"))
      val r = e.filter(pmod(col("event_id"), lit(7)) =!= 0)
      graft.ops.AsOf.join(l, r, Seq("user_id"),
        leftTs = "q_tms", rightTs = "tms", tiebreak = "event_id",
        payload = Seq("value"), direction = "forward",
        maxDelta = Some(lit(3600000L)))
        .orderBy("q_id")
    })

  private val q187 = Q("q187_mode_per_group",
    "deterministic per-group mode (imputation / survivorship primitive): " +
      "modal event_type per user with (count DESC, value ASC) tiebreak; " +
      "one aggregate + one rank window on the same key exchange, modal " +
      "share = mode_count / n_rows",
    Some("""
      WITH c AS (SELECT user_id, event_type AS mode, count(*) AS mode_count
                 FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
      r AS (SELECT *,
              CAST(sum(mode_count) OVER (PARTITION BY user_id) AS BIGINT)
                AS n_rows,
              row_number() OVER (PARTITION BY user_id
                ORDER BY mode_count DESC, mode ASC) AS rn
            FROM c)
      SELECT user_id, mode, mode_count, n_rows FROM r WHERE rn = 1
      ORDER BY user_id"""),
    (s, dir) => graft.ops.Profile.modePerGroup(
        t(s, dir, "events"), "user_id", "event_type")
      .orderBy("user_id"))

  private val q188 = Q("q188_theil_sen_trend",
    "Theil-Sen robust trend per event type over the daily-count series: " +
      "lower median of all pairwise slopes as an EXACT integer fraction " +
      "(no floor division — the q170 signed-div discipline); median " +
      "picked by IEEE num/den order with (num, den) tiebreak, identical " +
      "row in both engines; the 29%-breakdown sibling of q121's OLS",
    Some("""
      WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS x,
                   count(*) AS y
                 FROM events GROUP BY 1, 2),
      p AS (SELECT a.event_type, b.y - a.y AS slope_num,
                   b.x - a.x AS slope_den
            FROM d a JOIN d b
              ON a.event_type = b.event_type AND a.x < b.x),
      r AS (SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY CAST(slope_num AS DOUBLE) / slope_den,
                       slope_num, slope_den) AS rn,
              count(*) OVER (PARTITION BY event_type) AS n_pairs
            FROM p)
      SELECT event_type AS key, n_pairs,
             CAST(slope_num AS BIGINT) AS slope_num,
             CAST(slope_den AS BIGINT) AS slope_den
      FROM r WHERE rn = (n_pairs + 1) // 2 ORDER BY key"""),
    (s, dir) => {
      val d = graft.Tables.table(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("x"))
        .agg(count(lit(1)).as("y"))
      graft.ops.Regression.theilSenPerKey(d, col("event_type"),
        col("x"), col("y")).orderBy("key")
    })

  private val q189 = Q("q189_cluster_quality",
    "clustering-quality audit of the q91 k-means codebook: per cluster, " +
      "exact intra-cluster sum of squared distances to the " +
      "centroid-of-members and squared distance to the nearest other " +
      "centroid — unrounded BIGINT parts (q170 discipline); centroids " +
      "broadcast, corpus never shuffles; the did-SemDeDup-actually-" +
      "carve-the-corpus diagnostic",
    Some("""
      WITH el AS (SELECT vec_id, unnest(embedding) AS v,
                  unnest(generate_series(1, len(embedding))) AS i
                  FROM embeddings
                  WHERE len(embedding) = (SELECT max(len(embedding)) FROM embeddings)),
      sc AS (SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT) AS s FROM el),
      seed AS (SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY CAST('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT), vec_id) - 1 AS cluster
               FROM (SELECT DISTINCT vec_id FROM sc)),
      c0 AS (SELECT cluster, i, s AS c FROM seed JOIN sc USING (vec_id) WHERE cluster < 10),
      a1 AS (SELECT sc.vec_id, c0.cluster, CAST(SUM((s - c) * (s - c)) AS BIGINT) AS d2
             FROM sc JOIN c0 USING (i) GROUP BY 1, 2),
      w1 AS (SELECT vec_id, cluster FROM
             (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS r FROM a1)
             WHERE r = 1),
      c1 AS (SELECT w1.cluster, sc.i,
             CAST(floor(CAST(CAST(SUM(sc.s) AS BIGINT) AS DOUBLE) / count(*)) AS BIGINT) AS c
             FROM w1 JOIN sc USING (vec_id) GROUP BY 1, 2),
      a2 AS (SELECT sc.vec_id, c1.cluster, CAST(SUM((s - c) * (s - c)) AS BIGINT) AS dist2
             FROM sc JOIN c1 USING (i) GROUP BY 1, 2),
      w2 AS (SELECT vec_id, cluster FROM
             (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS r FROM a2)
             WHERE r = 1),
      c2 AS (SELECT w2.cluster, sc.i,
             CAST(floor(CAST(CAST(SUM(sc.s) AS BIGINT) AS DOUBLE) / count(*)) AS BIGINT) AS c
             FROM w2 JOIN sc USING (vec_id) GROUP BY 1, 2),
      intra AS (SELECT w2.cluster, count(DISTINCT w2.vec_id) AS n_members,
                  CAST(SUM((s - c) * (s - c)) AS BIGINT) AS intra_sum_sq
                FROM w2 JOIN sc USING (vec_id)
                     JOIN c2 ON c2.cluster = w2.cluster AND c2.i = sc.i
                GROUP BY 1),
      inter AS (SELECT a.cluster,
                  min(d2) AS min_inter_sq
                FROM (SELECT a.cluster, b.cluster AS oc,
                        CAST(SUM((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS d2
                      FROM c2 a JOIN c2 b
                        ON a.i = b.i AND a.cluster <> b.cluster
                      GROUP BY 1, 2) a
                GROUP BY 1)
      SELECT intra.cluster AS cluster, n_members, intra_sum_sq,
             min_inter_sq
      FROM intra LEFT JOIN inter ON intra.cluster = inter.cluster
      ORDER BY intra.cluster"""),
    (s, dir) => {
      val embs = t(s, dir, "embeddings")
      val asg = Similarity.kmeansFit(embs, "vec_id", "embedding",
        k = 10, iters = 2)
      Similarity.clusterQuality(embs, asg, "vec_id", "embedding")
        .orderBy("cluster")
    })

  // q190's deterministic query-slice denominator, pinned ONCE for both
  // sides: the engine passes it explicitly and the oracle SQL
  // interpolates the same value into the same sha256-based hash — the
  // sampled-pair universe agrees by construction at any sf.
  private val Q190SampleDen = 10

  private val q190 = Q("q190_lsh_recall_audit",
    "sketch-recall audit: MinHash(16)x(8 bands of 2) candidates vs the " +
      "EXACT Jaccard >= 1/2 pair set (prefix-filtered join), both " +
      s"restricted to pairs touching a deterministic 1/$Q190SampleDen " +
      "hash-sampled query slice (probe postings/bands join the FULL " +
      "corpus, so no partner is missed) — the measurement that " +
      "justifies a band configuration before 100 TB at audit cost " +
      "~1/sampleDen of the pair-output-bound full audit (sampleDen=1 " +
      "keeps the exact full mode); one row: exact pairs, candidates, " +
      "hits, exact recall ppm",
    Some(s"""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      smp AS (SELECT doc_id FROM documents
              WHERE CAST('0x' || substr(sha256('lshaudit:' ||
                      CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                    % $Q190SampleDen = 0),
      jx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS j FROM w),
      shs AS (SELECT DISTINCT doc_id, w[j] || ' ' || w[j+1] || ' ' || w[j+2] AS sh FROM jx),
      shp AS (SELECT doc_id,
             CAST('0x' || substr(sha256(sh), 1, 15) AS BIGINT) AS p0,
             CAST('0x' || substr(sha256(sh), 16, 15) AS BIGINT) AS p1,
             CAST('0x' || substr(sha256(sh), 31, 15) AS BIGINT) AS p2,
             CAST('0x' || substr(sha256(sh), 46, 15) AS BIGINT) AS p3
             FROM shs),
      sh0 AS (SELECT DISTINCT doc_id, p0 FROM shp),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh0 GROUP BY 1),
      inter AS (SELECT least(a.doc_id, b.doc_id) AS doc_a,
                       greatest(a.doc_id, b.doc_id) AS doc_b,
                       count(DISTINCT a.p0) AS n_inter
                FROM sh0 a JOIN smp ON a.doc_id = smp.doc_id
                     JOIN sh0 b ON a.p0 = b.p0 AND a.doc_id <> b.doc_id
                GROUP BY 1, 2),
      ex AS (SELECT doc_a, doc_b
             FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                        JOIN sizes sb ON doc_b = sb.doc_id
             WHERE 2 * n_inter >= sa.n_sh + sb.n_sh - n_inter),
      mh AS (SELECT doc_id, h,
             min(xor(
               CASE WHEN h % 4 = 0 THEN p0 WHEN h % 4 = 1 THEN p1
                    WHEN h % 4 = 2 THEN p2 ELSE p3 END,
               (CASE WHEN (h + 1) % 4 = 0 THEN p0 WHEN (h + 1) % 4 = 1 THEN p1
                     WHEN (h + 1) % 4 = 2 THEN p2 ELSE p3 END)
                 >> ((h * 7) % 29))) AS minh
             FROM shp CROSS JOIN generate_series(0, 15) t(h) GROUP BY doc_id, h),
      bands AS (SELECT doc_id, h // 2 AS band,
                string_agg(CAST(minh AS VARCHAR), ',' ORDER BY h) AS band_sig
                FROM mh GROUP BY doc_id, h // 2),
      cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                      greatest(a.doc_id, b.doc_id) AS doc_b
               FROM bands a JOIN smp ON a.doc_id = smp.doc_id
                    JOIN bands b
                 ON a.band = b.band AND a.band_sig = b.band_sig
                AND a.doc_id <> b.doc_id),
      hits AS (SELECT * FROM ex WHERE EXISTS
               (SELECT 1 FROM cand WHERE cand.doc_a = ex.doc_a
                  AND cand.doc_b = ex.doc_b))
      SELECT n_exact, n_candidates, n_hit,
             CASE WHEN n_exact > 0 THEN (1000000 * n_hit) // n_exact
             END AS recall_ppm
      FROM (SELECT (SELECT count(*) FROM ex) AS n_exact,
                   (SELECT count(*) FROM cand) AS n_candidates,
                   (SELECT count(*) FROM hits) AS n_hit)"""),
    (s, dir) => Dedup.lshRecallAudit(t(s, dir, "documents"), "doc_id",
      "text", tauNum = 1, tauDen = 2, sampleDen = Q190SampleDen))

  private val q191 = Q("q191_char_ngram_langid",
    "Cavnar-Trenkle character-trigram rank-profile language ID: " +
      "profiles trained from the corpus's own labels (top-20 grams per " +
      "lang), documents scored by the all-integer out-of-place measure, " +
      "argmin language — the TRAINED complement of q28's wordlist " +
      "heuristic; profiles broadcast, vocabulary-sized rank windows",
    Some("""
      WITH g AS (SELECT doc_id, lang, substr(text, CAST(i AS INT), 3) AS gram
                 FROM (SELECT doc_id, lang, text,
                         unnest(generate_series(1, length(text) - 2)) AS i
                       FROM documents WHERE length(text) >= 3)),
      lp AS (SELECT lang, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
      lr AS (SELECT lang, gram,
               row_number() OVER (PARTITION BY lang
                 ORDER BY cnt DESC, gram) AS pr
             FROM lp),
      prof AS (SELECT lang, gram, pr FROM lr WHERE pr <= 20),
      dp AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
      dr AS (SELECT doc_id, gram,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY cnt DESC, gram) AS r
             FROM dp),
      dg AS (SELECT doc_id, gram, r FROM dr WHERE r <= 20),
      langs AS (SELECT DISTINCT lang FROM prof),
      sc AS (SELECT dg.doc_id, langs.lang,
               CAST(sum(coalesce(abs(dg.r - prof.pr), 20)) AS BIGINT)
                 AS oop
             FROM dg CROSS JOIN langs
                  LEFT JOIN prof ON prof.lang = langs.lang
                               AND prof.gram = dg.gram
             GROUP BY 1, 2),
      win AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY oop, lang) AS rn FROM sc)
      SELECT doc_id, lang AS pred_lang, oop AS oop_score
      FROM win WHERE rn = 1 ORDER BY doc_id"""),
    (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.charNgramLangId(docs, docs).orderBy("doc_id")
    })

  private val q192 = Q("q192_bootstrap_draws",
    "weighted sampling WITH replacement (1000 bootstrap draws over " +
      "n_chars weights): deterministic hash targets u_j = " +
      "hash64('bs:'||j) mod total onto weight-interval rows; cumulative " +
      "bounds from range-partition + offset cumsum (no single-partition " +
      "window), draw->row lookup is an EQUI-join on a bin index — " +
      "O(nDraws + rows), no inequality join at scale (the oracle, " +
      "corpus-small, allows itself one)",
    Some("""
      WITH w AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS wt
                 FROM documents),
      c AS (SELECT doc_id, wt,
              CAST(sum(wt) OVER (ORDER BY doc_id) AS BIGINT) AS hi
            FROM w),
      t AS (SELECT CAST(sum(wt) AS BIGINT) AS total FROM w),
      d AS (SELECT j AS draw_id,
              CAST('0x' || substr(sha256('bs:' || CAST(j AS VARCHAR)),
                1, 15) AS BIGINT) % total AS u
            FROM generate_series(0, 999) g(j) CROSS JOIN t)
      SELECT draw_id, doc_id FROM d JOIN c ON u >= hi - wt AND u < hi
      ORDER BY draw_id"""),
    (s, dir) => graft.ops.Sampling.bootstrapDraws(
        t(s, dir, "documents"), "doc_id", col("n_chars"),
        nDraws = 1000L, seed = "bs")
      .orderBy("draw_id"))

  private val q193 = Q("q193_video_scene_cuts",
    "shot-boundary census over REAL decoded MJPEG frames: per-doc " +
      "frame sequences alternate dark(40)/bright(200) solid grays by an " +
      "arithmetic class rule; a cut = |mean-luma delta| >= 80 between " +
      "consecutive decoded frames — the 160-luma gap dwarfs JPEG " +
      "reconstruction error, so the lossy decode cannot flip a " +
      "decision and the oracle predicts cuts from the class rule alone " +
      "(q122's discipline, extended from geometry to CONTENT)",
    Some("""
      WITH f AS (SELECT doc_id,
                   unnest(generate_series(0, doc_id % 6 + 1)) AS k
                 FROM documents),
      c AS (SELECT doc_id, k,
              CASE WHEN (doc_id * 31 + k * 17) % 5 < 2 THEN 1 ELSE 0 END
                AS b
            FROM f),
      l AS (SELECT doc_id, k, b,
              lag(b) OVER (PARTITION BY doc_id ORDER BY k) AS pb
            FROM c)
      SELECT doc_id, count(*) AS n_frames,
             CAST(sum(CASE WHEN pb IS NOT NULL AND b <> pb THEN 1 ELSE 0
               END) AS BIGINT) AS n_cuts
      FROM l GROUP BY 1 ORDER BY doc_id"""),
    (s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents").select("doc_id").repartition(Partitions.base(s)).as[Long]
        .mapPartitions(_.map { id =>
          val w = (id % 64 + 16).toInt
          val h = (id % 48 + 16).toInt
          val grays = (0 until (id % 6 + 2).toInt)
            .map(k => if ((id * 31 + k * 17) % 5 < 2) 200 else 40)
          (id, Multimodal.buildMjpegAvi(usPerFrame = 33333, w, h, grays))
        }).toDF("doc_id", "payload")
      Multimodal.sceneCuts(
          Multimodal.decodeMjpegFrames(s, payloads).toDF(), threshold = 80.0)
        .orderBy("doc_id")
    })

  private val q194 = Q("q194_constraint_audit",
    "declarative data-quality gate: four named predicates audited over " +
      "lineitem in ONE scan (all violation counters ride a single wide " +
      "map-side-combined aggregate — 40 rules cost one pass at 100 TB); " +
      "null predicate results count as violations (the DQ convention)",
    Some("""
      WITH n AS (SELECT count(*) AS n_rows FROM lineitem),
      v AS (
        SELECT 'flag_domain' AS rule,
               CAST(sum(CASE WHEN NOT coalesce(
                 l_returnflag IN ('A', 'N', 'R'), FALSE) THEN 1 ELSE 0
                 END) AS BIGINT) AS n_violations
        FROM lineitem
        UNION ALL
        SELECT 'price_positive',
               CAST(sum(CASE WHEN NOT coalesce(l_extendedprice > 0, FALSE)
                 THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'qty_range',
               CAST(sum(CASE WHEN NOT coalesce(
                 l_quantity BETWEEN 1 AND 50, FALSE) THEN 1 ELSE 0
                 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'ship_not_null',
               CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0
                 END) AS BIGINT)
        FROM lineitem)
      SELECT rule, n_rows, n_violations,
             CASE WHEN n_rows > 0 THEN (1000000 * n_violations) // n_rows
             END AS violation_ppm
      FROM v CROSS JOIN n ORDER BY rule"""),
    (s, dir) => Profile.constraintAudit(t(s, dir, "lineitem"), Seq(
        "flag_domain" -> col("l_returnflag").isin("A", "N", "R"),
        "price_positive" -> (col("l_extendedprice") > 0),
        "qty_range" -> col("l_quantity").between(1, 50),
        "ship_not_null" -> col("l_shipdate").isNotNull))
      .orderBy("rule"))

  private val q195 = Q("q195_fd_violations",
    "functional-dependency census: does source→lang hold on documents " +
      "(no — sources mix languages) and p_partkey→p_name on part (yes — " +
      "it is the key)? one determinant-keyed aggregate each, summary " +
      "row per FD; the denormalization/lookup-cache pre-flight",
    Some("""
      WITH d1 AS (SELECT source, count(DISTINCT lang) AS nd
                  FROM documents GROUP BY 1),
      s1 AS (SELECT 'documents: source->lang' AS fd,
               count(*) AS n_determinants,
               CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_violating,
               max(nd) AS max_variants
             FROM d1),
      d2 AS (SELECT p_partkey, count(DISTINCT p_name) AS nd
             FROM part GROUP BY 1),
      s2 AS (SELECT 'part: p_partkey->p_name' AS fd,
               count(*) AS n_determinants,
               CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_violating,
               max(nd) AS max_variants
             FROM d2)
      SELECT fd, n_determinants, n_violating,
             CASE WHEN n_determinants > 0
               THEN (1000000 * n_violating) // n_determinants
             END AS violating_ppm, max_variants
      FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
      ORDER BY fd"""),
    (s, dir) => Profile.fdViolations(t(s, dir, "documents"),
        Seq("source"), "lang")
      .withColumn("fd", lit("documents: source->lang"))
      .unionByName(Profile.fdViolations(t(s, dir, "part"),
          Seq("p_partkey"), "p_name")
        .withColumn("fd", lit("part: p_partkey->p_name")))
      .select("fd", "n_determinants", "n_violating", "violating_ppm",
        "max_variants")
      .orderBy("fd"))

  private val q196 = Q("q196_histogram_fixed",
    "equi-WIDTH value histogram with fixed declared bounds (0.00-100.00 " +
      "in 20 bins) per event type — q142's equi-frequency sibling; fixed " +
      "bounds make snapshots comparable bin-for-bin (the PSI-style drift " +
      "monitor input), out-of-range values clamp to edge bins (never " +
      "silently dropped); all-integer, one map-side-combined aggregate",
    Some("""
      WITH b AS (SELECT event_type,
        least(greatest(
          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 500,
          0), 19) AS bin
        FROM events)
      SELECT event_type, bin, count(*) AS n_rows
      FROM b GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, dir) => Profile.histogramFixed(t(s, dir, "events"), "event_type",
        "value", loCents = 0L, hiCents = 10000L, bins = 20)
      .orderBy("event_type", "bin"))

  private val q197 = Q("q197_wav_trim_silence",
    "silence trim as a REAL transformation round trip (q123's " +
      "discipline, audio): WAVs with arithmetically-known muted lead/" +
      "tail regions are PCM-decoded, lead/tail silent frames dropped, " +
      "re-encoded, and RE-PARSED — the gate checks the decoded output " +
      "length, so a mis-sliced frame or broken re-encode fails; " +
      "interior silence is preserved by design (transcript alignment)",
    Some("""
      SELECT doc_id,
             CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
             700 + (doc_id % 3) * 200 AS n_in,
             700 + (doc_id % 3) * 200
               - (doc_id % 3) * 100 - (doc_id % 4) * 100 AS n_out
      FROM documents ORDER BY doc_id"""),
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select("doc_id").repartition(Partitions.base(s)).as[Long]
        .mapPartitions(_.flatMap { id =>
          val n = (700 + (id % 3) * 200).toInt
          val lead = ((id % 3) * 100).toInt
          val tail = ((id % 4) * 100).toInt
          val rate = (8000 + (id % 3) * 4000).toInt
          val samples = Array.tabulate(n) { i =>
            if (i < lead || i >= n - tail) 0.toShort
            else (3000L + ((31L * i * i + 7L * i + id) % 25000L)).toShort
          }
          val wav = Multimodal.buildWav(rate, samples)
          for {
            trimmed <- Multimodal.trimSilence(wav)
            (outRate, outSamples) <- Multimodal.parseWavPcm(trimmed)
          } yield (id, outRate, n.toLong, outSamples.length.toLong)
        }).toDF("doc_id", "sample_rate", "n_in", "n_out")
        .orderBy("doc_id")
    })

  private val q198 = Q("q198_mmr_diverse_select",
    "Maximal Marginal Relevance: top-8 exact cosine candidates for the " +
      "vec_id=0 query, then 3 greedy rounds of lambda*rel - " +
      "(1-lambda)*maxSimToSelected (lambda=1/2) — the diversification " +
      "step between ANN retrieval and a RAG context window; bounded " +
      "driver loop (the BPE-trainer posture), exact scaled-integer " +
      "cosine parts with one IEEE finale; the oracle unrolls the greedy",
    Some("""
      WITH el AS (SELECT vec_id, unnest(embedding) AS v,
                  unnest(generate_series(1, len(embedding))) AS i
                  FROM embeddings),
      nrm AS (SELECT vec_id,
              CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)
                * 1e12) AS BIGINT)) AS BIGINT) AS n2s
              FROM el GROUP BY 1),
      dq AS (SELECT c.vec_id,
               CAST(SUM(CAST(floor(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)
                 * 1e12) AS BIGINT)) AS BIGINT) AS dot_s
             FROM el q JOIN el c ON q.i = c.i
             WHERE q.vec_id = 0 AND c.vec_id <> 0 GROUP BY 1),
      cand0 AS (SELECT dq.vec_id,
                 CAST(dot_s AS DOUBLE) /
                   (sqrt(CAST(nq.n2s AS DOUBLE)) * sqrt(CAST(nc.n2s AS DOUBLE)))
                   AS rel
               FROM dq JOIN nrm nc ON dq.vec_id = nc.vec_id
                       CROSS JOIN (SELECT n2s FROM nrm WHERE vec_id = 0) nq),
      cand AS (SELECT vec_id, rel FROM
               (SELECT *, ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id) AS r
                FROM cand0) WHERE r <= 8),
      dcc AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
               CAST(SUM(CAST(floor(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)
                 * 1e12) AS BIGINT)) AS BIGINT) AS dot_s
              FROM el a JOIN el b ON a.i = b.i
              WHERE a.vec_id IN (SELECT vec_id FROM cand)
                AND b.vec_id IN (SELECT vec_id FROM cand)
              GROUP BY 1, 2),
      ccos AS (SELECT ia, ib,
                CAST(dot_s AS DOUBLE) /
                  (sqrt(CAST(na.n2s AS DOUBLE)) * sqrt(CAST(nb.n2s AS DOUBLE)))
                  AS cos
               FROM dcc JOIN nrm na ON ia = na.vec_id
                        JOIN nrm nb ON ib = nb.vec_id),
      s1 AS (SELECT vec_id, 0.5 * rel AS score FROM cand
             ORDER BY 0.5 * rel DESC, vec_id LIMIT 1),
      s2 AS (SELECT c.vec_id, 0.5 * c.rel - 0.5 * cc.cos AS score
             FROM cand c JOIN ccos cc
               ON cc.ia = c.vec_id AND cc.ib = (SELECT vec_id FROM s1)
             WHERE c.vec_id <> (SELECT vec_id FROM s1)
             ORDER BY score DESC, c.vec_id LIMIT 1),
      s3 AS (SELECT c.vec_id,
               0.5 * c.rel - 0.5 * greatest(c1.cos, c2.cos) AS score
             FROM cand c
             JOIN ccos c1 ON c1.ia = c.vec_id
                         AND c1.ib = (SELECT vec_id FROM s1)
             JOIN ccos c2 ON c2.ia = c.vec_id
                         AND c2.ib = (SELECT vec_id FROM s2)
             WHERE c.vec_id NOT IN ((SELECT vec_id FROM s1),
                                    (SELECT vec_id FROM s2))
             ORDER BY score DESC, c.vec_id LIMIT 1)
      SELECT CAST(1 AS BIGINT) AS rank, vec_id, score FROM s1
      UNION ALL SELECT 2, vec_id, score FROM s2
      UNION ALL SELECT 3, vec_id, score FROM s3
      ORDER BY rank"""),
    (s, dir) => {
      val embs = t(s, dir, "embeddings")
      val top = Similarity.bruteForceTopK(
        embs.filter(col("vec_id") === 0),
        embs.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", k = 8)
      val cands = top
        .join(embs.select(col("vec_id").as("neighbor_id"),
          col("embedding")), "neighbor_id")
        .select(col("neighbor_id").as("vec_id"), col("embedding"),
          col("cosine").as("rel"))
      Similarity.mmrSelect(cands, "vec_id", "embedding", "rel", k = 3)
        .orderBy("rank")
    })

  private val q199 = Q("q199_bootstrap_median_ci",
    "bootstrap confidence interval for the corpus median doc length: " +
      "50 deterministic resamples of 200 uniform draws each " +
      "(q192's bootstrapDraws, weight 1), exact interpolated median per " +
      "resample, then the 5th/50th/95th percentiles of the 50 medians — " +
      "the composition q192 exists for; fully reproducible across " +
      "engines because the draws are hash-targeted",
    Some("""
      WITH w AS (SELECT doc_id, n_chars,
                   row_number() OVER (ORDER BY doc_id) AS hi
                 FROM documents),
      t AS (SELECT count(*) AS total FROM documents),
      d AS (SELECT j, j // 200 AS rep,
              CAST('0x' || substr(sha256('ci:' || CAST(j AS VARCHAR)),
                1, 15) AS BIGINT) % total AS u
            FROM generate_series(0, 9999) g(j) CROSS JOIN t),
      m AS (SELECT rep, quantile_cont(w.n_chars, 0.5) AS med
            FROM d JOIN w ON u = hi - 1 GROUP BY 1)
      SELECT count(*) AS n_reps, quantile_cont(med, 0.05) AS ci_lo,
             quantile_cont(med, 0.5) AS ci_med,
             quantile_cont(med, 0.95) AS ci_hi
      FROM m"""),
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val meds = graft.ops.Sampling.bootstrapDraws(docs, "doc_id",
          lit(1L), nDraws = 10000L, seed = "ci")
        .withColumn("rep", expr("draw_id div 200"))
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy("rep")
        .agg(expr("percentile(n_chars, 0.5d)").as("med"))
      meds.agg(count(lit(1)).as("n_reps"),
        expr("percentile(med, 0.05d)").as("ci_lo"),
        expr("percentile(med, 0.5d)").as("ci_med"),
        expr("percentile(med, 0.95d)").as("ci_hi"))
    })

  private val q200 = Q("q200_curation_pipeline_full",
    "the FULL training-data curation DAG as one oracle-gated chain: " +
      "exact dedup (keep min id) -> SimHash-blocked near-dup keep-best " +
      "(n_chars desc) -> quality/lang filter -> benchmark " +
      "decontamination vs the held-out eval slice -> leakage-plain " +
      "90/5/5 hash split -> per-(lang, split) census. Every stage is a " +
      "separately-gated operator (q20/q51/q154/q62/q63/q53); this gate " +
      "proves they COMPOSE — stage order, survivor wiring, and the " +
      "contamination-against-the-ORIGINAL-corpus subtlety included. " +
      "The oracle replays all six stages in SQL (recursive-CTE CC)",
    Some("""
      WITH ex AS (SELECT min(doc_id) AS doc_id FROM documents
                  GROUP BY sha256(text)),
      s1 AS (SELECT d.* FROM documents d JOIN ex USING (doc_id)),
      wds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM s1),
      wh AS (SELECT doc_id,
               CAST('0x' || substr(sha256(w), 1, 15) AS BIGINT) AS wh
             FROM wds),
      votes AS (SELECT doc_id, b,
                SUM(CASE WHEN (wh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS votes
                FROM wh CROSS JOIN generate_series(0, 31) t(b)
                GROUP BY doc_id, b),
      sig AS (SELECT doc_id,
              CAST(SUM(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << b)
                ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM sig a JOIN sig b
                  ON (a.simhash >> 28) = (b.simhash >> 28)
                 AND a.doc_id < b.doc_id
                WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs),
      reach AS (
        WITH RECURSIVE r(node, lab) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, r.lab FROM edges e JOIN r ON e.dst = r.node)
        SELECT node, min(lab) AS canonical_id FROM r GROUP BY node),
      clus AS (SELECT s1.doc_id, s1.n_chars,
                 coalesce(reach.canonical_id, s1.doc_id) AS cluster
               FROM s1 LEFT JOIN reach ON reach.node = s1.doc_id),
      best AS (SELECT doc_id FROM
               (SELECT doc_id, row_number() OVER (PARTITION BY cluster
                  ORDER BY n_chars DESC, doc_id) AS rn FROM clus)
               WHERE rn = 1),
      s3 AS (SELECT s1.* FROM s1 JOIN best USING (doc_id)
             WHERE n_chars >= 150 AND lang IN ('de', 'en', 'fr')),
      w2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      jx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS j
             FROM w2),
      shq AS (SELECT DISTINCT doc_id,
               CAST('0x' || substr(sha256(w[j] || ' ' || w[j+1] || ' ' ||
                 w[j+2]), 1, 15) AS BIGINT) AS sh
              FROM jx),
      ev AS (SELECT DISTINCT sh FROM shq WHERE doc_id % 97 = 0),
      contam AS (SELECT DISTINCT c.doc_id FROM shq c JOIN ev USING (sh)
                 WHERE c.doc_id % 97 <> 0),
      clean AS (SELECT * FROM s3
                WHERE doc_id % 97 <> 0
                  AND doc_id NOT IN (SELECT doc_id FROM contam)),
      sp AS (SELECT lang, n_chars,
               CASE WHEN h % 100 < 90 THEN 'train'
                    WHEN h % 100 < 95 THEN 'val'
                    ELSE 'test' END AS split
             FROM (SELECT *, CAST('0x' || substr(sha256(
                     CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
                   FROM clean))
      SELECT lang, split, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM sp GROUP BY 1, 2 ORDER BY lang, split"""),
    (s, dir) => {
      val docs = t(s, dir, "documents")
      // stage 1: exact dedup, canonical (min-id) survivors. The survivor
      // ID MANIFEST is checkpointed (r17): the sha256 aggregate over the
      // full corpus text feeds three consumers (the SimHash pass via the
      // CC edge materialization, the keep-best join, the quality gate) —
      // one narrow id relation kept instead of three sha-agg replays
      // (§6 scan reuse; ids only, never the text)
      val ex = Dedup.exact(docs, "doc_id", "text")
        .select(col("canonical_id").as("doc_id")).localCheckpoint(false)
      val surv1 = docs.join(ex, "doc_id")
      // stage 2: near-dup families keep the longest member
      val sigs = Dedup.simHash(surv1, "doc_id", "text", bits = 32)
      val pairs = Dedup.simHashPairs(sigs, "doc_id", maxHamming = 2,
        blockBits = 4)
      val kept = Dedup.keepBestInCluster(surv1, pairs, "doc_id", "n_chars")
        .filter(col("keep")).select("doc_id")
      // stage 3: quality + language gate
      val surv3 = surv1.join(kept, "doc_id")
        .filter(col("n_chars") >= 150 && col("lang").isin("de", "en", "fr"))
      // stage 4: decontamination runs against the ORIGINAL corpus — the
      // eval slice's shingles exist whether or not eval docs survived
      // earlier stages
      val contamIds = Decontamination.contamination(docs, "doc_id", "text",
        evalPred = col("doc_id") % 97 === 0).select("doc_id")
      val clean = surv3.filter(col("doc_id") % 97 =!= 0)
        .join(contamIds, Seq("doc_id"), "left_anti")
      // stage 5+6: hash split, census
      val h = graft.functions.TextFns.hash64(col("doc_id").cast("string"))
      clean
        .withColumn("split",
          when(h % 100 < 90, "train").when(h % 100 < 95, "val")
            .otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("lang", "split")
    })

  private val q201 = Q("q201_corr_pairs_by_group",
    "q152's exact-parts Pearson matrix PER RETURN FLAG — the Simpson's-" +
      "paradox audit (does the global quantity/price relationship hold " +
      "inside every segment?); same one-scan shape, the aggregate keys " +
      "on the group so segments parallelize instead of funneling into " +
      "the global single partition",
    Some("""
      WITH c AS (SELECT l_returnflag AS flag,
        CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS cq,
        CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS ce,
        CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS cd
        FROM lineitem),
      s AS (SELECT flag, count(*) AS n,
        sum(cq) sq, sum(ce) se, sum(cd) sd,
        sum(cq*cq) qq, sum(ce*ce) ee, sum(cd*cd) dd,
        sum(cq*ce) pqe, sum(cq*cd) pqd, sum(ce*cd) ped
        FROM c GROUP BY 1)
      SELECT * FROM (
        SELECT flag AS l_returnflag, 'l_quantity' AS col_a,
               'l_extendedprice' AS col_b, CAST(n AS BIGINT) AS n,
               CAST(n*pqe - sq*se AS DOUBLE)
                 / (sqrt(CAST(n*qq - sq*sq AS DOUBLE))
                    * sqrt(CAST(n*ee - se*se AS DOUBLE))) AS corr FROM s
        UNION ALL
        SELECT flag, 'l_quantity', 'l_discount', CAST(n AS BIGINT),
               CAST(n*pqd - sq*sd AS DOUBLE)
                 / (sqrt(CAST(n*qq - sq*sq AS DOUBLE))
                    * sqrt(CAST(n*dd - sd*sd AS DOUBLE))) FROM s
        UNION ALL
        SELECT flag, 'l_extendedprice', 'l_discount', CAST(n AS BIGINT),
               CAST(n*ped - se*sd AS DOUBLE)
                 / (sqrt(CAST(n*ee - se*se AS DOUBLE))
                    * sqrt(CAST(n*dd - sd*sd AS DOUBLE))) FROM s)
      ORDER BY l_returnflag, col_a, col_b"""),
    (s, dir) => Profile.corrPairsByGroup(t(s, dir, "lineitem"),
        "l_returnflag",
        Seq("l_quantity", "l_extendedprice", "l_discount"))
      .orderBy("l_returnflag", "col_a", "col_b"))

  private val q202 = Q("q202_interval_overlap_join",
    "generic interval×interval OVERLAP join (closed ranges), per " +
      "customer: 8-day prep windows from even orders vs day-5-to-15 " +
      "billing windows from odd orders — bucketed to a (key, bucket) " +
      "EQUI-join (never a raw theta join), exact predicate verify, " +
      "pair-keyed dedup for bucket-spanning overlaps; the oracle " +
      "allows itself the small-data inequality join",
    Some("""
      WITH base AS (SELECT o_orderkey, o_custkey,
                      date_diff('day', DATE '1992-01-01', o_orderdate)
                        AS d0
                    FROM orders),
      l AS (SELECT o_custkey, o_orderkey AS l_id,
              CAST(d0 AS BIGINT) AS l_s, CAST(d0 + 7 AS BIGINT) AS l_e
            FROM base WHERE o_orderkey % 2 = 0),
      r AS (SELECT o_custkey, o_orderkey AS r_id,
              CAST(d0 + 5 AS BIGINT) AS r_s, CAST(d0 + 15 AS BIGINT) AS r_e
            FROM base WHERE o_orderkey % 2 = 1)
      SELECT l.o_custkey AS o_custkey, l_id, r_id, l_s, l_e, r_s, r_e
      FROM l JOIN r ON l.o_custkey = r.o_custkey
         AND l_s <= r_e AND r_s <= l_e
      ORDER BY l.o_custkey, l_id, r_id"""),
    (s, dir) => {
      val base = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"),
        datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("long").as("d0"))
      val l = base.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_custkey"), col("o_orderkey").as("lid"),
          col("d0").as("ls"), (col("d0") + 7).as("le"))
      val r = base.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_custkey"), col("o_orderkey").as("rid"),
          (col("d0") + 5).as("rs"), (col("d0") + 15).as("re"))
      Intervals.overlapJoin(l, r, "o_custkey", "lid", "ls", "le",
          "rid", "rs", "re", bucketWidth = 8L)
        .select(col("o_custkey"), col("l_id"), col("r_id"),
          col("l_s"), col("l_e"), col("r_s"), col("r_e"))
        .orderBy("o_custkey", "l_id", "r_id")
    })

  private val q203 = Q("q203_passage_census",
    "cross-document repeated-passage census (the ExactSubstr family at " +
      "8-word-window granularity): per doc, how many of its consecutive " +
      "8-word passages appear verbatim in >= 2 distinct documents — the " +
      "boilerplate/template-contamination rate document-level near-dup " +
      "cannot see; corpus census keys on (xxhash64, length), never the " +
      "passage string",
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents),
      w AS (SELECT doc_id, unnest(ws) AS w,
                   unnest(generate_series(1, len(ws))) AS ord FROM t),
      c AS (SELECT doc_id, (ord - 1) // 8 AS chunk,
                   string_agg(w, ' ' ORDER BY ord) AS passage
            FROM w GROUP BY 1, 2),
      p AS (SELECT passage, count(DISTINCT doc_id) AS ndocs
            FROM c GROUP BY 1)
      SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_passages,
             CAST(sum(CASE WHEN p.ndocs >= 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup_passages,
             CAST(1000000 * sum(CASE WHEN p.ndocs >= 2 THEN 1 ELSE 0 END)
                  // count(*) AS BIGINT) AS dup_ppm
      FROM c JOIN p USING (passage) GROUP BY 1 ORDER BY 1"""),
    (s, dir) => TextAnalysis.passageCensus(t(s, dir, "documents"))
      .orderBy("doc_id"))

  private val q204 = Q("q204_approx_quantile_audit",
    "mergeable-sketch quantiles certified by their own contract: " +
      "percentile_approx (Greenwald-Khanna, accuracy 1000) over integer " +
      "price cents at 7 phis, then an exact rank count proves each " +
      "estimate within eps*n ranks — booleans gate because the sketch's " +
      "exact estimates are merge-order-dependent while the eps-contract " +
      "is not (the q132 sketch-plus-exact-verify posture)",
    Some("""
      WITH t AS (SELECT count(*) AS n FROM lineitem),
      phis(phi_ppm) AS (VALUES (10000), (50000), (250000), (500000),
                               (750000), (950000), (990000))
      SELECT CAST(phi_ppm AS BIGINT) AS phi_ppm, t.n AS n_rows,
             TRUE AS within_eps
      FROM phis, t ORDER BY phi_ppm"""),
    (s, dir) => Profile.approxQuantileAudit(
      t(s, dir, "lineitem"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"),
      Seq(10000L, 50000L, 250000L, 500000L, 750000L, 950000L, 990000L)))

  private val q205 = Q("q205_mixture_rebalance",
    "largest feasible downsample at an exact target language mixture " +
      "(40% en / 15% each of de/es/fr/zh) without upsampling: T = min_g " +
      "floor(n_g*1e6/target_g), per-group want = floor(T*target_g/1e6) " +
      "rows picked by the shared salted hash order — derived RATES, " +
      "pinned COUNTS (contrast q127's caller-chosen independent rates); " +
      "sel_xor pins the exact row set, not just its size",
    Some("""
      WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      t(lang, ppm) AS (VALUES ('en', 400000), ('de', 150000),
                              ('es', 150000), ('fr', 150000), ('zh', 150000)),
      a AS (SELECT t.lang, t.ppm, coalesce(c.n, 0) AS n
            FROM t LEFT JOIN c USING (lang)),
      f AS (SELECT min(n * 1000000 // ppm) AS tt FROM a),
      w AS (SELECT lang, CAST(tt * ppm // 1000000 AS BIGINT) AS want
            FROM a, f),
      r AS (SELECT d.lang, d.doc_id,
              ROW_NUMBER() OVER (PARTITION BY d.lang ORDER BY
                CAST('0x' || substr(sha256('mix:' || CAST(doc_id AS VARCHAR)),
                     1, 15) AS BIGINT), doc_id) AS rn
            FROM documents d JOIN t ON d.lang = t.lang)
      SELECT r.lang AS lang, w.want AS want,
             CAST(count(*) AS BIGINT) AS n_out,
             bit_xor(CAST('0x' || substr(sha256(CAST(r.doc_id AS VARCHAR)),
                     1, 15) AS BIGINT)) AS sel_xor
      FROM r JOIN w ON r.lang = w.lang AND r.rn <= w.want
      GROUP BY 1, 2 ORDER BY lang"""),
    (s, dir) => Sampling.mixtureRebalance(t(s, dir, "documents"),
        "lang", "doc_id",
        Seq("en" -> 400000L, "de" -> 150000L, "es" -> 150000L,
          "fr" -> 150000L, "zh" -> 150000L))
      .withColumn("_h",
        graft.functions.TextFns.hash64(col("doc_id").cast("string")))
      .groupBy("lang")
      .agg(max(col("want")).as("want"), count(lit(1)).as("n_out"),
        expr("bit_xor(_h)").as("sel_xor"))
      .orderBy("lang"))

  private val q206 = Q("q206_hashed_ngram_shift",
    "DSIR-style importance signal: word bigrams hashed into 256 buckets, " +
      "target (en) vs source bucket distributions in ppm, per-doc score " +
      "= sum of per-occurrence (target_ppm - source_ppm) — the " +
      "integer-exact analogue of the hashed-n-gram log-likelihood ratio; " +
      "bucket table broadcast, zero-bigram docs surfaced at score 0",
    Some("""
      WITH b AS (SELECT doc_id, lang = 'en' AS is_target,
                        string_split(text, ' ') AS ws FROM documents),
      bg AS (SELECT doc_id, is_target,
               CAST('0x' || substr(sha256(ws[i] || ' ' || ws[i + 1]), 1, 15)
                    AS BIGINT) % 256 AS bkt
             FROM (SELECT doc_id, is_target, ws,
                     unnest(generate_series(1, len(ws) - 1)) AS i FROM b)),
      st AS (SELECT bkt, SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
                    SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS cs
             FROM bg GROUP BY 1),
      tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
                     CAST(SUM(cs) AS BIGINT) AS ts FROM st),
      ppm AS (SELECT bkt,
               CASE WHEN tt > 0 THEN 1000000 * ct // tt ELSE 0 END AS tppm,
               CASE WHEN ts > 0 THEN 1000000 * cs // ts ELSE 0 END AS sppm
              FROM st, tot),
      pd AS (SELECT doc_id, count(*) AS nb, SUM(tppm - sppm) AS ss
             FROM bg JOIN ppm USING (bkt) GROUP BY 1)
      SELECT b.doc_id AS doc_id, b.is_target AS is_target,
             CAST(coalesce(pd.nb, 0) AS BIGINT) AS n_bigrams,
             CAST(coalesce(pd.ss, 0) AS BIGINT) AS shift_sum_ppm,
             CAST(CASE WHEN coalesce(pd.nb, 0) > 0
                  THEN coalesce(pd.ss, 0) // pd.nb ELSE 0 END AS BIGINT)
               AS shift_mean_ppm
      FROM b LEFT JOIN pd USING (doc_id) ORDER BY doc_id"""),
    (s, dir) => TextAnalysis.hashedNgramShift(t(s, dir, "documents"),
        col("lang") === "en", buckets = 256)
      .orderBy("doc_id"))

  private val q207 = Q("q207_orc_roundtrip",
    "ORC interchange round trip: documents written ORC partitioned by " +
      "lang (directory-encoded partition values), re-read through " +
      "partition discovery, per-lang count + char sum + text-hash XOR " +
      "prove bit-perfect fidelity vs the parquet original; FormatsSpec " +
      "pins that a lang filter prunes partitions before any ORC byte is " +
      "read",
    Some("""
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             bit_xor(CAST('0x' || substr(sha256(text), 1, 15) AS BIGINT))
               AS text_xor
      FROM documents GROUP BY 1 ORDER BY lang"""),
    (s, dir) => {
      val path = graft.TempDirs.create("graft-q207")
        .toString + "/docs_orc"
      Formats.orcRoundTrip(t(s, dir, "documents"), path, "lang")
        .withColumn("_h", graft.functions.TextFns.hash64(col("text")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          expr("bit_xor(_h)").as("text_xor"))
        .orderBy("lang")
    })

  private val q208 = Q("q208_jsonl_quarantine",
    "defensive JSONL ingest (the raw web-crawl dump format): every 50th " +
      "doc's line deterministically truncated to half length (invalid " +
      "JSON), read back through Spark's PERMISSIVE JSON source — " +
      "malformed lines quarantined into _corrupt_record WITH the raw " +
      "evidence, never a task failure; payload_xor covers good text AND " +
      "preserved corrupt lines, so silent drops or evidence loss flip " +
      "the hash",
    Some("""
      WITH j AS (SELECT doc_id, lang, text,
                   '{"doc_id":' || doc_id || ',"lang":"' || lang ||
                     '","text":"' || text || '"}' AS line0
                 FROM documents),
      m AS (SELECT
              CASE WHEN doc_id % 50 = 0 THEN NULL ELSE lang END AS lang_p,
              CASE WHEN doc_id % 50 = 0 THEN NULL ELSE text END AS text_p,
              CASE WHEN doc_id % 50 = 0
                THEN substr(line0, 1, CAST(length(line0) // 2 AS INT))
                ELSE NULL END AS corrupt
            FROM j)
      SELECT coalesce(lang_p, '(quarantined)') AS lang_bucket,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(coalesce(length(text_p), 0)) AS BIGINT)
               AS n_chars_good,
             bit_xor(CAST('0x' ||
               substr(sha256(coalesce(text_p, corrupt)), 1, 15) AS BIGINT))
               AS payload_xor
      FROM m GROUP BY 1 ORDER BY lang_bucket"""),
    (s, dir) => {
      val path = graft.TempDirs.create("graft-q208")
        .toString + "/docs_jsonl"
      val lines = t(s, dir, "documents")
        .select(col("doc_id"), to_json(struct(col("doc_id"), col("lang"),
          col("text"))).as("line0"))
        .select(when(col("doc_id") % 50 === 0,
            expr("substring(line0, 1, length(line0) div 2)"))
          .otherwise(col("line0")).as("line"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      Formats.jsonlQuarantineRead(lines, path, schema)
        .withColumn("_h", graft.functions.TextFns.hash64(
          coalesce(col("text"), col("_corrupt_record"))))
        .groupBy(coalesce(col("lang"), lit("(quarantined)"))
          .as("lang_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(coalesce(length(col("text")), lit(0))).as("n_chars_good"),
          expr("bit_xor(_h)").as("payload_xor"))
        .orderBy("lang_bucket")
    })

  private val q209 = Q("q209_tokenizer_fertility",
    "tokenizer-efficiency census per language over the 3-round trained " +
      "BPE (q117/q124's model): words, tokens, token chars, and the two " +
      "ratios a tokenizer report leads with — tokens per 1000 words " +
      "(fertility) and chars per 1000 tokens (compression) — the " +
      "cross-lingual fairness signal (a tokenizer that fragments one " +
      "language inflates its training cost per character)",
    Some(s"""
      WITH $bpeTrainCtes,
      dw AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
             FROM documents),
      dw1 AS (SELECT doc_id, lang, word FROM dw WHERE length(word) >= 1),
      dtok AS (
        SELECT d.lang, t.sym
        FROM dw1 d JOIN (SELECT word, unnest(syms) AS sym FROM v3) t
          ON d.word = t.word
        UNION ALL
        SELECT lang, word AS sym FROM dw1 WHERE length(word) = 1),
      wstat AS (SELECT lang, count(*) AS n_words FROM dw1 GROUP BY 1),
      tstat AS (SELECT lang, count(*) AS n_tokens,
                       SUM(length(sym)) AS n_token_chars
                FROM dtok GROUP BY 1)
      SELECT w.lang AS lang, CAST(n_words AS BIGINT) AS n_words,
             CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(n_token_chars AS BIGINT) AS n_token_chars,
             CAST(1000 * n_tokens // n_words AS BIGINT) AS tokens_per_kword,
             CAST(1000 * n_token_chars // n_tokens AS BIGINT)
               AS chars_per_ktoken
      FROM wstat w JOIN tstat t ON w.lang = t.lang ORDER BY lang"""),
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrain(docs, rounds = 3)._2
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq // model-sized
      val words = docs
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
      val wstat = words.groupBy("lang").agg(count(lit(1)).as("n_words"))
      val tstat = TextAnalysis.bpeEncode(docs, merges)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(length(col("token"))).as("n_token_chars"))
      wstat.join(tstat, "lang")
        .select(col("lang"), col("n_words"), col("n_tokens"),
          col("n_token_chars"),
          expr("1000L * n_tokens div n_words").as("tokens_per_kword"),
          expr("1000L * n_token_chars div n_tokens").as("chars_per_ktoken"))
        .orderBy("lang")
    })

  /** The PQ train→encode→ADC chain (m=4 × 16-dim subspaces, k=4
    * codewords, 2 Lloyd rounds, queries 0/1/2), shared by q210 (top-k)
    * and q211 (recall audit). Ends at `adc` (q_id, vec_id, adc_d2).
    */
  private val pqCtes = """
      el AS (SELECT vec_id, unnest(embedding) AS v,
             unnest(generate_series(1, len(embedding))) AS i
             FROM embeddings
             WHERE len(embedding) =
               (SELECT max(len(embedding)) FROM embeddings)),
      sc AS (SELECT vec_id, CAST((i - 1) // 16 AS BIGINT) AS sub,
                    CAST((i - 1) % 16 AS BIGINT) AS li,
                    CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT) AS s
             FROM el),
      seed AS (SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY CAST('0x' ||
                 substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
                 vec_id) - 1 AS cluster
               FROM (SELECT DISTINCT vec_id FROM sc)),
      c0 AS (SELECT cluster, sub, li, s AS c
             FROM seed JOIN sc USING (vec_id) WHERE cluster < 4),
      a1 AS (SELECT sc.vec_id, sc.sub, c0.cluster,
               CAST(SUM((s - c) * (s - c)) AS BIGINT) AS d2
             FROM sc JOIN c0 ON sc.sub = c0.sub AND sc.li = c0.li
             GROUP BY 1, 2, 3),
      w1 AS (SELECT vec_id, sub, cluster FROM
             (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                ORDER BY d2, cluster) AS r FROM a1) WHERE r = 1),
      c1 AS (SELECT w1.sub, w1.cluster, sc.li,
               CAST(floor(CAST(CAST(SUM(sc.s) AS BIGINT) AS DOUBLE)
                 / count(*)) AS BIGINT) AS c
             FROM w1 JOIN sc ON w1.vec_id = sc.vec_id AND w1.sub = sc.sub
             GROUP BY 1, 2, 3),
      a2 AS (SELECT sc.vec_id, sc.sub, c1.cluster,
               CAST(SUM((s - c) * (s - c)) AS BIGINT) AS d2
             FROM sc JOIN c1 ON sc.sub = c1.sub AND sc.li = c1.li
             GROUP BY 1, 2, 3),
      w2 AS (SELECT vec_id, sub, cluster FROM
             (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                ORDER BY d2, cluster) AS r FROM a2) WHERE r = 1),
      c2 AS (SELECT w2.sub, w2.cluster, sc.li,
               CAST(floor(CAST(CAST(SUM(sc.s) AS BIGINT) AS DOUBLE)
                 / count(*)) AS BIGINT) AS c
             FROM w2 JOIN sc ON w2.vec_id = sc.vec_id AND w2.sub = sc.sub
             GROUP BY 1, 2, 3),
      a3 AS (SELECT sc.vec_id, sc.sub, c2.cluster,
               CAST(SUM((s - c) * (s - c)) AS BIGINT) AS d2
             FROM sc JOIN c2 ON sc.sub = c2.sub AND sc.li = c2.li
             GROUP BY 1, 2, 3),
      enc AS (SELECT vec_id, sub, cluster AS code FROM
              (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                 ORDER BY d2, cluster) AS r FROM a3) WHERE r = 1),
      dt AS (SELECT q.vec_id AS q_id, c2.sub, c2.cluster AS code,
               CAST(SUM((q.s - c2.c) * (q.s - c2.c)) AS BIGINT) AS d2
             FROM sc q JOIN c2 ON q.sub = c2.sub AND q.li = c2.li
             WHERE q.vec_id IN (0, 1, 2)
             GROUP BY 1, 2, 3),
      adc AS (SELECT dt.q_id, enc.vec_id,
                CAST(SUM(dt.d2) AS BIGINT) AS adc_d2
              FROM enc JOIN dt ON enc.sub = dt.sub AND enc.code = dt.code
              GROUP BY 1, 2)"""

  private val q210 = Q("q210_pq_adc_topk",
    "product-quantization ANN (Jegou et al. 2011): 64-dim embeddings " +
      "split into 4x16-dim subspaces, a 4-codeword exact-integer Lloyd " +
      "codebook per subspace (2 rounds, hash-seeded — q91's trainer, " +
      "all subspaces in one relation), corpus encoded to 4 codes/vector, " +
      "3 queries answered by ADC: exact per-(subspace, codeword) " +
      "distance tables summed over codes — ~64x index compression, " +
      "corpus floats untouched at query time",
    Some(s"""
      WITH $pqCtes
      SELECT q_id, CAST(r AS BIGINT) AS rank, vec_id, adc_d2 FROM
      (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         ORDER BY adc_d2, vec_id) AS r FROM adc)
      WHERE r <= 5 ORDER BY q_id, rank"""),
    (s, dir) => Similarity.pqTopK(t(s, dir, "embeddings"),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L),
        m = 4, k = 4, iters = 2, topK = 5)
      .orderBy("q_id", "rank"))

  private val q211 = Q("q211_pq_recall_audit",
    "PQ recall audit (q190's sketch-vs-exact posture applied to q210): " +
      "the compressed index's top-5 measured against the exact squared-" +
      "distance top-5 per query, overlap in ppm — the (m, k, iters) " +
      "selection knob a pipeline certifies at sample scale before " +
      "trusting the codes at 100 TB",
    Some(s"""
      WITH $pqCtes,
      pqtop AS (SELECT q_id, vec_id FROM
        (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY adc_d2, vec_id) AS r FROM adc) WHERE r <= 5),
      ex AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
               CAST(SUM((q.s - c.s) * (q.s - c.s)) AS BIGINT) AS d2
             FROM sc q JOIN sc c ON q.sub = c.sub AND q.li = c.li
             WHERE q.vec_id IN (0, 1, 2) GROUP BY 1, 2),
      extop AS (SELECT q_id, vec_id FROM
        (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY d2, vec_id) AS r FROM ex) WHERE r <= 5),
      ov AS (SELECT q_id, count(*) AS n_overlap
             FROM pqtop JOIN extop USING (q_id, vec_id) GROUP BY 1)
      SELECT q.q_id AS q_id, CAST(5 AS BIGINT) AS k,
             CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
             CAST(1000000 * coalesce(n_overlap, 0) // 5 AS BIGINT)
               AS recall_ppm
      FROM (SELECT DISTINCT q_id FROM extop) q LEFT JOIN ov USING (q_id)
      ORDER BY q_id"""),
    (s, dir) => Similarity.pqRecallAudit(t(s, dir, "embeddings"),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L),
        m = 4, k = 4, iters = 2, topK = 5)
      .orderBy("q_id"))

  private val q212 = Q("q212_cms_audit",
    "count-min sketch point queries certified by exact counts (Cormode-" +
      "Muthukrishnan; the frequency-summary complement of q132's Misra-" +
      "Gries): depth-4 x width-64 seeded-sha256 sketch over event " +
      "user_ids, ten probe keys, per-probe (exact, estimate, overcount) " +
      "— one-sided error realized and measured, never assumed; one scan " +
      "to a 256-cell mergeable sketch, no raw-data shuffle",
    Some("""
      WITH v AS (SELECT CAST(user_id AS VARCHAR) AS val FROM events
                 WHERE user_id IS NOT NULL),
      inc AS (SELECT j, CAST('0x' || substr(sha256(
                CAST(j AS VARCHAR) || ':' || val), 1, 15) AS BIGINT) % 64
                AS b
              FROM v CROSS JOIN generate_series(0, 3) t(j)),
      sk AS (SELECT j, b, count(*) AS c FROM inc GROUP BY 1, 2),
      pr AS (SELECT CAST(p AS VARCHAR) AS value, j,
               CAST('0x' || substr(sha256(CAST(j AS VARCHAR) || ':' ||
                 CAST(p AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS b
             FROM generate_series(0, 9) q(p)
               CROSS JOIN generate_series(0, 3) t(j)),
      est AS (SELECT value, CAST(min(coalesce(c, 0)) AS BIGINT) AS est_n
              FROM pr LEFT JOIN sk USING (j, b) GROUP BY 1),
      ex AS (SELECT val AS value, count(*) AS n FROM v
             WHERE val IN ('0','1','2','3','4','5','6','7','8','9')
             GROUP BY 1)
      SELECT e.value AS value, CAST(coalesce(ex.n, 0) AS BIGINT) AS exact_n,
             est_n, CAST(est_n - coalesce(ex.n, 0) AS BIGINT) AS overcount
      FROM est e LEFT JOIN ex ON e.value = ex.value
      ORDER BY CAST(e.value AS BIGINT)"""),
    (s, dir) => graft.ops.HeavyHitters.cmsAudit(t(s, dir, "events"),
        col("user_id"), (0 to 9).map(_.toString))
      .orderBy(col("value").cast("long")))

  private val q213 = Q("q213_chi_square_cells",
    "Pearson chi-square independence census over the (source, lang) " +
      "contingency table — the categorical drift/association complement " +
      "of q169's KS: every cell's exact-integer scaled contribution " +
      "floor(1e6*(o*N - r*c)^2 / (N*r*c)), ZERO cells included via the " +
      "margins cross join (a missing combination is evidence, not " +
      "absence); one map-side-combined aggregate collapses the corpus " +
      "to the category-sized cell relation",
    Some("""
      WITH cells AS (SELECT source AS row_val, lang AS col_val,
                       count(*) AS o
                     FROM documents GROUP BY 1, 2),
      r AS (SELECT row_val, CAST(SUM(o) AS BIGINT) AS rr
            FROM cells GROUP BY 1),
      c AS (SELECT col_val, CAST(SUM(o) AS BIGINT) AS cc
            FROM cells GROUP BY 1),
      n AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM cells),
      grid AS (SELECT row_val, col_val, rr, cc, nn
               FROM r CROSS JOIN c CROSS JOIN n),
      j AS (SELECT g.row_val, g.col_val,
              CAST(coalesce(cells.o, 0) AS BIGINT) AS n_obs, rr, cc, nn
            FROM grid g LEFT JOIN cells
              ON g.row_val = cells.row_val AND g.col_val = cells.col_val)
      SELECT row_val, col_val, n_obs,
        CAST((CAST(1000000 AS HUGEINT) * (n_obs * nn - rr * cc) *
          (n_obs * nn - rr * cc)) // (CAST(nn AS HUGEINT) * rr * cc)
          AS BIGINT) AS term_ppm
      FROM j ORDER BY row_val, col_val"""),
    (s, dir) => Profile.chiSquareCells(t(s, dir, "documents"),
        col("source"), col("lang"))
      .orderBy("row_val", "col_val"))

  private val q214 = Q("q214_avro_roundtrip",
    "Avro OCF interchange round trip WITHOUT the spark-avro module: one " +
      "container file per partition written through the public Avro API, " +
      "re-read via one streaming-decode task per container, per-lang " +
      "count + char sum + text-hash XOR prove bit-perfect fidelity vs " +
      "the parquet original (q207's ORC contract on the row-oriented " +
      "stream-side format); nullability maps to union(null,T) both ways",
    Some("""
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             bit_xor(CAST('0x' || substr(sha256(text), 1, 15) AS BIGINT))
               AS text_xor
      FROM documents GROUP BY 1 ORDER BY lang"""),
    (s, dir) => {
      val path = graft.TempDirs.create("graft-q214")
        .toString + "/docs_avro"
      Formats.avroRoundTrip(t(s, dir, "documents"), path)
        .withColumn("_h", graft.functions.TextFns.hash64(col("text")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          expr("bit_xor(_h)").as("text_xor"))
        .orderBy("lang")
    })

  private val q215 = Q("q215_mann_whitney",
    "Mann-Whitney U rank-sum test (are English docs longer?): doubled " +
      "midranks keep tied ranks in pure int64 — u2_a + u2_b = 2*n_a*n_b " +
      "is an auditable invariant of the output row, and the tie term " +
      "sum(t^3-t) ships for the variance; one map-side-combined " +
      "aggregate to the distinct-length relation, one window over THAT, " +
      "never a global sort of the data (q169 KS's rank-based sibling)",
    Some("""
      WITH s AS (SELECT n_chars AS v,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a
                 FROM documents WHERE n_chars IS NOT NULL),
      c AS (SELECT v, CAST(sum(a) AS BIGINT) AS ca,
                   CAST(sum(1 - a) AS BIGINT) AS cb FROM s GROUP BY v),
      w AS (SELECT v, ca, cb, ca + cb AS t,
              coalesce(sum(ca + cb) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
                AS start
            FROM c)
      SELECT CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b,
             CAST(sum(ca * (2*start + t - 1))
                  - sum(ca) * (sum(ca) + 1) AS BIGINT) AS u2_a,
             CAST(sum(cb * (2*start + t - 1))
                  - sum(cb) * (sum(cb) + 1) AS BIGINT) AS u2_b,
             CAST(sum(t*t*t - t) AS BIGINT) AS tie_cubes
      FROM w"""),
    (s, dir) => Profile.mannWhitney(t(s, dir, "documents"),
      col("n_chars"), col("lang") === "en"))

  // q216's hub cap, pinned ONCE for both sides: the engine call passes it
  // explicitly and the oracle SQL interpolates the same value, so the
  // oracle mirrors the drop-mode semantics STRUCTURALLY (a graph with an
  // over-cap hub at a larger sf agrees by construction, not by luck).
  private val Q216MaxDegree = 10000

  private val q216 = Q("q216_common_neighbors",
    "common-neighbors link prediction over the part co-purchase graph: " +
      "top-100 UNLINKED part pairs by shared-neighbor count plus " +
      "neighborhood-Jaccard in exact ppm — candidates only from wedge " +
      "enumeration at shared neighbors (never node x node), hub-capped " +
      s"(deg <= $Q216MaxDegree on BOTH sides, one pinned constant), " +
      "expansion-join repartition pinned; (cn DESC, u, v) total order " +
      "makes the top-k cut deterministic under ties",
    Some(s"""
      WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        WHERE a.l_quantity >= 30 AND b.l_quantity >= 30),
      deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
              (SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs)
              GROUP BY 1),
      adj AS (SELECT a AS w, b AS n FROM pairs
              UNION ALL SELECT b, a FROM pairs),
      adjc AS (SELECT adj.w, adj.n FROM adj
               JOIN deg ON deg.node = adj.w
               WHERE deg.deg <= $Q216MaxDegree),
      cand AS (SELECT x.n AS u, y.n AS v, CAST(count(*) AS BIGINT) AS cn
               FROM adjc x JOIN adjc y ON x.w = y.w AND x.n < y.n
               GROUP BY 1, 2 HAVING count(*) >= 2),
      unl AS (SELECT c.* FROM cand c
              LEFT JOIN pairs p ON p.a = c.u AND p.b = c.v
              WHERE p.a IS NULL)
      SELECT u, v, cn, du.deg AS deg_u, dv.deg AS deg_v,
             CAST(1000000 * cn // (du.deg + dv.deg - cn) AS BIGINT)
               AS jaccard_ppm
      FROM unl JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
      ORDER BY cn DESC, u, v LIMIT 100"""),
    (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 30)
        .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
      val pairs = li.as("x")
        .join(li.as("y"),
          col("x.k") === col("y.k") && col("x.p") < col("y.p"))
        .select(col("x.p").as("a"), col("y.p").as("b"))
      Graph.commonNeighborPairs(pairs, minCommon = 2, topK = 100,
        maxDegree = Q216MaxDegree)
    })

  private val q217 = Q("q217_effective_sample_size",
    "Kish effective-sample-size census per source under length-" +
      "proportional weights clipped at 400 — the pre-flight diagnostic " +
      "of a mixture/importance-weighting step (how many EFFECTIVE docs " +
      "does each source contribute?): ess_ppm = 1e6*(sum w)^2 div " +
      "(n*sum w^2), exact 128-bit sums, one map-side-combined aggregate",
    Some("""
      WITH w AS (SELECT source, least(n_chars, 400) AS w FROM documents)
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(w) AS BIGINT) AS sum_w,
             CAST(sum(w * w) AS BIGINT) AS sum_w2,
             CAST(1000000 * sum(w) * sum(w)
                  // (count(*) * sum(w * w)) AS BIGINT) AS ess_ppm
      FROM w GROUP BY 1 ORDER BY source"""),
    (s, dir) => Sampling.effectiveSampleSize(t(s, dir, "documents"),
        "source", col("n_chars"), clipAt = 400L)
      .orderBy("source"))

  private val q218 = Q("q218_hll_audit",
    "HyperLogLog++ distinct-user count per event type certified by the " +
      "exact count (the q204/q212 sketch-plus-exact-verify posture " +
      "applied to cardinality): |est - exact| <= 3*rsd*exact + 4 gates " +
      "as a boolean because the estimate is engine-specific while the " +
      "error contract is not — the rsd knob a pipeline certifies at " +
      "sample scale before replacing the two-phase exact count-distinct " +
      "shuffle with the one-pass mergeable sketch at 100 TB",
    Some("""
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n,
             TRUE AS within_bound
      FROM events GROUP BY 1 ORDER BY event_type"""),
    (s, dir) => Profile.hllAudit(t(s, dir, "events"),
        "event_type", col("user_id"), rsd = 0.05)
      .orderBy("event_type"))

  private val q219 = Q("q219_k_anonymity",
    "k-anonymity census (k=10) over the (nation, market segment) quasi-" +
      "identifier pair: every customer in an equivalence class smaller " +
      "than k is re-identifiable at confidence 1/class-size — one map-" +
      "side-combined aggregate to the class relation, one roll-up row " +
      "with the at-risk fraction in exact ppm (= the suppression cost " +
      "of enforcing k by dropping violators); NULL QI values form their " +
      "own class, an attacker observes NULL like any other value",
    Some("""
      WITH cls AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
                   FROM customer GROUP BY 1, 2)
      SELECT CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_classes,
             CAST(min(n) AS BIGINT) AS min_class_size,
             CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_classes,
             CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
             CAST((1000000 * sum(CASE WHEN n < 10 THEN n ELSE 0 END))
               // sum(n) AS BIGINT) AS at_risk_ppm
      FROM cls"""),
    (s, dir) => Profile.kAnonymity(t(s, dir, "customer"),
      Seq("c_nationkey", "c_mktsegment"), k = 10L))

  private val q220 = Q("q220_cramers_v",
    "Cramér's V² association strength for (source, lang) — q213's chi-" +
      "square statistic normalized to 0..1 so drift dashboards can " +
      "compare association ACROSS tables of different size and shape: " +
      "v2_ppm = chi2_ppm div (N*min(r-1,c-1)), exact integers end to " +
      "end (V itself needs a sqrt — the caller's, offline; V² keeps the " +
      "ordering and endpoints); same one-aggregate + category-sized-" +
      "grid shape as q213",
    Some("""
      WITH cells AS (SELECT source AS row_val, lang AS col_val,
                       count(*) AS o
                     FROM documents GROUP BY 1, 2),
      r AS (SELECT row_val, CAST(SUM(o) AS BIGINT) AS rr
            FROM cells GROUP BY 1),
      c AS (SELECT col_val, CAST(SUM(o) AS BIGINT) AS cc
            FROM cells GROUP BY 1),
      n AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM cells),
      grid AS (SELECT row_val, col_val, rr, cc, nn
               FROM r CROSS JOIN c CROSS JOIN n),
      j AS (SELECT g.row_val, g.col_val,
              CAST(coalesce(cells.o, 0) AS BIGINT) AS n_obs, rr, cc, nn
            FROM grid g LEFT JOIN cells
              ON g.row_val = cells.row_val AND g.col_val = cells.col_val),
      terms AS (SELECT row_val, col_val, n_obs, nn,
        CAST((CAST(1000000 AS HUGEINT) * (n_obs * nn - rr * cc) *
          (n_obs * nn - rr * cc)) // (CAST(nn AS HUGEINT) * rr * cc)
          AS BIGINT) AS term_ppm
        FROM j),
      agg AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n,
               CAST(count(DISTINCT row_val) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT col_val) AS BIGINT) AS n_cols,
               CAST(sum(term_ppm) AS BIGINT) AS chi2_ppm
              FROM terms)
      SELECT n, n_rows, n_cols,
             CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof,
             chi2_ppm,
             CAST(chi2_ppm // (n * least(n_rows - 1, n_cols - 1))
               AS BIGINT) AS v2_ppm
      FROM agg"""),
    (s, dir) => Profile.cramersV2(t(s, dir, "documents"),
      col("source"), col("lang")))

  /** Deterministic MESSY url per event — mixed-case scheme/host, default
    * and explicit ports, trailing-slash variants, shuffled + tracking
    * query params, fragments — so q221/q222 exercise every rule of the
    * [[graft.ops.UrlOps]] canonical contract on driver data. Twin of the
    * `messyUrlSql` CTE below; keep the two in lockstep. */
  private def messyUrl: org.apache.spark.sql.Column = {
    val eid = col("event_id"); val uid = col("user_id")
    val scheme = when(eid % 2 === 0, "HTTPS").otherwise("http")
    val host = when(uid % 4 === 0, "WWW.Example.COM")
      .when(uid % 4 === 1, "cdn.Example.com")
      .when(uid % 4 === 2, "Ads.Tracker.NET")
      .otherwise("blog.example.Org")
    val port = when(eid % 3 === 0, ":443")
      .when(eid % 3 === 1, ":8080").otherwise("")
    val path = concat(lit("/"), col("event_type"), lit("/item"),
      (uid % 5).cast("string"),
      when(eid % 5 === 0, "/").otherwise(""))
    val q = when(eid % 2 === 0,
        concat(lit("?id="), (eid % 8).cast("string"),
          lit("&utm_campaign=Spring&b=2&a=1")))
      .otherwise(concat(lit("?b=2&utm_source=feed&a=1&id="),
        (eid % 8).cast("string")))
    val frag = when(eid % 7 === 0, "#sec").otherwise("")
    concat(scheme, lit("://"), host, port, path, q, frag)
  }

  private val messyUrlSql = """
      u AS (
        SELECT (CASE WHEN event_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END)
          || '://' ||
          (CASE user_id % 4 WHEN 0 THEN 'WWW.Example.COM'
                WHEN 1 THEN 'cdn.Example.com'
                WHEN 2 THEN 'Ads.Tracker.NET'
                ELSE 'blog.example.Org' END) ||
          (CASE event_id % 3 WHEN 0 THEN ':443'
                WHEN 1 THEN ':8080' ELSE '' END) ||
          '/' || event_type || '/item' || CAST(user_id % 5 AS VARCHAR) ||
          (CASE WHEN event_id % 5 = 0 THEN '/' ELSE '' END) ||
          (CASE WHEN event_id % 2 = 0
                THEN '?id=' || CAST(event_id % 8 AS VARCHAR)
                  || '&utm_campaign=Spring&b=2&a=1'
                ELSE '?b=2&utm_source=feed&a=1&id='
                  || CAST(event_id % 8 AS VARCHAR) END) ||
          (CASE WHEN event_id % 7 = 0 THEN '#sec' ELSE '' END) AS url
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL)"""

  private val q221 = Q("q221_url_canonicalize",
    "URL canonicalization census — the key-hygiene step BEFORE any url-" +
      "keyed dedup: lowercase scheme/host, strip default ports + " +
      "fragments + utm_*/gclid/fbclid/ref params, sort surviving params, " +
      "collapse trailing slashes; per canonical url the event count and " +
      "how many raw spellings collapsed into it — all row-local Column " +
      "composition (regexp + array HOFs, no UDF), mirrored step-for-step " +
      "in DuckDB so the canonical form is an engine-portable contract",
    Some(s"""
      WITH $messyUrlSql,
      p1 AS (SELECT url,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
          AS scheme,
        regexp_replace(regexp_replace(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$$', '') AS nofrag
        FROM u),
      p2 AS (SELECT url, scheme,
        regexp_extract(nofrag, '^([^/?]*)', 1) AS hostport,
        regexp_replace(nofrag, '^[^/?]*', '') AS rest FROM p1),
      p3 AS (SELECT url, scheme,
        lower(regexp_extract(hostport, '^([^:]*)', 1)) AS host,
        regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
        regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$$', '')
          AS path0,
        coalesce(array_to_string(list_sort(list_filter(
          string_split(regexp_extract(rest, '\\?(.*)$$', 1), '&'),
          p -> p <> '' AND NOT regexp_matches(p,
            '^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref)='))), '&'), '') AS q
        FROM p2),
      canon AS (SELECT url,
        scheme || '://' || host ||
        (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
              OR (scheme = 'https' AND port = '443')
              THEN '' ELSE ':' || port END) ||
        (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
        (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canonical_url
        FROM p3)
      SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms
      FROM canon GROUP BY 1 ORDER BY 1"""),
    (s, dir) => {
      import graft.ops.UrlOps
      t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .select(messyUrl.as("url"))
        .select(col("url"), UrlOps.canonicalizeUrl(col("url"))
          .as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("url")).as("n_raw_forms"))
        .orderBy("canonical_url")
    })

  private val q222 = Q("q222_blocklist_suffix",
    "domain-suffix blocklist at RPZ scale: hosts explode into their " +
      "<=8 label-suffixes so 'host ends with .suffix' becomes an EQUI-" +
      "join against the blocklist relation (broadcast when small, plain " +
      "hash join when the list itself is millions of rows) — never a " +
      "LIKE/theta join; per-host blocked flag + event count, distinct-" +
      "host relation joined once however many events share a host",
    Some(s"""
      WITH $messyUrlSql,
      h AS (SELECT lower(regexp_extract(regexp_extract(regexp_replace(url,
              '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1),
              '^([^:]*)', 1)) AS host FROM u),
      b(suffix) AS (VALUES ('tracker.net'), ('blog.example.org')),
      g AS (SELECT host, CAST(count(*) AS BIGINT) AS n_events
            FROM h GROUP BY 1)
      SELECT host,
             EXISTS(SELECT 1 FROM b WHERE g.host = b.suffix
                    OR g.host LIKE '%.' || b.suffix) AS blocked,
             n_events
      FROM g ORDER BY host"""),
    (s, dir) => {
      import s.implicits._
      import graft.ops.UrlOps
      val hosts = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .select(UrlOps.hostOf(messyUrl).as("host"))
      val block = Seq("tracker.net", "blog.example.org").toDF("suffix")
      UrlOps.blocklistJoin(hosts, col("host"), block)
        .groupBy("host", "blocked")
        .agg(count(lit(1)).as("n_events"))
        .select("host", "blocked", "n_events")
        .orderBy("host")
    })

  /** Unrolled k-core peel for the DuckDB oracle: `rounds` rounds of
    * degree-census → survivor filter → edge semi-join over the sparse
    * (qty ≥ 45) co-purchase graph. 14 unrolled rounds ≥ measured peel
    * depth + slack (6 at sf0.01, 10 at sf0.1; peeling is confluent, so
    * extra rounds are no-ops once the fixpoint is reached). */
  private def kCoreSql(k: Int, rounds: Int): String = {
    // AS MATERIALIZED is load-bearing: every round references the
    // previous CTE three times, so inlining would expand the plan 3^R-
    // fold (observed: DuckDB re-opening lineitem until EMFILE at R=14)
    val sb = new StringBuilder(
      """
      WITH e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS a,
          b.l_partkey AS b
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        WHERE a.l_quantity >= 45 AND b.l_quantity >= 45)""")
    for (i <- 0 until rounds) {
      sb.append(s""",
      d$i AS MATERIALIZED (SELECT x, count(*) AS c FROM
        (SELECT a AS x FROM e$i UNION ALL SELECT b FROM e$i) GROUP BY 1),
      s$i AS (SELECT x FROM d$i WHERE c >= $k),
      e${i + 1} AS MATERIALIZED (SELECT e$i.a, e$i.b FROM e$i
        JOIN s$i su ON e$i.a = su.x JOIN s$i sv ON e$i.b = sv.x)""")
    }
    sb.append(s"""
      SELECT x AS node, CAST(count(*) AS BIGINT) AS core_deg
      FROM (SELECT a AS x FROM e$rounds UNION ALL SELECT b FROM e$rounds)
      GROUP BY 1 ORDER BY node""")
    sb.toString
  }

  private val q223 = Q("q223_kcore",
    "3-core of the sparse (qty >= 45) part co-purchase graph: " +
      "iteratively peel degree-<3 nodes to the fixpoint (6 rounds at " +
      "sf0.01, 10 at sf0.1), emit each core node with its WITHIN-core " +
      "degree — peeling is confluent so the core is a deterministic " +
      "set; per round one degree aggregate + two anti-joins against the " +
      "shrinking removed set, survivor edges localCheckpointed so " +
      "lineage stays one round deep at any peel depth",
    Some(kCoreSql(k = 3, rounds = 14)),
    (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
      val pairs = li.as("x")
        .join(li.as("y"),
          col("x.k") === col("y.k") && col("x.p") < col("y.p"))
        .select(col("x.p").as("a"), col("y.p").as("b"))
      Graph.kCore(pairs, k = 3).orderBy("node")
    })

  private val q224 = Q("q224_partition_prune",
    "hive-partitioned layout round trip: events written one directory " +
      "per event_type, read back through a partition-column predicate — " +
      "the predicate becomes PartitionFilters in the scan (pinned by " +
      "PlanIntegritySpec) so non-matching directories are never OPENED, " +
      "the single biggest scan reducer at 100 TB; per-type census " +
      "(rows, exact cents sum, distinct users) proves the round trip " +
      "loses nothing the predicate admits",
    Some("""
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS BIGINT) AS sum_cents,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1 ORDER BY event_type"""),
    (s, dir) => {
      val path = graft.TempDirs.create("graft-q224")
        .toString + "/events_by_type"
      Output.writeHivePartitioned(
        t(s, dir, "events").select("event_type", "value", "user_id"),
        path, Seq("event_type"))
      Output.readHivePartitioned(s, path)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
            .as("sum_cents"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    })

  private val q225 = Q("q225_centroid_drift",
    "pairwise centroid cosine between embedding label groups — the " +
      "cluster-drift matrix in exact integers: centroid division cancels " +
      "out of cosine, so per-dim SUM vectors of floor(v*1000) quantized " +
      "components carry the whole computation (decimal-safe sums, " +
      "category-sized pairwise join, corpus collapses in ONE explode+" +
      "aggregate); dot keeps the sign, cos2_ppm the magnitude",
    Some("""
      WITH d AS (SELECT label, CAST(unnest(embedding) AS DOUBLE) AS v,
                        unnest(range(1, len(embedding) + 1)) AS dim
                 FROM embeddings WHERE label IS NOT NULL),
      q AS (SELECT label, dim,
              CAST(floor(v * 1000.0) AS BIGINT) AS qv FROM d),
      sums AS (SELECT label, dim, CAST(sum(qv) AS HUGEINT) AS s
               FROM q GROUP BY 1, 2),
      cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n
              FROM embeddings WHERE label IS NOT NULL GROUP BY 1),
      norm AS (SELECT label, sum(s * s) AS n2 FROM sums GROUP BY 1),
      dots AS (SELECT a.label AS label_a, b.label AS label_b,
                 sum(a.s * b.s) AS dot
               FROM sums a JOIN sums b
                 ON a.dim = b.dim AND a.label < b.label
               GROUP BY 1, 2)
      SELECT CAST(label_a AS BIGINT) AS label_a, CAST(label_b AS BIGINT) AS label_b,
             ca.n AS n_a, cb.n AS n_b,
             CAST(dot AS BIGINT) AS dot,
             CAST((1000000 * dot * dot) // (na.n2 * nb.n2) AS BIGINT)
               AS cos2_ppm
      FROM dots
        JOIN cnt ca ON ca.label = label_a
        JOIN cnt cb ON cb.label = label_b
        JOIN norm na ON na.label = label_a
        JOIN norm nb ON nb.label = label_b
      ORDER BY label_a, label_b"""),
    (s, dir) => Similarity.centroidCosineMatrix(
        t(s, dir, "embeddings"), "label", "embedding", scale = 1000)
      .orderBy("label_a", "label_b"))

  private val q226 = Q("q226_rank_fusion",
    "reciprocal-rank fusion (Cormack-Clarke-Buettcher, k=60) of two " +
      "retrieval voices over the same queries — BM25 top-20 and the idf-" +
      "free length-normalized TF top-20 — fused purely through RANKS " +
      "(1e9 div (60+rank) per list, exact integers, so incomparable " +
      "score scales never calibrate); fusion is query-sized work, the " +
      "corpus-heavy passes live in the upstream rankers",
    Some("""
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM documents),
      tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
      len AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
      dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      tot AS (SELECT count(*) AS n_docs, CAST(sum(len) AS BIGINT)
                AS total_len FROM len),
      q(query_id, w) AS (VALUES (1, 'join'), (1, 'hash'), (2, 'vector'),
                                (2, 'stream'), (2, 'slow'), (3, 'customer')),
      m AS (SELECT q.query_id, tf.doc_id, tf.tf, len.len, dfq.df,
                   tot.n_docs, tot.total_len,
              (1000000 * (2 * (tot.n_docs - dfq.df) + 1)) // (2 * dfq.df + 1)
                AS idf_ppm
            FROM tf JOIN q USING (w) JOIN len USING (doc_id)
                 JOIN dfq USING (w) CROSS JOIN tot),
      abm AS (SELECT query_id, doc_id,
                CAST(sum((idf_ppm * 44 * tf * total_len) //
                  (20 * tf * total_len + 6 * total_len + 18 * len * n_docs))
                  AS BIGINT) AS s
              FROM m GROUP BY 1, 2),
      ark AS (SELECT query_id, doc_id, row_number() OVER (
                PARTITION BY query_id ORDER BY s DESC, doc_id) AS rank
              FROM abm),
      btf AS (SELECT q.query_id, tf.doc_id,
                CAST(sum((1000000 * tf.tf) // len.len) AS BIGINT) AS s
              FROM tf JOIN q USING (w) JOIN len USING (doc_id)
              GROUP BY 1, 2),
      brk AS (SELECT query_id, doc_id, row_number() OVER (
                PARTITION BY query_id ORDER BY s DESC, doc_id) AS rank
              FROM btf),
      contrib AS (
        SELECT query_id, doc_id, 1000000000 // (60 + rank) AS c
        FROM ark WHERE rank <= 20
        UNION ALL
        SELECT query_id, doc_id, 1000000000 // (60 + rank) AS c
        FROM brk WHERE rank <= 20),
      fused AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_ppb,
                  CAST(count(*) AS BIGINT) AS n_lists
                FROM contrib GROUP BY 1, 2),
      out AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY rrf_ppb DESC, doc_id) AS rank FROM fused)
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rrf_ppb,
             n_lists, CAST(rank AS BIGINT) AS rank
      FROM out WHERE rank <= 10 ORDER BY query_id, rank"""),
    (s, dir) => {
      import s.implicits._
      import graft.ops.Ranking
      val queries = Seq((1L, "join"), (1L, "hash"), (2L, "vector"),
        (2L, "stream"), (2L, "slow"), (3L, "customer"))
        .toDF("query_id", "term")
      val docs = t(s, dir, "documents")
      val a = TextAnalysis.bm25TopK(docs, queries, k = 20)
      val b = TextAnalysis.tfTopK(docs, queries, k = 20)
      Ranking.reciprocalRankFusion(Seq(a, b), topK = 10)
        .orderBy("query_id", "rank")
    })

  private val q227 = Q("q227_pareto_frontier",
    "2-D Pareto frontier over part (minimize price cents, maximize " +
      "size): the multi-objective curation primitive — 'cheapest part " +
      "at every size level' — via two window passes, NEVER a quadratic " +
      "self-join: dominated iff max(y | x strictly lower) >= y (RANGE " +
      "frame to -1) or max(y | same x) > y; pass 1 per hash bucket " +
      "(parallel — domination is transitive so frontier(S) = frontier " +
      "of bucket-frontier union, exactly), pass 2 on survivors only",
    Some("""
      WITH p AS (SELECT p_partkey AS id,
          CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
          CAST(p_size AS BIGINT) AS y
        FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL),
      w AS (SELECT *,
          max(y) OVER (ORDER BY x
            RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS myl,
          max(y) OVER (PARTITION BY x) AS mys
        FROM p)
      SELECT id, x, y FROM w
      WHERE (myl IS NULL OR myl < y) AND mys = y
      ORDER BY x, y, id"""),
    (s, dir) => graft.ops.Skyline.paretoFrontier2D(t(s, dir, "part"),
        "p_partkey",
        expr("CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)"),
        col("p_size"))
      .orderBy("x", "y", "id"))

  private val q228 = Q("q228_csv_roundtrip",
    "RFC-4180 CSV round trip through the four classic mangles: commas " +
      "and \"\"-escaped quotes in fields, embedded newlines (multi-line " +
      "read — non-splittable files, the documented trade), NULL written " +
      "as \\N vs empty string as a quoted empty field (the default " +
      "collapses both); per-lang census with null/empty counts and a " +
      "payload hash XOR proves the distinctions survive the trip",
    Some("""
      WITH g AS (SELECT doc_id, lang,
          CASE WHEN doc_id % 4 = 0 THEN 'a,"b" ' || text
               WHEN doc_id % 4 = 1 THEN text || chr(10) || 'nextline'
               WHEN doc_id % 4 = 2 THEN ''
               ELSE NULL END AS payload
        FROM documents)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN payload IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_nulls,
        CAST(sum(CASE WHEN payload = '' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_empty,
        bit_xor(CAST('0x' || substr(sha256(coalesce(payload, '<NULL>')),
          1, 15) AS BIGINT)) AS payload_xor,
        CAST(sum(length(payload)) AS BIGINT) AS sum_len
      FROM g GROUP BY 1 ORDER BY lang"""),
    (s, dir) => {
      val path = graft.TempDirs.create("graft-q228")
        .toString + "/docs_csv"
      val payload = when(col("doc_id") % 4 === 0,
          concat(lit("a,\"b\" "), col("text")))
        .when(col("doc_id") % 4 === 1, concat(col("text"), lit("\nnextline")))
        .when(col("doc_id") % 4 === 2, lit(""))
        .otherwise(lit(null).cast("string"))
      Formats.csvRoundTrip(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            payload.as("payload")),
          path)
        .withColumn("_h", graft.functions.TextFns.hash64(
          coalesce(col("payload"), lit("<NULL>"))))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("payload").isNull, 1L).otherwise(0L)).as("n_nulls"),
          sum(when(col("payload") === "", 1L).otherwise(0L)).as("n_empty"),
          expr("bit_xor(_h)").as("payload_xor"),
          sum(length(col("payload"))).as("sum_len"))
        .orderBy("lang")
    })

  private val q229 = Q("q229_triplet_mining",
    "contrastive triplet mining inside LSH buckets (5 hyperplanes): per " +
      "anchor the hardest positive (most-similar SAME label) and " +
      "hardest negative (most-similar DIFFERENT label — informative " +
      "because it is close), candidates bucket-quadratic never corpus-" +
      "quadratic, expansion-join repartition pinned; scaled-integer " +
      "cosine kernels keep every tie and every value engine-portable",
    Some("""
      WITH el AS (SELECT vec_id, unnest(embedding) AS v,
            unnest(generate_series(1, len(embedding))) AS i
          FROM embeddings WHERE label IS NOT NULL),
      lbl AS (SELECT vec_id, label FROM embeddings WHERE label IS NOT NULL),
      planes AS (SELECT vec_id, b,
          SUM(CAST(floor((CAST('0x' || substr(sha256(CAST(b AS VARCHAR)
            || ',' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 2001 - 1000)
            * CAST(v AS DOUBLE) * 1e9) AS BIGINT)) AS pdot
        FROM el CROSS JOIN generate_series(0, 4) t(b) GROUP BY vec_id, b),
      sig AS (SELECT vec_id,
          SUM(CASE WHEN pdot >= 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END)
            AS sig
        FROM planes GROUP BY vec_id),
      nrm AS (SELECT vec_id, CAST(SUM(CAST(floor(CAST(v AS DOUBLE)
          * CAST(v AS DOUBLE) * 1e12) AS BIGINT)) AS BIGINT) AS n2s
        FROM el GROUP BY 1),
      cand AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id <> b.vec_id),
      dots AS (SELECT cand.a_id, cand.b_id,
          CAST(SUM(CAST(floor(CAST(x.v AS DOUBLE) * CAST(y.v AS DOUBLE)
            * 1e12) AS BIGINT)) AS BIGINT) AS dot_s
        FROM cand JOIN el x ON x.vec_id = cand.a_id
                  JOIN el y ON y.vec_id = cand.b_id AND x.i = y.i
        GROUP BY 1, 2),
      cosv AS (SELECT d.a_id, d.b_id, la.label AS a_lbl, lb.label AS b_lbl,
          CAST(d.dot_s AS DOUBLE) / (sqrt(CAST(na.n2s AS DOUBLE))
            * sqrt(CAST(nb.n2s AS DOUBLE))) AS cosine
        FROM dots d JOIN nrm na ON na.vec_id = d.a_id
             JOIN nrm nb ON nb.vec_id = d.b_id
             JOIN lbl la ON la.vec_id = d.a_id
             JOIN lbl lb ON lb.vec_id = d.b_id),
      pos AS (SELECT a_id, b_id, cosine FROM (SELECT *, row_number()
          OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rn
          FROM cosv WHERE a_lbl = b_lbl) WHERE rn = 1),
      neg AS (SELECT a_id, b_id, cosine FROM (SELECT *, row_number()
          OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rn
          FROM cosv WHERE a_lbl <> b_lbl) WHERE rn = 1)
      SELECT p.a_id AS anchor_id, CAST(l.label AS BIGINT) AS label, p.b_id AS pos_id,
             p.cosine AS pos_cosine, n.b_id AS neg_id,
             n.cosine AS neg_cosine
      FROM pos p JOIN neg n ON p.a_id = n.a_id
           JOIN lbl l ON l.vec_id = p.a_id
      ORDER BY anchor_id"""),
    (s, dir) => Similarity.tripletMining(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", numPlanes = 5)
      .orderBy("anchor_id"))

  private val q230 = Q("q230_luhn_pii",
    "Luhn-VALIDATED payment-card census per event type: 13-19 digit " +
      "runs (the q86 recall regex) split by mod-10 checksum validity — " +
      "valid_ppm spiking means real card data, candidates spiking alone " +
      "means numeric noise; checksum is a pure integer HOF fold " +
      "mirrored term-for-term in both engines, one row-local extract + " +
      "one map-side-combined aggregate",
    Some("""
      WITH g AS (SELECT event_type,
          CASE WHEN event_id % 3 = 0 THEN 'ref ' ||
                 lpad(CAST((event_id * 48271 + coalesce(user_id, 0))
                   % 10000000000000000 AS VARCHAR), 16, '0') || ' ok'
               WHEN event_id % 3 = 1 THEN 'no digits here'
               ELSE 'twice ' ||
                 lpad(CAST((event_id * 48271 + coalesce(user_id, 0))
                   % 10000000000000000 AS VARCHAR), 16, '0') || ' and ' ||
                 lpad(CAST((event_id * 13) % 100000000000000 AS VARCHAR),
                   14, '0')
          END AS txt
        FROM events WHERE event_type IS NOT NULL),
      cand AS (SELECT event_type,
          unnest(regexp_extract_all(txt, '[0-9]{13,19}')) AS num FROM g),
      v AS (SELECT event_type, num,
          list_sum(list_transform(range(0, length(num)), i ->
            CASE WHEN i % 2 = 0
              THEN CAST(substr(num, length(num) - CAST(i AS INT), 1)
                AS BIGINT)
              ELSE 2 * CAST(substr(num, length(num) - CAST(i AS INT), 1)
                AS BIGINT)
                - CASE WHEN 2 * CAST(substr(num,
                    length(num) - CAST(i AS INT), 1) AS BIGINT) > 9
                  THEN 9 ELSE 0 END
            END)) AS s
        FROM cand),
      agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_candidates,
          CAST(sum(CASE WHEN s % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_valid
        FROM v GROUP BY 1),
      base AS (SELECT DISTINCT event_type FROM g)
      SELECT b.event_type,
        CAST(coalesce(n_candidates, 0) AS BIGINT) AS n_candidates,
        CAST(coalesce(n_valid, 0) AS BIGINT) AS n_valid,
        CASE WHEN coalesce(n_candidates, 0) > 0
          THEN CAST((1000000 * n_valid) // n_candidates AS BIGINT) END
          AS valid_ppm
      FROM base b LEFT JOIN agg USING (event_type)
      ORDER BY event_type"""),
    (s, dir) => {
      val num16 = lpad(((col("event_id") * 48271L +
          coalesce(col("user_id"), lit(0L))) % 10000000000000000L)
        .cast("string"), 16, "0")
      val num14 = lpad(((col("event_id") * 13L) % 100000000000000L)
        .cast("string"), 14, "0")
      val txt = when(col("event_id") % 3 === 0,
          concat(lit("ref "), num16, lit(" ok")))
        .when(col("event_id") % 3 === 1, lit("no digits here"))
        .otherwise(concat(lit("twice "), num16, lit(" and "), num14))
      TextAnalysis.luhnCensus(
          t(s, dir, "events").filter(col("event_type").isNotNull)
            .select(col("event_type"), txt.as("text")),
          "event_type")
        .orderBy("event_type")
    })

  /** Unrolled Hilbert xy→d transform for the DuckDB oracle: `bits` steps
    * of the standard rotate/reflect recurrence (each CTE referenced once
    * → linear inlining, unlike q223's thrice-referenced peel rounds).
    * Mirrors HilbertUtil.index bit for bit. */
  private def hilbertSql(bits: Int, bucketShift: Int): String = {
    val scale = (1L << bits) - 1
    val sb = new StringBuilder(
      s"""
      WITH src AS (SELECT l_partkey AS x, l_suppkey AS y FROM lineitem),
      mm AS (SELECT min(x) AS xmin, max(x) AS xmax,
                    min(y) AS ymin, max(y) AS ymax FROM src),
      h0 AS (SELECT x, y,
        CASE WHEN xmax = xmin THEN 0 ELSE
          CAST(floor((CAST(x AS DOUBLE) - xmin) / (xmax - xmin) * $scale)
               AS BIGINT) END AS hx,
        CASE WHEN ymax = ymin THEN 0 ELSE
          CAST(floor((CAST(y AS DOUBLE) - ymin) / (ymax - ymin) * $scale)
               AS BIGINT) END AS hy,
        CAST(0 AS BIGINT) AS d
        FROM src, mm)""")
    for (i <- 0 until bits) {
      val s = 1L << (bits - 1 - i)
      sb.append(s""",
      a$i AS (SELECT x, y, hx, hy, d,
        CASE WHEN (hx & $s) <> 0 THEN 1 ELSE 0 END AS rx,
        CASE WHEN (hy & $s) <> 0 THEN 1 ELSE 0 END AS ry FROM h$i),
      h${i + 1} AS (SELECT x, y,
        CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN $s - 1 - hy
          ELSE hy END ELSE hx END AS hx,
        CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN $s - 1 - hx
          ELSE hx END ELSE hy END AS hy,
        d + CAST(${s * s} AS BIGINT) * xor(3 * rx, ry) AS d FROM a$i)""")
    }
    sb.append(s"""
      SELECT CAST(d >> $bucketShift AS BIGINT) AS hbucket,
             count(*) AS n_rows,
             min(x) AS x_min, max(x) AS x_max,
             min(y) AS y_min, max(y) AS y_max
      FROM h$bits GROUP BY 1 ORDER BY 1""")
    sb.toString
  }

  private val q231 = Q("q231_hilbert_layout",
    "Hilbert-curve two-dimensional clustering — q131's Morton layout " +
      "with better locality (every unit curve step is a unit grid step, " +
      "so curve-range buckets are contiguous regions and BOTH dims' " +
      "min/max footers tighten beyond Z-order's quadrant jumps): " +
      "16-bit quantized (l_partkey, l_suppkey) through the native " +
      "graft_hilbert_index codegen kernel, top-6-bit buckets, per-" +
      "bucket counts + min/max audited bit-for-bit against the 16-step " +
      "rotate/reflect recurrence unrolled in SQL",
    Some(hilbertSql(bits = 16, bucketShift = 26)),
    (s, dir) => graft.ops.Output.hilbertBuckets(
        t(s, dir, "lineitem").select(
          col("l_partkey").as("x"), col("l_suppkey").as("y")),
        "x", "y", bits = 16, nBuckets = 64)
      .groupBy("hbucket").agg(
        count(lit(1)).as("n_rows"),
        min("x").as("x_min"), max("x").as("x_max"),
        min("y").as("y_min"), max("y").as("y_max"))
      .orderBy("hbucket"))

  private val q232 = Q("q232_schema_evolution",
    "schema-evolution read across parquet batches with DIFFERENT " +
      "schemas (columns added mid-corpus — the normal state of a long-" +
      "lived table): batch 1 ships (doc_id, lang, n_chars), batch 2 " +
      "adds source and n_tokens; mergeSchema unions the footers, pre-" +
      "evolution rows surface added columns as NULL (never a read " +
      "error, never silent loss), batch directories double as a " +
      "partition column; per-lang census proves both batches' rows and " +
      "the null-vs-present split survive",
    Some("""
      SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN doc_id % 2 = 1 AND source IS NOT NULL
          THEN 1 ELSE 0 END) AS BIGINT) AS n_with_source,
        CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 2 * n_chars END) AS BIGINT)
          AS sum_tokens,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY 1 ORDER BY lang"""),
    (s, dir) => {
      val root = graft.TempDirs.create("graft-q232")
        .toString + "/docs_evolved"
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$root/batch=1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("source"), (col("n_chars") * 2).as("n_tokens"))
        .write.mode("overwrite").parquet(s"$root/batch=2")
      Formats.evolvedParquetRead(s, root)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("source").isNotNull, 1L).otherwise(0L))
            .as("n_with_source"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    })

  private val q233 = Q("q233_token_bucket",
    "token-bucket admission replay per user (capacity 5, 1 token per " +
      "12h, integer floor per gap): quota/politeness policy audited " +
      "against yesterday's traffic BEFORE enforcement — the recurrence " +
      "(cap + conditional decrement) is non-associative, so the honest " +
      "primitive is the secondary-sort scan: ONE shuffle on user, " +
      "spillable partition-local sort, single pass with O(1) state per " +
      "row (hot keys cost time, never memory); oracle walks the same " +
      "recurrence as a recursive CTE",
    Some("""
      WITH RECURSIVE ev AS (
        SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
          row_number() OVER (PARTITION BY user_id
            ORDER BY epoch_ms(ts), event_id) AS rn
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      scan AS (
        SELECT user_id, rn, ts_ms, CAST(4 AS BIGINT) AS tokens,
               TRUE AS admitted
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn, e.ts_ms,
          least(5, s.tokens + (e.ts_ms - s.ts_ms) // 43200000)
            - CASE WHEN least(5, s.tokens +
                (e.ts_ms - s.ts_ms) // 43200000) >= 1 THEN 1 ELSE 0 END,
          least(5, s.tokens + (e.ts_ms - s.ts_ms) // 43200000) >= 1
        FROM scan s JOIN ev e
          ON e.user_id = s.user_id AND e.rn = s.rn + 1)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)
          AS n_admitted,
        CAST(sum(CASE WHEN admitted THEN 0 ELSE 1 END) AS BIGINT)
          AS n_rejected
      FROM scan GROUP BY 1 ORDER BY user_id"""),
    (s, dir) => EventAnalytics.tokenBucketAdmit(
        t(s, dir, "events").filter(col("ts").isNotNull),
        "user_id", unix_millis(col("ts")), "event_id",
        capacity = 5L, refillNum = 1L, refillDenMs = 43200000L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("admitted"), 0L).otherwise(1L)).as("n_rejected"))
      .orderBy("user_id"))

  private val q234 = Q("q234_budget_waterfill",
    "water-filling budget allocation at 95% of corpus chars — q205's " +
      "complement: keep the TOTAL (spend the budget), bend the mixture " +
      "minimally (a saturated language gives everything it has, its " +
      "unmet share redistributes in target proportion over the rest); " +
      "Jacobi saturation rounds with exact integer cross-product tests " +
      "(3 rounds at sf0.01, 2 at sf0.1 — bounded by |sources|); the " +
      "distributed half is ONE availability aggregate, the fill runs on " +
      "the model-sized target list",
    Some("""
      WITH t(lang, ppm) AS (VALUES ('en', 400000), ('de', 150000),
             ('es', 150000), ('fr', 150000), ('zh', 150000)),
      a AS MATERIALIZED (SELECT t.lang, t.ppm,
             CAST(coalesce(sum(d.n_chars), 0) AS BIGINT) AS avail
           FROM t LEFT JOIN documents d ON d.lang = t.lang GROUP BY 1, 2),
      b AS (SELECT CAST(sum(avail) * 95 // 100 AS BIGINT) AS budget FROM a),
      s0 AS (SELECT lang, ppm, avail, FALSE AS sat FROM a),
      n0 AS (SELECT CAST((SELECT budget FROM b)
               - coalesce(sum(CASE WHEN sat THEN avail END), 0) AS HUGEINT)
               AS num,
             CAST(coalesce(sum(CASE WHEN NOT sat THEN ppm END), 0)
               AS HUGEINT) AS den FROM s0),
      s1 AS MATERIALIZED (SELECT lang, ppm, avail,
             sat OR (NOT sat AND den > 0
               AND CAST(avail AS HUGEINT) * den <= num * ppm) AS sat
           FROM s0, n0),
      n1 AS (SELECT CAST((SELECT budget FROM b)
               - coalesce(sum(CASE WHEN sat THEN avail END), 0) AS HUGEINT)
               AS num,
             CAST(coalesce(sum(CASE WHEN NOT sat THEN ppm END), 0)
               AS HUGEINT) AS den FROM s1),
      s2 AS MATERIALIZED (SELECT lang, ppm, avail,
             sat OR (NOT sat AND den > 0
               AND CAST(avail AS HUGEINT) * den <= num * ppm) AS sat
           FROM s1, n1),
      n2 AS (SELECT CAST((SELECT budget FROM b)
               - coalesce(sum(CASE WHEN sat THEN avail END), 0) AS HUGEINT)
               AS num,
             CAST(coalesce(sum(CASE WHEN NOT sat THEN ppm END), 0)
               AS HUGEINT) AS den FROM s2),
      s3 AS MATERIALIZED (SELECT lang, ppm, avail,
             sat OR (NOT sat AND den > 0
               AND CAST(avail AS HUGEINT) * den <= num * ppm) AS sat
           FROM s2, n2),
      n3 AS (SELECT CAST((SELECT budget FROM b)
               - coalesce(sum(CASE WHEN sat THEN avail END), 0) AS HUGEINT)
               AS num,
             CAST(coalesce(sum(CASE WHEN NOT sat THEN ppm END), 0)
               AS HUGEINT) AS den FROM s3),
      s4 AS MATERIALIZED (SELECT lang, ppm, avail,
             sat OR (NOT sat AND den > 0
               AND CAST(avail AS HUGEINT) * den <= num * ppm) AS sat
           FROM s3, n3),
      n4 AS (SELECT CAST((SELECT budget FROM b)
               - coalesce(sum(CASE WHEN sat THEN avail END), 0) AS HUGEINT)
               AS num,
             CAST(coalesce(sum(CASE WHEN NOT sat THEN ppm END), 0)
               AS HUGEINT) AS den FROM s4)
      SELECT lang AS source, avail, CAST(ppm AS BIGINT) AS weight_ppm,
        CAST(CASE WHEN sat THEN avail
             ELSE (num * ppm) // den END AS BIGINT) AS allocation,
        sat AS saturated
      FROM s4, n4 ORDER BY source"""),
    (s, dir) =>
      // budget = 95% of the TARGET langs' availability, derived from the
      // same census the fill uses (one scan; a doc in a non-target or
      // NULL lang cannot skew the budget — matches the oracle's
      // sum(avail) over the target list, not the whole corpus)
      Sampling.budgetWaterFillShare(t(s, dir, "documents"), "lang",
          col("n_chars"),
          Seq("en" -> 400000L, "de" -> 150000L, "es" -> 150000L,
            "fr" -> 150000L, "zh" -> 150000L),
          shareNum = 95L, shareDen = 100L)
        .orderBy("source"))

  private val q236 = Q("q236_source_overlap",
    "cross-source passage-contamination matrix: shared distinct 3-gram " +
      "shingles per source pair with containment ppm BOTH directions — " +
      "'which crawls copied from which' when doc-level dedup (q20) " +
      "reads clean but passages still leak; zero-overlap pairs included " +
      "via the counts grid (a pair sharing nothing is the answer, not a " +
      "missing row); output |sources|^2-sized no matter the corpus",
    Some("""
      WITH w AS (SELECT source, string_split(text, ' ') AS ws
                 FROM documents),
      j AS (SELECT source, ws, unnest(generate_series(1, len(ws) - 2)) AS i
            FROM w),
      sh AS (SELECT DISTINCT source,
               CAST('0x' || substr(sha256(
                 ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15)
                 AS BIGINT) AS h
             FROM j),
      c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
      p AS (SELECT a.source AS source_a, b.source AS source_b,
              CAST(count(*) AS BIGINT) AS shared
            FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
            GROUP BY 1, 2),
      g AS (SELECT ca.source AS source_a, cb.source AS source_b,
              ca.n AS n_a, cb.n AS n_b
            FROM c ca CROSS JOIN c cb WHERE ca.source < cb.source)
      SELECT g.source_a AS source_a, g.source_b AS source_b,
             CAST(coalesce(shared, 0) AS BIGINT) AS n_shared, n_a, n_b,
             CAST((1000000 * coalesce(shared, 0)) // n_a AS BIGINT)
               AS contain_a_ppm,
             CAST((1000000 * coalesce(shared, 0)) // n_b AS BIGINT)
               AS contain_b_ppm
      FROM g LEFT JOIN p ON g.source_a = p.source_a
                        AND g.source_b = p.source_b
      ORDER BY g.source_a, g.source_b"""),
    (s, dir) => Dedup.sourceShingleOverlap(t(s, dir, "documents"),
        "source", "text", n = 3)
      .orderBy("source_a", "source_b"))

  private val q237 = Q("q237_filter_attrition",
    "curation-funnel attrition: every document attributed to the FIRST " +
      "rule it fails in chain order (too_short -> unsupported_lang -> " +
      "low_word_count) or 'kept' — the report q194's independent per-" +
      "rule counts cannot give (overlapping failures double-count " +
      "there); one row-local CASE chain into ONE map-side-combined " +
      "aggregate, shares in exact ppm",
    Some("""
      WITH lab AS (SELECT
          CASE WHEN NOT coalesce(n_chars >= 200, FALSE) THEN 'too_short'
               WHEN NOT coalesce(lang IN ('en','de','es','fr'), FALSE)
                 THEN 'unsupported_lang'
               WHEN NOT coalesce(len(string_split(text, ' ')) >= 60, FALSE)
                 THEN 'low_word_count'
               ELSE 'kept' END AS reason
        FROM documents),
      c AS (SELECT reason, CAST(count(*) AS BIGINT) AS n FROM lab
            GROUP BY 1),
      t AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS total FROM c),
      r(rule_idx, reason) AS (VALUES (0, 'too_short'),
        (1, 'unsupported_lang'), (2, 'low_word_count'), (3, 'kept'))
      SELECT CAST(r.rule_idx AS BIGINT) AS rule_idx, r.reason,
             CAST(coalesce(c.n, 0) AS BIGINT) AS n_rows,
             CAST(CASE WHEN t.total > 0
               THEN (1000000 * coalesce(c.n, 0)) // t.total
               ELSE 0 END AS BIGINT) AS share_ppm
      FROM r LEFT JOIN c ON c.reason = r.reason CROSS JOIN t
      ORDER BY rule_idx"""),
    (s, dir) => Profile.filterAttrition(t(s, dir, "documents"), Seq(
        "too_short" -> (col("n_chars") >= 200),
        "unsupported_lang" ->
          col("lang").isin("en", "de", "es", "fr"),
        "low_word_count" ->
          (size(split(col("text"), " ")) >= 60)))
      .orderBy("rule_idx"))

  /** Per-dim truncated-cosine top-k blocks for the q238 oracle —
    * the q26 exact-kernel CTE pattern with an `i <= d` cut. */
  private def truncRecallSql(dims: Seq[Int], k: Int): String = {
    def block(tag: String, cut: String) = s"""
      nrm_$tag AS MATERIALIZED (SELECT vec_id,
          CAST(SUM(CAST(floor(v * v * 1e12) AS BIGINT)) AS BIGINT) AS n2s
        FROM el WHERE $cut GROUP BY 1),
      top_$tag AS MATERIALIZED (SELECT q_id, n_id FROM (
        SELECT d.q_id, d.n_id, ROW_NUMBER() OVER (PARTITION BY d.q_id
          ORDER BY CAST(d.dot AS DOUBLE) /
            (sqrt(CAST(nq.n2s AS DOUBLE)) * sqrt(CAST(nc.n2s AS DOUBLE)))
            DESC, d.n_id) AS r
        FROM (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                CAST(SUM(CAST(floor(a.v * b.v * 1e12) AS BIGINT))
                  AS BIGINT) AS dot
              FROM el a JOIN el b ON a.i = b.i
              WHERE a.vec_id IN (0, 1, 2) AND a.$cut
              GROUP BY 1, 2) d
          JOIN nrm_$tag nq ON nq.vec_id = d.q_id
          JOIN nrm_$tag nc ON nc.vec_id = d.n_id)
        WHERE r <= $k)"""
    val blocks = block("full", "i >= 1") +: dims.map(d =>
      "," + block(s"d$d", s"i <= $d"))
    val sels = dims.map { d =>
      s"""
      SELECT g.q_id AS query_id, CAST($d AS BIGINT) AS dim,
        CAST($k AS BIGINT) AS k,
        CAST(coalesce(o.n, 0) AS BIGINT) AS n_overlap,
        CAST((1000000 * coalesce(o.n, 0)) // $k AS BIGINT) AS recall_ppm
      FROM (SELECT DISTINCT q_id FROM top_full) g
      LEFT JOIN (SELECT q_id, count(*) AS n FROM top_d$d
                 JOIN top_full USING (q_id, n_id) GROUP BY 1) o
        USING (q_id)"""
    }.mkString(" UNION ALL ")
    s"""
      WITH el AS MATERIALIZED (SELECT vec_id,
          CAST(unnest(embedding) AS DOUBLE) AS v,
          unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings),${blocks.mkString}
      $sels ORDER BY dim, query_id"""
  }

  private val q238 = Q("q238_truncation_recall",
    "matryoshka truncation audit: exact top-5 over the FIRST d of 64 " +
      "embedding dims (d = 8/16/32/64) measured against the full-width " +
      "top-5, overlap in ppm per query — the store-a-prefix-at-a-" +
      "quarter-the-bytes decision made the q190/q211 sketch-vs-exact " +
      "way; d=64 reads 1e6 by construction (the sanity row); scaled-" +
      "integer cosine kernels keep every rank engine-portable",
    Some(truncRecallSql(dims = Seq(8, 16, 32, 64), k = 5)),
    (s, dir) => Similarity.truncationRecallAudit(t(s, dir, "embeddings"),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L),
        dims = Seq(8, 16, 32, 64), k = 5)
      .orderBy("dim", "query_id"))

  private val q239 = Q("q239_embedding_dim_drift",
    "per-DIMENSION two-sample KS over quantized embedding components " +
      "(labels 0-4 vs 5-9): 64 exact-integer KS statistics from ONE " +
      "pass, rank windows PARTITIONED by dim — per-dim SHAPE drift the " +
      "centroid matrix (q225, first moment) cannot see, and the keyed-" +
      "window scale posture the global KS (q169) lacks; the embedding-" +
      "space monitoring column a feature-drift dashboard plots per dim",
    Some("""
      WITH d AS (SELECT label,
            CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0)
              AS BIGINT) AS v,
            unnest(range(1, len(embedding) + 1)) AS dim
          FROM embeddings WHERE label IS NOT NULL),
      s AS (SELECT CAST(dim AS BIGINT) AS g, v,
              CASE WHEN label < 5 THEN 1 ELSE 0 END AS a FROM d),
      c AS (SELECT g, v, CAST(sum(a) AS BIGINT) AS ca,
              CAST(sum(1 - a) AS BIGINT) AS cb FROM s GROUP BY 1, 2),
      w AS (SELECT g, v, ca, cb,
              CAST(sum(ca) OVER (PARTITION BY g) AS BIGINT) AS n_a,
              CAST(sum(cb) OVER (PARTITION BY g) AS BIGINT) AS n_b,
              sum(ca) OVER (PARTITION BY g ORDER BY v
                ROWS UNBOUNDED PRECEDING) AS cuma,
              sum(cb) OVER (PARTITION BY g ORDER BY v
                ROWS UNBOUNDED PRECEDING) AS cumb
            FROM c)
      SELECT g AS dim, n_a, n_b,
        CAST(max(abs(CAST(cuma AS HUGEINT) * n_b
          - CAST(cumb AS HUGEINT) * n_a)) AS BIGINT) AS ks_num,
        CAST((1000000 * max(abs(CAST(cuma AS HUGEINT) * n_b
          - CAST(cumb AS HUGEINT) * n_a)))
          // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS ks_ppm
      FROM w GROUP BY 1, 2, 3 ORDER BY dim"""),
    (s, dir) => Profile.ksTwoSampleByGroup(
        t(s, dir, "embeddings").filter(col("label").isNotNull)
          .select(col("label"), posexplode(col("embedding")))
          .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
            floor(col("col").cast("double") * 1000.0).cast("long")
              .as("q")),
        "dim", col("q"), col("label") < 5)
      .orderBy("dim"))

  /** Three-layout footprint comparison for the q240 oracle: range-on-x,
    * Morton (q131's expression), Hilbert (q231's unrolled chain, `hh`/
    * `ha` names so it can sit beside the others). */
  private def layoutFootprintSql: String = {
    val steps = new StringBuilder
    for (i <- 0 until 16) {
      val s = 1L << (15 - i)
      steps.append(s""",
      ha$i AS (SELECT x, y, hx, hy, hd,
        CASE WHEN (hx & $s) <> 0 THEN 1 ELSE 0 END AS rx,
        CASE WHEN (hy & $s) <> 0 THEN 1 ELSE 0 END AS ry FROM hh$i),
      hh${i + 1} AS (SELECT x, y,
        CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN $s - 1 - hy
          ELSE hy END ELSE hx END AS hx,
        CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN $s - 1 - hx
          ELSE hx END ELSE hy END AS hy,
        hd + CAST(${s * s} AS BIGINT) * xor(3 * rx, ry) AS hd
        FROM ha$i)""")
    }
    s"""
      WITH src AS (SELECT l_partkey AS x, l_suppkey AS y FROM lineitem),
      mm AS (SELECT min(x) AS xmin, max(x) AS xmax,
                    min(y) AS ymin, max(y) AS ymax FROM src),
      q AS (SELECT x, y,
            CASE WHEN xmax = xmin THEN 0 ELSE
              CAST(floor((CAST(x AS DOUBLE) - xmin) / (xmax - xmin)
                * 65535) AS BIGINT) END AS qx,
            CASE WHEN ymax = ymin THEN 0 ELSE
              CAST(floor((CAST(y AS DOUBLE) - ymin) / (ymax - ymin)
                * 65535) AS BIGINT) END AS qy
            FROM src, mm),
      z AS (SELECT x, y,
            (SELECT SUM((((qx >> i) & 1) << (2*i))
                      + (((qy >> i) & 1) << (2*i+1)))
             FROM generate_series(0, 15) AS t(i)) >> 26 AS bucket
            FROM q),
      hh0 AS (SELECT x, y, qx AS hx, qy AS hy, CAST(0 AS BIGINT) AS hd
              FROM q)$steps,
      h AS (SELECT x, y, hd >> 26 AS bucket FROM hh16),
      r AS (SELECT x, y, qx >> 10 AS bucket FROM q),
      tot AS (SELECT CAST(max(x) - min(x) + 1 AS HUGEINT) AS xs,
                     CAST(max(y) - min(y) + 1 AS HUGEINT) AS ys FROM src),
      f AS (
        SELECT 'hilbert' AS layout, bucket,
          CAST(max(x) - min(x) + 1 AS HUGEINT) AS bxs,
          CAST(max(y) - min(y) + 1 AS HUGEINT) AS bys
        FROM h GROUP BY 1, 2
        UNION ALL
        SELECT 'range_x', bucket, CAST(max(x) - min(x) + 1 AS HUGEINT),
          CAST(max(y) - min(y) + 1 AS HUGEINT) FROM r GROUP BY 1, 2
        UNION ALL
        SELECT 'zorder', bucket, CAST(max(x) - min(x) + 1 AS HUGEINT),
          CAST(max(y) - min(y) + 1 AS HUGEINT) FROM z GROUP BY 1, 2)
      SELECT layout, CAST(count(*) AS BIGINT) AS n_buckets,
        CAST((1000000 * sum(bxs)) // (CAST(count(*) AS HUGEINT)
          * (SELECT xs FROM tot)) AS BIGINT) AS x_footprint_ppm,
        CAST((1000000 * sum(bys)) // (CAST(count(*) AS HUGEINT)
          * (SELECT ys FROM tot)) AS BIGINT) AS y_footprint_ppm,
        CAST((1000000 * sum(bxs * bys)) // (CAST(count(*) AS HUGEINT)
          * (SELECT xs FROM tot) * (SELECT ys FROM tot)) AS BIGINT)
          AS area_ppm
      FROM f GROUP BY 1 ORDER BY layout"""
  }

  private val q240 = Q("q240_layout_footprint",
    "file-skipping audit across THREE physical layouts of the same " +
      "(partkey, suppkey) relation — range-on-x (single-column sort), " +
      "Morton (q131), Hilbert (q231): footprint_ppm = expected fraction " +
      "of the key space a bucket's min/max footer admits, PER DIM (the " +
      "joint area is a sanity column — equal tilings are area-" +
      "indistinguishable): the range layout reads ~1e6/64 on x but " +
      "~1e6 on its blind y; the curves split the loss ~1e6/8 each — " +
      "the audit that turns the layout choice into a measured number " +
      "instead of folklore",
    Some(layoutFootprintSql),
    (s, dir) => {
      import graft.ops.Output
      val src = t(s, dir, "lineitem")
        .select(col("l_partkey").as("x"), col("l_suppkey").as("y"))
      val mm = broadcast(src.agg(
        min(col("x")).as("__xmin"), max(col("x")).as("__xmax")))
      val rangeB = src.crossJoin(mm)
        .withColumn("bucket", shiftright(
          when(col("__xmax") === col("__xmin"), lit(0L))
            .otherwise(floor((col("x").cast("double") - col("__xmin"))
              / (col("__xmax") - col("__xmin")) * 65535).cast("long")),
          10))
      val zb = Output.zorderBuckets(src, "x", "y", bits = 16, nBuckets = 64)
      val hb = Output.hilbertBuckets(src, "x", "y", bits = 16, nBuckets = 64)
      Output.layoutFootprint(hb, "hbucket", "x", "y", "hilbert")
        .unionByName(Output.layoutFootprint(rangeB, "bucket", "x", "y",
          "range_x"))
        .unionByName(Output.layoutFootprint(zb, "zbucket", "x", "y",
          "zorder"))
        .orderBy("layout")
    })

  private val q241 = Q("q241_capped_exact_pairs",
    "q178's exact prefix-Jaccard join under the maxPairs output cap " +
      "(top-50 by jaccard_ppm DESC, doc_a, doc_b — a distributed top-k, " +
      "so only the kept rows materialize) with the LOUD in-band " +
      "truncation flag: every emitted row carries truncated = whether " +
      "the qualifying pair set exceeded the cap — the guard a 100x " +
      "corpus needs because exact pairwise output grows with pair " +
      "density no matter the plan (SCALING.md q178 row)",
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      jx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS j FROM w),
      sh AS (SELECT DISTINCT doc_id,
             CAST('0x' || substr(sha256(w[j] || ' ' || w[j+1] || ' ' || w[j+2]), 1, 15) AS BIGINT) AS sh
             FROM jx),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      pairs AS (SELECT doc_a, doc_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
                 CAST((1000000 * n_inter) // (sa.n_sh + sb.n_sh - n_inter)
                   AS BIGINT) AS jaccard_ppm
                FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                           JOIN sizes sb ON doc_b = sb.doc_id
                WHERE 2 * n_inter >= sa.n_sh + sb.n_sh - n_inter),
      ranked AS (SELECT *,
                 row_number() OVER (ORDER BY jaccard_ppm DESC, doc_a, doc_b) AS rn,
                 count(*) OVER () AS n_tot
                 FROM pairs)
      SELECT doc_a, doc_b, n_inter, n_a, n_b, jaccard_ppm,
             n_tot > 50 AS truncated
      FROM ranked WHERE rn <= 50 ORDER BY doc_a, doc_b"""),
    (s, dir) => Dedup.prefixJaccardPairs(t(s, dir, "documents"), "doc_id",
      "text", tauNum = 1, tauDen = 2, maxPairs = 50)
      .orderBy("doc_a", "doc_b"))

  private val q242 = Q("q242_rendezvous_moves",
    "rendezvous (HRW) re-shard audit: per-source census of keys that move " +
      "when the shard count grows 8 -> 9 — row-local arg-max over " +
      "sha256 per-(key,shard) scores (no explode, no key shuffle; the only " +
      "exchange is the source-sized census), expected move mass 1/9 " +
      "~= 111111 ppm; the consistent-placement contract a lake relies on " +
      "when it re-shards incrementally instead of rewriting everything",
    Some("""
      WITH s AS (
        SELECT d.doc_id, d.source, g.s AS shard,
               CAST('0x' || substr(sha256(CAST(d.doc_id AS VARCHAR) || ':' ||
                 CAST(g.s AS VARCHAR)), 1, 15) AS BIGINT) AS score
        FROM documents d CROSS JOIN generate_series(0, 8) g(s)),
      a AS (SELECT doc_id, any_value(source) AS source,
                   arg_max(shard, score) FILTER (WHERE shard < 8)
                     AS shard_before,
                   arg_max(shard, score) AS shard_after
            FROM s GROUP BY doc_id)
      SELECT source, count(*) AS n_keys,
             CAST(sum(CASE WHEN shard_before <> shard_after THEN 1 ELSE 0 END)
               AS BIGINT) AS n_moved,
             CAST((1000000 * sum(CASE WHEN shard_before <> shard_after
                 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS moved_ppm
      FROM a GROUP BY source ORDER BY source"""),
    (s, dir) => Output.rendezvousMoveCensus(t(s, dir, "documents"),
      "doc_id", "source", shardsBefore = 8, shardsAfter = 9)
      .orderBy("source"))

  private val q243 = Q("q243_compaction_plan",
    "small-file compaction planner: cumulative-size binning of a file " +
      "manifest into ~2000-byte rewrite groups per source (Delta " +
      "OPTIMIZE / Iceberg rewrite_data_files' planning step) — ONE window " +
      "over the metadata-sized manifest, exact integer division, groups " +
      "overshoot by at most one file (the greedy contract)",
    Some("""
      WITH f AS (SELECT source, doc_id % 50 AS file_id,
                        sum(strlen(text)) AS bytes, count(*) AS n_docs
                 FROM documents GROUP BY 1, 2),
      c AS (SELECT source, file_id, bytes, n_docs,
            COALESCE(SUM(bytes) OVER (PARTITION BY source ORDER BY file_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
            FROM f)
      SELECT source, CAST(prev // 2000 AS BIGINT) AS compaction_group,
             count(*) AS n_files, CAST(sum(n_docs) AS BIGINT) AS n_docs,
             CAST(sum(bytes) AS BIGINT) AS bytes
      FROM c GROUP BY 1, 2 ORDER BY source, compaction_group"""),
    (s, dir) => {
      val files = t(s, dir, "documents")
        .groupBy(col("source"), (col("doc_id") % 50).as("file_id"))
        .agg(sum(octet_length(col("text"))).as("bytes"),
          count(lit(1)).as("n_docs"))
      Output.compactionGroups(files, "source", "file_id", "bytes",
        targetBytes = 2000L)
        .groupBy("source", "compaction_group")
        .agg(count(lit(1)).as("n_files"), sum("n_docs").as("n_docs"),
          sum("bytes").as("bytes"))
        .orderBy("source", "compaction_group")
    })

  private val q245 = Q("q245_label_propagation",
    "community detection: 2 rounds of SYNCHRONOUS label propagation over " +
      "the symmetrized customer-supplier trade graph (long node ids: " +
      "custkey*2 / suppkey*2+1) — mode-of-neighbor-labels, ties to the " +
      "smallest label, so the async order-dependence of classic LPA is " +
      "gone and the oracle unrolls both rounds; per-community size census",
    Some("""
      WITH pairs AS (
        SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (SELECT a AS src, b AS dst FROM pairs
                UNION ALL SELECT b, a FROM pairs),
      lab0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
      c1 AS (SELECT e.dst, l.label, count(*) AS c
             FROM edges e JOIN lab0 l ON e.src = l.node GROUP BY 1, 2),
      lab1 AS (SELECT dst AS node, label FROM (
               SELECT dst, label, row_number() OVER (PARTITION BY dst
                 ORDER BY c DESC, label) AS rn FROM c1) WHERE rn = 1),
      c2 AS (SELECT e.dst, l.label, count(*) AS c
             FROM edges e JOIN lab1 l ON e.src = l.node GROUP BY 1, 2),
      lab2 AS (SELECT dst AS node, label FROM (
               SELECT dst, label, row_number() OVER (PARTITION BY dst
                 ORDER BY c DESC, label) AS rn FROM c2) WHERE rn = 1)
      SELECT label, count(*) AS n_nodes
      FROM lab2 GROUP BY 1 ORDER BY label"""),
    (s, dir) => {
      val pairs = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      // symmetrized input is total by construction → skip the
      // directed-totality seed union and keep-label join (the r13
      // shallow-path regression: 0.61 → 4.01 s; r14 restores the
      // single cut-free job)
      Graph.labelPropagation(edges, "src", "dst", rounds = 2,
        assumeTotal = true)
        .groupBy("label").agg(count(lit(1)).as("n_nodes"))
        .orderBy("label")
    })

  private val q246 = Q("q246_capped_cosine_pairs",
    "q92's exact TF-IDF cosine pairs under the family-wide loud-cap " +
      "contract (q241's): top-10 by (cosine DESC, doc_a, doc_b) via " +
      "distributed top-k — generation stays exact, only kept rows " +
      "materialize, truncation reported in-band on every row; completes " +
      "the bounded-output modes across the exact-pair family (jaccard " +
      "q241, recall-audit slice q190, cosine here)",
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      jx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS j FROM w),
      tf AS (SELECT doc_id,
             CAST('0x' || substr(sha256(w[j] || ' ' || w[j+1] || ' ' || w[j+2]), 1, 15) AS BIGINT) AS term,
             count(*) AS tf
             FROM jx GROUP BY 1, 2),
      dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 100),
      n AS (SELECT count(*) AS n_docs FROM documents),
      wt AS (SELECT doc_id, term, (tf * n_docs) // df AS wi FROM tf JOIN dfr USING (term) CROSS JOIN n),
      norms AS (SELECT doc_id, CAST(SUM(wi * wi) AS BIGINT) AS n2 FROM wt GROUP BY 1),
      dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.wi * b.wi) AS BIGINT) AS dot, count(*) AS n_common
               FROM wt a JOIN wt b ON a.term = b.term AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
      cosv AS (SELECT doc_a, doc_b, n_common,
               CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
               FROM dots JOIN norms na ON doc_a = na.doc_id
                         JOIN norms nb ON doc_b = nb.doc_id
               WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.5),
      ranked AS (SELECT *,
                 row_number() OVER (ORDER BY cosine DESC, doc_a, doc_b) AS rn,
                 count(*) OVER () AS n_tot
                 FROM cosv)
      SELECT doc_a, doc_b, n_common, cosine, n_tot > 10 AS truncated
      FROM ranked WHERE rn <= 10 ORDER BY doc_a, doc_b"""),
    (s, dir) => TextAnalysis.sparseCosinePairs(t(s, dir, "documents"),
      minCosine = 0.5, maxDf = 100, maxPairs = 10)
      .orderBy("doc_a", "doc_b"))

  private val q247 = Q("q247_rendezvous_shrink",
    "rendezvous (HRW) re-shard audit, SHRINK direction 9 -> 8: the moved " +
      "keys are EXACTLY the keys whose winner was the removed shard " +
      "(survivors keep their unchanged best score; orphans scatter to " +
      "their next-best surviving score) — the contract is hash-verified " +
      "IN-BAND as moves_only_from_removed = (n_moved = n_from_removed), " +
      "not argued in prose; same row-local prefix-slice scoring as q242, " +
      "expected move mass 1/9 ~= 111111 ppm",
    Some("""
      WITH s AS (
        SELECT d.doc_id, d.source, g.s AS shard,
               CAST('0x' || substr(sha256(CAST(d.doc_id AS VARCHAR) || ':' ||
                 CAST(g.s AS VARCHAR)), 1, 15) AS BIGINT) AS score
        FROM documents d CROSS JOIN generate_series(0, 8) g(s)),
      a AS (SELECT doc_id, any_value(source) AS source,
                   arg_max(shard, score) AS shard_before,
                   arg_max(shard, score) FILTER (WHERE shard < 8)
                     AS shard_after
            FROM s GROUP BY doc_id)
      SELECT source, count(*) AS n_keys,
             CAST(sum(CASE WHEN shard_before <> shard_after THEN 1 ELSE 0
               END) AS BIGINT) AS n_moved,
             CAST(sum(CASE WHEN shard_before >= 8 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_from_removed,
             CAST(sum(CASE WHEN shard_before <> shard_after THEN 1 ELSE 0
                 END) AS BIGINT)
               = CAST(sum(CASE WHEN shard_before >= 8 THEN 1 ELSE 0 END)
                 AS BIGINT) AS moves_only_from_removed,
             CAST((1000000 * sum(CASE WHEN shard_before <> shard_after
                 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS moved_ppm
      FROM a GROUP BY source ORDER BY source"""),
    (s, dir) => Output.rendezvousShrinkAudit(t(s, dir, "documents"),
      "doc_id", "source", shardsBefore = 9, shardsAfter = 8)
      .orderBy("source"))

  private val q249 = Q("q249_dup_line_doc_filter",
    "document-level duplicated-line admission (the Gopher/C4 repetition " +
      "rule, cross-document form — CCNet's 'share of lines seen " +
      "elsewhere'): per doc, the exact-ppm share of its line occurrences " +
      "(q87's synthesized 5-word lines) whose line appears in >= 2 " +
      "distinct docs, keep = dup_ppm <= 300000; where q87 REWRITES " +
      "documents and q145 lists the boilerplate, this is the drop/keep " +
      "policy — one line-hash census (filtered to repeated lines before " +
      "it joins back) + one doc rollup, no window, no self-join",
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      ln AS (SELECT doc_id,
               list_transform(generate_series(0, CAST(ceil(len(ws) / 5.0) AS INT) - 1),
                 i -> array_to_string(ws[(i*5+1):(i*5+5)], ' ')) AS lines
             FROM w),
      sp AS (SELECT doc_id, unnest(lines) AS span FROM ln),
      cen AS (SELECT span FROM sp GROUP BY span
              HAVING count(DISTINCT doc_id) >= 2),
      agg AS (SELECT sp.doc_id, count(*) AS n_lines,
                sum(CASE WHEN cen.span IS NOT NULL THEN 1 ELSE 0 END)
                  AS n_dup_lines
              FROM sp LEFT JOIN cen ON sp.span = cen.span
              GROUP BY 1)
      SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
             CAST(n_dup_lines AS BIGINT) AS n_dup_lines,
             CAST((n_dup_lines * 1000000) // n_lines AS BIGINT) AS dup_ppm,
             (n_dup_lines * 1000000) // n_lines <= 300000 AS keep
      FROM agg ORDER BY doc_id"""),
    (s, dir) => {
      val lined = fiveWordLined(s, dir)
      Dedup.dupLineDocShare(lined, "doc_id", "text",
        minDocs = 2, maxDupPpm = 300000L)
        .orderBy("doc_id")
    })

  private val q250 = Q("q250_audio_neardup_groups",
    "audio near-dup by content fingerprint (q141's discipline, audio " +
      "modality): 16-bit PCM WAVs synthesized per doc_id with a shared " +
      "envelope for doc_id % 7, RIFF-parsed back, fingerprinted as the " +
      "per-200-sample-frame energy-delta sign bits (the Haitsma-Kalker " +
      "core), and grouped by fingerprint — group_id = family min id, " +
      "group_size its population; the only shuffle is one fp-keyed " +
      "aggregate + the join back, no pair relation; the oracle predicts " +
      "every sample, frame energy, and bit arithmetically",
    Some("""
      WITH par AS (SELECT doc_id, doc_id % 7 AS g FROM documents),
      p2 AS (SELECT doc_id, g, 600 + (g % 3) * 200 AS n FROM par),
      ix AS (SELECT doc_id, g, n,
                    unnest(generate_series(0, n - 1)) AS i
             FROM p2),
      s AS (SELECT doc_id, i // 200 AS f,
              abs(((17 * i * i + 5 * i + g * 1000) % 65536) - 32768) AS a
            FROM ix),
      fe AS (SELECT doc_id, f, CAST(sum(a) AS BIGINT) AS e
             FROM s GROUP BY 1, 2),
      dl AS (SELECT doc_id, f, e,
               lag(e) OVER (PARTITION BY doc_id ORDER BY f) AS pe
             FROM fe),
      fpx AS (SELECT doc_id, count(*) AS n_frames,
               coalesce(string_agg(CASE WHEN f > 0 THEN
                   (CASE WHEN e > pe THEN '1' ELSE '0' END) END, ''
                 ORDER BY f), '') AS fp
              FROM dl GROUP BY doc_id),
      gr AS (SELECT fp, min(doc_id) AS group_id, count(*) AS group_size
             FROM fpx GROUP BY fp)
      SELECT f.doc_id, CAST(f.n_frames AS BIGINT) AS n_frames, f.fp,
             gr.group_id, CAST(gr.group_size AS BIGINT) AS group_size
      FROM fpx f JOIN gr USING (fp)
      ORDER BY f.doc_id"""),
    (s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents").select("doc_id").as[Long]
        .mapPartitions(_.map { id =>
          val g = id % 7
          val n = (600 + (g % 3) * 200).toInt
          val samples = Array.tabulate(n) { i =>
            (((17L * i * i + 5L * i + g * 1000L) % 65536L) - 32768L).toShort
          }
          (id, Multimodal.buildWav(8000, samples))
        }).toDF("doc_id", "payload")
      Multimodal.audioNearDupGroups(s, payloads, frame = 200, maxBits = 63)
        .orderBy("doc_id")
    })

  private val q251 = Q("q251_rolling_distinct_users",
    "EXACT trailing-7-day distinct active users per day (the rolling " +
      "DAU/WAU family): distinct state is not mergeable-subtractable, so " +
      "no sliding frame can carry it — instead the corpus collapses to " +
      "the distinct (user, day) relation ONCE, each row serves the <= 7 " +
      "window-ends it can reach (bounded explode, capped at the corpus's " +
      "last day), and one two-phase count-distinct keyed by window end " +
      "finishes it; every shuffle is |distinct (user, day)| x 7, never " +
      "rows",
    Some("""
      WITH kd AS (SELECT DISTINCT user_id,
                    CAST(epoch_ms(date_trunc('day', ts)) AS BIGINT) AS day_ms
                  FROM events
                  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      mx AS (SELECT max(day_ms) AS m FROM kd),
      w AS (SELECT user_id, day_ms + 86400000 * o AS end_ms
            FROM kd CROSS JOIN mx
                 CROSS JOIN generate_series(0, 6) t(o)
            WHERE day_ms + 86400000 * o <= mx.m)
      SELECT end_ms AS day_ms, count(DISTINCT user_id) AS n_active
      FROM w GROUP BY 1 ORDER BY 1"""),
    (s, dir) => EventAnalytics.rollingDistinct(
      graft.Tables.table(s, dir, "events"), "user_id", "ts", windowDays = 7)
      .orderBy("day_ms"))

  private val q252 = Q("q252_incremental_minmax",
    "delete-aware incremental MIN/MAX view maintenance — the aggregate " +
      "q181's COUNT/SUM algebra can't do (deleting the current min says " +
      "nothing about the runner-up): keys touched only by inserts merge " +
      "in O(delta) against the stored aggregate (never reading base); " +
      "keys with >= 1 delete re-aggregate from base UNION delta via ONE " +
      "affected-key semi-join, multiset-exact; the split is reported " +
      "in-band (rescanned BOOLEAN) and the oracle recomputes from " +
      "scratch — incremental == recompute bit-for-bit",
    Some("""
      WITH cur AS (SELECT event_type,
              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
            FROM events
            WHERE event_id % 2 = 1 OR event_id % 10 <> 0),
      del AS (SELECT DISTINCT event_type FROM events
              WHERE event_id % 10 = 0)
      SELECT cur.event_type,
             CAST(min(c) AS BIGINT) AS min_cents,
             CAST(max(c) AS BIGINT) AS max_cents,
             max(CASE WHEN del.event_type IS NULL THEN 0 ELSE 1 END) = 1
               AS rescanned
      FROM cur LEFT JOIN del ON cur.event_type = del.event_type
      GROUP BY 1 ORDER BY 1"""),
    (s, dir) => {
      val ev = graft.Tables.table(s, dir, "events")
      val base = ev.filter(col("event_id") % 2 === 0)
      val baseAgg = Diff.minMaxCents(base, Seq("event_type"), "value")
      val delta = ev.filter(col("event_id") % 2 === 1)
        .withColumn("op", lit("I"))
        .unionByName(ev.filter(col("event_id") % 10 === 0)
          .withColumn("op", lit("D")))
      Diff.incrementalMinMax(base, baseAgg, delta,
        Seq("event_type"), "value")
        .orderBy("event_type")
    })

  private val q253 = Q("q253_window_rank_family",
    "§2.5 completion — the distribution/navigation window functions q10 " +
      "left out: ntile(4), percent_rank, cume_dist (both ppm-floored: the " +
      "(rank-1)/(n-1) IEEE division is bit-identical across engines on a " +
      "tie-free (cents, event_id) order), and first/last/nth_value over " +
      "an explicit full frame (default frames differ in subtle ways — " +
      "pinned UNBOUNDED..UNBOUNDED so navigation is frame-unambiguous); " +
      "one window exchange serves all six functions",
    Some("""
      WITH e AS (SELECT event_id, event_type,
              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
            FROM events WHERE event_id % 7 = 0)
      SELECT event_id, event_type, cents,
        CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS pr_ppm,
        CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cd_ppm,
        first_value(cents) OVER wf AS min_cents_in_type,
        last_value(cents) OVER wf AS max_cents_in_type,
        nth_value(cents, 2) OVER wf AS second_cents
      FROM e
      WINDOW w AS (PARTITION BY event_type ORDER BY cents, event_id),
        wf AS (PARTITION BY event_type ORDER BY cents, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY event_id"""),
    (s, dir) => {
      val e = t(s, dir, "events")
        .filter(col("event_id") % 7 === 0)
        .select(col("event_id"), col("event_type"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("cents"), col("event_id"))
      val wf = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      e.select(col("event_id"), col("event_type"), col("cents"),
        ntile(4).over(w).cast("long").as("quartile"),
        floor(percent_rank().over(w) * lit(1000000)).cast("long")
          .as("pr_ppm"),
        floor(cume_dist().over(w) * lit(1000000)).cast("long").as("cd_ppm"),
        first(col("cents")).over(wf).as("min_cents_in_type"),
        last(col("cents")).over(wf).as("max_cents_in_type"),
        nth_value(col("cents"), 2).over(wf).as("second_cents"))
        .orderBy("event_id")
    })

  private val q254 = Q("q254_sessionize_capped",
    "hard-cap sessionization (the GA4/telemetry rule): close at a 30-min " +
      "idle gap OR when an event would stretch the session past 15 min " +
      "from its START (cap < gap — the sub-gap drip case the cap exists " +
      "for; 224 gap-only sessions split under it at sf0.01) — the cap " +
      "re-anchors the start at every split, making " +
      "the recurrence non-associative (q65's two-window trick can't " +
      "express it), so the op is the q233-family secondary-sort scan: " +
      "one key shuffle, partition-local sort, O(1) state per row; the " +
      "oracle replays the same recurrence as a recursive CTE",
    Some("""
      WITH RECURSIVE ev AS (
        SELECT user_id AS k, epoch_ms(ts) AS ts_ms,
          row_number() OVER (PARTITION BY user_id
            ORDER BY epoch_ms(ts), event_id) AS rn
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      scan AS (
        SELECT k, rn, ts_ms, CAST(1 AS BIGINT) AS sid, ts_ms AS start_ms
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.k, e.rn, e.ts_ms,
          CASE WHEN e.ts_ms - s.ts_ms > 1800000
                 OR e.ts_ms - s.start_ms > 900000
               THEN s.sid + 1 ELSE s.sid END,
          CASE WHEN e.ts_ms - s.ts_ms > 1800000
                 OR e.ts_ms - s.start_ms > 900000
               THEN e.ts_ms ELSE s.start_ms END
        FROM ev e JOIN scan s ON e.k = s.k AND e.rn = s.rn + 1)
      SELECT k AS user_id, sid AS session_idx,
        count(*) AS n_events,
        CAST(min(ts_ms) AS BIGINT) AS start_ms,
        CAST(max(ts_ms) AS BIGINT) AS end_ms,
        CAST(max(ts_ms) - min(ts_ms) AS BIGINT) AS duration_ms
      FROM scan GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, dir) => Sessionize.sessionizeCapped(
      graft.Tables.table(s, dir, "events"), "user_id", "ts", "event_id",
      gapMs = 1800000L, capMs = 900000L)
      .orderBy("user_id", "session_idx"))

  private val q255 = Q("q255_markup_extraction",
    "web-corpus text extraction (the trafilatura/jusText core, regex " +
      "tier): documents wrapped in synthesized HTML — head/style/script " +
      "(whose body holds a bare '<' that is NOT markup), a MULTI-LINE " +
      "comment whose body holds '>' and a commented-out <script> (the " +
      "comment vanishes whole; the dead script counts toward n_scripts " +
      "— the ordering's documented imprecision, accepted because the " +
      "dual comments-first order splices an unmatched '<!--' in script " +
      "code with a later prose comment and DELETES real text), nav " +
      "links, inline <b> around ' and ', an entity-laden Q&A snippet " +
      "incl. the double-escape &amp;lt; (must decode ONCE to the literal " +
      "text '&lt;') — script/style ELEMENTS stripped whole first, then " +
      "comments, then tags, entities decoded after (&amp; last), " +
      "whitespace collapsed; n_scripts/n_comments/n_links/n_tags ride " +
      "along for hygiene metrics; row-local column expressions, every " +
      "regex shared verbatim with the oracle",
    Some("""
      WITH h AS (SELECT doc_id,
        '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        '</title><style>body{margin:0;font:12px arial}</style><script>var a=' ||
        CAST(doc_id AS VARCHAR) ||
        ';if(a<9){a=9}</script></head><body><!-- draft v2' || chr(10) ||
        '<script>alert(1)</script> x > y --><nav><a href="/">home</a> <a href="/docs">docs</a></nav><h1>Doc ' ||
        CAST(doc_id AS VARCHAR) ||
        '</h1><p>' || regexp_replace(text, ' and ', ' <b>and</b> ', 'g') ||
        '</p><p>Q&amp;A: 1 &lt; 2, &quot;x&quot;, it&#39;s&nbsp;escaped as &amp;lt;</p><footer>(c) example</footer></body></html>' AS html
        FROM documents),
      se AS (SELECT doc_id, html,
        regexp_replace(regexp_replace(html,
          '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
          '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS no_elems
        FROM h),
      st AS (SELECT doc_id, html, no_elems,
        regexp_replace(no_elems, '(?s)<!--.*?-->', ' ', 'g') AS no_comments
        FROM se)
      SELECT doc_id,
        CAST(len(regexp_extract_all(html,
          '(?is)<script[^>]*>.*?</script>')) AS BIGINT) AS n_scripts,
        CAST(len(regexp_extract_all(no_elems, '(?s)<!--.*?-->')) AS BIGINT)
          AS n_comments,
        CAST(len(regexp_extract_all(no_comments, '(?i)<a[\s>]')) AS BIGINT)
          AS n_links,
        CAST(len(regexp_extract_all(no_comments, '<[^>]+>')) AS BIGINT)
          AS n_tags,
        trim(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(no_comments, '<[^>]+>', ' ', 'g'),
            '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
            '&#34;', '"', 'g'), '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'),
            '&amp;', '&', 'g'),
          '\s+', ' ', 'g')) AS text_clean
      FROM st ORDER BY doc_id"""),
    (s, dir) => {
      val idS = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), idS,
        lit("</title><style>body{margin:0;font:12px arial}</style>" +
          "<script>var a="), idS,
        lit(";if(a<9){a=9}</script></head><body><!-- draft v2\n" +
          "<script>alert(1)</script> x > y --><nav><a href=\"/\">home" +
          "</a> <a href=\"/docs\">docs</a></nav><h1>Doc "), idS,
        lit("</h1><p>"),
        regexp_replace(col("text"), " and ", " <b>and</b> "),
        lit("</p><p>Q&amp;A: 1 &lt; 2, &quot;x&quot;, it&#39;s&nbsp;" +
          "escaped as &amp;lt;</p><footer>(c) example</footer>" +
          "</body></html>"))
      TextAnalysis.stripMarkup(
        t(s, dir, "documents").select(col("doc_id"), html.as("html")))
        .orderBy("doc_id")
    })

  private val q256 = Q("q256_sequential_admission",
    "index MAINTENANCE across sequential batches — the q248 follow-through " +
      "(its index was static): batch 1 (ids % 4 = 1) is admitted against " +
      "the even-id corpus bands, its NOVEL survivors' bands are APPENDED " +
      "(the lshBands relation is append-only under admission), and batch " +
      "2 (ids % 4 = 3) is admitted against the extended index — so a " +
      "batch-2 doc can be annotated dup_of an ADMITTED batch-1 doc, " +
      "pinning that the maintenance actually happened; both index band " +
      "relations are cached (signed once), batches pay only their own " +
      "signature pass + bucket-sized joins",
    Some(minHashBandsCte + """,
      m1 AS (SELECT inc.doc_id, min(idx.doc_id) AS dup_of,
                    count(DISTINCT idx.doc_id) AS n_matches
             FROM bands inc JOIN bands idx
               ON inc.band = idx.band AND inc.band_sig = idx.band_sig
             WHERE inc.doc_id % 4 = 1 AND idx.doc_id % 2 = 0
             GROUP BY 1),
      nov AS (SELECT doc_id FROM documents
              WHERE doc_id % 4 = 1
                AND doc_id NOT IN (SELECT doc_id FROM m1)),
      m2 AS (SELECT inc.doc_id, min(idx.doc_id) AS dup_of,
                    count(DISTINCT idx.doc_id) AS n_matches
             FROM bands inc JOIN bands idx
               ON inc.band = idx.band AND inc.band_sig = idx.band_sig
             WHERE inc.doc_id % 4 = 3
               AND (idx.doc_id % 2 = 0
                    OR idx.doc_id IN (SELECT doc_id FROM nov))
             GROUP BY 1)
      SELECT d.doc_id, CAST(1 AS BIGINT) AS batch, m1.dup_of,
             coalesce(m1.n_matches, 0) AS n_matches
      FROM documents d LEFT JOIN m1 USING (doc_id) WHERE d.doc_id % 4 = 1
      UNION ALL
      SELECT d.doc_id, CAST(2 AS BIGINT) AS batch, m2.dup_of,
             coalesce(m2.n_matches, 0) AS n_matches
      FROM documents d LEFT JOIN m2 USING (doc_id) WHERE d.doc_id % 4 = 3
      ORDER BY doc_id"""),
    (s, dir) => {
      val docs = t(s, dir, "documents")
      def bandsFor(df: org.apache.spark.sql.DataFrame) = Dedup.lshBands(
        Dedup.minHashSignatures(df, "doc_id", "text",
          numHashes = 16, shingleSize = 3), "doc_id", rowsPerBand = 2)
      val batch1 = docs.filter(pmod(col("doc_id"), lit(4)) === 1)
      val batch2 = docs.filter(pmod(col("doc_id"), lit(4)) === 3)
      // every relation is signed EXACTLY once: bands0 serves batch 1's
      // join and the extended index; b1bands serves batch 1's own join
      // AND the novel-band append (the whole point of the
      // annotateAgainstBands split — dedupAgainstBands would re-sign the
      // novel docs); ann1 serves the output and the survivor filter
      val bands0 = bandsFor(docs.filter(col("doc_id") % 2 === 0))
        .localCheckpoint(false)
      val b1bands = bandsFor(batch1).localCheckpoint(false)
      val ann1 = Dedup.annotateAgainstBands(batch1.select("doc_id"),
        b1bands, bands0, "doc_id").localCheckpoint(false)
      val novelBands = b1bands.join(
        ann1.filter(col("n_matches") === 0).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val ann2 = Dedup.annotateAgainstBands(batch2.select("doc_id"),
        bandsFor(batch2), bands0.unionByName(novelBands), "doc_id")
      ann1.withColumn("batch", lit(1L))
        .unionByName(ann2.withColumn("batch", lit(2L)))
        .select(col("doc_id"), col("batch"), col("dup_of"),
          col("n_matches"))
        .orderBy("doc_id")
    })

  private val q258 = Q("q258_gopher_battery",
    "the Gopher/C4 document-quality rule battery with FIRST-FAIL " +
      "attribution — the text instantiation of the q237 funnel, r15-" +
      "extended to the published 11-rule shape: exact-integer signals " +
      "(word count, mean word length ×100, symbol ppm, bullet-line ppm, " +
      "ellipsis-line ppm, alphabetic-word ppm, top-2/3/4-gram char-" +
      "cover ppm at Gopher's 0.20/0.18/0.16 cuts, q249's cross-doc " +
      "duplicated-line ppm, stopword presence) feed filterAttrition's " +
      "chain in declared order, so every doc attributes to the first " +
      "rule it fails and the census shows where the corpus is actually " +
      "lost; zero-attribution rules must still appear — 'this filter " +
      "did nothing' is an answer. r15 shape fix: ONE documents scan — " +
      "the row-local signals ride the dup-line census aggregation as " +
      "per-doc constants (max over the doc's line rows) instead of a " +
      "second scan + doc-keyed join (the q261 one-tokenize discipline)",
    Some("""
      WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws
                 FROM documents),
      ln AS (SELECT doc_id, text, ws,
               list_transform(generate_series(0, CAST(ceil(len(ws) / 5.0) AS INT) - 1),
                 i -> array_to_string(ws[(i*5+1):(i*5+5)], ' ')) AS lines
             FROM w),
      sp AS (SELECT doc_id, unnest(lines) AS span FROM ln),
      cen AS (SELECT span FROM sp GROUP BY span
              HAVING count(DISTINCT doc_id) >= 2),
      dup AS (SELECT sp.doc_id,
                (sum(CASE WHEN cen.span IS NOT NULL THEN 1 ELSE 0 END)
                  * 1000000) // count(*) AS dup_ppm
              FROM sp LEFT JOIN cen ON sp.span = cen.span
              GROUP BY 1),
      g2 AS (SELECT doc_id, unnest(list_transform(
               generate_series(1, len(ws)-1),
               i -> array_to_string(ws[i:i+1], ' '))) AS g FROM w),
      c2 AS (SELECT doc_id, max(c * length(g)) AS cov FROM
             (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1,2)
             GROUP BY 1),
      g3 AS (SELECT doc_id, unnest(list_transform(
               generate_series(1, len(ws)-2),
               i -> array_to_string(ws[i:i+2], ' '))) AS g FROM w),
      c3 AS (SELECT doc_id, max(c * length(g)) AS cov FROM
             (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1,2)
             GROUP BY 1),
      g4 AS (SELECT doc_id, unnest(list_transform(
               generate_series(1, len(ws)-3),
               i -> array_to_string(ws[i:i+3], ' '))) AS g FROM w),
      c4 AS (SELECT doc_id, max(c * length(g)) AS cov FROM
             (SELECT doc_id, g, count(*) AS c FROM g4 GROUP BY 1,2)
             GROUP BY 1),
      sig AS (SELECT ln.doc_id,
              len(ws) AS n_words,
              length(text) AS n_chars,
              length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_sym,
              (len(list_filter(lines, l -> l LIKE '- %')) * 1000000)
                // len(lines) AS bullet_ppm,
              (len(list_filter(lines, l -> l LIKE '%...')) * 1000000)
                // len(lines) AS ellipsis_ppm,
              (len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))
                * 1000000) // len(ws) AS alpha_ppm,
              (1000000 * coalesce(c2.cov, 0)) // length(text) AS top2_ppm,
              (1000000 * coalesce(c3.cov, 0)) // length(text) AS top3_ppm,
              (1000000 * coalesce(c4.cov, 0)) // length(text) AS top4_ppm,
              dup.dup_ppm AS dup_ppm,
              len(list_intersect(ws,
                ['the', 'and', 'of', 'to', 'a'])) > 0 AS has_stop
            FROM ln JOIN dup ON ln.doc_id = dup.doc_id
                 LEFT JOIN c2 ON ln.doc_id = c2.doc_id
                 LEFT JOIN c3 ON ln.doc_id = c3.doc_id
                 LEFT JOIN c4 ON ln.doc_id = c4.doc_id),
      lab AS (SELECT CASE
                WHEN NOT (n_words BETWEEN 25 AND 100000)
                  THEN 'word_count'
                WHEN NOT ((100 * (n_chars - n_words + 1)) // n_words
                          BETWEEN 400 AND 1000)
                  THEN 'mean_word_len'
                WHEN NOT ((1000000 * n_sym) // n_chars <= 100000)
                  THEN 'symbol_ratio'
                WHEN NOT (bullet_ppm <= 900000) THEN 'bullet_ratio'
                WHEN NOT (ellipsis_ppm <= 300000) THEN 'ellipsis_ratio'
                WHEN NOT (alpha_ppm >= 800000) THEN 'alpha_word_ratio'
                WHEN NOT (top2_ppm <= 200000) THEN 'top_2gram_chars'
                WHEN NOT (top3_ppm <= 180000) THEN 'top_3gram_chars'
                WHEN NOT (top4_ppm <= 160000) THEN 'top_4gram_chars'
                WHEN NOT (dup_ppm <= 300000) THEN 'dup_line'
                WHEN NOT has_stop THEN 'stopword'
                ELSE 'kept' END AS reason
              FROM sig),
      decl(rule_idx, reason) AS (VALUES
        (CAST(0 AS BIGINT), 'word_count'), (1, 'mean_word_len'),
        (2, 'symbol_ratio'), (3, 'bullet_ratio'), (4, 'ellipsis_ratio'),
        (5, 'alpha_word_ratio'), (6, 'top_2gram_chars'),
        (7, 'top_3gram_chars'), (8, 'top_4gram_chars'), (9, 'dup_line'),
        (10, 'stopword'), (11, 'kept')),
      cnt AS (SELECT reason, count(*) AS n FROM lab GROUP BY 1),
      tot AS (SELECT count(*) AS t FROM lab)
      SELECT d.rule_idx, d.reason,
             CAST(coalesce(n, 0) AS BIGINT) AS n_rows,
             CAST((1000000 * coalesce(n, 0)) // t AS BIGINT) AS share_ppm
      FROM decl d LEFT JOIN cnt USING (reason) CROSS JOIN tot
      ORDER BY d.rule_idx"""),
    (s, dir) => {
      // ONE documents scan (the r14 verdict's q258 fix): every row-local
      // signal AND the synthesized 5-word lines come out of ONE native
      // single-pass expression (GopherSignals — the interpreted HOF
      // chains measured ~0.4 ms/doc serialized on the corpus's single
      // row group); the signals then ride the (line-hash, doc) census
      // aggregation as max() — each is constant per doc — and collapse
      // back out at the per-doc rollup. r14's shape scanned documents
      // twice (signals + dupLineDocShare) and joined; this is q249's
      // census with the signals carried through it, zero extra exchanges.
      val sigCols = Seq("n_words", "n_chars", "n_sym", "n_bullet",
        "n_ellipsis", "n_lines", "n_alpha", "has_stop", "cov2", "cov3",
        "cov4")
      // _gs materializes in its own projection (the repetition/vocabulary
      // discipline): CollapseProject won't inline a non-cheap expression
      // into its 12 getField consumers, and the explode stays a separate
      // select so ExtractGenerator can't hoist the signal block above
      // Generate (which would re-evaluate it once per line row —
      // measured 87 s vs ~1 s at sf0.1)
      val base0 = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.expressions.GopherSignals(col("text")).as("_gs"))
        .select(col("doc_id") +:
          sigCols.map(c => col("_gs").getField(c).as(c)) :+
          col("_gs").getField("lines").as("_lines"): _*)
      val base = base0.select(
        col("doc_id") +: sigCols.map(col) :+
          explode(col("_lines")).as("span"): _*)
      val perDocLine = base
        .withColumn("sh", graft.functions.TextFns.hash64(col("span")))
        .groupBy(col("sh"), col("doc_id"))
        .agg(count(lit(1)).as("_c"),
          sigCols.map(c => max(col(c)).as(c)): _*)
      val wSh = org.apache.spark.sql.expressions.Window
        .partitionBy(col("sh"))
      val rollup = Seq(
        sum(col("_c")).as("_nl"),
        sum(when(col("_n_docs") >= 2, col("_c")).otherwise(0L))
          .as("_nd")) ++ sigCols.map(c => max(col(c)).as(c))
      val sig = perDocLine
        .withColumn("_n_docs", count(lit(1)).over(wSh))
        .groupBy(col("doc_id"))
        .agg(rollup.head, rollup.tail: _*)
        .withColumn("dup_ppm", expr("(_nd * 1000000) div _nl"))
        .withColumn("mean_cl",
          expr("(100 * (n_chars - n_words + 1)) div n_words"))
        .withColumn("sym_ppm", expr("(1000000 * n_sym) div n_chars"))
        .withColumn("bullet_ppm", expr("(1000000 * n_bullet) div n_lines"))
        .withColumn("ellipsis_ppm",
          expr("(1000000 * n_ellipsis) div n_lines"))
        .withColumn("alpha_ppm", expr("(1000000 * n_alpha) div n_words"))
        .withColumn("top2_ppm", expr("(1000000 * cov2) div n_chars"))
        .withColumn("top3_ppm", expr("(1000000 * cov3) div n_chars"))
        .withColumn("top4_ppm", expr("(1000000 * cov4) div n_chars"))
      Profile.filterAttrition(sig, Seq(
        "word_count" -> col("n_words").between(25L, 100000L),
        "mean_word_len" -> col("mean_cl").between(400L, 1000L),
        "symbol_ratio" -> (col("sym_ppm") <= 100000L),
        "bullet_ratio" -> (col("bullet_ppm") <= 900000L),
        "ellipsis_ratio" -> (col("ellipsis_ppm") <= 300000L),
        "alpha_word_ratio" -> (col("alpha_ppm") >= 800000L),
        "top_2gram_chars" -> (col("top2_ppm") <= 200000L),
        "top_3gram_chars" -> (col("top3_ppm") <= 180000L),
        "top_4gram_chars" -> (col("top4_ppm") <= 160000L),
        "dup_line" -> (col("dup_ppm") <= 300000L),
        "stopword" -> col("has_stop")))
        .orderBy("rule_idx")
    })

  private val q259 = Q("q259_lp_converge",
    "label propagation CONVERGE mode gated as VALUES (q245 pins fixed " +
      "rounds only; GraphSpec pins the stop mechanics — this pins the " +
      "fixpoint labels against an unrolled oracle): one bridged-two-" +
      "triangle motif per customer (nodes 6c..6c+5, triangles " +
      "{0,1,2}/{3,4,5}, bridge 2-3), a graph that is provably NOT " +
      "converged at 2 rounds and reaches its fixpoint at round 3 for " +
      "EVERY motif regardless of scale — so the oracle unrolls exactly " +
      "3 rounds while the engine runs converge=true under a budget of " +
      "10 and must stop on the same labels (round 4 observes zero " +
      "changes); per-community size census",
    Some("""
      WITH m(da, db) AS (VALUES (0, 1), (1, 2), (0, 2), (3, 4), (4, 5),
        (3, 5), (2, 3)),
      und AS (SELECT c_custkey * 6 + da AS a, c_custkey * 6 + db AS b
              FROM customer CROSS JOIN m),
      edges AS (SELECT a AS src, b AS dst FROM und
                UNION ALL SELECT b, a FROM und),
      lab0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
      c1 AS (SELECT e.dst, l.label, count(*) AS c
             FROM edges e JOIN lab0 l ON e.src = l.node GROUP BY 1, 2),
      lab1 AS (SELECT dst AS node, label FROM (
               SELECT dst, label, row_number() OVER (PARTITION BY dst
                 ORDER BY c DESC, label) AS rn FROM c1) WHERE rn = 1),
      c2 AS (SELECT e.dst, l.label, count(*) AS c
             FROM edges e JOIN lab1 l ON e.src = l.node GROUP BY 1, 2),
      lab2 AS (SELECT dst AS node, label FROM (
               SELECT dst, label, row_number() OVER (PARTITION BY dst
                 ORDER BY c DESC, label) AS rn FROM c2) WHERE rn = 1),
      c3 AS (SELECT e.dst, l.label, count(*) AS c
             FROM edges e JOIN lab2 l ON e.src = l.node GROUP BY 1, 2),
      lab3 AS (SELECT dst AS node, label FROM (
               SELECT dst, label, row_number() OVER (PARTITION BY dst
                 ORDER BY c DESC, label) AS rn FROM c3) WHERE rn = 1)
      SELECT label, count(*) AS n_nodes
      FROM lab3 GROUP BY 1 ORDER BY label"""),
    (s, dir) => {
      val motif = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L),
        (3L, 5L), (2L, 3L))
      val und = t(s, dir, "customer")
        .select((col("c_custkey") * 6).as("base"))
        .select(col("base"), explode(array(motif.map { case (x, y) =>
          struct(lit(x).as("da"), lit(y).as("db")) }: _*)).as("e"))
        .select((col("base") + col("e.da")).as("a"),
          (col("base") + col("e.db")).as("b"))
      val edges = und.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      Graph.labelPropagation(edges, "src", "dst", rounds = 10,
        converge = true, assumeTotal = true)
        .groupBy("label").agg(count(lit(1)).as("n_nodes"))
        .orderBy("label")
    })

  private val q260 = Q("q260_within_doc_repetition",
    "WITHIN-document repetition signals (the Gopher internal-redundancy " +
      "rule family — q249 is the cross-doc cousin and needs a corpus " +
      "census; this needs NONE): per doc over q249's synthesized 5-word " +
      "lines, the repeated-line occurrence share, the repeated-line " +
      "CHARACTER share (the published pair — few duplicate lines can " +
      "carry most bytes), and the word-level repeat share (complement " +
      "of type-token ratio); keep = Gopher's 30% duplicate-line rule; " +
      "all row-local array arithmetic (size - distinct size, order-" +
      "free), one scan, zero exchanges",
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents),
      ln AS (SELECT doc_id, ws,
               list_transform(generate_series(0, CAST(ceil(len(ws) / 5.0) AS INT) - 1),
                 i -> array_to_string(ws[(i*5+1):(i*5+5)], ' ')) AS lines
             FROM w),
      sig AS (SELECT doc_id,
              len(lines) AS n_lines, len(ws) AS n_words,
              len(lines) - len(list_distinct(lines)) AS dl,
              CAST(list_sum(list_transform(lines, x -> length(x)))
                AS BIGINT) AS lc,
              CAST(list_sum(list_transform(list_distinct(lines),
                x -> length(x))) AS BIGINT) AS dc,
              len(ws) - len(list_distinct(ws)) AS dw
            FROM ln)
      SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
             CAST(n_words AS BIGINT) AS n_words,
             CAST((1000000 * dl) // n_lines AS BIGINT) AS dup_line_ppm,
             CAST((1000000 * (lc - dc)) // greatest(lc, 1) AS BIGINT)
               AS dup_char_ppm,
             CAST((1000000 * dw) // n_words AS BIGINT) AS dup_word_ppm,
             (1000000 * dl) // n_lines <= 300000 AS keep
      FROM sig ORDER BY doc_id"""),
    (s, dir) => {
      val lined = fiveWordLined(s, dir)
      TextAnalysis.withinDocRepetition(lined, "doc_id", "text",
        maxDupLinePpm = 300000L)
        .orderBy("doc_id")
    })

  /** Shared unigram-surprisal CTE (q261's relation): tokenize once into
    * the (doc, word) count, census, total, floor-log2 bits, per-doc
    * n_words / total_bits / mean_bits_ppm as `s`. One definition — the
    * q261/q263/q269/q274 oracles all compose it (the censusScoringOracle
    * / winnowCte discipline: a surprisal-math fix lands once). */
  private val surprisalCte: String = """
      WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents),
      dw AS (SELECT doc_id, w, count(*) AS k FROM w GROUP BY 1, 2),
      c AS (SELECT w, sum(k) AS c FROM dw GROUP BY 1),
      n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
      b AS (SELECT w, CAST(floor(log2(n // c)) AS BIGINT) AS bits
            FROM c CROSS JOIN n),
      s AS (SELECT dw.doc_id, CAST(sum(k) AS BIGINT) AS n_words,
            CAST(sum(k * bits) AS BIGINT) AS total_bits,
            CAST((1000000 * sum(k * bits)) // sum(k) AS BIGINT)
              AS mean_bits_ppm
            FROM dw JOIN b USING (w) GROUP BY 1)"""

  private val q261 = Q("q261_unigram_surprisal",
    "unigram surprisal quality score (CCNet's LM-perplexity curation " +
      "signal at the unigram tier, engine-portable): each word type " +
      "costs floor(log2(N div c)) BITS, docs score the token-weighted " +
      "sum and its per-token ppm mean — high = corpus-rare vocabulary " +
      "(gibberish tail), low = boilerplate tail, the two CCNet buckets; " +
      "floor-log2 on integer ratios is exact in both engines below " +
      "~2^45 (documented bound); ONE tokenize into a (doc, word) count, " +
      "census/total/bits all derive from it — no second corpus scan",
    Some(surprisalCte + """
      SELECT doc_id, n_words, total_bits, mean_bits_ppm
      FROM s ORDER BY doc_id"""),
    (s, dir) => TextAnalysis.unigramSurprisal(
      t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id"))

  private val q262 = Q("q262_rag_chunking",
    "sliding word-window chunking (the RAG / context-packing passage " +
      "splitter, LangChain-family fixed-size semantics): window 20, " +
      "stride 15 — chunk i covers words [15i, 15i+20), the last start " +
      "is the smallest whose window reaches the doc's end (n_chunks = " +
      "1 + max(0, ceil((n-20)/15)); docs shorter than a window yield " +
      "exactly one short chunk), so no chunk is empty or fully " +
      "contained in its predecessor and every word lands in >=1 chunk; " +
      "row-local: one split, one bounded sequence, one explode, the " +
      "chunk text sliced from the already-split array — zero exchanges",
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents WHERE text IS NOT NULL),
      x AS (SELECT doc_id, ws,
            unnest(generate_series(0,
              greatest(0, (len(ws) - 20 + 15 - 1) // 15))) AS i
            FROM w)
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
             CAST(i * 15 AS BIGINT) AS start_word,
             CAST(len(ws[(i*15+1):(i*15+20)]) AS BIGINT) AS n_words,
             array_to_string(ws[(i*15+1):(i*15+20)], ' ') AS chunk_text
      FROM x ORDER BY doc_id, chunk_id"""),
    (s, dir) => TextAnalysis.chunkWords(t(s, dir, "documents"),
      "doc_id", "text", window = 20, stride = 15)
      .orderBy("doc_id", "chunk_id"))

  private val q263 = Q("q263_perplexity_terciles",
    "CCNet head/middle/tail bucketing over q261's unigram surprisal: " +
      "cut scores are EXACT order statistics (t1 = smallest score with " +
      "3*cum >= n, t2 = smallest with 3*cum >= 2n) computed from the " +
      "DISTINCT-SCORE census — the one unpartitioned window rides that " +
      "bounded relation (<= the ppm value range, never the docs) and " +
      "the two cuts broadcast back as one row; score ties share a " +
      "bucket (CCNet's own tie behavior), so sizes are ceil(n/3)-ish",
    Some(surprisalCte + """,
      cen AS (SELECT mean_bits_ppm AS v, count(*) AS cnt
              FROM s GROUP BY 1),
      cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM cen),
      nd AS (SELECT count(*) AS nd FROM s),
      cuts AS (SELECT min(CASE WHEN cum * 3 >= nd THEN v END) AS t1,
                      min(CASE WHEN cum * 3 >= nd * 2 THEN v END) AS t2
               FROM cum CROSS JOIN nd)
      SELECT doc_id, n_words, mean_bits_ppm,
             CASE WHEN mean_bits_ppm <= t1 THEN 'head'
                  WHEN mean_bits_ppm <= t2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM s CROSS JOIN cuts ORDER BY doc_id"""),
    (s, dir) => TextAnalysis.perplexityBuckets(
      t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id"))

  private val q264 = Q("q264_nb_quality_classifier",
    "naive-Bayes bit-score classifier (the engine-portable fastText-" +
      "quality-classifier analog the GPT-3/CCNet pipelines train): " +
      "multinomial NB in integer BITS — add-1 smoothed word costs " +
      "floor(log2((T_c+V) div (k_cw+1))), class priors floor(log2(D " +
      "div D_c)), OOV costs the class max; trained on the doc_id%5!=0 " +
      "split, scored on the held-out %5=0 docs, argmin (bits, class); " +
      "the model is the (class, word) count relation — one map-side-" +
      "combined pass, no gradient loop, |classes| is the only fan-out",
    Some("""
      WITH tr AS (SELECT doc_id, lang, text FROM documents
                  WHERE doc_id % 5 <> 0),
      te AS (SELECT doc_id, lang, text FROM documents
             WHERE doc_id % 5 = 0),
      tw AS (SELECT lang AS cls, w, count(*) AS k FROM
             (SELECT lang, unnest(string_split(text, ' ')) AS w FROM tr)
             GROUP BY 1, 2),
      tc AS (SELECT cls, CAST(sum(k) AS BIGINT) AS t FROM tw GROUP BY 1),
      v AS (SELECT count(DISTINCT w) AS v FROM tw),
      pri AS (SELECT lang AS cls,
              CAST(floor(log2(dt // d)) AS BIGINT) AS prior
              FROM (SELECT lang, count(*) AS d FROM tr GROUP BY 1)
              CROSS JOIN (SELECT count(*) AS dt FROM tr)),
      tdw AS (SELECT doc_id, lang AS label, w, count(*) AS tk FROM
              (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
               FROM te) GROUP BY 1, 2, 3),
      sc AS (SELECT tdw.doc_id, tdw.label, tc.cls,
             CAST(pri.prior + sum(tk * CAST(floor(log2(
               (tc.t + v.v) // (coalesce(tw.k, 0) + 1))) AS BIGINT))
               AS BIGINT) AS bits
             FROM tdw CROSS JOIN tc CROSS JOIN v
             JOIN pri ON pri.cls = tc.cls
             LEFT JOIN tw ON tw.cls = tc.cls AND tw.w = tdw.w
             GROUP BY 1, 2, 3, pri.prior),
      rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY bits, cls) AS rn FROM sc)
      SELECT doc_id, label, cls AS pred, bits, label = cls AS correct
      FROM rk WHERE rn = 1 ORDER BY doc_id"""),
    (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.nbBitScore(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", "lang")
        .orderBy("doc_id")
    })

  private val q265 = Q("q265_semdedup",
    "SemDeDup semantic pruning (Abbas et al. 2023) — the SELECTION " +
      "stage on q100's within-cell blocking: the deterministic q91 " +
      "codebook at k = ceil(sqrt(n)) (the paper's k-grows-with-n knob, " +
      "q100's setting — cell size and per-cell pair volume stay scale-" +
      "stable), same-cluster pairs within exact BIGINT dist2 <= 1.2e12 " +
      "are near-dups, and each neighborhood KEEPS the vector farthest " +
      "from its centroid (the paper's keep-lowest-centroid-similarity " +
      "rule; ties to the lower id) — a LOCAL dominance rule, not a " +
      "transitive closure (q55 exists for that); output is per-vector " +
      "keep/dup_of, the admission verdict",
    Some("""
      WITH el AS (SELECT vec_id, unnest(embedding) AS v,
                  unnest(generate_series(1, len(embedding))) AS i
                  FROM embeddings
                  WHERE len(embedding) = (SELECT max(len(embedding)) FROM embeddings)),
      sc AS (SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT) AS s FROM el),
      seed AS (SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY CAST('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT), vec_id) - 1 AS cluster
               FROM (SELECT DISTINCT vec_id FROM sc)),
      kk AS (SELECT CAST(ceil(sqrt(count(DISTINCT vec_id))) AS BIGINT) AS k FROM sc),
      c0 AS (SELECT cluster, i, s AS c FROM seed JOIN sc USING (vec_id)
             WHERE cluster < (SELECT k FROM kk)),
      a1 AS (SELECT sc.vec_id, c0.cluster, CAST(SUM((s - c) * (s - c)) AS BIGINT) AS d2
             FROM sc JOIN c0 USING (i) GROUP BY 1, 2),
      w1 AS (SELECT vec_id, cluster FROM
             (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS r FROM a1)
             WHERE r = 1),
      c1 AS (SELECT w1.cluster, sc.i,
             CAST(floor(CAST(CAST(SUM(sc.s) AS BIGINT) AS DOUBLE) / count(*)) AS BIGINT) AS c
             FROM w1 JOIN sc USING (vec_id) GROUP BY 1, 2),
      a2 AS (SELECT sc.vec_id, c1.cluster, CAST(SUM((s - c) * (s - c)) AS BIGINT) AS dist2
             FROM sc JOIN c1 USING (i) GROUP BY 1, 2),
      fin AS (SELECT vec_id, cluster, dist2 FROM
              (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS r FROM a2)
              WHERE r = 1),
      doms AS (SELECT b.vec_id AS vid, a.vec_id AS dup_of,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                 ORDER BY a.dist2 DESC, a.vec_id) AS rn
               FROM fin a JOIN fin b ON a.cluster = b.cluster
                 AND (a.dist2 > b.dist2
                      OR (a.dist2 = b.dist2 AND a.vec_id < b.vec_id))
               JOIN sc sa ON sa.vec_id = a.vec_id
               JOIN sc sb ON sb.vec_id = b.vec_id AND sa.i = sb.i
               GROUP BY b.vec_id, a.vec_id, a.dist2
               HAVING CAST(SUM((sa.s - sb.s) * (sa.s - sb.s)) AS BIGINT)
                 <= 1200000000000)
      SELECT f.vec_id, f.cluster, f.dist2,
             d.dup_of IS NULL AS keep, d.dup_of
      FROM fin f LEFT JOIN (SELECT vid, dup_of FROM doms WHERE rn = 1) d
        ON f.vec_id = d.vid
      ORDER BY f.vec_id"""),
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      // same empty-table guard + k = ceil(sqrt(n)) prelude as q100
      val probe = e.select(max(size(col("embedding")))).head()
      if (probe.isNullAt(0))
        e.select(col("vec_id"), lit(0L).as("cluster"), lit(0L).as("dist2"),
          lit(true).as("keep"), lit(null).cast("long").as("dup_of"))
          .limit(0)
      else {
        val d = probe.getInt(0)
        val n = e.filter(size(col("embedding")) === d)
          .select(countDistinct(col("vec_id"))).head().getLong(0)
        val k = math.ceil(math.sqrt(n.toDouble)).toInt
        Similarity.semDedup(e, "vec_id", "embedding", k = k, iters = 2,
          maxDist2 = 1200000000000L)
          .orderBy("vec_id")
      }
    })

  /** Shared oracle for q266 (batch) and q267 (streaming admission) —
    * frozen-census quality scoring: the census is the even-id docs'
    * unigram counts, scored docs are the odd ids, smoothing is add-1
    * over (N + V). One string so the batch gate and its streaming twin
    * certify against the SAME relation (the q248/minHashAdmissionOracle
    * discipline). */
  private[queries] val censusScoringOracle: String = """
      WITH cw AS (SELECT w, count(*) AS c FROM
             (SELECT unnest(string_split(text, ' ')) AS w
              FROM documents WHERE doc_id % 2 = 0) GROUP BY 1),
      nv AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM cw),
      dw AS (SELECT doc_id, w, count(*) AS k FROM
             (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents WHERE doc_id % 2 = 1) GROUP BY 1, 2),
      sc AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_words,
             CAST(sum(k * CAST(floor(log2(
               (n + v) // (coalesce(c, 0) + 1))) AS BIGINT)) AS BIGINT)
               AS total_bits
             FROM dw CROSS JOIN nv LEFT JOIN cw USING (w) GROUP BY 1)
      SELECT doc_id, n_words, total_bits,
             CAST((1000000 * total_bits) // n_words AS BIGINT)
               AS mean_bits_ppm,
             (1000000 * total_bits) // n_words
               BETWEEN 4010000 AND 10000000 AS keep
      FROM sc ORDER BY doc_id"""

  private val q266 = Q("q266_census_scoring",
    "quality scoring against a FROZEN unigram census (the production " +
      "CCNet shape — the reference census is built once from a trusted " +
      "corpus, every new batch scores against it without touching the " +
      "reference again): census = even-id docs' (word, count) relation, " +
      "scored docs = odd ids, add-1 smoothing over (N + V) so OOV words " +
      "cost the maximum; keep brackets mean_bits_ppm in [4.01e6, 10e6] — " +
      "both CCNet tails (boilerplate low, gibberish high) are curation " +
      "targets; q267 runs the SAME relation as a stream against the " +
      "persisted census",
    Some(censusScoringOracle),
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val census = TextAnalysis.unigramCensus(
        docs.filter(col("doc_id") % 2 === 0), "text")
      TextAnalysis.scoreAgainstCensus(
        docs.filter(col("doc_id") % 2 === 1), census,
        "doc_id", "text", keepLoPpm = 4010000L, keepHiPpm = 10000000L)
        .orderBy("doc_id")
    })

  private val q268 = Q("q268_temperature_mixture",
    "temperature-scaled mixture weights (the mBERT/XLM-R multilingual " +
      "sampling rule, p_s ~ c_s^alpha): per-language TOKEN counts raised " +
      "to alpha = 1/2 — the one exponent exact in integer arithmetic in " +
      "both engines, via a double-sqrt floor corrected back onto the " +
      "true integer square root (isqrt(c)^2 <= c < (isqrt(c)+1)^2, " +
      "exact below 2^52); weights normalized to ppm; the input relation " +
      "is language-sized — all corpus-sized work is the one upstream " +
      "token count",
    Some("""
      WITH g AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM
             (SELECT lang, unnest(string_split(text, ' ')) AS w
              FROM documents) GROUP BY 1),
      s0 AS (SELECT lang, c,
             CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) AS s0 FROM g),
      s1 AS (SELECT lang, c,
             s0 - CASE WHEN s0 * s0 > c THEN 1 ELSE 0 END AS s FROM s0),
      s2 AS (SELECT lang, c, CAST(s + CASE WHEN (s + 1) * (s + 1) <= c
             THEN 1 ELSE 0 END AS BIGINT) AS w FROM s1),
      t AS (SELECT CAST(sum(w) AS BIGINT) AS tot FROM s2)
      SELECT lang, c AS n, w,
             CAST((1000000 * w) // tot AS BIGINT) AS weight_ppm
      FROM s2 CROSS JOIN t ORDER BY lang"""),
    (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy("lang").agg(count(lit(1)).as("c"))
      Sampling.temperatureWeights(tok, "lang", "c").orderBy("lang")
    })

  private val q269 = Q("q269_tercile_admission",
    "CCNet's staged admission composed from gated pieces: keep the head " +
      "and middle perplexity terciles whole (q263's exact census cuts), " +
      "hash-SAMPLE the tail at 1/8 (the deterministic hash64 bucket — " +
      "no RNG, engine-reproducible, row-local) — the production shape " +
      "that keeps a sliver of the gibberish tail for contrast sets " +
      "instead of dropping it blind",
    Some(surprisalCte + """,
      cen AS (SELECT mean_bits_ppm AS v, count(*) AS cnt
              FROM s GROUP BY 1),
      cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM cen),
      nd AS (SELECT count(*) AS nd FROM s),
      cuts AS (SELECT min(CASE WHEN cum * 3 >= nd THEN v END) AS t1,
                      min(CASE WHEN cum * 3 >= nd * 2 THEN v END) AS t2
               FROM cum CROSS JOIN nd),
      bk AS (SELECT doc_id,
             CASE WHEN mean_bits_ppm <= t1 THEN 'head'
                  WHEN mean_bits_ppm <= t2 THEN 'middle'
                  ELSE 'tail' END AS bucket
             FROM s CROSS JOIN cuts)
      SELECT doc_id, bucket,
             (bucket <> 'tail' OR
              CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)
                AS BIGINT) % 8 = 0) AS admitted
      FROM bk ORDER BY doc_id"""),
    (s, dir) => {
      val b = TextAnalysis.perplexityBuckets(
        t(s, dir, "documents"), "doc_id", "text")
      b.select(col("doc_id"), col("bucket"),
        (col("bucket") =!= "tail" ||
          Sampling.hashBucket(col("doc_id"), 8) === 0).as("admitted"))
        .orderBy("doc_id")
    })

  /** Shared oracle for q270 (batch) and q271 (two sequential AvailableNow
    * drains) — census growth: batch 1 scores against C0, admitted batch-1
    * counts merge into C1, batch 2 scores against C1. One string so the
    * batch gate and its live twin certify the SAME relation (the
    * q266/q267 and q248/minHashAdmissionOracle discipline). */
  private[queries] val censusGrowthOracle: String = """
      WITH c0 AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM
             (SELECT unnest(string_split(text, ' ')) AS w
              FROM documents WHERE doc_id % 4 = 0) GROUP BY 1),
      nv0 AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM c0),
      d1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1),
      dw1 AS (SELECT doc_id, w, count(*) AS k FROM
              (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM d1) GROUP BY 1, 2),
      r1 AS (SELECT doc_id, n_words, total_bits,
             CAST((1000000 * total_bits) // n_words AS BIGINT)
               AS mean_bits_ppm,
             (1000000 * total_bits) // n_words
               BETWEEN 4010000 AND 10000000 AS keep FROM
             (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_words,
              CAST(sum(k * CAST(floor(log2(
                (n + v) // (coalesce(c, 0) + 1))) AS BIGINT)) AS BIGINT)
                AS total_bits
              FROM dw1 CROSS JOIN nv0 LEFT JOIN c0 USING (w)
              GROUP BY 1)),
      adm AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM
              (SELECT unnest(string_split(d1.text, ' ')) AS w
               FROM d1 JOIN r1 USING (doc_id) WHERE r1.keep) GROUP BY 1),
      c1 AS (SELECT w, CAST(sum(c) AS BIGINT) AS c FROM
             (SELECT * FROM c0 UNION ALL SELECT * FROM adm) GROUP BY 1),
      nv1 AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM c1),
      dw2 AS (SELECT doc_id, w, count(*) AS k FROM
              (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents WHERE doc_id % 4 = 2) GROUP BY 1, 2),
      r2 AS (SELECT doc_id, n_words, total_bits,
             CAST((1000000 * total_bits) // n_words AS BIGINT)
               AS mean_bits_ppm,
             (1000000 * total_bits) // n_words
               BETWEEN 4010000 AND 10000000 AS keep FROM
             (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_words,
              CAST(sum(k * CAST(floor(log2(
                (n + v) // (coalesce(c, 0) + 1))) AS BIGINT)) AS BIGINT)
                AS total_bits
              FROM dw2 CROSS JOIN nv1 LEFT JOIN c1 USING (w)
              GROUP BY 1))
      SELECT doc_id, CAST(1 AS BIGINT) AS batch, n_words, total_bits,
             mean_bits_ppm, keep FROM r1
      UNION ALL
      SELECT doc_id, CAST(2 AS BIGINT), n_words, total_bits,
             mean_bits_ppm, keep FROM r2
      ORDER BY doc_id"""

  private val q270 = Q("q270_census_growth",
    "sequential-batch census maintenance — q256's index-growth pattern " +
      "for quality scoring: batch 1 (doc_id%4=1) scores against the " +
      "frozen census C0 (%4=0 docs); the ADMITTED batch-1 docs' counts " +
      "merge into C1 = C0 + census(admitted) (counts are the stored " +
      "form precisely so maintenance is union+sum — census-sized, no " +
      "corpus re-read); batch 2 (%4=2) scores against the grown C1, so " +
      "its keep verdicts can differ from a frozen-C0 replay — the " +
      "growth is observable in the gate's own values",
    Some(censusGrowthOracle),
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val c0 = TextAnalysis.unigramCensus(
        docs.filter(col("doc_id") % 4 === 0), "text")
        .localCheckpoint(false)
      val b1 = docs.filter(col("doc_id") % 4 === 1)
      val r1 = TextAnalysis.scoreAgainstCensus(b1, c0, "doc_id", "text",
        keepLoPpm = 4010000L, keepHiPpm = 10000000L).localCheckpoint(false)
      val adm = TextAnalysis.unigramCensus(
        b1.join(r1.filter(col("keep")).select("doc_id"), Seq("doc_id"),
          "left_semi"), "text")
      val c1 = TextAnalysis.mergeCensus(c0, adm)
      val r2 = TextAnalysis.scoreAgainstCensus(
        docs.filter(col("doc_id") % 4 === 2), c1, "doc_id", "text",
        keepLoPpm = 4010000L, keepHiPpm = 10000000L)
      r1.withColumn("batch", lit(1L))
        .unionByName(r2.withColumn("batch", lit(2L)))
        .select(col("doc_id"), col("batch"), col("n_words"),
          col("total_bits"), col("mean_bits_ppm"), col("keep"))
        .orderBy("doc_id")
    })

  /** Shared winnowing CTE (q272 relation, q273 matcher) — k = 3-word
    * grams, window = 4 gram hashes, full windows only (start pos ≤
    * n_words − 6); documents shorter than k words have no grams and are
    * absent, shorter than k+w−1 keep the clamped pos-0 window. */
  private val winnowCte: String = """
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents
                 WHERE len(string_split(text, ' ')) >= 3),
      jx AS (SELECT doc_id, ws, len(ws) AS n,
             unnest(generate_series(1, len(ws) - 2)) AS j FROM w),
      h AS (SELECT doc_id, n, j - 1 AS pos,
            CAST('0x' || substr(sha256(ws[j] || ' ' || ws[j+1] || ' ' ||
              ws[j+2]), 1, 15) AS BIGINT) AS h
            FROM jx),
      m AS (SELECT doc_id, pos, n,
            min(h) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
            FROM h),
      fps AS (SELECT DISTINCT doc_id, fp FROM m
              WHERE pos <= greatest(n - 6, 0))"""

  private val q272 = Q("q272_winnowing",
    "winnowing fingerprint selection (Schleimer/Wilkerson/Aiken — the " +
      "MOSS core): hash each 3-word gram, slide a 4-hash window, keep " +
      "each window's MIN — the position-robust local fingerprint set " +
      "with the published guarantee (any shared run of >= w+k-1 = 6 " +
      "words shares >= 1 fingerprint) at ~1/w the gram volume; ONE " +
      "window PARTITIONED BY DOC (doc-sized partitions, never global), " +
      "one distinct; sub-k docs absent by contract",
    Some(winnowCte + """
      SELECT doc_id, fp FROM fps ORDER BY doc_id, fp"""),
    (s, dir) => TextAnalysis.winnowFingerprints(
      t(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, window = 4)
      .orderBy("doc_id", "fp"))

  /** q273's registered cap — certification-sized like Q92MaxPairs:
    * above the qualifying-pair count at every test scale (105 at
    * sf0.01, 8090 at sf0.1), so the gate hash-verifies the COMPLETE
    * relation with truncated=false in-band, while the 100 TB
    * materialization stays bounded (the 10× text-identical replica
    * measured ~100× pair growth — fp buckets are duplicate-text
    * groups). */
  private val Q273MaxPairs = 10000

  private val q273 = Q("q273_moss_matcher",
    "MOSS-style near-dup matching on q272's winnowed fingerprints: " +
      "pairs joined ONLY through shared fp buckets (the LSH-band " +
      "posture — never all-pairs; winnowing keeps ~1/w of grams so " +
      "buckets are duplicate-text groups), scored by shared-fingerprint " +
      "count at n_shared >= 2 (one shared fp is the guarantee floor " +
      "for a single 6-word run); registered under the family-wide " +
      s"loud-cap contract (top-$Q273MaxPairs by n_shared DESC — above " +
      "every test-scale qualifying count, so the full exact relation " +
      "is certified with truncated=false while 100 TB materialization " +
      "stays bounded)",
    Some(winnowCte + s""",
      pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
             FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
             GROUP BY 1, 2 HAVING count(*) >= 2),
      rk AS (SELECT *, ROW_NUMBER() OVER
               (ORDER BY n_shared DESC, doc_a, doc_b) AS rn FROM pr),
      n AS (SELECT count(*) AS n_tot FROM pr)
      SELECT doc_a, doc_b, n_shared, n_tot > $Q273MaxPairs AS truncated
      FROM rk CROSS JOIN n WHERE rn <= $Q273MaxPairs
      ORDER BY doc_a, doc_b"""),
    (s, dir) => TextAnalysis.winnowMatches(
      t(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, window = 4, minShared = 2L,
      maxPairs = Q273MaxPairs)
      .orderBy("doc_a", "doc_b"))

  /** Positional variant of [[winnowCte]] — same grams, same full-window
    * rule, but each window's min carries its gram POSITION with the
    * classic rightmost tiebreak (min over struct(h, −pos) is
    * lexicographic: minimum hash, then maximum position). fpp is the
    * distinct positioned selection; fps recovers q272's set. */
  private val winnowPosCte: String = """
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents
                 WHERE len(string_split(text, ' ')) >= 3),
      jx AS (SELECT doc_id, ws, len(ws) AS n,
             unnest(generate_series(1, len(ws) - 2)) AS j FROM w),
      h AS (SELECT doc_id, n, j - 1 AS pos,
            CAST('0x' || substr(sha256(ws[j] || ' ' || ws[j+1] || ' ' ||
              ws[j+2]), 1, 15) AS BIGINT) AS h
            FROM jx),
      m AS (SELECT doc_id, pos, n,
            min(struct_pack(h := h, np := -pos)) OVER
              (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
            FROM h),
      fpp AS (SELECT DISTINCT doc_id, struct_extract(m, 'h') AS fp,
              -struct_extract(m, 'np') AS fpos
              FROM m WHERE pos <= greatest(n - 6, 0)),
      fps AS (SELECT DISTINCT doc_id, fp FROM fpp)"""

  private val Q275MaxPairs = 10000

  private val q275 = Q("q275_moss_coverage",
    "MOSS span-coverage reporting — the metric MOSS actually ranks by, " +
      "completing q273's count-screen: positional winnowing (q272's " +
      "selection with the classic RIGHTMOST tiebreak, via one struct-" +
      "min over the same per-doc window) pins each shared fingerprint " +
      "to its 3-word run; per (pair, doc) the runs union EXACTLY via " +
      "the sorted-positions identity sum(min(next-pos, k)) on a pair-" +
      "partitioned window — no per-word explode — and report " +
      "cover ppm of each side's words; pairs form only through shared-" +
      "fp buckets (never all-pairs), n_shared counts distinct shared " +
      s"fps (= q273 on the same input), family loud-cap at $Q275MaxPairs",
    Some(winnowPosCte + s""",
      pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
             FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
             GROUP BY 1, 2 HAVING count(*) >= 2),
      jn AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.fpos AS pa, b.fpos AS pb
             FROM fpp a JOIN fpp b ON a.fp = b.fp AND a.doc_id < b.doc_id),
      pa1 AS (SELECT doc_a, doc_b, pa, lead(pa) OVER
                (PARTITION BY doc_a, doc_b ORDER BY pa) AS nxt
              FROM (SELECT DISTINCT doc_a, doc_b, pa FROM jn)),
      ca AS (SELECT doc_a, doc_b, sum(CASE WHEN nxt IS NULL THEN 3
               ELSE least(nxt - pa, 3) END) AS cov
             FROM pa1 GROUP BY 1, 2),
      pb1 AS (SELECT doc_a, doc_b, pb, lead(pb) OVER
                (PARTITION BY doc_a, doc_b ORDER BY pb) AS nxt
              FROM (SELECT DISTINCT doc_a, doc_b, pb FROM jn)),
      cb AS (SELECT doc_a, doc_b, sum(CASE WHEN nxt IS NULL THEN 3
               ELSE least(nxt - pb, 3) END) AS cov
             FROM pb1 GROUP BY 1, 2),
      nw AS (SELECT doc_id, len(string_split(text, ' ')) AS nw
             FROM documents),
      sc AS (SELECT pr.doc_a, pr.doc_b, pr.n_shared,
             CAST((1000000 * ca.cov) // na.nw AS BIGINT) AS cover_a_ppm,
             CAST((1000000 * cb.cov) // nb.nw AS BIGINT) AS cover_b_ppm
             FROM pr JOIN ca USING (doc_a, doc_b)
                  JOIN cb USING (doc_a, doc_b)
                  JOIN nw na ON pr.doc_a = na.doc_id
                  JOIN nw nb ON pr.doc_b = nb.doc_id),
      rk AS (SELECT *, ROW_NUMBER() OVER
               (ORDER BY n_shared DESC, doc_a, doc_b) AS rn FROM sc),
      n AS (SELECT count(*) AS n_tot FROM sc)
      SELECT doc_a, doc_b, n_shared, cover_a_ppm, cover_b_ppm,
             n_tot > $Q275MaxPairs AS truncated
      FROM rk CROSS JOIN n WHERE rn <= $Q275MaxPairs
      ORDER BY doc_a, doc_b"""),
    (s, dir) => TextAnalysis.winnowCoverage(
      t(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, window = 4, minShared = 2L,
      maxPairs = Q275MaxPairs)
      .orderBy("doc_a", "doc_b"))

  private val q276 = Q("q276_numeric_entities",
    "generic numeric character-reference decode in the markup stripper " +
      "(q255's r14 gap: a real web corpus hits &#233;/&#x2019;-class " +
      "refs, not just the 7 fixed names): stripMarkup's entity stage is " +
      "now ONE native left-to-right pass (graft_html_unescape) over the " +
      "named subset + &#NN; decimal + &#xNN;/&#XNN; hex — single-decode " +
      "is structural (the scan never rescans produced text), so the " +
      "double-escape &amp;#233; yields the LITERAL '&#233;' and the " +
      "chained-regexp ordering convention is gone; malformed refs stay " +
      "literal text (no ';' in reach, empty/non digits, > U+10FFFF) — " +
      "the strict well-formed subset both engines express; fixtures " +
      "exercise e-acute in all three spellings, curly quote, numeric " +
      "lt/gt (safe: decoded AFTER tag stripping), the double-escape, " +
      "and three malformed refs",
    Some("""
      WITH h AS (SELECT doc_id,
        '<p>caf&#233; r&#xE9;sum&#Xe9; it&#8217;s &#x2019;q&#x2019; 1 &#60; 2 &#62; 0</p><p>'
        || text ||
        '</p><p>keep &amp;#233; bad &#x; &#1114112; &#12 tail</p>' AS html
        FROM documents),
      nt AS (SELECT doc_id,
             regexp_replace(html, '<[^>]+>', ' ', 'g') AS t FROM h)
      SELECT doc_id,
        trim(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(t, '&#233;|&#xE9;|&#Xe9;', chr(233), 'g'),
            '&#8217;|&#x2019;', chr(8217), 'g'),
            '&#60;', '<', 'g'), '&#62;', '>', 'g'),
            '&amp;', '&', 'g'),
          '\s+', ' ', 'g')) AS text_clean
      FROM nt ORDER BY doc_id"""),
    (s, dir) => {
      val html = concat(
        lit("<p>caf&#233; r&#xE9;sum&#Xe9; it&#8217;s &#x2019;q&#x2019; " +
          "1 &#60; 2 &#62; 0</p><p>"),
        col("text"),
        lit("</p><p>keep &amp;#233; bad &#x; &#1114112; &#12 tail</p>"))
      TextAnalysis.stripMarkup(
        t(s, dir, "documents").select(col("doc_id"), html.as("html")))
        .select(col("doc_id"), col("text_clean"))
        .orderBy("doc_id")
    })

  /** Shared oracle for q277 (batch) and q278 (streaming admission) —
    * SemDeDup admission against a frozen codebook + per-cell keep set:
    * the codebook is the even-id vectors' 2-iteration k-means (k =
    * ceil(sqrt(n_evens)), q265's knob), the starting index is the
    * evens' SemDeDup keep set, batch 1 (ids % 4 = 1) is admitted
    * against it, batch-1 survivors JOIN the index (the q270 growth
    * pattern), batch 2 (ids % 4 = 3) is admitted against the grown
    * index. One string so the batch gate and its live twin certify the
    * SAME relation (the q266/q267 discipline, in embedding space). */
  private[queries] val semAdmissionOracle: String = """
      WITH el AS (SELECT vec_id, unnest(embedding) AS v,
                  unnest(generate_series(1, len(embedding))) AS i
                  FROM embeddings
                  WHERE len(embedding) = (SELECT max(len(embedding)) FROM embeddings)),
      sc AS (SELECT vec_id, i, CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT) AS s FROM el),
      sce AS (SELECT * FROM sc WHERE vec_id % 2 = 0),
      seed AS (SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY CAST('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT), vec_id) - 1 AS cluster
               FROM (SELECT DISTINCT vec_id FROM sce)),
      kk AS (SELECT CAST(ceil(sqrt(count(DISTINCT vec_id))) AS BIGINT) AS k FROM sce),
      c0 AS (SELECT cluster, i, s AS c FROM seed JOIN sce USING (vec_id)
             WHERE cluster < (SELECT k FROM kk)),
      a1 AS (SELECT sce.vec_id, c0.cluster, CAST(SUM((s - c) * (s - c)) AS BIGINT) AS d2
             FROM sce JOIN c0 USING (i) GROUP BY 1, 2),
      w1 AS (SELECT vec_id, cluster FROM
             (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS r FROM a1)
             WHERE r = 1),
      c1 AS (SELECT w1.cluster, sce.i,
             CAST(floor(CAST(CAST(SUM(sce.s) AS BIGINT) AS DOUBLE) / count(*)) AS BIGINT) AS c
             FROM w1 JOIN sce USING (vec_id) GROUP BY 1, 2),
      aE AS (SELECT sce.vec_id, c1.cluster, CAST(SUM((s - c) * (s - c)) AS BIGINT) AS dist2
             FROM sce JOIN c1 USING (i) GROUP BY 1, 2),
      finE AS (SELECT vec_id, cluster, dist2 FROM
              (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS r FROM aE)
              WHERE r = 1),
      domsE AS (SELECT b.vec_id AS vid
               FROM finE a JOIN finE b ON a.cluster = b.cluster
                 AND (a.dist2 > b.dist2
                      OR (a.dist2 = b.dist2 AND a.vec_id < b.vec_id))
               JOIN sc sa ON sa.vec_id = a.vec_id
               JOIN sc sb ON sb.vec_id = b.vec_id AND sa.i = sb.i
               GROUP BY b.vec_id, a.vec_id
               HAVING CAST(SUM((sa.s - sb.s) * (sa.s - sb.s)) AS BIGINT)
                 <= 1200000000000),
      e0 AS (SELECT * FROM finE
             WHERE vec_id NOT IN (SELECT vid FROM domsE)),
      sco AS (SELECT * FROM sc WHERE vec_id % 2 = 1),
      aO AS (SELECT sco.vec_id, c1.cluster, CAST(SUM((s - c) * (s - c)) AS BIGINT) AS dist2
             FROM sco JOIN c1 USING (i) GROUP BY 1, 2),
      finO AS (SELECT vec_id, cluster, dist2 FROM
               (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS r FROM aO)
               WHERE r = 1),
      b1 AS (SELECT * FROM finO WHERE vec_id % 4 = 1),
      d1 AS (SELECT vid, dup_of FROM
             (SELECT b.vec_id AS vid, e.vec_id AS dup_of,
              ROW_NUMBER() OVER (PARTITION BY b.vec_id
                ORDER BY e.dist2 DESC, e.vec_id) AS rn
              FROM b1 b JOIN e0 e ON e.cluster = b.cluster
              JOIN sc sa ON sa.vec_id = e.vec_id
              JOIN sc sb ON sb.vec_id = b.vec_id AND sa.i = sb.i
              GROUP BY b.vec_id, e.vec_id, e.dist2
              HAVING CAST(SUM((sa.s - sb.s) * (sa.s - sb.s)) AS BIGINT)
                <= 1200000000000)
             WHERE rn = 1),
      r1 AS (SELECT b.vec_id, CAST(1 AS BIGINT) AS batch, b.cluster,
             b.dist2, d.dup_of IS NULL AS keep, d.dup_of
             FROM b1 b LEFT JOIN d1 d ON b.vec_id = d.vid),
      e1 AS (SELECT * FROM e0 UNION ALL
             SELECT vec_id, cluster, dist2 FROM r1 WHERE keep),
      b2 AS (SELECT * FROM finO WHERE vec_id % 4 = 3),
      d2 AS (SELECT vid, dup_of FROM
             (SELECT b.vec_id AS vid, e.vec_id AS dup_of,
              ROW_NUMBER() OVER (PARTITION BY b.vec_id
                ORDER BY e.dist2 DESC, e.vec_id) AS rn
              FROM b2 b JOIN e1 e ON e.cluster = b.cluster
              JOIN sc sa ON sa.vec_id = e.vec_id
              JOIN sc sb ON sb.vec_id = b.vec_id AND sa.i = sb.i
              GROUP BY b.vec_id, e.vec_id, e.dist2
              HAVING CAST(SUM((sa.s - sb.s) * (sa.s - sb.s)) AS BIGINT)
                <= 1200000000000)
             WHERE rn = 1),
      r2 AS (SELECT b.vec_id, CAST(2 AS BIGINT) AS batch, b.cluster,
             b.dist2, d.dup_of IS NULL AS keep, d.dup_of
             FROM b2 b LEFT JOIN d2 d ON b.vec_id = d.vid)
      SELECT vec_id, batch, cluster, dist2, keep, dup_of FROM r1
      UNION ALL
      SELECT vec_id, batch, cluster, dist2, keep, dup_of FROM r2
      ORDER BY vec_id"""

  private val Q277MaxDist2 = 1200000000000L

  private val q277 = Q("q277_semdedup_admission",
    "SemDeDup ADMISSION against a frozen codebook + per-cell keep set — " +
      "q265's production follow-through (its selection was a one-shot " +
      "batch): the even-id vectors train the 2-iteration codebook at " +
      "k = ceil(sqrt(n_evens)) and their SemDeDup keep set becomes the " +
      "index; batch 1 (ids % 4 = 1) assigns to the FROZEN " +
      "centroids and is rejected by any index member within dist2 <= " +
      "1.2e12 in its cell (dup_of = the in-range member farthest from " +
      "the centroid, ties lower id — the dominator pick under frozen-" +
      "index order, so no within-batch comparisons and the verdict is " +
      "batch-boundary invariant); batch-1 survivors JOIN the index " +
      "(q270's growth pattern) and batch 2 (ids % 4 = 3) admits " +
      "against the grown index; q278 runs the SAME relation as a " +
      "2-drain stream",
    Some(semAdmissionOracle),
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val evens = e.filter(col("vec_id") % 2 === 0)
      // ONE action answers the dimensionality probe AND the k sizing
      // (r16 verdict: batch the admission gates' driver collects) — the
      // per-size distinct counts are a handful of rows; d = the max
      // size, nE = its group's distinct-id count, exactly the old
      // probe + filtered countDistinct pair
      val sz = evens.groupBy(size(col("embedding")).as("_d"))
        .agg(countDistinct(col("vec_id")).as("_n"))
        .collect().filter(!_.isNullAt(0)).map(r => (r.getInt(0), r.getLong(1)))
      if (sz.isEmpty)
        e.select(col("vec_id"), lit(1L).as("batch"), lit(0L).as("cluster"),
          lit(0L).as("dist2"), lit(true).as("keep"),
          lit(null).cast("long").as("dup_of")).limit(0)
      else {
        val nE = sz.maxBy(_._1)._2
        val k = math.ceil(math.sqrt(nE.toDouble)).toInt
        val cents = Similarity.kmeansCentroids(evens, "vec_id",
          "embedding", k = k, iters = 2)
        val kept = Similarity.semDedup(evens, "vec_id", "embedding",
          k = k, iters = 2, maxDist2 = Q277MaxDist2,
          centsOpt = Some(cents)) // reuse the frozen codebook — no refit
          .filter(col("keep"))
          .select(col("vec_id"), col("cluster"), col("dist2"))
        val index0 = kept
          .join(Similarity.scaledVectors(evens, "vec_id", "embedding"),
            Seq("vec_id"))
          .localCheckpoint(false)
        val r1 = Similarity.semDedupAdmit(
          e.filter(col("vec_id") % 4 === 1), index0, cents,
          "vec_id", "embedding", maxDist2 = Q277MaxDist2)
          .localCheckpoint(false)
        val grown = index0.unionByName(r1.filter(col("keep"))
          .select(col("vec_id"), col("cluster"), col("dist2"),
            col("svec")))
        val r2 = Similarity.semDedupAdmit(
          e.filter(col("vec_id") % 4 === 3), grown, cents,
          "vec_id", "embedding", maxDist2 = Q277MaxDist2)
        r1.withColumn("batch", lit(1L))
          .unionByName(r2.withColumn("batch", lit(2L)))
          .select(col("vec_id"), col("batch"), col("cluster"),
            col("dist2"), col("keep"), col("dup_of"))
          .orderBy("vec_id")
      }
    })

  private val q279 = Q("q279_dup_gram_chars",
    "Gopher's duplicate-n-gram char fractions, n = 5..10 (Rae et al. " +
      "Table A1's other repetition half — q258's top-2/3/4-gram rules " +
      "are the first): every occurrence of an n-gram appearing >= 2 " +
      "times covers its char span, spans UNION exactly (overlapping " +
      "occurrences never double-count — the native kernel merges " +
      "sorted intervals, the oracle runs the running-max-end window " +
      "identity), ppm of doc chars, keep at the published " +
      "0.15/0.14/0.13/0.12/0.11/0.10 cuts; the corpus has ZERO " +
      "natural within-doc 5-gram repeats (verified both scales), so " +
      "docs with id % 3 = 0 get their first 12 words appended TWICE — " +
      "manufactured overlap that exercises the union math and splits " +
      "keep; row-local native, zero shuffles beyond the ORDER BY",
    Some("""
      WITH h AS (SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN text || ' ' ||
          array_to_string(string_split(text, ' ')[1:12], ' ') || ' ' ||
          array_to_string(string_split(text, ' ')[1:12], ' ')
        ELSE text END AS t FROM documents),
      w AS (SELECT doc_id, t, string_split(t, ' ') AS ws FROM h),
      nn AS (SELECT doc_id, ws, unnest([5, 6, 7, 8, 9, 10]) AS n FROM w),
      g0 AS (SELECT doc_id, n, ws,
             unnest(generate_series(1, len(ws)-n+1)) AS i FROM nn),
      gg AS (SELECT doc_id, n, i,
             array_to_string(ws[i:i+n-1], ' ') AS g,
             CASE WHEN i = 1 THEN 0
                  ELSE length(array_to_string(ws[1:i-1], ' ')) + 1
             END AS st
             FROM g0),
      cnt AS (SELECT doc_id, n, g, count(*) AS c FROM gg GROUP BY 1, 2, 3),
      dup AS (SELECT gg.doc_id, gg.n, gg.st,
              gg.st + length(gg.g) AS en
              FROM gg JOIN cnt ON gg.doc_id = cnt.doc_id
                AND gg.n = cnt.n AND gg.g = cnt.g
              WHERE cnt.c >= 2),
      uni AS (SELECT doc_id, n, st, en,
              max(en) OVER (PARTITION BY doc_id, n ORDER BY st
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
              FROM dup),
      cov AS (SELECT doc_id, n,
              CAST(sum(greatest(0, en - greatest(st, coalesce(pe, 0))))
                AS BIGINT) AS cov
              FROM uni GROUP BY 1, 2),
      pp AS (SELECT w.doc_id, length(t) AS nc,
             coalesce(max(CASE WHEN n = 5 THEN cov END), 0) AS c5,
             coalesce(max(CASE WHEN n = 6 THEN cov END), 0) AS c6,
             coalesce(max(CASE WHEN n = 7 THEN cov END), 0) AS c7,
             coalesce(max(CASE WHEN n = 8 THEN cov END), 0) AS c8,
             coalesce(max(CASE WHEN n = 9 THEN cov END), 0) AS c9,
             coalesce(max(CASE WHEN n = 10 THEN cov END), 0) AS c10
             FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id
             GROUP BY w.doc_id, w.t)
      SELECT doc_id,
        CAST((1000000 * c5) // nc AS BIGINT) AS dup5_ppm,
        CAST((1000000 * c6) // nc AS BIGINT) AS dup6_ppm,
        CAST((1000000 * c7) // nc AS BIGINT) AS dup7_ppm,
        CAST((1000000 * c8) // nc AS BIGINT) AS dup8_ppm,
        CAST((1000000 * c9) // nc AS BIGINT) AS dup9_ppm,
        CAST((1000000 * c10) // nc AS BIGINT) AS dup10_ppm,
        ((1000000 * c5) // nc <= 150000 AND (1000000 * c6) // nc <= 140000
         AND (1000000 * c7) // nc <= 130000
         AND (1000000 * c8) // nc <= 120000
         AND (1000000 * c9) // nc <= 110000
         AND (1000000 * c10) // nc <= 100000) AS keep
      FROM pp ORDER BY doc_id"""),
    (s, dir) => {
      val rep = array_join(slice(split(col("text"), " "), lit(1), lit(12)), " ")
      val t2 = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" "), rep, lit(" "), rep))
        .otherwise(col("text"))
      val base = t(s, dir, "documents")
        .select(col("doc_id"), t2.as("t"))
        .select(col("doc_id") +:
          length(col("t")).cast("long").as("nc") +:
          (5 to 10).map(n =>
            graft.expressions.DupGramCov(col("t"), n).as(s"c$n")): _*)
      val cuts = Seq(5 -> 150000L, 6 -> 140000L, 7 -> 130000L,
        8 -> 120000L, 9 -> 110000L, 10 -> 100000L)
      val ppm = cuts.foldLeft(base) { case (df, (n, _)) =>
        df.withColumn(s"dup${n}_ppm", expr(s"(1000000 * c$n) div nc"))
      }
      ppm.select(col("doc_id") +:
        cuts.map { case (n, _) => col(s"dup${n}_ppm") } :+
        cuts.map { case (n, cut) => col(s"dup${n}_ppm") <= cut }
          .reduce(_ && _).as("keep"): _*)
        .orderBy("doc_id")
    })

  private val q280 = Q("q280_dsir_selection",
    "DSIR data selection (Xie et al. '23, importance resampling): rank " +
      "raw docs by how much more cheaply the TARGET-domain unigram " +
      "model describes them than the SOURCE model — gain = source_bits " +
      "- target_bits under two FROZEN censuses (target = the en-lang " +
      "slice, source = the whole corpus; both built once, the q266 " +
      "frozen-artifact posture with two references), bits in the exact " +
      "floor-log2 add-1 form the census family pins; gain_ppm is the " +
      "difference of the two non-negative per-word means (a negative " +
      "numerator would split Spark's truncating div from DuckDB's " +
      "flooring //); selection = deterministic top-n/4 by (gain_ppm " +
      "DESC, doc_id) via the distributed top-k + a semi-join flag — " +
      "the paper's Gumbel draw replaced by the engine-reproducible " +
      "rule (q127's A-ES exists when a seeded weighted draw is wanted)",
    Some("""
      WITH tc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM
             (SELECT unnest(string_split(text, ' ')) AS w
              FROM documents WHERE lang = 'en') GROUP BY 1),
      sc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM
             (SELECT unnest(string_split(text, ' ')) AS w
              FROM documents) GROUP BY 1),
      nvt AS (SELECT CAST(sum(c) AS BIGINT) AS nt, count(*) AS vt FROM tc),
      nvs AS (SELECT CAST(sum(c) AS BIGINT) AS ns, count(*) AS vs FROM sc),
      dw AS (SELECT doc_id, w, count(*) AS k FROM
             (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents) GROUP BY 1, 2),
      g AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_words,
            CAST(sum(k * CAST(floor(log2(
              (nt + vt) // (coalesce(tc.c, 0) + 1))) AS BIGINT))
              AS BIGINT) AS target_bits,
            CAST(sum(k * CAST(floor(log2(
              (ns + vs) // (coalesce(sc.c, 0) + 1))) AS BIGINT))
              AS BIGINT) AS source_bits
            FROM dw CROSS JOIN nvt CROSS JOIN nvs
            LEFT JOIN tc USING (w) LEFT JOIN sc USING (w) GROUP BY 1),
      gg AS (SELECT doc_id, n_words, target_bits, source_bits,
             source_bits - target_bits AS gain_bits,
             CAST((1000000 * source_bits) // n_words
               - (1000000 * target_bits) // n_words AS BIGINT) AS gain_ppm
             FROM g),
      kk AS (SELECT count(*) // 4 AS k FROM gg),
      rk AS (SELECT doc_id, ROW_NUMBER() OVER
               (ORDER BY gain_ppm DESC, doc_id) AS rn FROM gg)
      SELECT gg.doc_id, n_words, target_bits, source_bits, gain_bits,
             gain_ppm, rk.rn <= (SELECT k FROM kk) AS selected
      FROM gg JOIN rk USING (doc_id) ORDER BY doc_id"""),
    (s, dir) => {
      val docs = t(s, dir, "documents")
      // ONE corpus tokenize (the q261 discipline): the (doc, lang, w, k)
      // counts are checkpointed once and supply BOTH frozen censuses (census-
      // sized aggregates) and the per-doc scoring relation — the naive
      // form paid three tokenizes (target census, source census, dw)
      // and a checkpoint; measured 6.8 → ~3 s at the 10× replica
      val dw = docs
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("lang"), col("w"))
        .agg(count(lit(1)).as("k"))
        .localCheckpoint(false)
      val target = dw.filter(col("lang") === "en")
        .groupBy(col("w")).agg(sum(col("k")).as("c"))
      val source = dw.groupBy(col("w")).agg(sum(col("k")).as("c"))
      val g = TextAnalysis.dsirGainFromCounts(
        dw.select(col("doc_id"), col("w"), col("k")), target, source,
        "doc_id").localCheckpoint(false)
      // n is corpus row count (every doc tokenizes to >= 1 word); the
      // 1-value probe is the established q265/q277 pattern
      val k = (docs.count() / 4L).toInt
      val top = g.orderBy(col("gain_ppm").desc, col("doc_id"))
        .limit(k).select(col("doc_id"))
      g.join(top.withColumn("_sel", lit(true)),
        Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"), col("target_bits"),
          col("source_bits"), col("gain_bits"), col("gain_ppm"),
          coalesce(col("_sel"), lit(false)).as("selected"))
        .orderBy("doc_id")
    })

  private val q281 = Q("q281_c4_line_filter",
    "C4's line-level cleanup REWRITE (Raffel et al. '20 §2.2 — the rules " +
      "run BEFORE any statistical filter; q258 is the Gopher statistical " +
      "battery, this is the structural pass that feeds it): a line " +
      "survives iff it ends in terminal punctuation, carries >= 5 words, " +
      "and does not mention 'javascript' (line drops attribute FIRST-" +
      "FAIL: punct -> short -> javascript); the page survives iff it has " +
      "no 'lorem ipsum', no curly brace, and >= 3 kept sentences; " +
      "cleaned = the kept lines rejoined (q87's rewrite posture, rule-" +
      "based). The corpus is flat unpunctuated text, so the gate " +
      "manufactures the structure the rules need (the q279 fixture " +
      "discipline): 5-word lines, '.' appended except every (doc+idx) % " +
      "3 = 2 line, ' javascript' injected on (doc+idx) % 5 = 1 lines, " +
      "'lorem ipsum.' appended to doc % 13 = 0 pages, a braced line to " +
      "doc % 17 = 0 pages — every rule fires somewhere AND every rule " +
      "passes somewhere at both test scales; row-local array arithmetic, " +
      "ZERO exchanges beyond the ORDER BY",
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      b AS (SELECT doc_id,
              list_transform(generate_series(0, CAST(ceil(len(ws) / 5.0) AS INT) - 1),
                i -> array_to_string(ws[(i*5+1):(i*5+5)], ' ')) AS bl
            FROM w),
      f AS (SELECT doc_id,
              list_transform(generate_series(1, len(bl)), i ->
                CASE WHEN (doc_id + i - 1) % 3 != 2 THEN
                  (CASE WHEN (doc_id + i - 1) % 5 = 1
                        THEN bl[i] || ' javascript' ELSE bl[i] END) || '.'
                ELSE
                  (CASE WHEN (doc_id + i - 1) % 5 = 1
                        THEN bl[i] || ' javascript' ELSE bl[i] END)
                END) AS fl
            FROM b),
      x AS (SELECT doc_id, fl
              || (CASE WHEN doc_id % 13 = 0 THEN ['lorem ipsum.'] ELSE [] END)
              || (CASE WHEN doc_id % 17 = 0 THEN ['config { x }.'] ELSE [] END)
              AS lines FROM f),
      e AS (SELECT doc_id, lines, array_to_string(lines, chr(10)) AS pg,
              list_filter(lines, l ->
                (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
                AND len(string_split(l, ' ')) >= 5
                AND NOT contains(l, 'javascript')) AS keptl
            FROM x),
      g AS (SELECT doc_id,
              CAST(len(lines) AS BIGINT) AS n_lines,
              CAST(len(keptl) AS BIGINT) AS kept_lines,
              CAST(len(list_filter(lines, l -> NOT (l LIKE '%.'
                OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')))
                AS BIGINT) AS dropped_punct,
              CAST(len(list_filter(lines, l -> (l LIKE '%.' OR l LIKE '%!'
                OR l LIKE '%?' OR l LIKE '%"')
                AND len(string_split(l, ' ')) < 5))
                AS BIGINT) AS dropped_short,
              CAST(len(list_filter(lines, l -> (l LIKE '%.' OR l LIKE '%!'
                OR l LIKE '%?' OR l LIKE '%"')
                AND len(string_split(l, ' ')) >= 5
                AND contains(l, 'javascript'))) AS BIGINT) AS dropped_js,
              contains(pg, 'lorem ipsum') AS has_lorem,
              contains(pg, '{') AS has_brace,
              coalesce(array_to_string(keptl, chr(10)), '') AS cleaned,
              length(pg) AS nc
            FROM e)
      SELECT doc_id, n_lines, kept_lines, dropped_punct, dropped_short,
             dropped_js, has_lorem, has_brace, cleaned,
             (NOT has_lorem AND NOT has_brace AND kept_lines >= 3) AS keep,
             CAST((1000000 * length(cleaned)) // nc AS BIGINT)
               AS kept_chars_ppm
      FROM g ORDER BY doc_id"""),
    (s, dir) => {
      val ws = split(col("text"), " ")
      val k = ceil(size(ws).cast("double") / 5.0).cast("int")
      val baseLines = transform(sequence(lit(0), k - 1),
        i => array_join(slice(ws, i * 5 + 1, lit(5)), " "))
      val mut = transform(baseLines, (l, i) => {
        val js = when((col("doc_id") + i) % 5 === 1,
          concat(l, lit(" javascript"))).otherwise(l)
        when((col("doc_id") + i) % 3 =!= 2, concat(js, lit(".")))
          .otherwise(js)
      })
      val none = typedLit(Seq.empty[String])
      val lines = concat(mut,
        when(col("doc_id") % 13 === 0, array(lit("lorem ipsum.")))
          .otherwise(none),
        when(col("doc_id") % 17 === 0, array(lit("config { x }.")))
          .otherwise(none))
      val lined = t(s, dir, "documents")
        .select(col("doc_id"), lines.as("lines"))
      TextAnalysis.c4LineFilter(lined, "doc_id", "lines")
        .orderBy("doc_id")
    })

  private val q282 = Q("q282_exact_substring_dedup",
    "cross-document EXACT-SUBSTRING dedup rewrite (Lee et al. '22's " +
      "ExactSubstr, as the distributed stride-1 gram census — their " +
      "single-node suffix array doesn't shard; the gram form is what " +
      "cluster implementations run): every 10-word window is a gram, a " +
      "gram occurring more than once in the CORPUS keeps its first " +
      "occurrence (min (doc, offset) — q87's keep-first at overlapping " +
      "granularity) and later occurrences mark char spans that UNION " +
      "exactly (q279's identity) and splice out of the text; q87 dedups " +
      "fixed non-overlapping 5-word spans, this catches duplication at " +
      "ANY alignment. The ~40-word vocabulary makes natural cross-doc " +
      "10-gram collisions impossible, so the fixture injects a fixed 12-" +
      "word phrase after doc % 4 = 0 pages and its 10-word prefix after " +
      "doc % 6 = 0 pages — overlapping families sharing their prefix " +
      "gram, doc % 12 = 0 carrying both back-to-back (adjacent-span " +
      "merge exercised); ONE gram-hash window + two doc-keyed windows " +
      "over dup occurrences only",
    Some("""
      WITH p AS (SELECT 'quark glint moss fjord ember dune crag veld tarn wisp onyx rill' AS p12),
      h AS (SELECT doc_id,
              text ||
              (CASE WHEN doc_id % 4 = 0 THEN ' ' || p12 ELSE '' END) ||
              (CASE WHEN doc_id % 6 = 0 THEN ' ' ||
                array_to_string(string_split(p12, ' ')[1:10], ' ')
               ELSE '' END) AS t
            FROM documents CROSS JOIN p),
      w AS (SELECT doc_id, t, string_split(t, ' ') AS ws,
              greatest(len(ws) - 9, 0) AS n_grams FROM h),
      g0 AS (SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 9, 0))) AS i
             FROM w),
      gg AS (SELECT doc_id,
               array_to_string(ws[i:i+9], ' ') AS g,
               CASE WHEN i = 1 THEN 0
                    ELSE length(array_to_string(ws[1:i-1], ' ')) + 1
               END AS st
             FROM g0),
      mk AS (SELECT doc_id, st, st + length(g) AS en FROM
             (SELECT doc_id, g, st, ROW_NUMBER() OVER
                (PARTITION BY g ORDER BY doc_id, st) AS rn FROM gg)
             WHERE rn >= 2),
      pe AS (SELECT doc_id, st, en,
               max(en) OVER (PARTITION BY doc_id ORDER BY st, en
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
             FROM mk),
      gr AS (SELECT doc_id, st, en,
               sum(CASE WHEN st > coalesce(pe, -1) THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY st, en) AS grp
             FROM pe),
      m AS (SELECT doc_id, grp, min(st) AS st, max(en) AS en
            FROM gr GROUP BY 1, 2),
      gap AS (SELECT doc_id, st, en,
                coalesce(lag(en) OVER (PARTITION BY doc_id ORDER BY st),
                  0) AS prev_en
              FROM m),
      cl AS (SELECT g.doc_id,
               count(*) AS dup_spans,
               CAST(sum(g.en - g.st) AS BIGINT) AS removed_chars,
               coalesce(string_agg(substr(w.t, CAST(g.prev_en + 1 AS INT),
                 CAST(g.st - g.prev_en AS INT)), '' ORDER BY g.st), '')
                 || substr(w.t, CAST(max(g.en) + 1 AS INT)) AS cleaned
             FROM gap g JOIN w ON g.doc_id = w.doc_id
             GROUP BY g.doc_id, w.t)
      SELECT w.doc_id, CAST(w.n_grams AS BIGINT) AS n_grams,
             CAST(coalesce(cl.dup_spans, 0) AS BIGINT) AS dup_spans,
             coalesce(cl.removed_chars, 0) AS removed_chars,
             CAST((1000000 * coalesce(cl.removed_chars, 0))
               // length(w.t) AS BIGINT) AS removed_ppm,
             coalesce(cl.cleaned, w.t) AS cleaned
      FROM w LEFT JOIN cl ON w.doc_id = cl.doc_id
      ORDER BY w.doc_id"""),
    (s, dir) => {
      val p12 = "quark glint moss fjord ember dune crag veld tarn wisp " +
        "onyx rill"
      val p10 = p12.split(" ").take(10).mkString(" ")
      val fixtured = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0, lit(" " + p12)).otherwise(lit("")),
          when(col("doc_id") % 6 === 0, lit(" " + p10)).otherwise(lit("")))
          .as("t"))
      TextAnalysis.exactSubstringDedup(fixtured, "doc_id", "t", n = 10)
        .orderBy("doc_id")
    })

  private val q284 = Q("q284_soft_dedup_weights",
    "soft dedup — duplicate-aware DOWN-WEIGHTING instead of removal: " +
      "every doc keeps sampling weight 1e6/copies (exact integer ppm) " +
      "and effective token mass (1e6*n_words)/copies, so each exact-" +
      "duplicate family contributes one doc's worth of training mass " +
      "while keeping the duplication signal a sampler can exploit " +
      "(where q20 censuses the clusters and q03/q52 REMOVE, this " +
      "weights — the third dedup posture); ONE window partitioned by " +
      "sha256(text), no join-back, no census relation. sf0.01 has zero " +
      "natural exact dups (sf0.1 has 8 rows), so the fixture replaces " +
      "doc % 7 = 0 texts with one of 4 shared boilerplate strings — " +
      "family sizes in the hundreds at sf0.1, and the weights split at " +
      "both scales",
    Some("""
      WITH h AS (SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN 'shared boilerplate passage '
                      || CAST(doc_id % 28 AS VARCHAR)
                    ELSE text END AS t
             FROM documents),
      c AS (SELECT doc_id,
              count(*) OVER (PARTITION BY sha256(t)) AS copies,
              len(string_split(t, ' ')) AS n_words
            FROM h)
      SELECT doc_id, CAST(copies AS BIGINT) AS copies,
             CAST(n_words AS BIGINT) AS n_words,
             CAST(1000000 // copies AS BIGINT) AS weight_ppm,
             CAST((1000000 * n_words) // copies AS BIGINT)
               AS eff_tokens_ppm
      FROM c ORDER BY doc_id"""),
    (s, dir) => {
      val fixtured = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(lit("shared boilerplate passage "),
            (col("doc_id") % 28).cast("string")))
          .otherwise(col("text")).as("t"))
      Dedup.softDedupWeights(fixtured, "doc_id", "t")
        .orderBy("doc_id")
    })

  private val q274 = Q("q274_stratified_terciles",
    "PER-LANGUAGE perplexity terciles (CCNet's actual shape — it cuts " +
      "each language by its OWN thirds; a global cut dumps whole low-" +
      "resource languages into one bucket because surprisal " +
      "distributions differ by language): surprisal stays corpus-" +
      "global, cut statistics stratify; the cum-sum window is now " +
      "PARTITIONED by lang (no unpartitioned window at all) and the " +
      "per-lang cuts broadcast back as 2 values per group",
    Some(surprisalCte + """,
      sl AS (SELECT s.*, d.lang FROM s JOIN documents d USING (doc_id)),
      cen AS (SELECT lang, mean_bits_ppm AS v, count(*) AS cnt
              FROM sl GROUP BY 1, 2),
      cum AS (SELECT lang, v,
              sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS cum
              FROM cen),
      nd AS (SELECT lang, count(*) AS nd FROM sl GROUP BY 1),
      cuts AS (SELECT lang,
               min(CASE WHEN cum * 3 >= nd THEN v END) AS t1,
               min(CASE WHEN cum * 3 >= nd * 2 THEN v END) AS t2
               FROM cum JOIN nd USING (lang) GROUP BY 1)
      SELECT doc_id, lang, n_words, mean_bits_ppm,
             CASE WHEN mean_bits_ppm <= t1 THEN 'head'
                  WHEN mean_bits_ppm <= t2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM sl JOIN cuts USING (lang) ORDER BY doc_id"""),
    (s, dir) => TextAnalysis.perplexityBucketsBy(
      t(s, dir, "documents"), "doc_id", "text", "lang")
      .orderBy("doc_id"))

  def all: Seq[Q] = Seq(q20, q21, q22, q23, q24, q25, q26, q27, q28, q29, q30,
    q31, q32, q36, q37, q40, q41, q50, q51, q52, q53, q54, q55, q61, q62,
    q63, q64, q65, q66, q67, q68, q69, q71, q72, q73, q74, q77, q78, q79,
    q80, q81, q82, q83, q85, q86, q87, q91, q92, q93, q100, q106, q112,
    q114, q115, q116, q117, q118, q119, q120, q121, q122, q123, q124, q125,
    q126, q127, q128, q131, q132, q133, q135, q136, q137, q138, q139, q140,
    q141, q142, q143, q144, q145, q146, q147, q148, q149, q150,
    q151, q152, q153, q154, q155, q156, q158, q159, q160, q161, q162, q163, q164, q165,
    q167, q168, q169, q170, q171, q172, q173, q175, q176, q177,
    q178, q179, q180, q181, q182, q183, q184, q185, q186, q187, q188,
    q189, q190, q191, q192, q193, q194, q195, q196, q197, q198, q199, q200,
    q201, q202, q203, q204, q205, q206, q207, q208, q209, q210, q211, q212, q213,
    q214, q215, q216, q217, q218, q219, q220, q221, q222, q223, q224, q225,
    q226, q227, q228, q229, q230, q231, q232, q233, q234, q236, q237, q238, q239, q240,
    q241, q242, q243, q245, q246, q247, q249, q250, q251, q252, q253, q254, q255, q256, q258,
    q259, q260, q261, q262, q263, q264, q265, q266, q268, q269, q270,
    q272, q273, q274, q275, q276, q277, q279, q280, q281, q282, q284)
}
