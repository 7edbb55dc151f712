package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * All pure column expressions over the `documents` schema — no UDFs, no
  * driver materialization; each op is one scan (+ one tiny broadcast join
  * for the language wordlists).
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/wordlist language-ID
    * heuristic. Deliberately small + inlined so the oracle can mirror them.
    */
  val LangWordlists: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "and", "en" -> "is",
    "en" -> "to", "en" -> "in",
    "de" -> "der", "de" -> "die", "de" -> "das", "de" -> "und", "de" -> "ist",
    "fr" -> "le", "fr" -> "la", "fr" -> "les", "fr" -> "et", "fr" -> "est",
    "es" -> "el", "es" -> "los", "es" -> "y", "es" -> "es", "es" -> "un",
    "zh" -> "的", "zh" -> "是", "zh" -> "了")

  /** PII patterns for [[redactPii]] — deliberately engine-portable regex
    * (character classes + bounded quantifiers only: no lookaround, no
    * backreferences), so Java regex and the oracle's RE2 agree match for
    * match. Order matters: emails are scrubbed before digit runs so an
    * address with a numeric local part counts once, as an email.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    "ipv4" -> "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}",
    "id_number" -> "[0-9]{7,}")

  /** PII redaction — the scrubbing pass every public-data curation pipeline
    * runs before training: emails, IPv4 literals, and long digit runs
    * (phone/account/SSN-shaped) are replaced with a typed placeholder like
    * `<EMAIL>`. Row-local (one scan, zero exchanges); counts per category
    * ride along for the pipeline's redaction-rate metrics.
    *
    * Output: all input columns + text_redacted + n_<category> counts.
    */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // counts are taken in scrub order on the progressively-redacted text —
    // a digit run inside an email must count as the email, not both
    val work = docs.withColumn("__pii_work", col(textCol))
    val scrubbed = PiiPatterns.foldLeft(work) { case (df, (name, pat)) =>
      df.withColumn(s"n_$name",
        size(regexp_extract_all(col("__pii_work"), lit(pat), lit(0)))
          .cast("long"))
        .withColumn("__pii_work",
          regexp_replace(col("__pii_work"), pat, s"<${name.toUpperCase}>"))
    }
    scrubbed.withColumnRenamed("__pii_work", "text_redacted")
  }

  /** Markup → text extraction — the web-corpus ingestion stage (the
    * trafilatura/jusText core, regex tier): strip <script> and <style>
    * ELEMENTS whole first (their body is code, not prose — and code may
    * contain bare `<`, or an UNMATCHED `<!--` as in the old-school
    * `document.write("<!--")` idiom, which a comments-first pass would
    * splice with a later prose comment's `-->`, deleting real document
    * text — content correctness is the ordering priority), then strip
    * `<!-- … -->` COMMENTS whole (a multi-line comment body containing
    * `>` would otherwise leak text past the tag pattern), then strip
    * remaining tags, decode the portable HTML entity set, collapse
    * whitespace runs, trim. The ordering's documented imprecision: a
    * commented-out `<script>…</script>` is removed (and counted) by the
    * ELEMENT pass — a hygiene-count blemish, accepted because the dual
    * ordering corrupts prose; the remaining regex-tier residual is a
    * bare `<script>` OPENING inside a comment, which can splice to a
    * later real `</script>` (a full parser's job, out of tier). Counts
    * ride along for corpus hygiene metrics: n_scripts (on the raw
    * document), n_comments (on the element-stripped document), and
    * n_links/n_tags — both measured on the element-AND-comment-stripped
    * document, consistently: markup inside script bodies
    * (document.write('<a …')) is code and commented-out markup is dead,
    * so neither counts toward document structure.
    *
    * Entity decode runs AFTER tag stripping (an escaped `&lt;` is text
    * content, never markup) with `&amp;` decoded LAST — so the chain is
    * single-decode: `&amp;lt;` yields the literal text `&lt;`, not `<`
    * (`&` followed by `a` can't match any earlier pattern). The set is
    * the named/numeric entities both regex engines express identically:
    * `&lt; &gt; &quot; &#34; &#39; &nbsp; &amp;`; `&nbsp;` becomes a
    * plain space and rides the whitespace collapse.
    *
    * Row-local column expressions (one scan, zero exchanges, no UDF);
    * every pattern is shared verbatim with the DuckDB oracle — inline
    * (?is)/(?s) flags, non-greedy bodies, and `\s` all mean the same
    * thing in java.util.regex and RE2 for this pattern set (no \x0B in
    * play — the one `\s` divergence between the engines).
    *
    * Output: idCol, n_comments, n_scripts, n_links, n_tags, text_clean.
    */
  def stripMarkup(docs: DataFrame, idCol: String = "doc_id",
                  htmlCol: String = "html"): DataFrame = {
    val commentPat = "(?s)<!--.*?-->"
    val scriptPat = "(?is)<script[^>]*>.*?</script>"
    val stylePat = "(?is)<style[^>]*>.*?</style>"
    val tagPat = "<[^>]+>"
    val noElems = regexp_replace(
      regexp_replace(col(htmlCol), scriptPat, " "), stylePat, " ")
    val noComments = regexp_replace(noElems, commentPat, " ")
    // ONE native left-to-right decode pass (graft_html_unescape): the
    // named subset (lt/gt/quot/nbsp/amp) + generic &#NN;/&#xNN; numeric
    // character references. Single-decode is structural — the scan never
    // rescans produced text — where the previous chained-regexp form
    // needed "&amp; last" as an ordering convention and could not add
    // numerics safely (&#38;amp; would double-decode). q255 pins the
    // named/double-escape cases, q276 the numeric tier.
    val decoded = graft.expressions.HtmlUnescape(
      regexp_replace(noComments, tagPat, " "))
    docs.select(
      col(idCol),
      size(regexp_extract_all(col(htmlCol), lit(scriptPat), lit(0)))
        .cast("long").as("n_scripts"),
      size(regexp_extract_all(noElems, lit(commentPat), lit(0)))
        .cast("long").as("n_comments"),
      size(regexp_extract_all(noComments, lit("(?i)<a[\\s>]"), lit(0)))
        .cast("long").as("n_links"),
      size(regexp_extract_all(noComments, lit(tagPat), lit(0)))
        .cast("long").as("n_tags"),
      trim(regexp_replace(decoded, "\\s+", " ")).as("text_clean"))
  }

  /** WITHIN-document repetition signals — the Gopher internal-redundancy
    * rule family ([[graft.ops.Dedup.dupLineDocShare]] is the CROSS-doc
    * cousin; this one needs no census at all): per document, the share of
    * line occurrences that are repeats of an earlier line in the SAME
    * doc, the share of line CHARACTERS sitting in those repeats (the
    * published pair — a doc can have few duplicate lines that carry most
    * of its bytes), and the word-level repeat share (the complement of
    * type-token ratio, the lexical-diversity quality signal). `keep`
    * applies the Gopher duplicate-line threshold.
    *
    * Everything is ROW-LOCAL higher-order-function arithmetic on the
    * split arrays (array_distinct + length sums) — one scan, zero
    * exchanges, no sort even (duplicate counting is size − distinct
    * size, order-free). Exact integer ppm throughout. Words are each
    * line split on single spaces, flattened — so a `sep`-lined document
    * tokenizes exactly like its flat space-joined form (empty tokens
    * from doubled spaces preserved, matching the oracle's string_split;
    * a non-whitespace `sep` never fuses words across line boundaries).
    *
    * Output: idCol, n_lines, n_words, dup_line_ppm, dup_char_ppm,
    * dup_word_ppm, keep.
    */
  def withinDocRepetition(docs: DataFrame, idCol: String, textCol: String,
                          sep: String = "\n",
                          maxDupLinePpm: Long = 300000L): DataFrame = {
    require(maxDupLinePpm >= 0L && maxDupLinePpm <= 1000000L,
      s"maxDupLinePpm must be a ppm value in [0, 1000000], got $maxDupLinePpm")
    val charsOf: Column => Column = arr =>
      aggregate(transform(arr, l => length(l).cast("long")),
        lit(0L), (a, x) => a + x)
    val ls = split(col(textCol), java.util.regex.Pattern.quote(sep))
    docs
      .select(col(idCol), ls.as("_ls"),
        flatten(transform(ls, l => split(l, " "))).as("_ws"))
      .select(col(idCol),
        size(col("_ls")).cast("long").as("n_lines"),
        size(col("_ws")).cast("long").as("n_words"),
        (size(col("_ls")) - size(array_distinct(col("_ls"))))
          .cast("long").as("_dl"),
        charsOf(col("_ls")).as("_lc"),
        charsOf(array_distinct(col("_ls"))).as("_dc"),
        (size(col("_ws")) - size(array_distinct(col("_ws"))))
          .cast("long").as("_dw"))
      .withColumn("dup_line_ppm", expr("(1000000 * _dl) div n_lines"))
      .withColumn("dup_char_ppm",
        expr("(1000000 * (_lc - _dc)) div greatest(_lc, 1L)"))
      .withColumn("dup_word_ppm", expr("(1000000 * _dw) div n_words"))
      .withColumn("keep", col("dup_line_ppm") <= maxDupLinePpm)
      .select(col(idCol), col("n_lines"), col("n_words"),
        col("dup_line_ppm"), col("dup_char_ppm"), col("dup_word_ppm"),
        col("keep"))
  }

  /** Unigram surprisal quality score — the CCNet "LM perplexity" curation
    * signal at the unigram tier, made engine-portable: each word type's
    * surprisal is floor(log2(N div c)) BITS (N = corpus token count, c =
    * the type's corpus frequency; integer division first, then an exact
    * floor-log2), a document scores the k-weighted sum over its tokens,
    * and mean_bits_ppm = (10^6 · total_bits) div n_words is the
    * per-token average — HIGH means the doc leans on corpus-rare words
    * (gibberish/OCR noise score high, boilerplate scores low; both tails
    * are curation targets, exactly how CCNet buckets by perplexity
    * terciles).
    *
    * PORTABILITY BOUND: floor(log2(x)) on an INTEGER x is exact in both
    * engines while x < 2^45-ish (log2's 1-ulp rounding can only cross
    * the floor boundary within ~2^-52 of an exact power, and for
    * integer x the nearest non-power distance is 2^-x·ln2 ≫ that until
    * x approaches 2^45); corpora past ~10^13 tokens should switch the
    * expression to an integer bit-length. Documented, not guarded — the
    * gate scale is 10 orders below the bound.
    *
    * Shape at 100 TB: ONE tokenize feeding a (doc, word) count (map-side
    * combined — the corpus collapses to its distinct doc-word relation
    * immediately); the census, the 1-row total, and the per-type bits
    * all derive from that relation (vocab-sized); the rollup joins
    * doc-word counts to vocab bits (broadcast at gate scale, keyed
    * shuffle at corpus scale) and aggregates by doc. No second scan of
    * the corpus, no driver state.
    *
    * Output: idCol, n_words, total_bits, mean_bits_ppm.
    */
  def unigramSurprisal(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val dw = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("k"))
    val census = dw.groupBy(col("w")).agg(sum(col("k")).as("c"))
    val total = census.agg(sum(col("c")).as("n"))
    val bits = census.crossJoin(total)
      .select(col("w"),
        floor(log2(expr("n div c"))).cast("long").as("bits"))
    dw.join(bits, Seq("w"))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_words"),
        sum(col("k") * col("bits")).as("total_bits"))
      .withColumn("mean_bits_ppm",
        expr("(1000000 * total_bits) div n_words"))
  }

  /** Luhn mod-10 checksum over a digits-only string column — the
    * validation half of payment-card detection ([[redactPii]]'s digit-run
    * regex is the RECALL half; most 13–19 digit runs are order ids and
    * timestamps, and shipping them all to a human review queue is how
    * PII triage drowns). Pure integer HOF fold (doubling alternate
    * digits from the right, −9 on overflow), no UDF; mirrored term by
    * term in the oracle's list_transform, so validity is engine-portable.
    */
  def luhnValid(digits: Column): Column =
    // native single pass (graft_luhn_valid) — the sequence+substring fold
    // was CodegenFallback; term-by-term identical (non-digit → NULL,
    // empty → FALSE)
    graft.expressions.LuhnValid(digits)

  /** Validated-PII census: card-shaped digit runs (len 13–19, the regex
    * recall pass) split by Luhn validity, per group — the triage metric
    * a scrubbing pipeline alarms on (valid_ppm spiking = real card data
    * in the corpus; candidates without validity spiking = numeric noise).
    * Row-local extract + fold, ONE map-side-combined aggregate; the
    * greedy 13–19 quantifier is leftmost-longest in both Java regex and
    * RE2, so candidate sets agree engine to engine.
    */
  def luhnCensus(docs: DataFrame, groupCol: String,
                 textCol: String = "text"): DataFrame = {
    val cands = docs.select(col(groupCol),
      explode_outer(regexp_extract_all(col(textCol),
        lit("[0-9]{13,19}"), lit(0))).as("_num"))
    cands
      .select(col(groupCol),
        when(col("_num").isNotNull, 1L).otherwise(0L).as("_c"),
        when(col("_num").isNotNull && luhnValid(col("_num")), 1L)
          .otherwise(0L).as("_v"))
      .groupBy(col(groupCol))
      .agg(sum(col("_c")).as("n_candidates"), sum(col("_v")).as("n_valid"))
      .select(col(groupCol), col("n_candidates"), col("n_valid"),
        expr("CASE WHEN n_candidates > 0 THEN " +
          "(1000000 * n_valid) div n_candidates END").as("valid_ppm"))
  }

  /** Language-ID: score = wordlist hits per language; argmax with
    * lexicographic tiebreak (deterministic for zero-evidence docs).
    * Output: doc_id, pred_lang, score + the labelled lang for comparison.
    *
    * The argmax runs over the HITS aggregate only (rows exist solely for
    * (doc, lang) pairs with ≥1 wordlist hit) and zero-evidence docs come
    * back via a left join + coalesce to the lexicographically-first
    * language — the exact value the old docs×langs grid's (score=0,
    * dlang asc) ordering produced. A grid form multiplies every corpus row
    * by |langs|, which at a realistic 100+-language wordlist is a 100× row
    * blow-up on the corpus side; the hits aggregate instead carries at
    * most one row per language a doc actually touches.
    */
  def langId(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val dict = LangWordlists.toDF("dlang", "word")
    val defaultLang = LangWordlists.map(_._1).min
    val hits = docs
      .select(col("doc_id"), explode(TextFns.words(col("text"))).as("word"))
      .join(broadcast(dict), "word")
      .groupBy(col("doc_id"), col("dlang"))
      .agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("hits").desc, col("dlang").asc)
    val best = hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("dlang").as("_best_lang"),
        col("hits").as("_best_hits"))
    docs.select(col("doc_id"), col("lang"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_best_lang"), lit(defaultLang)).as("pred_lang"),
        coalesce(col("_best_hits"), lit(0L)).as("score"),
        col("lang").as("labelled_lang"))
  }

  /** Quality scoring: length/stopword/punctuation features + a weighted
    * score. Only +,*,/ and min — no transcendentals (engine-portable).
    *
    * `passthrough` carries extra input columns into the output so a
    * downstream stage (q62's filter) doesn't pay a second corpus scan +
    * join just to recover columns this single pass already read.
    */
  def quality(docs: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    val w = TextFns.words(col("text"))
    val nWords = size(w).cast("long")
    val nChars = length(col("text")).cast("long")
    val nNonSpace = length(regexp_replace(col("text"), " ", "")).cast("long")
    val stopwords = Seq("the", "a", "of", "and", "is", "to", "in")
    val nStop = size(filter(w, x =>
      x.isin(stopwords.map(lit): _*))).cast("long")
    val punct = length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("long")
    val features = Seq(
      nWords.as("n_words"),
      nChars.as("n_chars_measured"),
      nStop.as("n_stopwords"),
      (nNonSpace.cast("double") / nWords).as("avg_word_len"),
      (nStop.cast("double") / nWords).as("stopword_ratio"),
      (punct.cast("double") / nChars).as("punct_ratio"),
      (lit(0.5) * (nStop.cast("double") / nWords)
        + lit(0.3) * (lit(1.0) - punct.cast("double") / nChars)
        + lit(0.2) * least(nWords.cast("double") / 100.0, lit(1.0))).as("quality_score"))
    docs.select((col("doc_id") +: passthrough.map(col)) ++ features: _*)
  }

  /** Token counting: whitespace tokens, BPE-ish regex tokens
    * (letter-runs | digit-runs | single other), chars/4 estimate.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(TextFns.words(col("text"))).cast("long").as("ws_tokens"),
      expr("regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')").cast("long").as("re_tokens"),
      ceil(length(col("text")).cast("double") / 4.0).cast("long").as("est_bpe_tokens"))

  /** Within-document repetition metrics (the Gopher/C4 boilerplate
    * filters): duplicate-word fraction, duplicate-2-gram fraction, and the
    * most-repeated-2-gram count.
    *
    * ZERO shuffles: a per-document metric never needs an exchange, because
    * every gram of a doc lives in that doc's row. Word stats are
    * `array_distinct`; the duplicate-gram count is size − distinct-size;
    * the most-repeated-gram count is a run-length fold over the SORTED
    * hash array (`array_sort` + `aggregate`, O(L log L) row-local) — vs
    * the obvious explode + two-level groupBy, which shuffles every gram
    * occurrence in the corpus. Grams are 60-bit hashes
    * ([[TextFns.shingleHashes]] n=2): two different grams collapse only at
    * 2^-60 odds, and the oracle hashes identically so even that cannot
    * diverge.
    *
    * Docs with <2 words have no 2-grams: gram columns are NULL, mirroring
    * the oracle's LEFT JOIN — not silently zero, which would claim
    * "measured, no repetition".
    *
    * Metrics are strictly per input ROW; `idCol` is carried as a label
    * (unique in `documents`, which is why the SQL oracle's per-id grouping
    * reads the same — duplicate ids would make the oracle merge rows this
    * op deliberately keeps apart).
    */
  def repetition(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val w = TextFns.words(col(textCol))
    // the gram-hash array materializes in its own projection so its three
    // consumers (two sizes + the fold) share ONE ShingleHashes evaluation
    // per row — the interpreted `aggregate` HOF sits outside codegen
    // subexpression elimination and would otherwise re-hash every gram.
    val pre = docs.select(
      col(idCol),
      size(w).cast("long").as("n_words"),
      size(array_distinct(w)).cast("long").as("n_distinct_words"),
      TextFns.shingleHashes(col(textCol), 2).as("_g"))
    val g = col("_g")
    // max multiplicity of any gram — native sort+run-scan kernel
    // (graft_max_multiplicity); the array_sort + struct-accumulator fold
    // it replaces was CodegenFallback, interpreted per element
    val maxRun = graft.expressions.MaxMultiplicity(g)
    pre.select(
      col(idCol), col("n_words"), col("n_distinct_words"),
      size(g).cast("long").as("_ng"),
      (size(g) - size(array_distinct(g))).cast("long").as("_nd"),
      maxRun.as("_mx"))
      .select(
        col(idCol), col("n_words"), col("n_distinct_words"),
        (lit(1.0) - col("n_distinct_words").cast("double") / col("n_words"))
          .as("dup_word_ratio"),
        when(col("_ng") > 0, col("_ng")).as("n_grams"),
        when(col("_ng") > 0, col("_nd")).as("n_dup_grams"),
        when(col("_ng") > 0, col("_mx")).as("max_gram_count"),
        when(col("_ng") > 0, col("_nd").cast("double") / col("_ng"))
          .as("dup_gram_ratio"))
  }

  /** Corpus vocabulary: per-token term frequency (total occurrences) and
    * document frequency (docs containing it), top `topK` by tf with a
    * lexicographic tiebreak.
    *
    * The canonical map-side-combine workload: ONE scan, one hash aggregate
    * keyed on the token (partial aggregation collapses each partition's
    * token counts before the shuffle — the exchange carries ~|vocab| rows
    * per partition, not ~|tokens|), then a distributed top-k
    * (TakeOrderedAndProject: per-partition heaps, k rows to the driver).
    * df dedups (token, doc) pairs ROW-locally: each row explodes its words
    * concatenated with its `array_distinct` words (tf/df contribution
    * flags), so there is no second corpus scan and no count-distinct
    * Expand. df therefore counts ROWS containing the token — equal to
    * document frequency when each document is one row (the same per-row
    * contract `repetition` documents).
    */
  def vocabulary(docs: DataFrame, textCol: String = "text",
                 topK: Int = 100): DataFrame = {
    // the word array materializes in its own projection so both transform
    // consumers share ONE split per row (HOFs sit outside codegen
    // subexpression elimination — same workaround as repetition's grams)
    val pre = docs.select(TextFns.words(col(textCol)).as("_w"))
    val w = col("_w")
    val pairs = concat(
      transform(w, t =>
        struct(t.as("tok"), lit(1L).as("tf1"), lit(0L).as("df1"))),
      transform(array_distinct(w), t =>
        struct(t.as("tok"), lit(0L).as("tf1"), lit(1L).as("df1"))))
    pre.select(explode(pairs).as("p"))
      .select(col("p.tok").as("tok"), col("p.tf1"), col("p.df1"))
      .groupBy(col("tok"))
      .agg(sum(col("tf1")).as("tf"), sum(col("df1")).as("df"))
      .orderBy(col("tf").desc, col("tok").asc)
      .limit(topK)
  }

  /** Vocabulary coverage curve — what fraction of corpus token
    * OCCURRENCES the top-k most frequent words cover, for each requested
    * k: the vocabulary-size selection diagnostic for tokenizer training
    * ("32k types cover 99.3% of running text; 100k buys 0.4% more").
    * Exact ppm by floor division.
    *
    * Shape at 100 TB: one corpus tokenize → the token-count aggregate
    * (map-side combined) collapses the corpus to a VOCAB-sized relation;
    * the global rank/running-sum window then runs over that relation —
    * a single-partition sort of the vocabulary, not the corpus (Heaps'
    * law: ~millions of types for terabytes of text, well inside one
    * executor). The ks and the one-row total broadcast.
    *
    * Output: (k, vocab_n, total, covered_ppm, kth_count) — one row per
    * requested k, where kth_count is the count of the least-frequent
    * word inside the top-k (ties broken lexicographically, pinned).
    * k beyond the vocabulary clamps to full coverage.
    */
  def vocabCoverage(docs: DataFrame, ks: Seq[Int],
                    textCol: String = "text"): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ks must be >= 1: $ks")
    require(ks.distinct.size == ks.size, s"duplicate ks: $ks")
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val ord = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("w"))
    val ranked = counts.select(col("c"),
      row_number().over(ord).cast("long").as("rank"),
      sum(col("c")).over(ord.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
        .as("cum"))
    val tot = counts.agg(sum("c").as("total"),
      count(lit(1)).as("vocab_n"))
    val ksDf = ks.map(_.toLong).toDF("k")
    ranked.crossJoin(broadcast(tot))
      .join(broadcast(ksDf), col("rank") === least(col("k"), col("vocab_n")))
      .select(col("k"), col("vocab_n"), col("total"),
        expr("1000000L * cum div total").as("covered_ppm"),
        col("c").as("kth_count"))
  }

  /** Per-source Simpson concentration index in exact ppm — the NO-LOG
    * diversity measure (entropy needs transcendentals and can never
    * hash-match across engines): the probability two tokens drawn
    * without replacement are the same type,
    * D = Σ c·(c−1) / (n·(n−1)). High D = repetitive/templated source;
    * natural text sits low. Complements [[sourceDriftTvd]] (vs-corpus
    * shape) with a within-source concentration number.
    *
    * Shape at 100 TB: corpus → (source, word) counts (one map-side
    * combined aggregate), re-aggregated per source; DECIMAL(38,0) sums
    * carry Σc² past int64. Sources with <2 tokens yield null.
    *
    * Output: (source, n_tokens, vocab, simpson_ppm), unordered.
    */
  def simpsonDiversity(docs: DataFrame, sourceCol: String = "source",
                       textCol: String = "text"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    docs.select(col(sourceCol), explode(split(col(textCol), " ")).as("w"))
      .groupBy(col(sourceCol), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col(sourceCol))
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
        sum((col("c") * (col("c") - 1)).cast(dec)).as("_sc"))
      .select(col(sourceCol), col("n_tokens"), col("vocab"),
        when(col("n_tokens") <= 1, lit(null).cast("long"))
          .otherwise(expr("CAST((1000000 * _sc) div " +
            "(CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1)) AS BIGINT)"))
          .as("simpson_ppm"))
  }

  /** Vocabulary growth curve (Heaps' law, measured not assumed): the
    * number of DISTINCT word-`shingleSize`-gram shingles seen among the
    * first k documents (arrival order = the id), for each requested k —
    * the "is new data still contributing novel n-grams?" diagnostic
    * that decides when more of a source stops paying.
    *
    * Shape at 100 TB: one corpus shingle pass → ONE aggregate keyed by
    * the uniform 60-bit shingle hash carrying min(first doc); the
    * per-k counts are conditional sums in ONE pass over that vocab-sized
    * relation, stack-unpivoted. No per-k rescans.
    *
    * Output: (k, distinct_shingles), one row per k.
    */
  def heapsCurve(docs: DataFrame, ks: Seq[Long], idCol: String = "doc_id",
                 textCol: String = "text", shingleSize: Int = 3): DataFrame = {
    require(ks.nonEmpty && ks.distinct.size == ks.size, s"bad ks: $ks")
    val firstSeen = docs
      .select(col(idCol),
        explode(TextFns.shingleHashes(col(textCol), shingleSize)).as("sh"))
      .groupBy("sh").agg(min(col(idCol)).as("first_doc"))
    val aggs = ks.zipWithIndex.map { case (k, i) =>
      sum(when(col("first_doc") <= k, 1L).otherwise(0L)).as(s"_k$i") }
    val wide = firstSeen.agg(aggs.head, aggs.tail: _*)
    val stackArgs = ks.zipWithIndex
      .map { case (k, i) => s"${k}L, `_k$i`" }.mkString(", ")
    wide.select(expr(
      s"stack(${ks.size}, $stackArgs) AS (k, distinct_shingles)"))
  }

  /** Distinctive terms per source — the "what does this source talk about
    * that the corpus doesn't" diagnostic (log-odds-style lift, kept
    * rational): for each (source, word) with at least `minCount`
    * in-source occurrences, lift_ppm = 10⁶ · tf_s·total div (tf·total_s)
    * — the in-source rate over the corpus rate as ONE exact
    * cross-multiplied floor division (no per-side rounding, no logs);
    * top-k per source by (lift desc, word).
    *
    * Overflow bound: tf_s·total and tf·total_s must fit int64 — holds
    * through ~3·10⁹-token corpora at 10⁶-scale ppm; beyond that switch
    * the two products to DECIMAL(38,0) (the q152 discipline).
    *
    * Shape at 100 TB: one corpus tokenize → the (source, word) aggregate;
    * word totals and source totals RE-aggregate that relation (no second
    * scan); the word-total join is planner-chosen (vocabulary-sized), the
    * source totals and corpus total broadcast; top-k is one
    * source-partitioned window over the lift relation.
    *
    * Output: (source, w, tf_s, tf, lift_ppm, rank 1..k), unordered.
    */
  def distinctiveTerms(docs: DataFrame, sourceCol: String = "source",
                       textCol: String = "text", k: Int = 5,
                       minCount: Long = 3L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val toks = docs.select(col(sourceCol),
      explode(split(col(textCol), " ")).as("w"))
    val perSW = toks.groupBy(col(sourceCol), col("w"))
      .agg(count(lit(1)).as("tf_s"))
    val perW = perSW.groupBy("w").agg(sum("tf_s").as("tf"))
    val perS = perSW.groupBy(sourceCol).agg(sum("tf_s").as("total_s"))
    val tot = perW.agg(sum("tf").as("total"))
    val lifted = perSW
      .filter(col("tf_s") >= minCount)
      .join(perW, "w")
      .join(broadcast(perS), sourceCol)
      .crossJoin(broadcast(tot))
      .withColumn("lift_ppm",
        expr("1000000L * tf_s * total div (tf * total_s)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(col("lift_ppm").desc, col("w"))
    lifted.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(sourceCol), col("w"), col("tf_s"), col("tf"),
        col("lift_ppm"), col("rank"))
  }

  /** Per-document top-`k` terms by a TF-IDF-style score. The idf factor is
    * the RATIONAL `n_docs / df` (score = tf * n_docs / df) rather than the
    * textbook `ln(n/df)` — ln is order-preserving, so the per-doc ranking
    * is identical, and pure multiply/divide is IEEE-deterministic across
    * engines (the same no-transcendentals rule as [[quality]]).
    *
    * Plan shape: one explode feeds BOTH frequencies — tf is the
    * (doc, token) hash aggregate, df re-aggregates that same result by
    * token (already (doc, token)-distinct, so no count-distinct Expand).
    * The df branch keeps a reference to the tf COUNT (a vacuous `tf >= 1`
    * filter) so column pruning cannot specialize its subtree: both
    * branches then share one identical (doc, token) exchange and
    * ReuseExchange collapses them — the corpus is scanned and TOKENIZED
    * once, not twice (at 100 TB the double tokenize pass was the whole
    * cost of the operator). The 1-row corpus-size side broadcasts
    * unconditionally; the df side is left to the planner — vocabulary is
    * usually broadcast-sized, but its cardinality is data-dependent
    * (Heaps'-law tail of typos/ids), so a forced hint would strip the
    * shuffle-join fallback the 100 TB case needs. Per-row doc contract as
    * [[repetition]].
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", k: Int = 3): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(TextFns.words(col(textCol))).as("tok"))
    val tf = toks.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("tf"))
    // `tf >= 1` is always true — it exists so this branch consumes the tf
    // column and stays plan-identical to the tf branch (exchange reuse)
    val df = tf.filter(col("tf") >= 1)
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(df, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") * col("n_docs") / col("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("tok").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("tok"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Rolling-hash fingerprint + per-fingerprint duplicate count. */
  /** Corpus-frequency token scoring — the bit-portable core of unigram-LM
    * (perplexity-style) quality filtering: a doc whose tokens are rare in
    * the corpus scores a low mean/min frequency, exactly the signal a
    * perplexity filter thresholds on. The natural formulation
    * (avg of -ln p(token)) is rank-equivalent to the mean corpus frequency
    * computed here but sums doubles — whose value depends on partition
    * order and engine libm, so it can never hash-match an oracle; this
    * form aggregates BIGINT counts exactly and performs ONE double
    * division at the end (IEEE-deterministic in every engine).
    *
    * Shape at 100 TB: the frequency table is vocab-sized (≪ corpus), so
    * the planner broadcasts it into the token stream; the only large
    * shuffles are the two aggregates (token→count, doc→score), both
    * map-side combined.
    *
    * Output: idCol, n_tokens, min_tok_freq (rarest token's corpus count),
    * mean_tok_freq.
    */
  def tokenFrequencyScore(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(split(col(textCol), " ")).as("word"))
    val freq = toks.groupBy("word").agg(count(lit(1)).as("c"))
    toks.join(freq, "word")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_tokens"),
        min(col("c")).as("min_tok_freq"),
        (sum(col("c")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_tok_freq"))
  }

  /** Bigram conditional-probability scoring — the second-order upgrade of
    * [[tokenFrequencyScore]]'s unigram LM: how predictable is each
    * document's word-to-word structure under the corpus's own bigram
    * statistics? Word-salad/gibberish documents score low even when every
    * individual token is common (the failure mode a unigram filter can't
    * see); boilerplate scores near 10^6.
    *
    * Exact integer arithmetic: per bigram,
    * p_ppm = 10^6 · c(w1,w2) div c(w1·) where c(w1·) is w1's count as a
    * bigram LEFT element (so the conditional sums to ~1 over observed
    * successors); per document the mean/min of those ppm values, again by
    * floor division — no logs, no float accumulation, engine-portable.
    *
    * Shape at 100 TB: the corpus tokenizes once into the bigram relation
    * (row-local transform over the split array — no self-join of token
    * positions); the pair-count aggregate map-side combines to a
    * vocabulary²-bounded relation whose left-marginal re-aggregates THAT
    * (never a second corpus scan); both count relations broadcast into
    * the per-doc join under the planner's threshold (pass them through a
    * shuffle join only for open-vocabulary corpora). Documents with fewer
    * than two tokens have no bigrams and drop out.
    *
    * Output: (idCol, n_bigrams, mean_cond_ppm, min_cond_ppm), unordered.
    */
  def bigramLmScore(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val bigrams = docs
      .select(col(idCol), split(col(textCol), " ").as("_w"))
      .select(col(idCol), explode(expr(
        "transform(slice(_w, 1, greatest(size(_w) - 1, 0))," +
          " (x, i) -> struct(x AS w1, _w[i + 1] AS w2))")).as("_bg"))
      .select(col(idCol), col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
    val pairCounts = bigrams.groupBy("w1", "w2")
      .agg(count(lit(1)).as("c12"))
    val leftCounts = pairCounts.groupBy("w1").agg(sum("c12").as("c1"))
    bigrams
      .join(pairCounts, Seq("w1", "w2"))
      .join(leftCounts, Seq("w1"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        expr("sum(1000000L * c12 div c1) div count(1)").as("mean_cond_ppm"),
        expr("min(1000000L * c12 div c1)").as("min_cond_ppm"))
  }

  /** Hashed-n-gram distribution-shift score — the data-selection signal
    * of importance resampling (DSIR, Xie et al. 2023: score source docs
    * by how target-like their hashed n-gram features look, then sample by
    * that score). Features are word bigrams hashed into `buckets` via the
    * shared engine-portable hash64; the target and source unigram-of-
    * bucket distributions are estimated from the corpus itself, split by
    * `targetPred` (e.g. "lang = 'en'" or "source = 'wiki'"). Each doc
    * scores sum over its bigram occurrences of
    * (target_ppm(bucket) − source_ppm(bucket)) — the integer-exact,
    * cross-engine analogue of DSIR's log-likelihood-ratio sum (log-ratio
    * ranks by the same monotone per-bucket signal but is float-valued;
    * ppm difference keeps the gate bit-exact).
    *
    * Scale shape: two scans of `docs` (one per aggregation key — bucket
    * stats, then per-doc sums); the bucket table is ≤ `buckets` rows,
    * broadcast back. No driver state. A doc with < 2 words has no
    * bigrams: it surfaces with n_bigrams = 0 and score 0 (left join),
    * never silently dropped. A NULL `targetPred` counts as source
    * (coalesce false) — the conservative side for selection.
    *
    * Degenerate corpora are defined, not special-cased: with zero target
    * (or zero source) docs the corresponding distribution is all-zero
    * ppm, so scores collapse toward the other side's negation instead of
    * dividing by zero.
    */
  def hashedNgramShift(docs: DataFrame, targetPred: Column,
                       buckets: Int = 256, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    val base = docs.select(col(idCol),
      coalesce(targetPred, lit(false)).as("is_target"),
      split(col(textCol), " ").as("_w"))
    val bg = base.select(col(idCol), col("is_target"),
        explode(expr(
          "transform(slice(_w, 1, greatest(size(_w) - 1, 0))," +
            " (x, i) -> concat(x, ' ', _w[i + 1]))")).as("_bg"))
      .select(col(idCol), col("is_target"),
        pmod(TextFns.hash64(col("_bg")), lit(buckets.toLong)).as("_bkt"))
    val stats = bg.groupBy("_bkt")
      .agg(sum(when(col("is_target"), 1L).otherwise(0L)).as("_ct"),
        sum(when(!col("is_target"), 1L).otherwise(0L)).as("_cs"))
    // totals come from a window over the ≤`buckets`-row stats relation —
    // an agg + cross-broadcast would RE-EVALUATE the whole bigram
    // subtree a second time (plans don't share subtrees); the window
    // funnels only the tiny stats table to one partition
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val ppm = stats
      .withColumn("_tt", sum("_ct").over(wAll))
      .withColumn("_ts", sum("_cs").over(wAll))
      .select(col("_bkt"),
        expr("CASE WHEN _tt > 0 THEN 1000000L * _ct div _tt ELSE 0L END")
          .as("_tppm"),
        expr("CASE WHEN _ts > 0 THEN 1000000L * _cs div _ts ELSE 0L END")
          .as("_sppm"))
    val perDoc = bg.join(broadcast(ppm), Seq("_bkt"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("_tppm") - col("_sppm")).as("shift_sum_ppm"))
    base.select(col(idCol), col("is_target"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("is_target"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("shift_sum_ppm"), lit(0L)).as("shift_sum_ppm"))
      .withColumn("shift_mean_ppm",
        expr("CASE WHEN n_bigrams > 0 THEN shift_sum_ppm div n_bigrams " +
          "ELSE 0L END"))
  }

  /** Percentile-threshold filter — the corpus-relative form of a quality
    * cut (drop the shortest/lowest-scoring p% of the corpus, rather than
    * guessing a fixed constant that goes stale as the corpus drifts).
    * Uses the EXACT interpolated percentile (sort-based order statistic,
    * engine-portable — the approx sketch differs per engine), computed
    * once and broadcast as a one-row threshold relation: rows never
    * leave executors, no driver collect, no correlated subquery. Keeps
    * the rows at or above the threshold.
    */
  def filterByPercentile(docs: DataFrame, valueCol: String,
                         p: Double): DataFrame = {
    require(p > 0 && p < 1, s"percentile must be in (0,1), got $p")
    val thr = broadcast(docs.agg(
      expr(s"percentile($valueCol, ${p}d)").cast("double").as("__thr")))
    docs.crossJoin(thr).filter(col(valueCol) >= col("__thr")).drop("__thr")
  }

  def fingerprints(docs: DataFrame, prefixLen: Int = 64): DataFrame = {
    val fp = docs.select(col("doc_id"),
      TextFns.rollingFingerprint(col("text"), prefixLen).as("fingerprint"))
    val w = Window.partitionBy(col("fingerprint"))
    fp.withColumn("n_same_fp", count(lit(1)).over(w))
  }

  /** TF-IDF sparse-vector cosine similarity pairs via an inverted index —
    * pairwise document similarity WITHOUT an all-pairs join: documents
    * pair only through shared terms (a posting-list self-join), the
    * classic formulation that stays viable at corpus scale. Terms are
    * hashed word-`shingleSize`-grams (8-byte keys on the wire, same
    * family as [[graft.ops.Dedup.ngramJaccard]]); weights are the
    * rational idf `(tf·n_docs) div df` — integer division, exact in every
    * engine — so dot products and norms accumulate in BIGINT and the one
    * final division/sqrt is IEEE-deterministic.
    *
    * `maxDf` prunes posting lists: a term appearing in f documents
    * contributes O(f²) candidate pairs, so capping df bounds the
    * quadratic term — the same role LSH banding plays, with the same
    * recall trade (pairs sharing ONLY ultra-common terms are missed;
    * their cosine is low-idf-dominated anyway). Norms are computed in the
    * pruned term space, mirrored exactly by the oracle.
    *
    * JOIN-INPUT TRIM (always on, exact): a df = 1 term can never form a
    * pair (it matches only itself and `doc_a < doc_b` kills that), yet
    * in a hashed-shingle space df = 1 is the overwhelming majority of
    * posting rows — so the join sides carry only df >= 2 postings.
    * Norms still accumulate over the FULL pruned space (df = 1 terms
    * contribute to ‖x‖², exactly as the oracle computes them); only the
    * pair-generation shuffle sheds the dead weight.
    *
    * Candidates come from one direct posting self-join, not an
    * AllPairs/PPJoin prefix bound: on hashed 3-gram shingles the weights
    * are near-uniform, prefixes cover almost every term, and the prefix
    * path measured ~6x slower at sf0.1 (12.4 s vs 2.0 s).
    *
    * SHARED-BUILD CONTRACT (round-13, replaces the r12 persist): the
    * term-partitioned posting relation feeds both self-join sides AND
    * the norm side-table — three consumers of one lazy plan. It is NOT
    * persisted: all three consumers sit above the SAME canonical
    * `repartition(n, term)` exchange, and AQE's runtime stage cache
    * dedupes identical shuffle stages, so the scan + shingle-hash +
    * shuffle-write run ONCE and each consumer re-reads the shuffle files
    * (the final adaptive plan shows `ReusedExchange` on the
    * REPARTITION_BY_NUM exchange — PlanIntegritySpec pins it). Vs the
    * old persist this drops the cache write + InMemoryTableScan overhead
    * (measured 2.7 → 2.1 s warm at sf0.1 before the partition-count fix)
    * AND the leaked-cache contract; at 100 TB it trades a corpus-sized
    * executor cache for shuffle-file re-reads, which spill-safe shuffle
    * storage is built for. The window above the exchange recomputes per
    * consumer — map-side, no extra exchange.
    *
    * OUTPUT-BOUND BY NATURE — the same 100× posture as
    * [[graft.ops.Dedup.prefixJaccardPairs]]: the qualifying-pair ANSWER
    * grows with corpus pair density and no plan changes that; the knobs
    * do. In preference order: (1) raise `minCosine`; (2) `maxPairs` > 0 —
    * keep only the top `maxPairs` pairs by (cosine DESC, doc_a, doc_b)
    * via a distributed top-k, truncation reported LOUDLY in-band as a
    * `truncated` boolean on every row (q246 gates it; q241's contract).
    * The scale-flat pipeline alternative remains the LSH/ANN family.
    * (3) `sampleDen` > 1 — the q190 audit posture: restrict the pair
    * UNIVERSE to pairs with >= 1 endpoint in a deterministic hash slice
    * (`sha256-prefix('cospairs:' || id) % sampleDen = 0` — the q53/q127
    * shared-hash order: stable across runs AND engines, no RNG) while
    * the partner side stays the FULL corpus, so a sampled doc's
    * qualifying partners are never missed and every emitted cosine is
    * the exact full-corpus value. Expansion-join and pair-aggregate
    * work scale with 1/sampleDen; the posting build stays corpus-global
    * (linear passes). `sampleDen = 1` is the exact full universe.
    *
    * Output: (doc_a, doc_b, n_common, cosine), doc_a < doc_b, cosine >=
    * `minCosine`; plus `truncated` when `maxPairs` > 0.
    */
  def sparseCosinePairs(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", shingleSize: Int = 3,
                        minCosine: Double = 0.5,
                        maxDf: Long = Long.MaxValue,
                        maxPairs: Int = 0,
                        sampleDen: Int = 1): DataFrame = {
    require(sampleDen >= 1, s"sampleDen must be >= 1: $sampleDen")
    // the capped path computes a limit(maxPairs + 1) truncation sentinel —
    // Int.MaxValue would overflow it to a negative limit and die inside
    // Spark with an opaque AnalysisException instead of a loud contract
    require(maxPairs < Int.MaxValue,
      s"maxPairs must be < Int.MaxValue (sentinel is maxPairs + 1): $maxPairs")
    // explicit-count partitioning on the posting key: the join INPUT is
    // a few MB of postings but its OUTPUT is the candidate-pair
    // expansion — the expansion-join rule. With a finite `maxDf` the
    // per-term fan-out is capped by construction, so the bounded-cell
    // count applies (no ×3 slack, one task wave per stage at the floor-
    // dominated end); an unpruned corpus keeps the full slack.
    val nParts =
      if (maxDf != Long.MaxValue) Partitions.boundedCellParts(docs.sparkSession)
      else Partitions.parts(docs.sparkSession)
    // tf counts fused INTO the shingle-hash expression (one map per row)
    // — the (doc, term) relation is unique per doc by construction, so
    // the posting build has NO doc-keyed aggregation exchange; df comes
    // from a term-window riding the one term-keyed exchange the plan
    // needs anyway (the self-join key), and the persisted postings feed
    // both join sides WITHOUT further exchanges (co-partitioned on term).
    // Measured at sf0.1: 3.7 s (groupBy-tf + dfr-join + norm-window
    // lineage recomputed per side) -> 1.5 s warm with this shape.
    val tf = docs.select(col(idCol),
        explode(graft.expressions.ShingleTermCounts(col(textCol),
          shingleSize)))
      .toDF(idCol, "term", "tf")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // no persist — the SHARED-BUILD CONTRACT above: the three consumers'
    // identical canonical exchange is deduped by AQE's stage cache, so
    // the build runs once and the window recomputes map-side per consumer
    val post = tf.repartition(nParts, col("term"))
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("term"))))
      .filter(col("df") <= maxDf)
      .crossJoin(broadcast(n))
      .withColumn("wi", expr("(tf * n_docs) div df"))
      .select(col(idCol), col("term"), col("wi"), col("df"))
    // norms live in a SIDE table joined onto the (few) aggregated pairs,
    // not as a per-doc window inside the posting lineage — a window
    // there costs a doc-keyed shuffle+sort in both join copies; norms
    // sum over the FULL pruned space (df = 1 terms included — they are
    // in ‖x‖², exactly as the oracle computes it)
    val norms = post.groupBy(col(idCol))
      .agg(sum(col("wi") * col("wi")).as("n2"))
    val w = post.filter(col("df") >= 2).drop("df")
    // shared tail: (doc_a, doc_b, dot, n_common) -> norms -> threshold.
    // The norm joins run on the AGGREGATED pair set (threshold-bounded,
    // orders of magnitude below the expansion), never on postings.
    def finish(pairs: DataFrame): DataFrame = {
      val scored = pairs
        .join(norms.select(col(idCol).as("doc_a"), col("n2").as("n2_a")),
          Seq("doc_a"))
        .join(norms.select(col(idCol).as("doc_b"), col("n2").as("n2_b")),
          Seq("doc_b"))
        .withColumn("cosine", col("dot").cast("double") /
          (sqrt(col("n2_a").cast("double")) *
            sqrt(col("n2_b").cast("double"))))
        .filter(col("cosine") >= minCosine)
        .select(col("doc_a"), col("doc_b"), col("n_common"), col("cosine"))
      if (maxPairs <= 0) scored
      else {
        // `maxPairs` > 0 — the family-wide loud-cap contract
        // (Dedup.prefixJaccardPairs / q241): distributed top-(k+1) by
        // (cosine DESC, doc_a, doc_b) — TakeOrderedAndProject, so only
        // kept rows materialize/shuffle even though generation stays
        // exact; the +1 row is the truncation sentinel and the window
        // below runs over <= maxPairs + 1 rows (bounded by the caller's
        // cap, not the corpus). Cosine doubles are bit-equal across
        // engines (q92's hash gate), so the order is oracle-stable.
        val ord = Seq(col("cosine").desc, col("doc_a"), col("doc_b"))
        val top = scored.orderBy(ord: _*).limit(maxPairs + 1)
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
    // direct posting self-join: one expansion join, dot accumulated
    // in-place; both sides read the SAME term-partitioned postings, so
    // the join itself adds no exchange
    if (sampleDen == 1) {
      val a = w.select(col(idCol).as("doc_a"), col("term"),
        col("wi").as("w_a"))
      val b = w.select(col(idCol).as("doc_b"), col("term"),
        col("wi").as("w_b"))
      finish(a.join(b.hint("shuffle_hash"), Seq("term"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(col("w_a") * col("w_b")).as("dot"),
          count(lit(1)).as("n_common")))
    } else {
      // SAMPLED UNIVERSE: the probe side is the hash slice, the
      // partner side the full postings — both map-side filters on the
      // SAME term-partitioned relation, so the join still adds no
      // exchange. Each qualifying (pair, term) row must survive exactly
      // once or the dot doubles: keep a row iff probe_id < partner_id
      // OR the partner is NOT itself sampled (both-sampled pairs
      // generate in both orientations; exactly the probe<partner one
      // survives), then canonicalize to doc_a < doc_b. Row-local sha256
      // predicate, no extra shuffle.
      def sampled(id: Column): Column =
        pmod(graft.functions.TextFns.hash64(
          concat(lit("cospairs:"), id.cast("string"))),
          lit(sampleDen.toLong)) === 0
      val a = w.filter(sampled(col(idCol)))
        .select(col(idCol).as("_pa"), col("term"), col("wi").as("w_a"))
      val b = w.select(col(idCol).as("_pb"), col("term"),
        col("wi").as("w_b"))
      finish(a.join(b.hint("shuffle_hash"), Seq("term"))
        .filter(col("_pa") =!= col("_pb") &&
          (col("_pa") < col("_pb") || !sampled(col("_pb"))))
        .groupBy(least(col("_pa"), col("_pb")).as("doc_a"),
          greatest(col("_pa"), col("_pb")).as("doc_b"))
        .agg(sum(col("w_a") * col("w_b")).as("dot"),
          count(lit(1)).as("n_common")))
    }
  }

  /** Token co-occurrence with exact integer PMI over a bounded vocabulary
    * — the collocation-mining step of corpus analysis (phrase detection,
    * topic seeds, embedding evaluation).
    *
    * Scale design: the quadratic step is bounded by CONSTRUCTION, not by
    * data size. Only the top-`vocabSize` tokens by document frequency
    * (model-sized, TakeOrdered + broadcast) enter the per-document pair
    * join, so a document contributes at most C(vocabSize, 2) pairs
    * regardless of its length, and the doc_id equi-join never degenerates
    * into corpus-wide all-pairs. The corpus is scanned twice (once for df,
    * once for pairs) — cheaper at scale than persisting the exploded
    * token relation, which is larger than the corpus itself. PMI is exact
    * integer ppm (c_ab·N·1e6 div (df_a·df_b)) — bit-portable, no floats.
    *
    * Output: top-`topK` (wa, wb, c_ab, pmi_ppm) by pmi desc, pair asc.
    */
  def cooccurrencePmi(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id", vocabSize: Int = 100,
                      topK: Int = 50): DataFrame = {
    require(vocabSize >= 2 && topK >= 1, "vocabSize >= 2, topK >= 1")
    val nonEmpty = docs.filter(length(col(textCol)) > 0)
    val tok = nonEmpty
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(TextFns.words(col(textCol)))).as("w"))
      .filter(length(col("w")) >= 2)
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("w")).limit(vocabSize)
    val nd = nonEmpty.agg(countDistinct(col(idCol)).as("n"))
    val vt = tok.join(broadcast(vocab.select("w")), "w")
    val pairs = vt.as("a")
      .join(vt.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("wa"), col("b.w").as("wb"))
      .agg(count(lit(1)).as("c_ab"))
    pairs
      .join(broadcast(vocab.select(col("w").as("wa"), col("df").as("dfa"))),
        "wa")
      .join(broadcast(vocab.select(col("w").as("wb"), col("df").as("dfb"))),
        "wb")
      .crossJoin(broadcast(nd))
      .select(col("wa"), col("wb"), col("c_ab"),
        expr("c_ab * n * 1000000L div (dfa * dfb)").as("pmi_ppm"))
      .orderBy(col("pmi_ppm").desc, col("wa"), col("wb"))
      .limit(topK)
  }

  /** Byte-pair statistics — the scoring step of BPE tokenizer training:
    * corpus-wide frequency of every adjacent character pair, weighted by
    * word frequency. The scale trick is aggregation order: identical
    * words collapse FIRST (one map-side-combined aggregate — corpus text
    * volume reduces to the vocabulary), then the character-pair explode
    * runs over DISTINCT words only. Vocabulary grows ~Heaps'-law (≪
    * corpus), so the expensive step touches a relation orders of
    * magnitude smaller than the input; the full BPE merge loop re-runs
    * this scoring with a rewritten symbol column each round, the driver
    * holding only the learned merges (model-parameter sized).
    *
    * Output: top-`topK` (pair, cnt) by cnt desc, pair asc — the next
    * merge candidates.
    */
  def bpePairStats(docs: DataFrame, textCol: String = "text",
                   topK: Int = 50): DataFrame = {
    val wc = docs.select(explode(TextFns.words(col(textCol))).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
    wc.select(explode(transform(
        sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"), col("wc"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(topK)
  }

  /** Greedy left-to-right merge of one (a,b) symbol pair inside a symbol
    * array — a row-local fold (no shuffle, no UDF): state = (emitted
    * symbols, one pending symbol). A merged symbol can't re-merge in the
    * same pass, so 'aaa' under (a,a) becomes ['aa','a'] — the standard
    * BPE pass semantics.
    */
  private def mergePair(syms: Column, a: String, b: String): Column =
    // native single pass (graft_bpe_merge_pair) — the composed aggregate
    // fold was CodegenFallback and array_append-copied the accumulator
    // per symbol (O(len²) per word); state machine is bit-identical
    graft.expressions.MergePair(syms, a, b)

  /** The actual BPE TRAINING LOOP, `rounds` merges deep: each round scores
    * adjacent symbol pairs over the collapsed vocabulary (q93's ordering —
    * corpus volume becomes vocabulary before any symbol work), picks the
    * argmax pair (cnt desc, left asc, right asc — a model-sized driver
    * scalar, like the k-means seeds), and rewrites every word's symbol
    * array with [[mergePair]]'s row-local fold.
    *
    * Per round: ONE vocabulary-sized aggregate + a shuffle-free rewrite.
    * The corpus is scanned exactly once total (vocab collapse,
    * checkpointed, as is every round's rewrite); rounds never touch it
    * again. Driver state is the merge table —
    * model-parameter sized, never data.
    *
    * Returns (vocab segmentation, learned merges): segmentation =
    * (word, wc, seg) with `seg` the space-joined symbols after all
    * rounds; merges = (round, left, right, cnt).
    */
  def bpeTrain(docs: DataFrame, textCol: String = "text",
               rounds: Int = 3): (DataFrame, DataFrame) = {
    require(rounds >= 1, "rounds must be >= 1")
    val spark = docs.sparkSession
    var vocab = docs.select(explode(TextFns.words(col(textCol))).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .withColumn("syms", transform(
        sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1))))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    for (round <- 1 to rounds) {
      // a fully-merged word can reach one symbol: guard the 1..size-1
      // sequence (Spark's sequence(1, 0) counts DOWN, not empty)
      val win = vocab
        .filter(size(col("syms")) >= 2)
        .select(explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"), col("wc"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (win.nonEmpty) {
        val (l, r, cnt) =
          (win(0).getString(0), win(0).getString(1), win(0).getLong(2))
        merges += ((round, l, r, cnt))
        vocab = vocab.withColumn("syms", mergePair(col("syms"), l, r))
          .localCheckpoint(true)
      }
    }
    import spark.implicits._
    val seg = vocab.select(col("word"), col("wc"),
      concat_ws(" ", col("syms")).as("seg"))
    (seg, merges.toSeq.toDF("round", "left", "right", "cnt"))
  }

  /** ENCODING with a trained tokenizer — the pair to [[bpeTrain]] and the
    * step a pretraining pipeline actually runs over 100 TB: apply the
    * learned merge list to every document and emit its token stream.
    *
    * Scale order mirrors training: DISTINCT words fold through the merge
    * list ONCE (vocabulary-sized work — [[mergePair]]'s row-local fold per
    * merge, no shuffle), then the doc→word relation joins the segmentation
    * back and explodes to one row per token. The corpus never shuffles:
    * the encoded vocabulary is broadcast to the scan.
    *
    * Single-char words are their own token (the training vocabulary only
    * holds length ≥ 2 words; a 1-symbol array can't merge, so folding it
    * is the identity and needs no special case).
    *
    * Output: (idCol, word_pos, token_pos, token) — document order is the
    * EXPLICIT (word_pos, token_pos) pair, never row order; sort on it
    * for packing/id assignment, ignore it for counts.
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
                textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    val words = docs
      .select(col(idCol),
        posexplode(TextFns.words(col(textCol))).as(Seq("word_pos", "word")))
      .filter(length(col("word")) >= 1)
    val vocab0 = words.select(col("word")).distinct()
      .withColumn("syms", transform(
        sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1))))
    val encoded = merges.foldLeft(vocab0) { case (v, (l, r)) =>
      v.withColumn("syms", mergePair(col("syms"), l, r))
    }
    // document order is CARRIED, not assumed: the broadcast join only
    // preserves it incidentally — (word_pos, token_pos) is the explicit
    // total order downstream packing needs
    words.join(broadcast(encoded), "word")
      .select(col(idCol), col("word_pos"),
        posexplode(col("syms")).as(Seq("token_pos", "token")))
  }

  /** Overlapping fixed-window document chunking — the retrieval/RAG prep
    * step: each document's word stream splits into windows of
    * `windowTokens` words starting every `strideTokens` words (stride <
    * window ⇒ overlap), the last window running short. Entirely row-local
    * codegen (split + explode over a sequence of window starts + slice) —
    * no shuffle, no UDF; 100 TB chunks exactly as fast as it scans.
    *
    * Empty words (consecutive separators) are dropped before windowing;
    * a document with no words yields no chunks.
    *
    * Output: (idCol, chunk_idx 0-based, n_tokens, chunk) one row per
    * window, chunk = space-rejoined words.
    */
  def chunkDocuments(docs: DataFrame, windowTokens: Int, strideTokens: Int,
                     textCol: String = "text", idCol: String = "doc_id"):
      DataFrame = {
    require(windowTokens >= 1, "windowTokens must be >= 1")
    require(strideTokens >= 1, "strideTokens must be >= 1")
    val w = filter(TextFns.words(col(textCol)), x => length(x) >= 1)
    val n = size(col("w"))
    // sequence(1, 0) counts DOWN — guard the empty-document case
    val starts = when(n >= 1,
      sequence(lit(1), n, lit(strideTokens)))
      .otherwise(array().cast("array<int>"))
    docs.select(col(idCol), w.as("w"))
      .select(col(idCol), col("w"), explode(starts).as("start"))
      .select(
        col(idCol),
        ((col("start") - 1) / strideTokens).cast("long").as("chunk_idx"),
        least(col("start") + windowTokens - 1, size(col("w")))
          .minus(col("start")).plus(1).cast("long").as("n_tokens"),
        array_join(slice(col("w"), col("start"), least(lit(windowTokens),
          size(col("w")) - col("start") + 1)), " ").as("chunk"))
  }

  /** Per-source corpus drift: exact total-variation distance between each
    * source's token distribution and the whole-corpus token distribution —
    * the mixture-monitoring primitive behind "did this crawl slice shift
    * vocabulary?" TVD (= ½·Σ|p−q|) is preferred to KL/JS here because it
    * needs NO logarithms: with integer token counts it is a rational
    * number, computed exactly and reduced to one IEEE division at the end
    * — bit-portable across engines, unlike transcendental-based scores.
    *
    * For source s with token counts c_st (total N_s) against corpus counts
    * c_t (total N):  TVD_s = (A_s + B_s) / (2·N_s·N)  where
    * A_s = Σ_{t∈s} |c_st·N − c_t·N_s| covers tokens the source has and
    * B_s = (N − Σ_{t∈s} c_t)·N_s covers corpus tokens it lacks (|0 − q|
    * mass) — so the absent-token tail costs one subtraction, not a join
    * against the full vocabulary per source.
    *
    * Scale shape: TWO scans total — a cheap text-column pass for the
    * corpus token total N (sum of per-row word counts, no explode) and
    * ONE explode → (source, token) hash aggregate whose result carries
    * everything else via two unordered windows (corpus count per token,
    * source total per source) — a join-based formulation would re-derive
    * the explode+aggregate subtree once per consumer (measured: 8 parquet
    * scans in the plan). The final per-source aggregate runs on the
    * window's source partitioning (no extra exchange); N broadcasts as
    * one row. All bookkeeping is exact BIGINT; headroom: A_s ≤ 2·N_s·N
    * must stay under 2⁶³ and the final doubles are exact while
    * 2·N_s·N < 2⁵³ — beyond that (≈10⁸-token sources over a 10⁹-token
    * corpus), swap the last step to DECIMAL(38,0); the counts themselves
    * never overflow.
    *
    * Output: (source, n_tokens, n_distinct, tvd DOUBLE), unordered.
    */
  def sourceDriftTvd(docs: DataFrame, sourceCol: String = "source",
                     textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = docs.agg(
      sum(size(TextFns.words(col(textCol))).cast("long")).as("n_corpus"))
    docs
      .select(col(sourceCol).as("source"),
        explode(TextFns.words(col(textCol))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c_st"))
      .withColumn("c_t", sum("c_st").over(Window.partitionBy("tok")))
      .withColumn("n_s", sum("c_st").over(Window.partitionBy("source")))
      .crossJoin(broadcast(n))
      .groupBy(col("source"), col("n_s"), col("n_corpus"))
      .agg(
        count(lit(1)).as("n_distinct"),
        sum(abs(col("c_st") * col("n_corpus") - col("c_t") * col("n_s")))
          .as("a_s"),
        sum(col("c_t")).as("cov_s"))
      .select(col("source"), col("n_s").as("n_tokens"), col("n_distinct"),
        ((col("a_s") + (col("n_corpus") - col("cov_s")) * col("n_s"))
          .cast("double") /
          (lit(2L) * col("n_s") * col("n_corpus")).cast("double"))
          .as("tvd"))
  }

  /** Pairwise source similarity by vocabulary: for every source pair
    * (a < b), the distinct-token intersection size and exact integer
    * Jaccard in ppm — "which slices of the corpus resemble each other",
    * the companion matrix to [[sourceDriftTvd]]'s per-source drift scalar.
    *
    * Scale shape: ONE scan. The distinct (source, token) relation is
    * built once; per-source vocabulary sizes ride along via an unordered
    * window; each token then collects its (source, size) set and
    * enumerates its own pairs ROW-LOCALLY with array HOFs (a self-join
    * would re-derive the whole explode+distinct subtree per side —
    * measured 4 parquet scans). Pair fan-out per token is ≤ |sources|²/2,
    * corpus-size-independent; the per-token source set is |sources|-
    * bounded, so collect_list state never grows with the corpus.
    * Zero-overlap pairs are absent by construction.
    *
    * Output: (src_a, src_b, n_shared, jaccard_ppm), unordered.
    */
  def vocabOverlap(docs: DataFrame, sourceCol: String = "source",
                   textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = docs
      .select(col(sourceCol).as("source"),
        explode(TextFns.words(col(textCol))).as("tok"))
      .distinct()
      .withColumn("nv",
        count(lit(1)).over(Window.partitionBy("source")))
    val byTok = st.groupBy("tok")
      .agg(sort_array(collect_list(struct(col("source"), col("nv"))))
        .as("ss"))
    byTok
      .select(explode(flatten(transform(col("ss"), (a, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss"))), b =>
          struct(a.getField("source").as("src_a"),
            b.getField("source").as("src_b"),
            a.getField("nv").as("_na"),
            b.getField("nv").as("_nb")))))).as("p"))
      .select(col("p.src_a"), col("p.src_b"), col("p._na"), col("p._nb"))
      .groupBy("src_a", "src_b", "_na", "_nb")
      .agg(count(lit(1)).as("n_shared"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        expr("1000000L * n_shared div (_na + _nb - n_shared)")
          .as("jaccard_ppm"))
  }

  /** Zipf octave profile per source — token frequencies bucketed by the
    * OCTAVE of their frequency rank (octave b holds ranks 2^b … 2^(b+1)−1).
    * For Zipfian text each octave contributes a roughly constant total
    * frequency; a flat or front-loaded profile flags boilerplate-heavy or
    * templated sources long before perplexity models run. The
    * integer-rational companion to the Heaps curve (q165): rank octaves
    * avoid fitting log-log slopes in floating point entirely — the octave
    * is `length(bin(rank)) − 1`, exact in any engine (the tempting
    * `floor(log2(rank))` misclassifies exact powers of two when an
    * engine's log2 lands one ulp low).
    *
    * Output: (source, octave, n_tokens, total_freq) — number of distinct
    * tokens whose rank falls in the octave and their summed occurrence
    * count. Ranks order by (freq DESC, token ASC): deterministic ties.
    *
    * Shape at 100 TB: token explode collapses to (source, token) counts
    * with map-side combine; the rank window partitions by source
    * (parallel); octave re-aggregation is |sources| × ~40 rows. The only
    * per-source serial pass is over that source's VOCABULARY, not its
    * token stream.
    */
  def zipfOctaves(docs: DataFrame, sourceCol: String = "source",
                  textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(col("freq").desc, col("tok"))
    docs
      .select(col(sourceCol), explode(TextFns.words(col(textCol))).as("tok"))
      .groupBy(col(sourceCol), col("tok"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("octave", (length(bin(col("rank"))) - 1).cast("long"))
      .groupBy(col(sourceCol), col("octave"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("freq")).as("total_freq"))
  }

  /** Pointwise-mutual-information collocation mining: word pairs that
    * co-occur in the same document far more often than their independent
    * frequencies predict. [[distinctiveTerms]] ranks words against a
    * SOURCE; this ranks word PAIRS against each other — the
    * multiword-expression / template-phrase detector. The q120 gate runs
    * the same statistic through a per-doc SELF-JOIN over a top-df
    * vocabulary; this is its row-local scale twin (the q51/q23 twin
    * discipline): no pair-forming shuffle, absolute df cap.
    *
    * `lift_ppm` is the exact PMI ratio in parts-per-million WITHOUT the
    * log: 10⁶ · P(a,b) / (P(a)·P(b)) = 10⁶ · c_ab · n_docs div (c_a · c_b)
    * as ONE cross-multiplied floor division (log is monotone, so rankings
    * agree; pure integer arithmetic is engine-portable where libm log is
    * not). int64 holds to 10⁶·c_ab·n_docs < 2⁶³ — beyond ~9·10⁶ doc
    * co-occurrence counts at web scale, swap the numerator to
    * DECIMAL(38,0) (the q155/q164 idiom).
    *
    * Scale design: the pair fan-out is the classic hazard (a stopword in
    * 10⁹ docs pairs with everything), so words above `maxDf` documents are
    * dropped BEFORE any pair is formed — the [[sparseCosinePairs]] bound.
    * Pairs enumerate ROW-LOCALLY inside each doc's sorted kept-word array
    * (the [[vocabOverlap]] slice/transform idiom, ≤ maxDf²-ish per doc),
    * then one map-side-combined aggregate; no doc-keyed self-join shuffle.
    * Distinct-per-doc semantics: a pair counts once per document.
    */
  def pmiPairs(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", maxDf: Long = 50L,
               minPair: Long = 3L): DataFrame = {
    val dw = docs.select(col(idCol).as("_id"),
        explode(TextFns.words(col(textCol))).as("w"))
      .distinct()
    val dfreq = dw.groupBy("w").agg(count(lit(1)).as("c_w"))
    val kept = dw.join(dfreq.filter(col("c_w") <= maxDf), "w")
    val byDoc = kept.groupBy("_id")
      .agg(sort_array(collect_list(struct(col("w"), col("c_w")))).as("ws"))
    val pairs = byDoc.select(explode(flatten(transform(col("ws"), (a, i) =>
        transform(slice(col("ws"), i + lit(2), size(col("ws"))), b =>
          struct(a.getField("w").as("w_a"), b.getField("w").as("w_b"),
            a.getField("c_w").as("c_a"), b.getField("c_w").as("c_b"))))))
        .as("p"))
      .select(col("p.w_a"), col("p.w_b"), col("p.c_a"), col("p.c_b"))
      .groupBy("w_a", "w_b", "c_a", "c_b")
      .agg(count(lit(1)).as("c_ab"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    pairs.filter(col("c_ab") >= minPair)
      .crossJoin(broadcast(n))
      .select(col("w_a"), col("w_b"), col("c_ab"), col("c_a"), col("c_b"),
        expr("(1000000L * c_ab * n_docs) div (c_a * c_b)").as("lift_ppm"))
  }

  /** BM25 keyword retrieval over the corpus — the lexical complement of the
    * embedding ANN path (RAG pipelines run BOTH and fuse). Scores are the
    * EXACT-RATIONAL BM25 with k1 = 6/5, b = 3/4: per query term,
    *
    *   idf_ppm  = 10⁶·(N − df + ½) div (df + ½)
    *            = (10⁶·(2(N − df) + 1)) div (2·df + 1)
    *   tfnorm   = tf·(k1+1) / (tf + k1·(1 − b + b·len/avgdl)), which with
    *              avgdl = totalLen/N cross-multiplies to the single
    *              integer division
    *   score    = Σ_terms (idf_ppm · 44·tf·totalLen)
    *                div (20·tf·totalLen + 6·totalLen + 18·len·N)
    *
    * The textbook formulation takes ln of the idf ratio; ln is strictly
    * monotone in it, but SUMS of logged terms can reorder vs sums of the
    * raw ratios — so this is a documented exact-arithmetic VARIANT (the
    * family is standard: BM25 has no single canonical idf), chosen because
    * every score is one integer expression both engines floor identically.
    * int64 audit: idf_ppm ≤ 2·10⁶·N and the numerator ≤ 2·10⁶·N·44·tf·
    * totalLen — beyond ~10⁵ docs×10⁸ tokens move the numerator to
    * DECIMAL(38,0) (same operator shape).
    *
    * Scale design: `queryTerms` is model-sized and BROADCAST; the corpus
    * contributes one (doc, term) count aggregate (map-side combined) that
    * the query relation semi-joins down to matching postings only; doc
    * lengths ride the same scan via a grouping on the doc id; N/totalLen
    * are one-row broadcasts. Top-k per query is a bounded rank window over
    * the matched relation.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame,
               idCol: String = "doc_id", textCol: String = "text",
               queryIdCol: String = "query_id", termCol: String = "term",
               k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val toks = docs.select(col(idCol).as("_doc"),
      explode(TextFns.words(col(textCol))).as("w"))
    val tf = toks.groupBy("_doc", "w").agg(count(lit(1)).as("tf"))
    val len = toks.groupBy("_doc").agg(count(lit(1)).as("len"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val totals = len.agg(count(lit(1)).as("n_docs"),
      sum("len").as("total_len"))
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(termCol).as("w")).distinct()
    val matched = tf.join(broadcast(q), "w")
      .join(len, "_doc")
      .join(broadcast(dfreq), "w")
      .crossJoin(broadcast(totals))
      .withColumn("idf_ppm",
        expr("(1000000L * (2 * (n_docs - df) + 1)) div (2 * df + 1)"))
      .withColumn("term_score",
        expr("""(idf_ppm * 44 * tf * total_len) div
                (20 * tf * total_len + 6 * total_len + 18 * len * n_docs)"""))
    val scored = matched.groupBy("query_id", "_doc")
      .agg(sum("term_score").as("score_ppm"),
        count(lit(1)).as("n_terms_hit"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_ppm").desc, col("_doc"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("_doc").as(idCol), col("score_ppm"),
        col("n_terms_hit"), col("rank"))
  }

  /** Length-normalized term-frequency retrieval — the idf-free baseline
    * ranker ([[bm25TopK]]'s null hypothesis, and the second voice a
    * rank-fusion stack wants precisely BECAUSE it disagrees with BM25 on
    * common terms): score = Σ_terms 10⁶·tf div len, exact integers.
    * Same posting shape as BM25 — one (doc, term) aggregate semi-joined
    * down by the broadcast query relation, doc lengths on the same scan,
    * a bounded rank window per query — without the df/totals branch.
    */
  def tfTopK(docs: DataFrame, queries: DataFrame,
             idCol: String = "doc_id", textCol: String = "text",
             queryIdCol: String = "query_id", termCol: String = "term",
             k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val toks = docs.select(col(idCol).as("_doc"),
      explode(TextFns.words(col(textCol))).as("w"))
    val tf = toks.groupBy("_doc", "w").agg(count(lit(1)).as("tf"))
    val len = toks.groupBy("_doc").agg(count(lit(1)).as("len"))
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(termCol).as("w")).distinct()
    val scored = tf.join(broadcast(q), "w")
      .join(len, "_doc")
      .groupBy("query_id", "_doc")
      .agg(sum(expr("(1000000L * tf) div len")).as("score_ppm"),
        count(lit(1)).as("n_terms_hit"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_ppm").desc, col("_doc"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("_doc").as(idCol), col("score_ppm"),
        col("n_terms_hit"), col("rank"))
  }

  /** Character-trigram rank-profile language ID (Cavnar–Trenkle '94) —
    * the corpus-TRAINED complement of the inlined-wordlist heuristic
    * ([[LangWordlists]]): per language, the top-`profileSize` char
    * 3-grams by frequency form a rank profile; a document is scored
    * against each profile by the out-of-place measure (Σ per doc-gram of
    * |doc rank − profile rank|, missing grams costing `profileSize`) and
    * takes the argmin language, ties to the lexicographically first.
    * All-integer — no smoothing constants or float log-probs to drift.
    *
    * Scale shape: training is one (lang, gram) aggregate + a
    * lang-partitioned rank window over the VOCABULARY-sized count
    * relation; profiles are model-sized and broadcast. Classification is
    * one (doc, gram) aggregate, a doc-partitioned rank window, then an
    * INNER broadcast join on shared grams only — never doc × langs. The
    * algebra makes that lossless: a gram the profile lacks costs
    * `profileSize` while a matched one costs |r − pr| ≤ profileSize − 1,
    * so any language sharing ≥1 gram strictly beats every zero-overlap
    * language, whose score is the closed form profileSize·|doc grams|;
    * zero-overlap docs fall back to the lexicographically first language
    * via a one-row broadcast. Per doc the joined rows are bounded by its
    * MATCHING (gram, lang) pairs, not profileSize · |langs|.
    */
  def charNgramLangId(train: DataFrame, docs: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text",
                      langCol: String = "lang",
                      profileSize: Int = 20): DataFrame = {
    require(profileSize >= 1, s"profileSize must be >= 1: $profileSize")
    // 1-based char trigrams; empty array (not a [1,0] descending-sequence
    // artifact) for texts shorter than 3 chars — the wordShingles guard
    def grams(t: Column): Column =
      when(length(t) >= 3,
        transform(sequence(lit(1), length(t) - 2), i => t.substr(i, lit(3))))
        .otherwise(array().cast(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType)))
    // filter on the RAW row_number, cast after: a predicate on a cast of
    // the rank blocks InferWindowGroupLimit, which otherwise turns the
    // per-key full sort into a bounded top-k heap
    def rankTop(counts: DataFrame, keyName: String) = counts
      .withColumn("_ri", row_number().over(
        Window.partitionBy(keyName).orderBy(col("cnt").desc, col("gram"))))
      .filter(col("_ri") <= profileSize)
      .withColumn("r", col("_ri").cast("long")).drop("_ri")
    def gramRows(df: DataFrame, keyCol: Column, keyName: String) =
      rankTop(df
        .select(keyCol.as(keyName), explode(grams(col(textCol))).as("gram"))
        .groupBy(col(keyName), col("gram"))
        .agg(count(lit(1)).as("cnt")), keyName)
    // Self-training (the q191 shape: train eq docs) runs the expensive
    // gram explode + count ONCE: lang rides the (doc, gram) aggregate for
    // free (functionally dependent on the doc id), the shared counts are
    // checkpointed, and profiles re-aggregate them per (lang, gram) — no
    // second corpus scan. Distinct corpora keep the two-pass general path.
    val (profiles, docGrams, docN) =
      if (train eq docs) {
        // repartition the raw docs by id BEFORE the explode: the (id,
        // lang, gram) aggregate then needs no exchange, and only the raw
        // doc rows move, never the exploded gram stream.
        // explicit count: AQE's input-byte coalescing would see only the
        // small raw-doc shuffle and fold the expensive explode+window
        // work onto one task (the q173 lesson)
        val base = docs.repartition(Partitions.base(docs.sparkSession),
            col(idCol))
          .select(col(idCol).as("_id"),
            col(langCol).as("_lang"),
            explode(grams(col(textCol))).as("gram"))
          .groupBy(col("_id"), col("_lang"), col("gram"))
          .agg(count(lit(1)).as("cnt"))
          // checkpointed for the THREE consumers (profiles, ranks, gram
          // counts) of the returned plan. The checkpoint keeps no
          // partitioning (see ops.withPersisted), so the doc-side windows
          // and joins above it shuffle the counts by id again
          .localCheckpoint(false)
        val lp = rankTop(base.filter(col("_lang").isNotNull)
          .groupBy(col("_lang").as("lang"), col("gram"))
          .agg(sum("cnt").as("cnt")), "lang")
        // gram budget per doc WITHOUT a second window pass: the ranked
        // relation keeps min(profileSize, distinct grams) rows per doc,
        // which is a plain capped count over the checkpointed base
        val n = base.groupBy("_id").agg(
          least(count(lit(1)), lit(profileSize.toLong)).as("_ng"))
        (lp.select(col("lang"), col("gram"), col("r").as("pr")),
          rankTop(base.drop("_lang"), "_id"), n)
      } else {
        val lp = gramRows(train.filter(col(langCol).isNotNull),
          col(langCol), "lang")
        val dg = gramRows(docs, col(idCol), "_id")
        (lp.select(col("lang"), col("gram"), col("r").as("pr")),
          dg, dg.groupBy("_id").agg(count(lit(1)).as("_ng")))
      }
    // score(doc, lang) = Σ matched |r − pr| + (unmatched grams) · size —
    // only the matched part needs a join; the rest is the doc's gram count
    val matched = docGrams.join(broadcast(profiles), Seq("gram"))
      .groupBy(col("_id"), col("lang"))
      .agg(sum(abs(col("r") - col("pr"))).as("_msum"),
        count(lit(1)).as("_nm"))
    // One pass to the answer: docN ⟕ matched keeps every doc (a doc whose
    // grams match NO profile surfaces as a single null-lang row), the
    // argmin window orders nulls last (a matched language always beats
    // the zero-overlap default — |r − pr| < profileSize per gram), and
    // the fallback language/score fill in via coalesce. docN and matched
    // share the _id partitioning, so the join adds no exchange.
    val lang0 = profiles.agg(array_min(collect_set(col("lang"))).as("_lang0"))
    docN.join(matched, Seq("_id"), "left")
      .withColumn("oop", col("_msum") +
        (col("_ng") - col("_nm")) * profileSize.toLong)
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_id")
          .orderBy(col("oop").asc_nulls_last, col("lang").asc_nulls_last)))
      .filter(col("_rn") === 1)
      .crossJoin(broadcast(lang0))
      // degenerate corpus with ZERO trained profiles (no non-null lang):
      // there is no language to predict, so no rows — the semantics of
      // the doc × langs formulation this replaced, not a null-label flood
      .filter(col("_lang0").isNotNull)
      .select(col("_id").as(idCol),
        coalesce(col("lang"), col("_lang0")).as("pred_lang"),
        coalesce(col("oop"), col("_ng") * profileSize.toLong)
          .as("oop_score"))
  }

  /** Cross-document repeated-PASSAGE census — the corpus-level exact
    * repetition detector (Lee et al. '22 "Deduplicating Training Data
    * Makes Language Models Better", the ExactSubstr family) at fixed
    * word-window granularity: each document's token stream chunks into
    * consecutive `window`-word passages (the tail keeps its short
    * remainder), a passage is "duplicated" when it appears verbatim in
    * ≥ 2 DISTINCT documents, and each document reports its passage count,
    * duplicated-passage count, and duplication ppm — the boilerplate /
    * template-contamination rate that document-level near-dup (MinHash,
    * SimHash) structurally cannot see because the containing documents
    * differ.
    *
    * Scale shape: one tokenize+chunk aggregate per document (map-side
    * combined), then the corpus-wide census runs on an 8-byte
    * (xxhash64, byte-length) passage key — never the passage STRING —
    * so the global shuffle carries 16-byte keys; a collision would need
    * an equal 64-bit hash AND equal length between distinct passages
    * (vanishing, and it only merges two census buckets). The distinct-doc
    * count is a two-level (key, doc) distinct-then-count, both map-side
    * combinable. Nothing is quadratic; everything keys on hashes.
    */
  def passageCensus(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", window: Int = 8): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val toks = docs.select(col(idCol).as("_id"),
      posexplode(TextFns.words(col(textCol)))).toDF("_id", "_pos", "_w")
    val passages = toks
      .groupBy(col("_id"), expr(s"_pos div $window").as("_chunk"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("_pos"), col("_w")))),
        x => x.getField("_w")), " ").as("_passage"))
      .select(col("_id"),
        xxhash64(col("_passage")).as("_ph"),
        octet_length(col("_passage")).as("_pl"))
    val ndocs = passages.select("_ph", "_pl", "_id").distinct()
      .groupBy("_ph", "_pl").agg(count(lit(1)).as("_ndocs"))
    passages.join(ndocs, Seq("_ph", "_pl"))
      .groupBy("_id")
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("_ndocs") >= 2, 1L).otherwise(0L))
          .as("n_dup_passages"))
      .select(col("_id").as(idCol), col("n_passages"),
        col("n_dup_passages"),
        expr("(1000000 * n_dup_passages) div n_passages").as("dup_ppm"))
  }

  /** Sliding word-window chunking — the RAG / context-packing passage
    * splitter (fixed-size splitter semantics of the LangChain family):
    * chunk i covers words [i·stride, i·stride + window); starts run 0,
    * stride, 2·stride, … and the LAST start is the smallest one whose
    * window reaches the document's end — n_chunks = 1 + max(0,
    * ceil((n_words − window) / stride)) — so every chunk but possibly
    * the last is exactly `window` words, the last is never empty, no
    * chunk is fully contained in its predecessor, and stride ≤ window
    * means every word lands in ≥ 1 chunk. ([[passageCensus]]'s
    * `_pos div window` chunks are the stride = window special case,
    * built there for hashing rather than materialization.) The
    * (n − window + stride − 1) div stride count divides NEGATIVE
    * dividends differently across engines (Spark `div` truncates,
    * DuckDB `//` floors) — both land ≤ 0 there and the greatest(0, ·)
    * clamp absorbs the difference; documented so nobody "simplifies"
    * the expression into divergence.
    *
    * Shape at 100 TB: row-local — one split, one ≤ ⌈n/stride⌉-long
    * sequence per doc, one explode; zero exchanges. Output is
    * ~n_words/stride rows per doc (the op's purpose, not a blowup) and
    * chunk_text is a slice of the already-split array — never a second
    * tokenize.
    *
    * NULL-text docs are ABSENT from the output (the winnowFingerprints
    * sub-k posture: unchunkable input gets no invented chunk — and the
    * two engines disagree on greatest(0, NULL), so emitting anything
    * would be engine-divergent). Empty-string docs chunk normally: one
    * chunk holding the one empty token, split's behavior in both
    * engines.
    *
    * Output: (idCol, chunk_id, start_word, n_words, chunk_text), one
    * row per chunk, chunk_id 0-based.
    */
  def chunkWords(docs: DataFrame, idCol: String, textCol: String,
                 window: Int, stride: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(stride >= 1 && stride <= window,
      s"stride must be in [1, window], got $stride (window $window)")
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as("_ws"))
      .select(col(idCol), col("_ws"),
        explode(sequence(lit(0L), greatest(lit(0L),
          expr(s"(size(_ws) - $window + $stride - 1) div $stride"))))
          .as("_i"))
      .select(col(idCol), col("_i").as("chunk_id"),
        (col("_i") * stride).as("start_word"),
        slice(col("_ws"), (col("_i") * stride + 1).cast("int"),
          lit(window)).as("_chunk"))
      .select(col(idCol), col("chunk_id"), col("start_word"),
        size(col("_chunk")).cast("long").as("n_words"),
        array_join(col("_chunk"), " ").as("chunk_text"))
  }

  /** CCNet-style perplexity bucketing: tercile the corpus by
    * [[unigramSurprisal]]'s mean_bits_ppm into head (lowest surprisal —
    * common-vocabulary, boilerplate-leaning), middle, and tail (rarest
    * vocabulary — gibberish-leaning), the split CCNet stages curation
    * on. Cuts are EXACT order statistics computed from the score
    * CENSUS, never a global doc sort: t1 = the smallest score with
    * 3·cum ≥ n, t2 = the smallest with 3·cum ≥ 2n; a doc with score
    * ≤ t1 is head, ≤ t2 middle, else tail. Score ties share a bucket,
    * so bucket sizes are ⌈n/3⌉-ish rather than exact thirds — CCNet's
    * own behavior at ties.
    *
    * Shape at 100 TB: the one unpartitioned cum-sum window runs over
    * the DISTINCT-SCORE census — a relation bounded by the ppm value
    * range (≲ 6·10⁷ rows ever; far fewer in practice), never over the
    * docs; the two cuts come back as ONE broadcast row. No ntile over
    * the corpus, no global sort.
    *
    * Output: (idCol, n_words, mean_bits_ppm, bucket).
    */
  def perplexityBuckets(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    // scored feeds BOTH the cut census and the final bucketed output —
    // without a materialization the whole corpus tokenize under
    // unigramSurprisal evaluates twice (exchange reuse does not fire
    // across the two differently-shaped consumers). The checkpointed
    // relation is doc-count-sized and 3 columns wide, the cheapest
    // thing in this operator to hold (the q270 census-cache discipline).
    val scored = unigramSurprisal(docs, idCol, textCol)
      .localCheckpoint(false)
    val census = scored.groupBy(col("mean_bits_ppm"))
      .agg(count(lit(1)).as("_c"))
    // bounded unpartitioned window: rides the distinct-score census
    val cum = census.select(col("mean_bits_ppm"),
      sum(col("_c")).over(Window.orderBy(col("mean_bits_ppm"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("_cum"))
    // n from the census, NOT a second scan of `scored` — the surprisal
    // subtree is the whole corpus tokenize and must not re-evaluate
    val n = census.agg(sum(col("_c")).as("_n"))
    val cuts = cum.crossJoin(n).agg(
      min(when(col("_cum") * 3 >= col("_n"), col("mean_bits_ppm")))
        .as("_t1"),
      min(when(col("_cum") * 3 >= col("_n") * 2, col("mean_bits_ppm")))
        .as("_t2"))
    scored.crossJoin(broadcast(cuts))
      .select(col(idCol), col("n_words"), col("mean_bits_ppm"),
        when(col("mean_bits_ppm") <= col("_t1"), lit("head"))
          .when(col("mean_bits_ppm") <= col("_t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** STRATIFIED perplexity bucketing — [[perplexityBuckets]] with the
    * cuts computed PER GROUP (CCNet's actual shape: it buckets each
    * LANGUAGE by its own perplexity thirds — a global cut would dump
    * whole low-resource languages into one bucket because surprisal
    * distributions differ by language). Surprisal stays corpus-global
    * (one census, one N); only the cut statistics stratify. Bonus over
    * the global form: the cum-sum window is now PARTITIONED by the
    * group — no unpartitioned window at all — and the per-group cuts
    * join back group-keyed (broadcast-sized: 2 values per group).
    *
    * Output: (idCol, groupCol, n_words, mean_bits_ppm, bucket).
    */
  def perplexityBucketsBy(docs: DataFrame, idCol: String, textCol: String,
                          groupCol: String): DataFrame = {
    // materialized once for the same two-consumer reason as the global
    // form (cut census + final output); see perplexityBuckets
    val scored = unigramSurprisal(docs, idCol, textCol)
      .join(docs.select(col(idCol), col(groupCol)), Seq(idCol))
      .localCheckpoint(false)
    val census = scored.groupBy(col(groupCol), col("mean_bits_ppm"))
      .agg(count(lit(1)).as("_c"))
    val cum = census.select(col(groupCol), col("mean_bits_ppm"),
      sum(col("_c")).over(Window.partitionBy(col(groupCol))
        .orderBy(col("mean_bits_ppm"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("_cum"))
    // per-group n from the census, not a second corpus scan
    val n = census.groupBy(col(groupCol)).agg(sum(col("_c")).as("_n"))
    val cuts = cum.join(n, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(min(when(col("_cum") * 3 >= col("_n"), col("mean_bits_ppm")))
        .as("_t1"),
        min(when(col("_cum") * 3 >= col("_n") * 2, col("mean_bits_ppm")))
          .as("_t2"))
    scored.join(broadcast(cuts), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("n_words"),
        col("mean_bits_ppm"),
        when(col("mean_bits_ppm") <= col("_t1"), lit("head"))
          .when(col("mean_bits_ppm") <= col("_t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Frozen unigram census — the persistable artifact behind
    * [[scoreAgainstCensus]]: the (word, count) relation of a REFERENCE
    * corpus. Counts, not derived bits, are the stored form: counts
    * merge across census builds (and across a census-maintenance
    * stream), and the smoothing denominator needs the census's own N
    * and V at scoring time. One tokenize, one map-side-combined
    * aggregate. Persist it pre-partitioned by `w` for the q248
    * bucketed-index discipline: scoring batches then shuffle only
    * themselves.
    */
  def unigramCensus(ref: DataFrame, textCol: String): DataFrame =
    ref.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** Merge two censuses — the maintenance half of the frozen-census
    * contract ([[unigramCensus]] stores counts PRECISELY so this is
    * union + sum): a standing pipeline admits a batch, folds the
    * admitted docs' counts in, and scores the next batch against the
    * grown census (q270 pins the sequence; the LSH twin is q256's
    * band-index growth). Census-sized work only — the corpus is never
    * re-read.
    */
  def mergeCensus(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("w")).agg(sum(col("c")).as("c"))

  /** Score documents against a FROZEN census — the production CCNet
    * shape: the reference census is built once from a trusted corpus
    * and every new crawl batch is scored against it without touching
    * the reference again ([[unigramSurprisal]] is the self-census
    * special case). Smoothing makes out-of-vocabulary words defined and
    * maximal-cost: bits(w) = floor(log2((N + V) div (c_w + 1))) with
    * c_w = 0 for OOV (N = census token total, V = census vocab size;
    * same exact floor-log2 portability bound as [[unigramSurprisal]]).
    * `keep` brackets mean_bits_ppm inside [keepLoPpm, keepHiPpm] —
    * BOTH CCNet tails are curation targets (boilerplate scores low,
    * gibberish high).
    *
    * Shape at 100 TB: the doc side collapses to its (doc, word) count
    * relation before the join; the join keys on `w` against the
    * census (broadcast at gate scale, keyed shuffle at corpus scale —
    * against a persisted pre-partitioned census only the batch side
    * moves); N and V derive from the census itself in one tiny
    * aggregate, never a second corpus scan. Scoring is row-local per
    * doc GIVEN the census, so streaming admission over micro-batches
    * is batch-boundary invariant by construction (the q248 argument,
    * without even a bucket join's cross-doc visibility).
    *
    * Output: (idCol, n_words, total_bits, mean_bits_ppm, keep).
    */
  def scoreAgainstCensus(docs: DataFrame, census: DataFrame,
                         idCol: String, textCol: String,
                         keepLoPpm: Long, keepHiPpm: Long): DataFrame = {
    require(keepLoPpm <= keepHiPpm,
      s"keep band is empty: [$keepLoPpm, $keepHiPpm]")
    val nv = census.agg(sum(col("c")).as("_n"), count(lit(1)).as("_v"))
    val dw = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("k"))
    dw.join(census, Seq("w"), "left")
      .crossJoin(broadcast(nv))
      .select(col(idCol), col("k"),
        floor(log2(expr("(_n + _v) div (coalesce(c, 0L) + 1L)")))
          .cast("long").as("_bits"))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_words"),
        sum(col("k") * col("_bits")).as("total_bits"))
      .withColumn("mean_bits_ppm",
        expr("(1000000 * total_bits) div n_words"))
      .withColumn("keep",
        col("mean_bits_ppm").between(keepLoPpm, keepHiPpm))
  }

  /** DSIR importance scoring (Xie et al. '23, "Data Selection for
    * Language Models via Importance Resampling"): rank raw-corpus docs
    * by how much more likely a TARGET-domain unigram model finds them
    * than the SOURCE (raw) model — log p_t(x) − log p_s(x) =
    * Σ_w c_w(x) · (log p_t(w) − log p_s(w)). Integer-exact in the
    * engine-portable bits form this file already pins
    * ([[unigramSurprisal]]/[[scoreAgainstCensus]]):
    * bits_e(w) = floor(log2((N_e + V_e) div (c_{e,w} + 1))) add-1
    * smoothed per census e, and
    * gain_bits = Σ c_w·bits_source(w) − Σ c_w·bits_target(w) — positive
    * means the target model describes the doc more cheaply
    * (target-like). gain_ppm normalizes per word so short docs compare.
    *
    * Both censuses are FROZEN (word, count) relations
    * ([[unigramCensus]]) — the production posture: build the target
    * census from the trusted corpus once, the source census from a raw
    * sample once, then score any number of batches (the q266 scoring
    * discipline with two references instead of one).
    *
    * Shape at 100 TB: docs collapse to (doc, word) counts, ONE
    * word-keyed join against each census (broadcast at gate scale,
    * keyed shuffle against pre-partitioned censuses at corpus scale),
    * one per-doc rollup. The paper's Gumbel-noise resampling draw is
    * deliberately replaced by deterministic top-k selection downstream
    * — engine-reproducible where noise is not (the q127 A-ES pattern
    * exists when a seeded weighted DRAW is wanted).
    *
    * Output: (idCol, n_words, target_bits, source_bits, gain_bits,
    * gain_ppm).
    */
  def dsirGain(docs: DataFrame, target: DataFrame, source: DataFrame,
               idCol: String, textCol: String): DataFrame =
    dsirGainFromCounts(docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("k")),
      target, source, idCol)

  /** [[dsirGain]] on an already-tokenized (idCol, w, k) relation — the
    * one-tokenize composition point (q261 discipline): when the SAME
    * corpus supplies the censuses AND the docs to score, the caller
    * tokenizes once, derives both references as census-sized aggregates
    * of it, and feeds the counts here instead of paying three corpus
    * tokenizes (measured 6.8 → ~3 s on the 10× replica for q280).
    */
  def dsirGainFromCounts(dw: DataFrame, target: DataFrame,
                         source: DataFrame, idCol: String): DataFrame = {
    val nvT = target.agg(sum(col("c")).as("_nt"), count(lit(1)).as("_vt"))
    val nvS = source.agg(sum(col("c")).as("_ns"), count(lit(1)).as("_vs"))
    dw.join(target.select(col("w"), col("c").as("_ct")), Seq("w"), "left")
      .join(source.select(col("w"), col("c").as("_cs")), Seq("w"), "left")
      .crossJoin(broadcast(nvT)).crossJoin(broadcast(nvS))
      .select(col(idCol), col("k"),
        floor(log2(expr("(_nt + _vt) div (coalesce(_ct, 0L) + 1L)")))
          .cast("long").as("_bt"),
        floor(log2(expr("(_ns + _vs) div (coalesce(_cs, 0L) + 1L)")))
          .cast("long").as("_bs"))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_words"),
        sum(col("k") * col("_bt")).as("target_bits"),
        sum(col("k") * col("_bs")).as("source_bits"))
      .withColumn("gain_bits", col("source_bits") - col("target_bits"))
      // difference of the two NON-NEGATIVE per-word means, NOT the mean
      // of the (possibly negative) difference: integer division of a
      // negative diverges between engines (Spark `div` truncates toward
      // zero, DuckDB `//` floors), and both terms here are >= 0 where
      // the two rules agree
      .withColumn("gain_ppm",
        expr("(1000000 * source_bits) div n_words" +
          " - (1000000 * target_bits) div n_words"))
  }

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken — the
    * MOSS core): hash every `shingleSize`-word gram, slide a window of
    * `window` consecutive gram hashes, keep each window's MINIMUM — the
    * position-robust LOCAL fingerprint set. The winnowing guarantee: any
    * shared run of ≥ window + shingleSize − 1 words between two
    * documents shares at least one selected fingerprint, while only
    * ~1/window of the grams are kept — the recall floor LSH can't give
    * and the whole-doc [[fingerprints]] key can't localize. Hash ties
    * inside a window select the same fp VALUE either way, and the output
    * is the distinct (doc, fp) SET, so no positional tiebreak is needed
    * (the classic rightmost rule matters only when positions are
    * emitted).
    *
    * Documents shorter than `shingleSize` words have no grams and are
    * ABSENT from the output (screen them separately — the kmeansFit
    * ragged-row posture); documents with fewer grams than `window` keep
    * one fingerprint, the min over all their grams (the pos-0 frame
    * clamps to the short tail).
    *
    * Shape at 100 TB: one tokenize, row-local gram hashing, ONE window
    * partitioned BY DOCUMENT over (pos) — partitions are doc-sized,
    * never global — then a map-side-combinable distinct. Output is
    * ~n_grams/window rows per doc.
    *
    * Output: the distinct (idCol, fp) relation.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int = 3, window: Int = 4): DataFrame = {
    require(shingleSize >= 1, s"shingleSize must be >= 1, got $shingleSize")
    require(window >= 1, s"window must be >= 1, got $window")
    val grams = winnowGrams(docs, idCol, textCol, shingleSize)
    val win = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(0, window - 1)
    grams
      .withColumn("fp", min(col("h")).over(win))
      // full windows only: start pos <= n_grams - window (n_grams =
      // _n - shingleSize + 1); short docs keep the clamped pos-0 frame
      .filter(col("pos") <=
        greatest(col("_n") - lit(shingleSize + window - 1), lit(0)))
      .select(col(idCol), col("fp")).distinct()
  }

  /** Shared gram relation for the winnowing family: one row per (doc,
    * gram position), 60-bit gram hash. One tokenize, row-local hashing.
    *
    * The doc-keyed repartition sits BEFORE the gram hashing, not after:
    * the selection window downstream requires hashpartitioning(doc)
    * anyway, so the exchange count is unchanged — but placed here it
    * (a) carries raw text instead of exploded gram rows (~5× smaller
    * payload: one ~300 B text row vs n_grams × 32 B), and (b) spreads
    * the sha256 gram hashing across all cores even when the input is a
    * single parquet row group (the bench corpus is — hashing 260k grams
    * on the lone scan task was most of q272's wall).
    */
  private def winnowGrams(docs: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int): DataFrame = {
    val ws = split(col(textCol), " ")
    docs
      .select(col(idCol), ws.as("_ws"))
      .filter(size(col("_ws")) >= shingleSize)
      // explicit count: the text relation is small in BYTES (AQE would
      // coalesce it to 1-2 partitions) but each row fans out into
      // n_grams sha256 evaluations — the CPU-per-byte exemption
      // Partitions.boundedCellParts documents (the q173 lesson)
      .repartition(Partitions.boundedCellParts(docs.sparkSession),
        col(idCol))
      .select(col(idCol), size(col("_ws")).as("_n"),
        posexplode(transform(
          sequence(lit(0), size(col("_ws")) - shingleSize),
          i => TextFns.hash64(
            array_join(slice(col("_ws"), i + 1, lit(shingleSize)), " ")))))
      .toDF(idCol, "_n", "pos", "h")
  }

  /** POSITIONAL winnowing — [[winnowFingerprints]] emitting WHERE each
    * selected fingerprint's gram starts, with the classic RIGHTMOST
    * tiebreak (Schleimer et al. §4: when a window's minimum hash occurs
    * more than once — repeated text inside one window — select the
    * rightmost occurrence; the set form dodges the rule because ties
    * select the same fp VALUE either way, which is why the cheaper
    * [[winnowFingerprints]] stays the default). The tiebreak rides the
    * same per-doc window as the set form: min over struct(h, −pos) is
    * lexicographic, so minimum hash first, then maximum position.
    *
    * Positions are what span-level attribution needs: a selected
    * fingerprint at `fp_pos` pins the shingleSize-word run starting
    * there, and [[winnowCoverage]] unions those runs into the matched-
    * span fraction MOSS actually ranks by.
    *
    * Output: the distinct (idCol, fp, fp_pos) relation (a fingerprint
    * selected from several windows at the same position appears once;
    * the same fp VALUE may appear at several positions).
    */
  def winnowFingerprintsPos(docs: DataFrame, idCol: String,
                            textCol: String, shingleSize: Int = 3,
                            window: Int = 4): DataFrame = {
    require(shingleSize >= 1, s"shingleSize must be >= 1, got $shingleSize")
    require(window >= 1, s"window must be >= 1, got $window")
    val grams = winnowGrams(docs, idCol, textCol, shingleSize)
    val win = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(0, window - 1)
    grams
      .withColumn("_m",
        min(struct(col("h"), (-col("pos")).as("np"))).over(win))
      .filter(col("pos") <=
        greatest(col("_n") - lit(shingleSize + window - 1), lit(0)))
      .select(col(idCol), col("_m").getField("h").as("fp"),
        (-col("_m").getField("np")).as("fp_pos"))
      .distinct()
  }

  /** MOSS-style matching on [[winnowFingerprints]]: candidate pairs form
    * ONLY through shared fingerprint buckets (the LSH-band posture —
    * never all-pairs), scored by shared-fingerprint count, reported at
    * `minShared` and above. One shared fp is the winnowing guarantee's
    * floor for a single (window+shingleSize−1)-word run; 2+ pins a
    * longer or repeated overlap.
    *
    * `maxPairs > 0` registers the family-wide loud-cap contract
    * (q92/q241/q246): generation stays exact, materialization bounds at
    * the top maxPairs by (n_shared DESC, doc_a, doc_b) via the
    * distributed top-(k+1), and every emitted row carries `truncated` —
    * the in-band sentinel that the relation was cut. Fingerprint-bucket
    * density is the scale knob that matters BEFORE the cap: buckets are
    * duplicate-text groups, so pair volume grows with corpus dup
    * density (the 10× text-identical replica measured ~100× pair
    * growth) — the cap is what makes pointing this at 100 TB safe.
    *
    * Output: (doc_a, doc_b, n_shared[, truncated]), doc_a < doc_b.
    */
  def winnowMatches(docs: DataFrame, idCol: String, textCol: String,
                    shingleSize: Int = 3, window: Int = 4,
                    minShared: Long = 2L, maxPairs: Int = 0): DataFrame = {
    require(minShared >= 1L, s"minShared must be >= 1, got $minShared")
    // the self-join's two sides re-alias to doc_a/doc_b BEFORE the fp
    // shuffle, so Catalyst plans two independent exchanges and the whole
    // tokenize+window+distinct fingerprint subtree evaluates TWICE (the
    // r14 Explain audit showed two documents scans, no ReusedExchange).
    // A lazy localCheckpoint computes it once and feeds both sides from
    // the materialized (doc, fp) relation — which is ~1/window of gram
    // volume, the cheapest thing in this operator to hold.
    val fps = winnowFingerprints(docs, idCol, textCol, shingleSize, window)
      .localCheckpoint(false)
    val a = fps.toDF("doc_a", "fp")
    val b = fps.toDF("doc_b", "fp")
    val pairs = a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    capPairs(pairs, maxPairs)
  }

  /** The family-wide loud-cap contract (q92/q241/q246/q273) on a scored
    * pair relation: top maxPairs by (n_shared DESC, doc_a, doc_b) via
    * the distributed top-(k+1), every emitted row carrying `truncated`.
    * maxPairs <= 0 = uncapped passthrough.
    */
  private def capPairs(pairs: DataFrame, maxPairs: Int): DataFrame =
    if (maxPairs <= 0) pairs
    else {
      // distributed top-(k+1); the sentinel row makes truncation loud
      // and the window below runs over <= maxPairs + 1 rows (bounded by
      // the caller's cap, not the corpus — the Dedup.scala:866 pattern)
      val ord = Seq(col("n_shared").desc, col("doc_a"), col("doc_b"))
      pairs.orderBy(ord: _*).limit(maxPairs + 1)
        .withColumn("_rn", row_number().over(Window.orderBy(ord: _*)))
        .withColumn("truncated",
          max(col("_rn")).over(Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
            > maxPairs)
        .filter(col("_rn") <= maxPairs)
        .drop("_rn")
    }

  /** MOSS coverage reporting on [[winnowFingerprintsPos]]: for each
    * candidate pair, the matched-span fraction PER DOC — the metric MOSS
    * actually ranks results by ([[winnowMatches]]' shared-fp COUNT is
    * the cheap screen; coverage says how much of each document the
    * overlap spans). A shared fingerprint selected at position p pins
    * the shingleSize-word run [p, p+shingleSize−1]; per (pair, doc) the
    * runs union exactly via the sorted-positions identity
    * Σ min(next_pos − pos, k) (+k for the last) — one pair-partitioned
    * window, no per-word explode.
    *
    * Candidate pairs form ONLY through shared fingerprint buckets (the
    * winnowMatches posture, never all-pairs); n_shared counts DISTINCT
    * shared fp values, matching winnowMatches on the same inputs.
    * `maxPairs` applies the family loud-cap contract after scoring.
    *
    * Shape at 100 TB: the positional fingerprint relation materializes
    * once (localCheckpoint — it feeds the pair screen and both coverage
    * branches), everything downstream is keyed on (doc_a, doc_b) —
    * pair-bucketed, never corpus-wide; the n_words side relation is a
    * doc-sized column-pruned pass.
    *
    * Output: (doc_a, doc_b, n_shared, cover_a_ppm, cover_b_ppm
    * [, truncated]), doc_a < doc_b.
    */
  def winnowCoverage(docs: DataFrame, idCol: String, textCol: String,
                     shingleSize: Int = 3, window: Int = 4,
                     minShared: Long = 2L, maxPairs: Int = 0): DataFrame = {
    require(minShared >= 1L, s"minShared must be >= 1, got $minShared")
    val k = shingleSize.toLong
    // checkpointed like winnowMatches' fingerprints: both join sides read it
    val fpp = winnowFingerprintsPos(docs, idCol, textCol, shingleSize,
      window).localCheckpoint(false)
    val a = fpp.toDF("doc_a", "fp", "pa")
    val b = fpp.toDF("doc_b", "fp", "pb")
    // jn feeds three consumers (pair screen + both coverage branches):
    // materialize it once, like fpp above
    val jn = a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("fp"), col("pa"), col("pb"))
      .localCheckpoint(false)
    val pairs = jn.select(col("doc_a"), col("doc_b"), col("fp")).distinct()
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    def unionLen(posCol: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("doc_a"), col("doc_b"))
        .orderBy(col(posCol))
      jn.select(col("doc_a"), col("doc_b"), col(posCol)).distinct()
        .withColumn("_nxt", lead(col(posCol), 1).over(w))
        .withColumn("_ctr", when(col("_nxt").isNull, lit(k))
          .otherwise(least((col("_nxt") - col(posCol)).cast("long"),
            lit(k))))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(col("_ctr")).as(out))
    }
    val nw = docs.select(col(idCol),
      size(split(col(textCol), " ")).cast("long").as("_nw"))
    val scored = pairs
      .join(unionLen("pa", "_cova"), Seq("doc_a", "doc_b"))
      .join(unionLen("pb", "_covb"), Seq("doc_a", "doc_b"))
      .join(nw.toDF("doc_a", "_nwa"), Seq("doc_a"))
      .join(nw.toDF("doc_b", "_nwb"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        expr("(1000000 * _cova) div _nwa").as("cover_a_ppm"),
        expr("(1000000 * _covb) div _nwb").as("cover_b_ppm"))
    capPairs(scored, maxPairs)
  }

  /** Naive-Bayes bit-score classifier — the engine-portable analog of
    * the fastText quality classifier the GPT-3/CCNet pipelines train
    * ("wiki-like vs crawl"): multinomial NB scored in integer BITS
    * (minimum-description-length form — all-integer, so both engines
    * agree bit for bit; same floor-log2 bound as
    * [[unigramSurprisal]]). Train: per-class word counts k_cw, class
    * token totals T_c, the GLOBAL train vocab size V, class doc counts
    * D_c. A doc's score for class c is
    *   prior_c + Σ_tokens cost(c, w)
    *   prior_c   = floor(log2(D div D_c))
    *   cost(c,w) = floor(log2((T_c + V) div (k_cw + 1)))
    * — add-1 smoothed, OOV words (k_cw = 0) cost the class maximum.
    * Prediction = argmin (score, class); the class-name tiebreak makes
    * zero-evidence docs deterministic (the langIdent posture).
    *
    * Shape at 100 TB: train collapses to its (class, word) count
    * relation in one map-side-combined pass — the model is
    * (V·|classes|)-bounded and needs no gradient loop; test docs
    * collapse to (doc, word) counts, inflate by |classes| (a small
    * constant — the op's only fan-out), left-join the model keyed by
    * (class, word) (broadcast at gate scale), and the argmin rides a
    * (doc·|classes|)-sized window. No corpus re-scan, no driver state.
    *
    * Output: (idCol, label, pred, bits, correct) — label = the test
    * doc's own labelCol, bits = the winning class's score.
    */
  def nbBitScore(train: DataFrame, test: DataFrame, idCol: String,
                 textCol: String, labelCol: String): DataFrame = {
    val tw = train
      .select(col(labelCol).as("_cls"),
        explode(split(col(textCol), " ")).as("w"))
      .groupBy(col("_cls"), col("w")).agg(count(lit(1)).as("_k"))
    val totals = tw.groupBy(col("_cls")).agg(sum(col("_k")).as("_t"))
    val vocab = tw.agg(countDistinct(col("w")).as("_v"))
    val priors = train.groupBy(col(labelCol).as("_cls"))
      .agg(count(lit(1)).as("_d"))
      .crossJoin(train.agg(count(lit(1)).as("_dt")))
      .select(col("_cls"),
        floor(log2(expr("_dt div _d"))).cast("long").as("_prior"))
    val classes = totals.crossJoin(broadcast(vocab))
      .join(priors, Seq("_cls"))
    val dw = test
      .select(col(idCol), col(labelCol).as("label"),
        explode(split(col(textCol), " ")).as("w"))
      .groupBy(col(idCol), col("label"), col("w"))
      .agg(count(lit(1)).as("_tk"))
    val scored = dw
      .crossJoin(broadcast(classes))
      .join(tw, Seq("_cls", "w"), "left")
      .select(col(idCol), col("label"), col("_cls"), col("_prior"),
        (col("_tk") * floor(log2(
          expr("(_t + _v) div (coalesce(_k, 0L) + 1L)"))).cast("long"))
          .as("_cost"))
      .groupBy(col(idCol), col("label"), col("_cls"), col("_prior"))
      .agg(sum(col("_cost")).as("_sum"))
      .select(col(idCol), col("label"), col("_cls"),
        (col("_prior") + col("_sum")).as("bits"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("bits"), col("_cls"))
    scored
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col(idCol), col("label"), col("_cls").as("pred"),
        col("bits"), (col("label") === col("_cls")).as("correct"))
  }

  /** C4's line-level cleanup rewrite (Raffel et al. '20 §2.2 — the rules
    * the original C4 build applied BEFORE any statistical filter): a line
    * survives iff it (1) ends in a terminal punctuation mark, (2) carries
    * at least five words, and (3) does not mention "javascript"; the PAGE
    * survives iff it contains neither "lorem ipsum" nor a curly brace and
    * retains at least three sentences (= kept lines here — every kept
    * line ends in a terminal mark). Line drops attribute FIRST-FAIL in
    * declared order (punct → short → javascript), the q258/q237 funnel
    * discipline at line granularity.
    *
    * Takes the lines as an already-built array column so the caller owns
    * the line synthesis (the corpus is flat text — gates manufacture
    * lines + rule-exercising fixtures the same way their oracles do).
    * Everything here is row-local array arithmetic over that column:
    * ZERO exchanges, flat cost per doc, the multimodal-decoder posture —
    * at 100 TB this is a map-only stage that rides whatever partitioning
    * the scan produced.
    *
    * Output: (idCol, n_lines, kept_lines, dropped_punct, dropped_short,
    * dropped_js, has_lorem, has_brace, keep, cleaned, kept_chars_ppm) —
    * `cleaned` is the kept lines rejoined (the REWRITE — q87's posture,
    * rule-based instead of dedup), '' when nothing survives;
    * kept_chars_ppm is exact integer ppm of the synthesized page's chars.
    */
  def c4LineFilter(docs: DataFrame, idCol: String,
                   linesCol: String): DataFrame = {
    // ONE pass over the lines array computes every per-line predicate
    // (the terminal-punct test, the word count's split, the substring
    // probe) into a flags struct; the five consumers below read struct
    // fields — comparisons only. The naive form re-ran split() per line
    // in each of four filters (4.2 s → 1.1 s on the 10× replica). The
    // flags projection stays its own select so CollapseProject can't
    // inline the non-cheap transform into its consumers (the q258 _gs
    // discipline).
    def endsPunct(l: Column) = l.endsWith(".") || l.endsWith("!") ||
      l.endsWith("?") || l.endsWith("\"")
    val flagged = docs.select(col(idCol),
      transform(col(linesCol), l => struct(
        l.as("l"),
        endsPunct(l).as("p"),
        (size(split(l, " ")) >= 5).as("w5"),
        l.contains("javascript").as("js"))).as("_lf"),
      array_join(col(linesCol), "\n").as("_full"))
    val lf = col("_lf")
    def p(f: Column) = f.getField("p")
    def w5(f: Column) = f.getField("w5")
    def js(f: Column) = f.getField("js")
    val keptF = filter(lf, f => p(f) && w5(f) && !js(f))
    flagged.select(
      col(idCol),
      size(lf).cast("long").as("n_lines"),
      size(keptF).cast("long").as("kept_lines"),
      size(filter(lf, f => !p(f))).cast("long").as("dropped_punct"),
      size(filter(lf, f => p(f) && !w5(f))).cast("long")
        .as("dropped_short"),
      size(filter(lf, f => p(f) && w5(f) && js(f))).cast("long")
        .as("dropped_js"),
      col("_full").contains("lorem ipsum").as("has_lorem"),
      col("_full").contains("{").as("has_brace"),
      array_join(transform(keptF, f => f.getField("l")), "\n")
        .as("cleaned"),
      col("_full"))
      .withColumn("keep",
        !col("has_lorem") && !col("has_brace") && col("kept_lines") >= 3)
      .withColumn("kept_chars_ppm",
        // length() is IntegerType — widen BEFORE the ×1e6 (int wraps
        // silently past ~2147 chars with ANSI off)
        expr("(1000000 * cast(length(cleaned) as bigint))" +
          " div cast(length(_full) as bigint)"))
      .drop("_full")
  }

  /** Cross-document exact-substring dedup (Lee et al. '22's ExactSubstr,
    * re-expressed as the distributed gram-census approximation every
    * cluster implementation uses instead of their single-node suffix
    * array): every STRIDE-1 window of `n` words is a gram; a gram whose
    * text occurs more than once in the corpus keeps its FIRST occurrence
    * (min (doc, offset) — q87's keep-first rule at overlapping-gram
    * granularity) and every later occurrence marks its char span for
    * removal; per doc the marked spans UNION exactly (the q279 interval
    * identity) and the survivors splice back together.
    *
    * Shape at 100 TB: gram volume is word volume (stride 1 ⇒ ≤1 gram per
    * word), so the census exchange — ONE window partitioned by the
    * 60-bit gram hash ([[Dedup.dedupSpans]]'s key discipline: the hash
    * rides the shuffle, not the ~6n-char gram text) — carries the same
    * order of rows the surprisal tokenize always pays. Everything after
    * the rn filter is dup-occurrence-sized: interval grouping is two
    * doc-keyed windows + one aggregate, and the splice is a row-local
    * fold over each doc's (few) merged spans; clean docs bypass it all
    * through the final left join.
    *
    * Output: (idCol, n_grams, dup_spans, removed_chars, removed_ppm,
    * cleaned) — removed_ppm exact integer ppm of doc chars, cleaned the
    * spliced text (doc text unchanged when no span is marked).
    */
  /** Stride-1 word n-grams with 0-based char offsets into the original
    * text: gram i (1-based over words) starts after the i−1 words +
    * separators before it — the q279 st/en convention. One row per
    * gram: (idCol, g, st, en). Shared by [[exactSubstringDedup]] and
    * the streaming contamination screen.
    */
  def strideGramSpans(docs: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame = {
    // ONE native pass per doc (graft_gram_spans): grams and their exact
    // prefix-sum offsets together. The composed transform+aggregate(slice)
    // form paid an O(i) interpreted fold per gram — O(words²) per doc even
    // after the r15 longs-not-chars rework (ADVICE r16 item 1); this is
    // linear in words (gram text volume itself is inherent).
    docs.select(col(idCol),
        explode(graft.expressions.GramSpans(col(textCol), n)).as("_gr"))
      .select(col(idCol), col("_gr.g").as("g"), col("_gr.st").as("st"),
        (col("_gr.st") + length(col("_gr.g"))).as("en"))
  }

  /** Exact interval union over (idCol, st, en) span rows: a span opens a
    * new merged group iff it starts strictly past the running max end of
    * everything before it (adjacent spans merge); two doc-keyed windows
    * over only the marked rows (the q279 running-max-end identity in
    * group-id form). Output: (idCol, dup_spans, removed_chars, _ivs)
    * with _ivs the sorted disjoint merged intervals.
    */
  def unionSpanStats(spans: DataFrame, idCol: String): DataFrame = {
    val wPe = Window.partitionBy(col(idCol)).orderBy(col("st"), col("en"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wGrp = Window.partitionBy(col(idCol)).orderBy(col("st"), col("en"))
    spans
      .withColumn("_pe", max(col("en")).over(wPe))
      .withColumn("_new", when(col("st") > coalesce(col("_pe"), lit(-1L)),
        1L).otherwise(0L))
      .withColumn("_grp", sum(col("_new")).over(wGrp))
      .groupBy(col(idCol), col("_grp"))
      .agg(min(col("st")).as("st"), max(col("en")).as("en"),
        count(lit(1)).as("_occ"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("dup_spans"),
        sum(col("en") - col("st")).as("removed_chars"),
        // raw marked-occurrence count rides the same aggregation so a
        // caller needing it (the contamination screen) doesn't pay a
        // second evaluation of the spans subtree
        sum(col("_occ")).as("n_marked"),
        array_sort(collect_list(struct(col("st"), col("en")))).as("_ivs"))
  }

  /** Exact-substring CONTAMINATION SCREEN against a frozen gram index —
    * [[exactSubstringDedup]]'s admission form (the q248 frozen-index
    * posture at gram granularity): the index is the DISTINCT 60-bit
    * hashes of the reference corpus's stride-1 n-grams (word-volume
    * sized — this is what an ingest-time contamination/benchmark screen
    * actually keeps hot); each incoming doc pays one gram synthesis +
    * one hash-keyed semi-join, matched occurrences' char spans UNION
    * exactly, and the doc is admitted iff covered_ppm ≤ maxPpm.
    *
    * Verdicts are row-local per doc GIVEN the index (no batch-mate
    * interaction) ⇒ batch-boundary invariant — the streaming-twin
    * property. Everything after the semi-join is matched-occurrence-
    * sized; clean docs ride the left join through untouched.
    */
  def substringScreen(batch: DataFrame, index: DataFrame, idCol: String,
                      textCol: String, n: Int, maxPpm: Long): DataFrame = {
    val matched = strideGramSpans(batch, idCol, textCol, n)
      .withColumn("_gh", TextFns.hash64(col("g")))
      .join(index, Seq("_gh"), "left_semi")
      .select(col(idCol), col("st"), col("en"))
    // ONE evaluation of the matched subtree: the raw occurrence count
    // rides unionSpanStats' aggregation (n_marked) instead of a second
    // gram-explode + semi-join pass (measured ~10.8 → ~7 s cold at sf0.1)
    val stats = unionSpanStats(matched, idCol)
      .withColumnRenamed("dup_spans", "matched_spans")
      .withColumnRenamed("removed_chars", "covered_chars")
      .withColumnRenamed("n_marked", "matched_grams")
      .drop("_ivs")
    batch.select(col(idCol), col(textCol).as("_t"),
      greatest(size(split(col(textCol), " ")) - (n - 1), lit(0))
        .cast("long").as("n_grams"))
      .join(stats, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("matched_grams"), lit(0L)).as("matched_grams"),
        coalesce(col("matched_spans"), lit(0L)).as("matched_spans"),
        coalesce(col("covered_chars"), lit(0L)).as("covered_chars"),
        expr("(1000000 * coalesce(covered_chars, 0L))" +
          " div cast(length(_t) as bigint)").as("covered_ppm"))
      .withColumn("admit", col("covered_ppm") <= maxPpm)
  }

  def exactSubstringDedup(docs: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame = {
    val grams = strideGramSpans(docs, idCol, textCol, n)
    val wFirst = Window.partitionBy(col("_gh"))
      .orderBy(col(idCol), col("st"))
    val marked = grams
      .withColumn("_gh", TextFns.hash64(col("g")))
      .withColumn("_rn", row_number().over(wFirst))
      .filter(col("_rn") >= 2)
      .select(col(idCol), col("st"), col("en"))
    val mergedIvs = unionSpanStats(marked, idCol)
    // n_grams is stride-1 arithmetic (max(|words| - n + 1, 0)) — row-
    // local on the output scan, NOT a second evaluation of the gram
    // explode (the q258/q261 one-heavy-scan discipline: the explode
    // subtree feeds ONLY the census window)
    docs.select(col(idCol), col(textCol).as("_t"),
      greatest(size(split(col(textCol), " ")) - (n - 1), lit(0))
        .cast("long").as("n_grams"))
      .join(mergedIvs, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("removed_chars"), lit(0L)).as("removed_chars"),
        expr("(1000000 * coalesce(removed_chars, 0L)) div length(_t)")
          .as("removed_ppm"),
        when(col("_ivs").isNull, col("_t")).otherwise(
          // splice: fold the disjoint sorted spans, emitting the kept
          // gap before each and the tail after the last (0-based
          // offsets → 1-based substr)
          aggregate(col("_ivs"),
            struct(lit(0L).as("p"), lit("").as("acc")),
            (a, iv) => struct(
              iv.getField("en").as("p"),
              concat(a.getField("acc"),
                col("_t").substr((a.getField("p") + 1L).cast("int"),
                  (iv.getField("st") - a.getField("p")).cast("int")))
                .as("acc")),
            a => concat(a.getField("acc"),
              col("_t").substr((a.getField("p") + 1L).cast("int"),
                (length(col("_t")).cast("long") - a.getField("p"))
                  .cast("int"))))).as("cleaned"))
  }
}
