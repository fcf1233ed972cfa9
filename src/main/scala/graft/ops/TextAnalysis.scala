package graft.ops

import graft.Tables
import graft.queries.Qx
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators over the `documents` table — the pieces a
  * large-scale training-data pipeline runs before dedup/filtering:
  * tokenization stats, quality scoring, stopword-profile language ID,
  * and content fingerprinting. Everything is a codegen'd column
  * expression over one pass of the table (no UDFs, no shuffles except
  * the final per-language rollup), so at 100 TB this pipelines with
  * the parquet scan itself.
  *
  * Regex classes are kept to ASCII (`[a-z]`, `[^\w\s]`) so Java and
  * RE2 agree; ratios are int/int divisions (bit-identical across
  * engines, no rounding step needed).
  */
object TextAnalysis extends graft.QueryModule {

  /** Whitespace tokenization of trimmed, lowercased text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Stopword profiles for the corpus languages (SURVEY.md §7 step 8).
    * zh is identified by Han characters in real pipelines; this corpus
    * is Latin-script only, so the profile approach covers what the
    * data can express. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "de", "los", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"))

  def stopwordMatches(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*)))

  /** BPE-style pre-tokenization pattern (GPT-2-shaped, restricted to
    * the lookahead-free subset both Java regex and RE2 accept):
    * word runs, digit runs, punctuation runs, each with an optional
    * leading space. Counting these is the standard cheap proxy for
    * "how many tokens will the tokenizer emit". */
  val bpePattern = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpePattern), lit(0)))

  /** Per-document token statistics (whitespace + BPE-ish counts). */
  val tokenStats: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    docs.select(
        col("doc_id"),
        col("lang"),
        length(col("text")).as("n_chars"),
        size(tokens(col("text"))).as("n_tokens"),
        size(array_distinct(tokens(col("text")))).as("n_distinct_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"))
      .withColumn("type_token_ratio",
        col("n_distinct_tokens").cast(DoubleType) / col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: length, punctuation density, stopword density,
    * mean token length — the standard cheap pre-filters. */

  /** The quality keep-gate as one reusable column expression (the
    * same predicate qualityScore derives via intermediate columns;
    * Curation fuses it into a single documents scan). */
  def qualityKeepColumn(text: Column): Column = {
    val toks = tokens(text)
    val punctRatio =
      length(regexp_replace(text, "[\\w\\s]", "")).cast(DoubleType) / length(text)
    val stopRatio =
      stopwordMatches(toks, stopwords.toMap.apply("en")).cast(DoubleType) / size(toks)
    size(toks) >= 5 && punctRatio < 0.2 && stopRatio > 0.0
  }

  /** The language-ID argmax as one reusable column expression (same
    * deterministic en > de > es > fr tie order as langId). */
  def langPredColumn(text: Column): Column = {
    val toks = tokens(text)
    val s = stopwords.toMap.view.mapValues(ws => stopwordMatches(toks, ws)).toMap
    when(s("en") >= greatest(s("de"), s("es"), s("fr")), "en")
      .when(s("de") >= greatest(s("es"), s("fr")), "de")
      .when(s("es") >= s("fr"), "es")
      .otherwise("fr")
  }

  val qualityScore: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val toks = tokens(col("text"))
    val enStops = stopwords.toMap.apply("en")
    docs.select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(toks).as("n_tokens"),
        length(regexp_replace(col("text"), "[\\w\\s]", "")).as("n_punct"),
        stopwordMatches(toks, enStops).as("n_stopwords"))
      .withColumn("punct_ratio", col("n_punct").cast(DoubleType) / col("n_chars"))
      .withColumn("stopword_ratio", col("n_stopwords").cast(DoubleType) / col("n_tokens"))
      .withColumn("mean_token_len",
        (col("n_chars") - (col("n_tokens") - 1)).cast(DoubleType) / col("n_tokens"))
      .withColumn("keep",
        col("n_tokens") >= 5 && col("punct_ratio") < 0.2 && col("stopword_ratio") > 0.0)
      .orderBy(col("doc_id"))
  }

  /** Stopword-profile language ID with a deterministic argmax
    * preference order (en > de > es > fr on ties). */
  val langId: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val toks = tokens(col("text"))
    val scored = docs.select(
      (col("doc_id") +: col("lang").as("lang_actual") +:
        stopwords.map { case (l, ws) => stopwordMatches(toks, ws).as(s"s_$l") }): _*)
    scored
      .withColumn("lang_pred",
        when(col("s_en") >= greatest(col("s_de"), col("s_es"), col("s_fr")), "en")
          .when(col("s_de") >= greatest(col("s_es"), col("s_fr")), "de")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr"))
      .orderBy(col("doc_id"))
  }

  /** Content fingerprint: md5 over the 8-token normalized prefix —
    * the cheap "same-ish leading content" key used for coarse
    * clustering before expensive near-dup passes. */
  val fingerprint: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    docs.select(
        col("doc_id"),
        md5(array_join(slice(tokens(col("text")), 1, 8), " ")).as("prefix_fp"),
        md5(col("text")).as("full_fp"))
      .orderBy(col("doc_id"))
  }

  /** Corpus rollup per language. */
  val langStats: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    docs.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        Qx.davg(length(col("text")), rescale = 0).as("avg_chars"),
        Qx.davg(size(tokens(col("text"))), rescale = 0).as("avg_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))
  }

  /** Per-source token-distribution drift (q141): total-variation
    * distance between each source's token distribution and the whole
    * corpus's, over the corpus top-k tokens — the mixture-health
    * audit run before weighting sources into a training mix (a source
    * whose unigram profile sits far from the corpus is jargon, spam,
    * or another language wearing the wrong tag; q64 watches the
    * SPLIT axis, this watches the SOURCE axis). Per the q63/q64
    * discipline the L1 terms are exact integers — per token
    * |n_st·T_corpus − n_tok·T_src| in DECIMAL(38,0) (factors < 2^63,
    * products < 8.5e37, cannot wrap) — and the only division is the
    * final exact `div` to ppm (TV ≤ 2e6 ppm, so the BIGINT output
    * cannot overflow at any SF). Absent (source, token) pairs
    * contribute n_st = 0 via the source×top-k grid, which is
    * |sources|·k rows — broadcast-sized by construction.
    *
    * Shape: ONE explode + (source, token) hash agg is the only
    * corpus-sized work; token totals, source totals, and the top-k
    * derive from that counts frame (materialized — three consumers),
    * never from a second scan. */
  val sourceTokenDrift: Q = (s, d) => {
    val k = 100
    val dec = DecimalType(38, 0)
    val cntSt = Dedup.materializedSketch(Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("n_st")))
    val tokTotals = Dedup.materializedSketch(
      cntSt.groupBy(col("token")).agg(sum(col("n_st")).as("n_tok")))
    val srcTotals = cntSt.groupBy(col("source")).agg(sum(col("n_st")).as("tot_src"))
    val corpusTotal = tokTotals.agg(sum(col("n_tok")).as("tot_corpus"))
    val top = tokTotals.orderBy(col("n_tok").desc, col("token")).limit(k)
    srcTotals.crossJoin(broadcast(top))
      .join(cntSt, Seq("source", "token"), "left")
      .crossJoin(broadcast(corpusTotal))
      .withColumn("term",
        abs(coalesce(col("n_st"), lit(0L)).cast(dec) * col("tot_corpus")
          - col("n_tok").cast(dec) * col("tot_src")))
      .groupBy(col("source"))
      .agg(max(col("tot_src")).as("n_tokens"),
        expr("CAST((1000000 * sum(term)) div " +
          "(CAST(max(tot_src) AS DECIMAL(38,0)) * max(tot_corpus)) AS BIGINT)")
          .as("tv_ppm"),
        expr("CAST(max(1000000 * term div " +
          "(CAST(tot_src AS DECIMAL(38,0)) * tot_corpus)) AS BIGINT)")
          .as("max_term_ppm"))
      .orderBy(col("source"))
  }

  /** Vocabulary coverage curve (q142): for vocabulary cutoffs k, what
    * fraction of token OCCURRENCES the top-k types cover — the
    * tokenizer/vocab-size sizing audit (the knee of this curve is
    * where a frequency-cutoff vocab stops paying for itself; the
    * remainder is the OOV mass a <unk> token would absorb). Types are
    * ranked by (count DESC, token) — a total order, so ranks are
    * cross-engine exact — through [[graft.queries.Stats.globalRank]]
    * (range-partitioned two-phase ranking: the vocabulary at 100 TB
    * is itself too large for a single-partition row_number). Coverage
    * at each cutoff is a CONDITIONAL SUM over the ranked frame (no
    * cumulative window — fixed cutoffs need no prefix sum), one pass,
    * unpivoted to a row per k. Exact-integer ppm. */
  val vocabCoverage: Q = (s, d) => {
    val ks = Seq(5, 10, 20)
    val counts = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n_occ"))
      .withColumn("neg_occ", -col("n_occ"))
    val ranked = graft.queries.Stats.globalRank(counts, Seq("neg_occ", "token"), "rank")
    val agg = ranked.agg(
      (sum(col("n_occ")).cast(LongType)).as("total_occ"),
      count(lit(1)).as("n_types") +: ks.map(k =>
        sum(when(col("rank") <= k, col("n_occ")).otherwise(0L)).as(s"c$k")): _*)
    agg.select(expr(s"stack(${ks.size}, " +
        ks.map(k => s"$k, c$k").mkString(", ") + ") AS (vocab_k, occ_covered)"),
        col("total_occ"), col("n_types"))
      .select(col("vocab_k"), col("occ_covered"), col("total_occ"),
        least(col("vocab_k").cast(LongType), col("n_types")).as("n_types_covered"),
        expr("1000000 * occ_covered div total_occ").as("coverage_ppm"))
      .orderBy(col("vocab_k"))
  }

  /** Per-source token-mass concentration (q150): the Gini coefficient
    * of per-document token counts within each source — the "is this
    * source a few giant documents wearing many doc_ids" data-card
    * statistic (a high-Gini source skews packing, sampling, and any
    * per-doc quota silently). Exact integer arithmetic end to end:
    * with documents ranked ascending by token count,
    * G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i), and tie order
    * provably cannot change Σ i·x_i (swapping equal x between ranks
    * i, j leaves i·x + j·x fixed), so the value is a pure function of
    * the data. The rank-weighted sum is computed WITHOUT any
    * per-source row ranking (the q115 single-reducer trap at scale):
    * collapse to the per-source distinct-count HISTOGRAM, cumulative
    * counts over distinct values, and each value-run contributes
    * x·(cum_prev·c + c·(c+1)/2) — the closed-form sum of its rank
    * range. Reducer input is bounded by |distinct counts| per source
    * regardless of SF; cross terms ride DECIMAL(38,0). */
  val tokenGini: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val x = greatest(size(tokens(col("text"))), lit(0)).cast(LongType)
    val hist = Tables.documents(s, d)
      .select(col("source"), x.as("x"))
      .groupBy(col("source"), col("x")).agg(count(lit(1)).as("c"))
    val grp = Window.partitionBy(col("source"))
    val cum = hist
      .withColumn("cumc", sum(col("c")).over(grp.orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_prev", col("cumc") - col("c"))
    // c·(c+1)/2 via decimal division: the product is always even, so
    // the scale-6 quotient is exactly integral and the (38,0) cast is
    // lossless ((c·(c+1)) div 2 would come back as a wrappable BIGINT)
    cum.groupBy(col("source"))
      .agg(max(col("cumc")).as("n_docs"),
        sum(col("x") * col("c")).as("total_tokens"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * (CAST(cum_prev AS DECIMAL(38,0)) * c + " +
          "CAST(CAST(c AS DECIMAL(38,0)) * (c + 1) / 2 AS DECIMAL(38,0)))").cast(dec))
          .as("s2_d"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        expr("CAST((1000000 * (2 * s2_d - CAST(n_docs + 1 AS DECIMAL(38,0)) * total_tokens)) div " +
          "(CAST(n_docs AS DECIMAL(38,0)) * total_tokens) AS BIGINT)").as("gini_ppm"))
      .orderBy(col("source"))
  }

  /** Vocabulary top-k (q60): corpus-wide token frequencies with doc
    * frequency — the vocab-building/Zipf-audit pass. One explode
    * (Generate, pipelined with the scan) into a hash aggregation on
    * the token; the only shuffle carries (token, partial counts), and
    * top-k plans as TakeOrderedAndProject — no global sort
    * materializes the full vocabulary. Ties break on the token for
    * cross-engine determinism. */
  val vocabTopK: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(100)
  }

  /** Repetition scoring (q62): the fraction of a document's bigrams
    * taken by its single most frequent bigram — the cheap
    * within-document repetition signal (boilerplate, keyword
    * stuffing, degenerate generations) that length/stopword ratios
    * miss. Shape: explode bigrams → per-(doc, bigram) count →
    * per-doc max/sum — two hash aggregations keyed by doc, shuffles
    * carry (doc_id, bigram-hash, count) only. The keep gate (< 0.2,
    * docs shorter than 8 bigrams exempt) mirrors the published
    * repetition-filter family. */
  val repetitionScores: Q = (s, d) => {
    // r15 (guide §1.2 "per-task work"): the old spelling built each
    // bigram with a `transform` lambda (slice + array_join + string
    // hash per element) — higher-order functions are CodegenFallback,
    // so every bigram paid an interpreted-eval round trip before the
    // explode. This form is lambda-free: two slices + arrays_zip give
    // the (token, next-token) pairs as one codegen'd expression chain,
    // and the two-argument xxhash64 hashes the pair directly (no
    // intermediate string). The hash VALUES relabel (same 2^-64
    // collision budget — tokens are \s+-split so the old " "-join was
    // injective too), but no hash value reaches the output: the query
    // emits per-doc COUNTS of equal bigrams, which are invariant under
    // the relabeling. The null-text doc keeps its single sentinel row
    // via the coalesce (xxhash64 of an all-null pair = the seed, as
    // before). Downstream aggregation is unchanged.
    val toks0 = tokens(col("text"))
    val toks = coalesce(toks0, array(lit(null).cast("string")))
    val g = greatest(size(toks) - 1, lit(1))
    val pairs = arrays_zip(slice(toks, lit(1), g), slice(toks, lit(2), g))
    val exploded = Tables.documents(s, d)
      .select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), xxhash64(col("p.0"), col("p.1")).as("bg"))
    exploded.groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"), max(col("n")).as("top_n"))
      .withColumn("top_bigram_frac",
        col("top_n").cast(DoubleType) / col("n_bigrams"))
      .withColumn("keep",
        col("n_bigrams") < 8 || col("top_bigram_frac") < 0.2)
      .select(col("doc_id"), col("n_bigrams"), col("top_n"),
        col("top_bigram_frac"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-rarity scoring (q63): per document, the mean CORPUS
    * frequency of its tokens — the expected corpus count of a token
    * drawn from the doc, normalized by corpus size. Low = rare/
    * specialist text, high = boilerplate built from the corpus's most
    * common words; the coarse unigram-LM quality signal that needs no
    * transcendental math (a log-prob variant would hash-diverge on
    * libm ulps across engines; this is exact-integer sums with ONE
    * int/int double division, the q36 pattern, so it hash-compares).
    *
    * Shape: explode -> vocab count agg -> the vocab joins onto the
    * re-exploded scan via [[Skew.vocabLookupJoin]] -> per-doc sum. The
    * default Adaptive mode broadcasts while the vocabulary fits the
    * ceiling (skew-immune: hot tokens like stopwords never shuffle)
    * and self-routes to [[Skew.saltedLookupJoin]] — vocab row
    * replicated per salt, each hot token's probe rows spread over the
    * salt reducers — when an open 100 TB vocabulary outgrows it. Same
    * output on every path (spec-pinned). */
  def rarityOf(docs: org.apache.spark.sql.DataFrame,
               vocabJoin: Skew.VocabJoin = Skew.VocabJoin.Adaptive,
               vocabBroadcastMaxRows: Long = Skew.vocabBroadcastMaxRows)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("n_tok"))
    val total = counts.agg(sum(col("n_tok")).as("n_total"))
    Skew.vocabLookupJoin(toks, counts, "token", col("doc_id"),
        vocabJoin, vocabBroadcastMaxRows)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_tok")).as("sum_freq"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"),
        (col("sum_freq").cast(DoubleType) / (col("n_tokens") * col("n_total")))
          .as("mean_corpus_freq"))
  }

  val rarityScores: Q = (s, d) =>
    rarityOf(Tables.documents(s, d)).orderBy(col("doc_id"))

  /** Token-length histogram per source (q73): doc and token totals in
    * power-of-two length bands — the data-card length distribution
    * read next to q65's manifest before a training run (truncation
    * exposure, short-doc contamination, per-source length skew).
    * Bands via an exact integer CASE chain (a log2-based bucket would
    * hash-diverge on libm boundary ulps); one scan, one tiny hash
    * agg. */
  val lengthHistogram: Q = (s, d) => {
    val n = size(tokens(col("text")))
    val bucket = when(n < 16, "000-015").when(n < 32, "016-031")
      .when(n < 64, "032-063").when(n < 128, "064-127")
      .when(n < 256, "128-255").otherwise("256+")
    Tables.documents(s, d)
      .select(col("source"), bucket.as("len_bucket"), n.as("n_tokens"))
      .groupBy(col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("source"), col("len_bucket"))
  }

  /** CMS heavy hitters, self-audited (q79): build a count-min sketch
    * over every token occurrence (bounded memory: one depth x width
    * table regardless of vocabulary size — the sketch a 100 TB run
    * uses when the exact q60 vocabulary agg would not fit), then
    * estimate the exact top-k tokens through it and record estimate
    * vs truth side by side, the way q31b records ANN recall. The CMS
    * one-sided error contract (estimate >= exact, and within
    * (e/width)·N with high probability) becomes per-round DATA.
    *
    * Shape: bucket indices are computed as codegen'd columns
    * (`pmod(xxhash64(token, r), width)`) feeding a typed partial-
    * aggregable Aggregator ([[graft.functions.Aggregators
    * .CountMinSketch]]) — the exchange carries one 32 KB table per
    * map partition; the finished sketch is ONE row, broadcast onto
    * the exact top-k, and estimation is `least(element_at(...))` over
    * the same index expressions. No driver-side hashing anywhere, so
    * build and probe cannot drift. Rows-only (hash-seeded layout);
    * error bounds are spec-pinned. */
  val cmsDepth = 4
  val cmsWidth = 1024

  private def cmsIdx(token: Column, r: Int): Column =
    pmod(xxhash64(token, lit(r)), lit(cmsWidth)).cast(IntegerType)

  val cmsHeavyHitters: Q = (s, d) => {
    import s.implicits._
    val k = 20
    val toks = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("token"))
    val agg = new graft.functions.Aggregators.CountMinSketch(cmsDepth, cmsWidth)
    val sketch = toks
      .select(array((0 until cmsDepth).map(r => cmsIdx(col("token"), r)): _*).as("idx"))
      .as[Seq[Int]]
      .select(agg.toColumn.name("sk"))
    val exactTop = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("token"))
      .limit(k)
    exactTop
      .crossJoin(broadcast(sketch))
      // every CMS row sums to exactly N (each occurrence increments one
      // counter per row), so the total comes from the sketch itself —
      // no third corpus scan for a count
      .withColumn("n_total",
        aggregate(slice(col("sk"), 1, cmsWidth), lit(0L), _ + _))
      .withColumn("cms_estimate",
        least((0 until cmsDepth).map(r =>
          element_at(col("sk"), cmsIdx(col("token"), r) + lit(r * cmsWidth) + 1)): _*))
      .select(col("token"), col("exact_n"), col("cms_estimate"), col("n_total"),
        (col("cms_estimate") >= col("exact_n")).as("lower_bound_holds"))
      .orderBy(col("exact_n").desc, col("token"))
  }

  /** Duplicated-4-gram fraction (q81): the share of a document's
    * 4-gram occurrences that are repeats of an earlier one —
    * (occurrences - distinct) / occurrences. The Gopher-family
    * intra-document repetition gate at n-gram granularity,
    * complementing q62's top-bigram concentration (a doc can pass
    * q62 with no single dominant bigram yet still be a loop of
    * longer phrases). Same discipline as every text score: 4-grams
    * hash to int64 inside the projection, counts are exact ints, the
    * single division comes last; the whole score is a per-row
    * codegen expression — no explode, no shuffle (distinct-ness is
    * WITHIN the row's own array). */
  val dupgramFraction: Q = (s, d) => {
    val keep = 0.3
    val toksCol = tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), toksCol.as("toks"))
      .select(col("doc_id"),
        transform(sequence(lit(1), greatest(size(col("toks")) - 3, lit(1))),
          i => xxhash64((0 until 4).map(o =>
            coalesce(element_at(col("toks"), i + o), lit(""))): _*)).as("g4"))
      .select(col("doc_id"),
        size(col("g4")).as("n_grams"),
        size(array_distinct(col("g4"))).as("n_distinct"))
      .withColumn("dup_frac",
        (col("n_grams") - col("n_distinct")).cast(DoubleType) / col("n_grams"))
      .withColumn("keep", col("n_grams") < 8 || col("dup_frac") < keep)
      .orderBy(col("doc_id"))
  }

  /** Cross-document duplicated-passage audit (q82): the inter-document
    * extension of q81 — word 8-grams that appear VERBATIM in two or
    * more distinct documents, ranked by document spread. This is the
    * passage-level view of exact duplication (the "deduplicating
    * training data" audit): q32 catches whole-document clones, q36
    * catches near-identical documents, but a boilerplate paragraph or
    * quoted passage pasted into otherwise-distinct documents only
    * shows up here. Curators read the top rows to decide whether a
    * passage is navigation chrome (cut it — q67's job once it's in
    * the block frequency table) or legitimate quotation (keep it).
    *
    * Scale shape, two passes over one cached (toks, token-hash) frame:
    *   1. frequency pass — 8-grams hash to int64 inside the projection
    *      (the q36/q57b one-xxhash64-per-window trick), the explode
    *      emits (ghash, doc_id) pairs ONLY, and the double aggregate
    *      is (ghash, doc_id) partial-combine then per-ghash rollup —
    *      deliberately two hash aggs instead of one
    *      countDistinct+count agg, which would Expand every row ×2.
    *      Nothing wider than 16 bytes shuffles.
    *   2. string pass — gram STRINGS are rebuilt in the scan
    *      projection and immediately filtered by an adaptive lookup
    *      join on the top-k SUPERSET of the duplicated-gram table
    *      (q96's boundary-threshold gate lifted to the (n_docs,
    *      n_occurrences) pair order), so only candidate winners'
    *      strings ever reach an exchange (q67b's join-back pattern).
    *      The full duplicated-gram table is corpus-scale on a
    *      boilerplate-heavy crawl and is never broadcast; nor is the
    *      superset itself when boundary-pair ties inflate it past the
    *      vocab-join row ceiling (it then takes the salted shuffle
    *      join instead).
    * The final top-k orders on (n_docs, n_occurrences, gram) so ties
    * break on the string, identically in both engines. Docs shorter
    * than 8 tokens carry no windows; equality is modulo the standing
    * 2^-64 xxhash64 collision approximation (q36's convention). */
  val passageN = 8
  val passageTopK = 20

  val duplicatedPassages: Q = (s, d) =>
    duplicatedPassagesOf(Tables.documents(s, d))

  def duplicatedPassagesOf(
      docs: DataFrame,
      maxBroadcastWinners: Long = Skew.vocabBroadcastMaxRows): DataFrame = {
    // r15 (guide §1.2/§4): gram hashing runs through the codegen'd
    // [[graft.functions.HashOps.gram_hashes]] kernel (positional
    // windows over the token-hash array — HashOpsSpec pins value
    // equality with the old transform/ghash lambda on >= n arrays,
    // which the size gate guarantees here), and the string pass below
    // no longer materializes a gram STRING per corpus position.
    // materialized (two-consumer rule): freq pass + string pass
    val withTh = Dedup.materializedSketch(docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= passageN)
      .select(col("doc_id"), col("toks"),
        graft.functions.HashOps.xxhash64_elements(col("toks")).as("th")))
    val grams = graft.functions.HashOps.gram_hashes(col("th"), passageN)

    // pass 1: id-only frequency table of cross-doc duplicated grams
    // materialized (two-consumer rule): threshold scan + winners filter
    val freq = Dedup.materializedSketch(withTh
      .select(col("doc_id"), explode(grams).as("g"))
      .groupBy(col("g"), col("doc_id"))
      .agg(count(lit(1)).as("n_in_doc"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_in_doc")).as("n_occurrences"))
      .filter(col("n_docs") >= 2))

    // boundary-threshold gate (q96's trick lifted to the pair order):
    // every true top-k row has (n_docs, n_occurrences) >= the k-th
    // pair under (n_docs DESC, n_occurrences DESC) — the gram string
    // only breaks ties WITHIN equal pairs, so the top-k's pair
    // multiset is tie-break-invariant and this filter is exact. The
    // superset is usually tiny — but it is UNBOUNDED under boundary-
    // pair ties (a crawl where the k-th pair is (2, 2) selects
    // essentially every duplicated gram), so the string-pass join
    // routes through the adaptive vocab-join: broadcast below the
    // row ceiling, salted shuffle join above it. Either way the full
    // duplicated-gram table never leaves its exchange un-gated.
    val boundary = struct(col("n_docs"), col("n_occurrences"))
    val thr = freq
      .orderBy(col("n_docs").desc, col("n_occurrences").desc)
      .limit(passageTopK)
      .agg(min(boundary).as("thr"))
    val winners = freq.join(broadcast(thr), boundary >= col("thr")).drop("thr")

    // pass 2: strings built in the scan, filtered to winners via the
    // adaptive lookup join (broadcast under the ceiling, salted
    // shuffle above it — the boundary-tie blowup arm). The gram
    // HASHES come from the codegen'd kernel; only the gram-string
    // join remains a lambda (no builtin makes sliding-window strings),
    // halving the old lambda's per-element work. The salt stays
    // INDEPENDENT of the join key (doc_id — q63/q91's convention) so
    // a hot gram's occurrences spread across reducers. A join-back
    // form (derive strings only for winner positions) was tried and
    // REJECTED: it puts a corpus-sized frame on a broadcast build
    // side (the round-6 scale-killer the plan spec guards against).
    val gramStrs = transform(
      sequence(lit(1), size(col("toks")) - (passageN - 1)),
      i => array_join(slice(col("toks"), i, lit(passageN)), " "))
    val strings = withTh
      .select(col("doc_id"), explode(arrays_zip(grams, gramStrs)).as("p"))
      .select(col("doc_id"), col("p.0").as("g"), col("p.1").as("gram"))
    Skew.vocabLookupJoin(strings, winners, key = "g",
        saltSource = col("doc_id"), maxBroadcastRows = maxBroadcastWinners)
      .groupBy(col("g"), col("n_docs"), col("n_occurrences"))
      .agg(min(col("gram")).as("gram"))
      .select(col("gram"), col("n_docs"), col("n_occurrences"))
      .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("gram"))
      .limit(passageTopK)
  }

  /** Sentence-level exact-dedup fraction (q86): per document, the
    * share of its substantial sentences (>= 20 chars after trim,
    * split on sentence boundaries) that appear VERBATIM in at least
    * one OTHER document — the C4/RefinedWeb sentence-dedup signal
    * sitting between q81 (intra-doc n-grams) and q82 (cross-doc
    * passages): q82 finds WHICH passages spread; this scores each
    * DOCUMENT by how much of it is shared material, the gate a
    * curator actually filters on.
    *
    * Scale shape: sentences hash to int64 in the projection; the
    * sentence-frequency table aggregates (shash, doc_id) pairs
    * id-only, and the join back onto the per-doc occurrence stream is
    * shash-keyed — sentence STRINGS never enter an exchange. Two hash
    * aggs + one id join; the DuckDB twin carries the strings (q36's
    * equality-structure convention, 2^-64 collisions). */
  val sentenceDupFraction: Q = (s, d) =>
    sentenceDupFractionOf(Tables.documents(s, d))

  def sentenceDupFractionOf(docs: DataFrame): DataFrame = {
    val minSentChars = 20
    val sents = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(split(col("text"), "\\.\\s+")).as("s"))
      .select(col("doc_id"), trim(col("s")).as("sent"))
      .filter(length(col("sent")) >= minSentChars)
      .select(col("doc_id"), xxhash64(col("sent")).as("shash"))
    val freq = sents.select(col("doc_id"), col("shash")).distinct()
      .groupBy(col("shash")).agg(count(lit(1)).as("n_docs"))
    sents.join(freq, Seq("shash"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sentences"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup_sentences"))
      .withColumn("dup_frac",
        col("n_dup_sentences").cast(DoubleType) / col("n_sentences"))
      .withColumn("keep", col("dup_frac") < 0.5)
      .orderBy(col("doc_id"))
  }

  /** Inverted-index build (q96): the serving-side artifact — token ->
    * sorted posting list of documents — that backs decontamination
    * lookups ("which training docs contain this eval phrase?"),
    * quote search, and targeted removal. Output: the [[invIndexTopK]]
    * highest-document-frequency tokens with df, occurrence count,
    * and the full posting list serialized as a sorted id string.
    *
    * Scale shape is the q67b two-pass discipline — posting lists are
    * the one thing you must NEVER build for every token (a stopword's
    * list is corpus-sized):
    *   1. (token, doc_id) per-doc occurrence agg, then per-token df
    *      counts — id-only exchanges;
    *   2. top-k tokens by (df DESC, token) via the boundary-threshold
    *      superset (every true top-k row has df >= the k-th df, so
    *      filtering to it is exact regardless of string order);
    *   3. posting lists assembled ONLY for those k tokens: the
    *      per-doc frame semi-joins the BROADCAST winners and
    *      sort_array(collect_set) builds k lists — the single
    *      text-free exchange whose volume is the OUTPUT's.
    * A production build materializes step 3 for all tokens instead,
    * partitioned by token range — same plan minus the top-k gate. */
  val invIndexTopK = 25

  val invertedIndex: Q = (s, d) => {
    // materialized (two-consumer rule): df agg + postings join
    val perDoc = Dedup.materializedSketch(
      Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("token"), col("doc_id"))
        .agg(count(lit(1)).as("n_occ")))
    val dfCounts = perDoc.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("n_occ")).as("n_occurrences"))
    val thr = dfCounts.orderBy(col("df").desc, col("token")).limit(invIndexTopK)
      .agg(min(col("df")).as("thr"))
    val winners = dfCounts.join(broadcast(thr), col("df") >= col("thr")).drop("thr")
    val postings = perDoc
      .join(broadcast(winners.select(col("token"))), Seq("token"))
      .groupBy(col("token"))
      .agg(array_join(sort_array(collect_set(col("doc_id"))), ",").as("postings"))
    winners.join(postings, Seq("token"))
      .select(col("token"), col("df"), col("n_occurrences"), col("postings"))
      .orderBy(col("df").desc, col("token"))
      .limit(invIndexTopK) // Bench/Verify release the sketch frame at the query boundary
  }

  /** tf-idf top terms per document (q91): each document's most
    * characteristic tokens — high in-document frequency, low corpus
    * document frequency. The serving-side companion to q96's inverted
    * index (df comes from the same per-doc frame) and the
    * keyword-extraction pass a data-card or search snippet needs.
    *
    * Exact-integer linear-idf form, q90's discipline: idf is
    * `(n_docs * 1e6) div df` micro-units — monotone in the classical
    * `log(N/df)` (both strictly decrease in df), so per-document term
    * RANKINGS agree wherever log-idf produces a strict order, and the
    * integer form is bit-stable across engines where libm log is not.
    * The per-token idf is capped (q90's cap rationale: an ultra-rare
    * token against a 1e9-doc corpus would mint idf ~1e15 and a long
    * document could wrap the BIGINT product; with the cap, tf must
    * exceed 9.2e6 to overflow). Ties break on the token string, so
    * ranks are total and hash-deterministic.
    *
    * Scale shape: one explode into the (doc_id, token) tf agg
    * (map-side combine collapses repeats), df derived from that same
    * persisted frame (eager — two consumers), df joined back via
    * [[Skew.vocabLookupJoin]] (Adaptive default: broadcast while the
    * vocabulary fits, self-routed salted shuffle once a 100 TB
    * vocabulary outgrows it), and
    * the per-doc top-k is the row_number-then-filter shape that
    * [[graft.plans.RewriteRankLimitToTopK]] lowers to the bounded
    * heap — no corpus-wide sort, at most k rows per doc cross the
    * final exchange. */
  val tfidfTopK = 3
  val tfidfIdfScale = 1000000L
  val tfidfIdfCap = 1000000000000L // 10^12 micro-units, q90's bound

  val tfidfTerms: Q = (s, d) => tfidfOf(Tables.documents(s, d))

  def tfidfOf(docs: DataFrame,
              vocabJoin: Skew.VocabJoin = Skew.VocabJoin.Adaptive,
              vocabBroadcastMaxRows: Long = Skew.vocabBroadcastMaxRows)
      : DataFrame = {
    val base = docs.filter(col("text").isNotNull)
    // materialized (two-consumer rule): df agg + scoring
    val perDoc = Dedup.materializedSketch(
      base.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf")))
    val dfc = perDoc.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = base.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("weight_micro").desc, col("token"))
    Skew.vocabLookupJoin(perDoc, dfc, "token", col("doc_id"),
        vocabJoin, vocabBroadcastMaxRows)
      .crossJoin(broadcast(nDocs))
      .withColumn("weight_micro",
        col("tf") * least(expr(s"(n_docs * $tfidfIdfScale) div df"),
          lit(tfidfIdfCap)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= tfidfTopK)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
        col("df"), col("weight_micro"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Lexical-diversity audit (q97): per-source type-token ratio and
    * hapax-legomenon fraction — the corpus-linguistics data-card
    * companions to q73's length bands and q24's language rollup. A
    * source whose TTR collapses is template/boilerplate-heavy; a
    * source whose hapax fraction spikes is OCR-noise/typo-heavy —
    * both are routine triage signals before heavier dedup passes.
    *
    * Exact-integer micro-unit ratios (q90's discipline), so the
    * output is bit-stable across engines. Scale shape: one corpus
    * scan, (source, token) hash agg with map-side combine (token
    * strings cross the exchange once, q96's precedent — bounded by
    * vocabulary, not corpus), then a per-source rollup of counts. */
  /** q176 — COLLOCATION extraction: the corpus's most associated
    * adjacent word pairs by Dice coefficient with a support floor —
    * the phrase-mining primitive (multi-word expressions, domain
    * terms) next to q91's tf-idf (document-discriminative terms) and
    * q101's Markov transitions (event, not token, bigrams). Dice
    * (2·n_ab / (n_a + n_b)) is chosen over log-space PMI because it
    * ranks identically for fixed marginals and computes EXACTLY in
    * integer micro-units — no cross-engine float-log representation
    * hazard. Emitted as `dice_micro` via BIGINT `div` (q97's
    * convention); no overflow: 2·n_ab·10⁶ stays far under 2⁶³ for any
    * corpus whose bigram counts fit a BIGINT.
    *
    * Scale shape: bigrams form INSIDE each document row (transform
    * over the token array — no positional self-join), both count
    * passes are map-combined hash aggs onto vocabulary-bounded
    * domains, and the support floor runs BEFORE the unigram joins, so
    * the joined pair side is the (sublinear) surviving collocation
    * set — AQE broadcasts it against the vocabulary counts. The
    * DuckDB twin builds bigrams with list lambdas over the same
    * tokenization. */
  val collocations: Q = (s, d) => {
    val toks = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(tokens(col("text")).as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val pairs = toks.select(explode(expr(
        """filter(transform(toks, (t, i) -> named_struct('w1', t, 'w2', toks[i+1])),
          |       p -> p.w2 IS NOT NULL)""".stripMargin)).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 5)
    pairs
      .join(uni.select(col("w").as("w1"), col("n").as("n_w1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("n").as("n_w2")), Seq("w2"))
      .select(col("w1"), col("w2"), col("n_ab"), col("n_w1"), col("n_w2"),
        expr("(2 * n_ab * 1000000L) div (n_w1 + n_w2)").as("dice_micro"))
      .orderBy(col("dice_micro").desc, col("w1"), col("w2"))
      .limit(20)
  }

  val lexicalDiversity: Q = (s, d) => {
    val counts = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n"))
    counts.groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("n") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("(n_types * 1000000L) div n_tokens").as("ttr_micro"),
        expr("(n_hapax * 1000000L) div n_types").as("hapax_micro"))
      .orderBy(col("source"))
  }

  /** q210 — BM25 ranked retrieval OVER THE MAINTAINED INDEX: the
    * serving-side relevance query (decontamination triage, quote
    * search, eval-set retrieval audit) scored from
    * [[PostingsIndex]]'s persisted postings + stats stores — the
    * additive, retractable round-store discipline (q209's) applied to
    * retrieval state, closing VERDICT r12's weak mark. The steady
    * state reads the query terms' BUCKET PARTITIONS of the postings
    * store (driver-side literal bucket values → partition pruning,
    * then a pushed `term IN` filter), the O(1) stats rows, and the
    * un-indexed DELTA documents above the content-keyed watermark —
    * the ONLY tokenization in the plan (TextAnalysisSpec +
    * PostingsIndexSpec pin that every documents scan carries the
    * delta pushdown). At 100 TB: |terms| postings slices, a handful
    * of stats rows, a delta-sized tail, and a 20-row result — the
    * corpus is never re-read per query.
    *
    * The algebra is unchanged (the DuckDB twin still recomputes from
    * raw text): the published BM25
    * (idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), k1=1.2, b=0.75)
    * is transcendental in idf and rational in the rest; here idf is
    * q91's exact linear micro-idf (monotone in log(N/df) — rankings
    * agree wherever log-idf orders strictly; capped at q90's 10¹²
    * bound), and the rational part is cleared of its denominators
    * exactly: with k1=6/5, b=3/4, avgdl=T/N, multiplying through by
    * 10·T gives term score = idf_micro · 22·tf·T / (10·T·tf + 3·T +
    * 9·dl·N) — all integers, one integral division per term, products
    * widened to DECIMAL(38,0) (HUGEINT in the twin; headroom: idf ≤
    * 10¹², 22·tf·T ≤ ~2e18 at 10¹³ corpus tokens ⇒ products ≤ ~2e30,
    * far under 10³⁸). Ties break on doc_id, so the top-k is total and
    * hash-deterministic. */
  val bm25TopK = 20
  val bm25K1Num = 22L  // tf·(k1+1)·10·T  with k1 = 6/5  ⇒ 22·tf·T
  val bm25Terms: Seq[String] = Seq("spark", "window", "dup")

  val bm25Search: Q = (s, d) => bm25Of(s, d, bm25Terms)

  /** Per-doc (dl, tf_i…) frame for a term list: in-row folds over one
    * tokenization, persisted (two consumers: stats + scoring). Part of
    * the SCAN spelling ([[bm25ScanOf]]) — the one-shot batch job the
    * parity specs cross-check the index against. */
  private def bm25PerDoc(docs: DataFrame, terms: Seq[String]): DataFrame =
    Dedup.materializedSketch(
      docs.filter(col("text").isNotNull)
        .withColumn("toks", tokens(col("text")))
        .select((col("doc_id") +: size(col("toks")).as("dl") +:
          terms.indices.map(i => size(filter(col("toks"),
            x => x === lit(terms(i)))).cast(LongType).as(s"tf$i"))).toIndexedSeq: _*))

  /** Corpus statistics (N, T, df per term): one broadcastable row. */
  private def bm25Stats(perDoc: DataFrame, terms: Seq[String]): DataFrame = {
    val statCols = sum(col("dl")).as("total_toks") +:
      terms.indices.map(i => sum(when(col(s"tf$i") > 0L, 1L).otherwise(0L))
        .as(s"df$i"))
    perDoc.agg(count(lit(1)).as("n_docs"), statCols.toIndexedSeq: _*)
  }

  /** One term's exact-integer BM25 contribution:
    * idf_micro · 22·tf·T div (10·T·tf + 3·T + 9·dl·N), DECIMAL(38,0). */
  private def bm25TermScore(i: Int): Column =
    when(col(s"tf$i") > 0L, expr(
      s"""cast(least((n_docs * $tfidfIdfScale) div df$i, $tfidfIdfCap)
         |     as decimal(38,0)) * ($bm25K1Num * tf$i) * total_toks
         |  div (cast(10 as decimal(38,0)) * total_toks * tf$i
         |       + 3 * total_toks + 9 * dl * n_docs)""".stripMargin))
      .otherwise(0L)

  /** The scoring tail shared by the index and scan spellings: per-doc
    * (dl, tf_i…) rows × one broadcast (N, T, df_i…) row → exact-integer
    * scores, deterministic top-k. */
  private[ops] def bm25ScoreTail(perDoc: DataFrame, statsRow: DataFrame,
                                 nTermsIdx: Seq[Int]): DataFrame = {
    val termScore = nTermsIdx.map(bm25TermScore).reduce(_ + _)
    val nTerms = nTermsIdx.map(i =>
      when(col(s"tf$i") > 0L, 1).otherwise(0)).reduce(_ + _)
    perDoc.crossJoin(broadcast(statsRow))
      .withColumn("n_terms", nTerms.cast(IntegerType))
      .filter(col("n_terms") > 0)
      .withColumn("score_micro", termScore.cast(LongType))
      .select(col("doc_id"), col("n_terms"), col("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(bm25TopK)
  }

  /** Index-served BM25 (see the q210 doc above). */
  def bm25Of(s: SparkSession, d: String, terms: Seq[String]): DataFrame = {
    val (perDoc, statsRow) = PostingsIndex.perDocForTerms(s, d, terms)
    bm25ScoreTail(perDoc, statsRow, terms.indices)
  }

  /** The SCAN spelling: one exact-integer pass re-tokenizing `docs` —
    * the one-shot batch job (and the independent cross-check the
    * parity specs run against the index-served path; same algebra,
    * so the two must agree bit for bit). */
  private[ops] def bm25ScanOf(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    val perDoc = bm25PerDoc(docs, terms)
    bm25ScoreTail(perDoc, bm25Stats(perDoc, terms), terms.indices)
  }

  /** q213 — BATCH retrieval over the maintained index: a whole query
    * set (the eval-suite / decontamination-triage shape: hundreds of
    * probes at once) scored with a per-query top-k, reading NO corpus
    * at all in the steady state — the per-doc tf frame for the
    * DISTINCT term union comes from the postings store's pruned bucket
    * partitions (+ the delta tail), shared across every query of the
    * batch; each candidate document then fans out |queries| scored
    * rows in-row (explode of a query-literal struct array — fan-out
    * bounded by the query set, never a shuffle), and the per-query
    * top-k is the row_number-then-filter shape
    * [[graft.plans.RewriteRankLimitToTopK]] lowers to the bounded
    * heap: at most k rows per query cross the final exchange,
    * regardless of corpus size. Same exact-integer algebra as q210,
    * so the DuckDB twin replays every query as a UNION ALL of the
    * q210 full-recompute form. */
  val bm25Queries: Seq[(String, Seq[String])] = Seq(
    "eval_spark"  -> Seq("spark", "join", "stream"),
    "eval_window" -> Seq("window", "sort", "merge"),
    "eval_dup"    -> Seq("dup", "batch", "hash"))
  val bm25BatchK = 5

  val bm25Batch: Q = (s, d) => bm25BatchOf(s, d, bm25Queries)

  /** Index-served batch BM25 (see the q213 doc above): the per-doc tf
    * frame for the DISTINCT term union comes from the pruned postings
    * store + delta, everything downstream is unchanged. */
  def bm25BatchOf(s: SparkSession, d: String,
                  queries: Seq[(String, Seq[String])]): DataFrame = {
    require(queries.nonEmpty, "batch BM25 needs at least one query")
    val terms = queries.flatMap(_._2).distinct
    val (perDoc, statsRow) = PostingsIndex.perDocForTerms(s, d, terms)
    bm25BatchTail(perDoc, statsRow, terms, queries)
  }

  /** The batch SCAN spelling — one corpus pass; the parity cross-check
    * for the index-served path. */
  private[ops] def bm25BatchScanOf(docs: DataFrame,
                                   queries: Seq[(String, Seq[String])]): DataFrame = {
    require(queries.nonEmpty, "batch BM25 needs at least one query")
    val terms = queries.flatMap(_._2).distinct
    val perDoc = bm25PerDoc(docs, terms)
    bm25BatchTail(perDoc, bm25Stats(perDoc, terms), terms, queries)
  }

  private def bm25BatchTail(perDoc: DataFrame, statsRow: DataFrame,
                            terms: Seq[String],
                            queries: Seq[(String, Seq[String])]): DataFrame = {
    val idx = terms.zipWithIndex.toMap
    val perQuery = queries.map { case (qid, qTerms) =>
      val ti = qTerms.map(idx)
      val score = ti.map(bm25TermScore).reduce(_ + _).cast(LongType)
      val nTerms = ti.map(i =>
        when(col(s"tf$i") > 0L, 1).otherwise(0)).reduce(_ + _).cast(IntegerType)
      struct(lit(qid).as("query_id"), nTerms.as("n_terms"),
        score.as("score_micro"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    perDoc.crossJoin(broadcast(statsRow))
      .select(col("doc_id"), explode(array(perQuery.toIndexedSeq: _*)).as("q"))
      .select(col("doc_id"), col("q.query_id").as("query_id"),
        col("q.n_terms").as("n_terms"), col("q.score_micro").as("score_micro"))
      .filter(col("n_terms") > 0)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= bm25BatchK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_terms"), col("score_micro"))
      .orderBy(col("query_id"), col("rank"))
  }

  val queries: Map[String, Q] = Map(
    "q210_bm25_search" -> bm25Search,
    "q213_bm25_batch" -> bm25Batch,
    "q141_source_token_drift" -> sourceTokenDrift,
    "q142_vocab_coverage" -> vocabCoverage,
    "q150_token_gini" -> tokenGini,
    "q97_lexical_diversity" -> lexicalDiversity,
    "q176_collocations" -> collocations,
    "q91_tfidf_terms" -> tfidfTerms,
    "q96_inverted_index" -> invertedIndex,
    "q86_sentence_dup_fraction" -> sentenceDupFraction,
    "q82_duplicated_passages" -> duplicatedPassages,
    "q81_dupgram_fraction" -> dupgramFraction,
    "q79_cms_heavy_hitters" -> cmsHeavyHitters,
    "q73_length_histogram" -> lengthHistogram,
    "q20_token_stats" -> tokenStats,
    "q60_vocab_topk" -> vocabTopK,
    "q62_repetition_scores" -> repetitionScores,
    "q63_rarity_scores" -> rarityScores,
    "q21_quality_score" -> qualityScore,
    "q22_lang_id" -> langId,
    "q23_fingerprint" -> fingerprint,
    "q24_lang_stats" -> langStats,
  )

  private[ops] def sqlToks(x: String) = s"string_split_regex(lower(trim($x)), '\\s+')"
  private[ops] def sqlStops(l: String): String = {
    val ws = stopwords.toMap.apply(l).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(${sqlToks("text")}, t -> t IN ($ws)))"
  }

  /** The q210 twin's per-term pieces, generated from the same term
    * list the Spark side scores — identical exact-integer algebra in
    * HUGEINT (products) and `//` (integral division). Parameterized
    * over the corpus source (q221 scores the REDACTED corpus through
    * the identical algebra) via `extraCtes` (prefix CTEs the source
    * may reference) and `docsFrom` (the FROM..WHERE clause yielding
    * (doc_id, text) rows). */
  private[ops] def bm25TwinFor(terms: Seq[String], extraCtes: String = "",
                               docsFrom: String = "documents WHERE text IS NOT NULL"): String = {
    val ti = terms.indices
    val tfCols = ti.map(i =>
      s"len(list_filter(toks, t -> t = '${terms(i)}')) AS tf$i").mkString(",\n         |    ")
    val dfCols = ti.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(",\n         |    ")
    val scores = ti.map(i =>
      s"""CASE WHEN tf$i > 0 THEN
         |      CAST(least((n_docs * $tfidfIdfScale) // df$i, $tfidfIdfCap) AS HUGEINT)
         |        * ($bm25K1Num * tf$i) * total_toks
         |        // (CAST(10 AS HUGEINT) * total_toks * tf$i
         |            + 3 * total_toks + 9 * dl * n_docs)
         |      ELSE 0 END""".stripMargin).mkString(" +\n      ")
    val nTerms = ti.map(i => s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $extraCtes pd AS (
       |  SELECT doc_id, len(toks) AS dl,
       |    $tfCols
       |  FROM (SELECT doc_id, ${sqlToks("text")} AS toks
       |        FROM $docsFrom)),
       |st AS (
       |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_toks,
       |    $dfCols
       |  FROM pd)
       |SELECT doc_id, CAST($nTerms AS INTEGER) AS n_terms,
       |  CAST($scores AS BIGINT) AS score_micro
       |FROM pd, st
       |WHERE $nTerms > 0
       |ORDER BY score_micro DESC, doc_id LIMIT $bm25TopK""".stripMargin
  }

  private def bm25Twin: String = bm25TwinFor(bm25Terms)

  /** The q213 twin: every query of the batch replayed as the q210 SQL
    * form over the shared distinct-term tf frame, UNION ALL'd — the
    * "run the naive |queries|-pass plan" cross-check of the one-scan
    * fan-out. */
  private def bm25BatchTwin: String = {
    val terms = bm25Queries.flatMap(_._2).distinct
    val idx = terms.zipWithIndex.toMap
    val tfCols = terms.indices.map(i =>
      s"len(list_filter(toks, t -> t = '${terms(i)}')) AS tf$i").mkString(",\n       |    ")
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(",\n       |    ")
    def scoreOf(ti: Seq[Int]) = ti.map(i =>
      s"""CASE WHEN tf$i > 0 THEN
         |      CAST(least((n_docs * $tfidfIdfScale) // df$i, $tfidfIdfCap) AS HUGEINT)
         |        * ($bm25K1Num * tf$i) * total_toks
         |        // (CAST(10 AS HUGEINT) * total_toks * tf$i
         |            + 3 * total_toks + 9 * dl * n_docs)
         |      ELSE 0 END""".stripMargin).mkString(" +\n      ")
    def nTermsOf(ti: Seq[Int]) =
      ti.map(i => s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    val arms = bm25Queries.map { case (qid, qTerms) =>
      val ti = qTerms.map(idx)
      s"""SELECT query_id, CAST(rnk AS INTEGER) AS rank, doc_id, n_terms, score_micro
         |FROM (
         |  SELECT '$qid' AS query_id, doc_id,
         |    CAST(${nTermsOf(ti)} AS INTEGER) AS n_terms,
         |    CAST(${scoreOf(ti)} AS BIGINT) AS score_micro,
         |    row_number() OVER (
         |      ORDER BY CAST(${scoreOf(ti)} AS BIGINT) DESC, doc_id) AS rnk
         |  FROM pd, st
         |  WHERE ${nTermsOf(ti)} > 0
         |) WHERE rnk <= $bm25BatchK""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH pd AS (
       |  SELECT doc_id, len(toks) AS dl,
       |    $tfCols
       |  FROM (SELECT doc_id, ${sqlToks("text")} AS toks
       |        FROM documents WHERE text IS NOT NULL)),
       |st AS (
       |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_toks,
       |    $dfCols
       |  FROM pd)
       |$arms
       |ORDER BY query_id, rank""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q210_bm25_search" -> bm25Twin,
    "q213_bm25_batch" -> bm25BatchTwin,
    // bigrams via list lambdas over the shared tokenization; Dice in
    // BIGINT micro-units with integer division on both engines
    "q176_collocations" ->
      s"""WITH tok AS (
         |  SELECT ${sqlToks("text")} AS toks
         |  FROM documents WHERE text IS NOT NULL
         |), big AS (
         |  SELECT unnest(list_filter(
         |    list_transform(toks, (t, i) -> {'w1': t, 'w2': toks[i+1]}),
         |    p -> p.w2 IS NOT NULL)) AS p
         |  FROM tok
         |), pairs AS (
         |  SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n_ab
         |  FROM big GROUP BY 1, 2 HAVING count(*) >= 5
         |), uni AS (
         |  SELECT w, count(*) AS n
         |  FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY w
         |)
         |SELECT w1, w2, n_ab, a.n AS n_w1, b.n AS n_w2,
         |  (2 * n_ab * 1000000) // (a.n + b.n) AS dice_micro
         |FROM pairs JOIN uni a ON w1 = a.w JOIN uni b ON w2 = b.w
         |ORDER BY dice_micro DESC, w1, w2 LIMIT 20""".stripMargin,
    // DuckDB sum(BIGINT) widens to HUGEINT, hence the casts
    "q97_lexical_diversity" ->
      s"""WITH tok AS (
         |  SELECT source, unnest(${sqlToks("text")}) AS token
         |  FROM documents WHERE text IS NOT NULL
         |), c AS (
         |  SELECT source, token, count(*) AS n FROM tok GROUP BY source, token
         |)
         |SELECT source,
         |  CAST(sum(n) AS BIGINT) AS n_tokens,
         |  count(*) AS n_types,
         |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         |  (count(*) * 1000000) // CAST(sum(n) AS BIGINT) AS ttr_micro,
         |  (CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
         |    // count(*) AS hapax_micro
         |FROM c GROUP BY source ORDER BY source""".stripMargin,
    // integer linear-idf mirrored term-for-term; DuckDB row_number is
    // BIGINT vs Spark's INT, hence the cast
    "q91_tfidf_terms" ->
      s"""WITH pd AS (
         |  SELECT doc_id, token, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(${sqlToks("text")}) AS token
         |    FROM documents WHERE text IS NOT NULL
         |  ) GROUP BY doc_id, token
         |), dfc AS (
         |  SELECT token, count(*) AS df FROM pd GROUP BY token
         |), n AS (
         |  SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL
         |), scored AS (
         |  SELECT pd.doc_id, pd.token, pd.tf, dfc.df,
         |    pd.tf * least((n.n_docs * $tfidfIdfScale) // dfc.df, $tfidfIdfCap)
         |      AS weight_micro
         |  FROM pd JOIN dfc USING (token) CROSS JOIN n
         |)
         |SELECT doc_id, CAST(rnk AS INTEGER) AS rank, token, tf, df, weight_micro
         |FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY weight_micro DESC, token) AS rnk
         |  FROM scored
         |)
         |WHERE rnk <= $tfidfTopK
         |ORDER BY doc_id, rank""".stripMargin,
    "q96_inverted_index" ->
      s"""WITH pd AS (
         |  SELECT token, doc_id, count(*) AS n_occ FROM (
         |    SELECT doc_id, unnest(${sqlToks("text")}) AS token
         |    FROM documents WHERE text IS NOT NULL
         |  ) GROUP BY token, doc_id
         |), dfc AS (
         |  SELECT token, count(*) AS df,
         |    CAST(sum(n_occ) AS BIGINT) AS n_occurrences
         |  FROM pd GROUP BY token
         |)
         |SELECT d.token, d.df, d.n_occurrences,
         |  (SELECT string_agg(CAST(p.doc_id AS VARCHAR), ',' ORDER BY p.doc_id)
         |   FROM pd p WHERE p.token = d.token) AS postings
         |FROM dfc d
         |ORDER BY d.df DESC, d.token LIMIT $invIndexTopK""".stripMargin,
    // string 4-grams on the oracle side vs hashed on the Spark side:
    // only the per-row occurrence/distinct COUNTS are compared, equal
    // modulo the standing 2^-64 xxhash64 collision approximation
    // sentence strings on the oracle side vs hashes on the Spark side
    "q86_sentence_dup_fraction" ->
      s"""WITH s AS (
         |  SELECT doc_id, trim(s) AS sent
         |  FROM (
         |    SELECT doc_id, unnest(string_split_regex(text, '\\.\\s+')) AS s
         |    FROM documents WHERE text IS NOT NULL
         |  )
         |  WHERE length(trim(s)) >= 20
         |), freq AS (
         |  SELECT sent, count(DISTINCT doc_id) AS n_docs FROM s GROUP BY sent
         |)
         |SELECT s.doc_id,
         |  count(*) AS n_sentences,
         |  CAST(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_sentences,
         |  CAST(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS dup_frac,
         |  (CAST(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) < 0.5) AS keep
         |FROM s JOIN freq f USING (sent)
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    // string 8-grams on the oracle side vs hashed on the Spark side,
    // q36's convention: identical equality structure modulo 2^-64
    // collisions; ties in the top-k break on the gram string
    "q82_duplicated_passages" ->
      s"""WITH g AS (
         |  SELECT doc_id,
         |    unnest([array_to_string(list_slice(toks, i, i + 7), ' ')
         |      FOR i IN range(1, greatest(len(toks) - 7, 0) + 1)]) AS gram
         |  FROM (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents
         |        WHERE text IS NOT NULL)
         |), freq AS (
         |  SELECT gram, count(DISTINCT doc_id) AS n_docs,
         |    count(*) AS n_occurrences
         |  FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
         |)
         |SELECT gram, n_docs, n_occurrences FROM freq
         |ORDER BY n_docs DESC, n_occurrences DESC, gram LIMIT 20""".stripMargin,
    "q81_dupgram_fraction" ->
      s"""SELECT doc_id,
         |  CAST(len(g) AS INTEGER) AS n_grams,
         |  CAST(len(list_distinct(g)) AS INTEGER) AS n_distinct,
         |  CAST(len(g) - len(list_distinct(g)) AS DOUBLE) / len(g) AS dup_frac,
         |  (len(g) < 8 OR
         |   CAST(len(g) - len(list_distinct(g)) AS DOUBLE) / len(g) < 0.3) AS keep
         |FROM (
         |  SELECT doc_id,
         |    [array_to_string(list_slice(toks, i, i + 3), ' ')
         |      FOR i IN range(1, greatest(len(toks) - 3, 1) + 1)] AS g
         |  FROM (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents)
         |)
         |ORDER BY doc_id""".stripMargin,
    "q73_length_histogram" ->
      s"""SELECT source,
         |  CASE WHEN n < 16 THEN '000-015' WHEN n < 32 THEN '016-031'
         |       WHEN n < 64 THEN '032-063' WHEN n < 128 THEN '064-127'
         |       WHEN n < 256 THEN '128-255' ELSE '256+' END AS len_bucket,
         |  count(*) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS sum_tokens
         |FROM (SELECT source, len(${sqlToks("text")}) AS n FROM documents)
         |GROUP BY source, len_bucket
         |ORDER BY source, len_bucket""".stripMargin,
    "q20_token_stats" ->
      s"""SELECT doc_id, lang,
         |  CAST(length(text) AS INTEGER) AS n_chars,
         |  CAST(len(${sqlToks("text")}) AS INTEGER) AS n_tokens,
         |  CAST(len(list_distinct(${sqlToks("text")})) AS INTEGER) AS n_distinct_tokens,
         |  CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+')) AS INTEGER) AS n_bpe_tokens,
         |  CAST(len(list_distinct(${sqlToks("text")})) AS DOUBLE) / len(${sqlToks("text")}) AS type_token_ratio
         |FROM documents""".stripMargin,
    "q21_quality_score" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS INTEGER) AS n_chars,
         |  CAST(len(${sqlToks("text")}) AS INTEGER) AS n_tokens,
         |  CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS INTEGER) AS n_punct,
         |  CAST(${sqlStops("en")} AS INTEGER) AS n_stopwords,
         |  CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
         |  CAST(${sqlStops("en")} AS DOUBLE) / len(${sqlToks("text")}) AS stopword_ratio,
         |  CAST(length(text) - (len(${sqlToks("text")}) - 1) AS DOUBLE) / len(${sqlToks("text")}) AS mean_token_len,
         |  (len(${sqlToks("text")}) >= 5
         |    AND (CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE) / length(text)) < 0.2
         |    AND (CAST(${sqlStops("en")} AS DOUBLE) / len(${sqlToks("text")})) > 0.0) AS keep
         |FROM documents""".stripMargin,
    "q22_lang_id" ->
      s"""SELECT doc_id, lang AS lang_actual,
         |  CAST(${sqlStops("en")} AS INTEGER) AS s_en,
         |  CAST(${sqlStops("de")} AS INTEGER) AS s_de,
         |  CAST(${sqlStops("es")} AS INTEGER) AS s_es,
         |  CAST(${sqlStops("fr")} AS INTEGER) AS s_fr,
         |  CASE
         |    WHEN ${sqlStops("en")} >= greatest(${sqlStops("de")}, ${sqlStops("es")}, ${sqlStops("fr")}) THEN 'en'
         |    WHEN ${sqlStops("de")} >= greatest(${sqlStops("es")}, ${sqlStops("fr")}) THEN 'de'
         |    WHEN ${sqlStops("es")} >= ${sqlStops("fr")} THEN 'es'
         |    ELSE 'fr'
         |  END AS lang_pred
         |FROM documents""".stripMargin,
    "q23_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(array_to_string(list_slice(${sqlToks("text")}, 1, 8), ' ')) AS prefix_fp,
         |  md5(text) AS full_fp
         |FROM documents""".stripMargin,
    "q62_repetition_scores" ->
      s"""WITH bg AS (
         |  SELECT doc_id,
         |    unnest([array_to_string(list_slice(toks, i, i + 1), ' ')
         |      FOR i IN range(1, greatest(len(toks) - 1, 1) + 1)]) AS bg
         |  FROM (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents)
         |), c AS (
         |  SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY doc_id, bg
         |)
         |SELECT doc_id,
         |  CAST(sum(n) AS BIGINT) AS n_bigrams,
         |  CAST(max(n) AS BIGINT) AS top_n,
         |  CAST(max(n) AS DOUBLE) / sum(n) AS top_bigram_frac,
         |  (sum(n) < 8 OR CAST(max(n) AS DOUBLE) / sum(n) < 0.2) AS keep
         |FROM c GROUP BY doc_id""".stripMargin,
    "q141_source_token_drift" ->
      s"""WITH cnt AS (
         |  SELECT source, token, count(*) AS n_st FROM (
         |    SELECT source, unnest(${sqlToks("text")}) AS token FROM documents)
         |  GROUP BY 1, 2
         |), tok AS (
         |  SELECT token, sum(n_st) AS n_tok FROM cnt GROUP BY token
         |), src AS (
         |  SELECT source, sum(n_st) AS tot_src FROM cnt GROUP BY source
         |), tot AS (
         |  SELECT sum(n_tok) AS tot_corpus FROM tok
         |), top AS (
         |  SELECT token, n_tok FROM tok ORDER BY n_tok DESC, token LIMIT 100
         |), terms AS (
         |  SELECT s.source, s.tot_src, tot.tot_corpus,
         |    abs(CAST(coalesce(c.n_st, 0) AS HUGEINT) * tot.tot_corpus
         |        - CAST(t.n_tok AS HUGEINT) * s.tot_src) AS term
         |  FROM src s CROSS JOIN top t
         |  LEFT JOIN cnt c ON c.source = s.source AND c.token = t.token
         |  CROSS JOIN tot
         |)
         |SELECT source, CAST(max(tot_src) AS BIGINT) AS n_tokens,
         |  CAST((1000000 * sum(term))
         |    // (CAST(max(tot_src) AS HUGEINT) * max(tot_corpus)) AS BIGINT) AS tv_ppm,
         |  CAST(max(1000000 * term
         |    // (CAST(tot_src AS HUGEINT) * tot_corpus)) AS BIGINT) AS max_term_ppm
         |FROM terms GROUP BY source ORDER BY source""".stripMargin,
    "q150_token_gini" ->
      s"""WITH counts AS (
         |  SELECT source,
         |    greatest(len(${sqlToks("text")}), 0) AS x
         |  FROM documents
         |), hist AS (
         |  SELECT source, x, count(*) AS c FROM counts GROUP BY 1, 2
         |), cum AS (
         |  SELECT *, sum(c) OVER (PARTITION BY source ORDER BY x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
         |  FROM hist
         |), agg AS (
         |  SELECT source,
         |    CAST(max(cumc) AS BIGINT) AS n_docs,
         |    CAST(sum(x * c) AS BIGINT) AS total_tokens,
         |    sum(CAST(x AS HUGEINT) * (CAST(cumc - c AS HUGEINT) * c
         |        + (CAST(c AS HUGEINT) * (c + 1)) // 2)) AS s2_h
         |  FROM cum GROUP BY source
         |)
         |SELECT source, n_docs, total_tokens,
         |  CAST((1000000 * (2 * s2_h - CAST(n_docs + 1 AS HUGEINT) * total_tokens))
         |    // (CAST(n_docs AS HUGEINT) * total_tokens) AS BIGINT) AS gini_ppm
         |FROM agg ORDER BY source""".stripMargin,
    "q142_vocab_coverage" ->
      s"""WITH cnt AS (
         |  SELECT token, count(*) AS n_occ FROM (
         |    SELECT unnest(${sqlToks("text")}) AS token FROM documents)
         |  GROUP BY token
         |), ranked AS (
         |  SELECT n_occ, row_number() OVER (ORDER BY n_occ DESC, token) AS rank
         |  FROM cnt
         |), agg AS (
         |  SELECT CAST(sum(n_occ) AS BIGINT) AS total_occ, count(*) AS n_types,
         |    CAST(sum(CASE WHEN rank <= 5 THEN n_occ ELSE 0 END) AS BIGINT) AS c5,
         |    CAST(sum(CASE WHEN rank <= 10 THEN n_occ ELSE 0 END) AS BIGINT) AS c10,
         |    CAST(sum(CASE WHEN rank <= 20 THEN n_occ ELSE 0 END) AS BIGINT) AS c20
         |  FROM ranked
         |), rows_k AS (
         |  SELECT 5 AS vocab_k, c5 AS occ_covered, total_occ, n_types FROM agg
         |  UNION ALL
         |  SELECT 10, c10, total_occ, n_types FROM agg
         |  UNION ALL
         |  SELECT 20, c20, total_occ, n_types FROM agg
         |)
         |SELECT vocab_k, occ_covered, total_occ,
         |  least(CAST(vocab_k AS BIGINT), n_types) AS n_types_covered,
         |  1000000 * occ_covered // total_occ AS coverage_ppm
         |FROM rows_k ORDER BY vocab_k""".stripMargin,
    "q60_vocab_topk" ->
      s"""SELECT token, count(*) AS n_occurrences,
         |  count(DISTINCT doc_id) AS n_docs
         |FROM (
         |  SELECT doc_id, unnest(${sqlToks("text")}) AS token FROM documents
         |)
         |GROUP BY token
         |ORDER BY n_occurrences DESC, token
         |LIMIT 100""".stripMargin,
    "q24_lang_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
         |  ${Qx.sqlDavg("length(text)", rescale = 0)} AS avg_chars,
         |  ${Qx.sqlDavg(s"len(${sqlToks("text")})", rescale = 0)} AS avg_tokens,
         |  count(DISTINCT source) AS n_sources
         |FROM documents GROUP BY lang""".stripMargin,
    "q63_rarity_scores" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${sqlToks("text")}) AS token FROM documents
         |), counts AS (
         |  SELECT token, count(*) AS n_tok FROM toks GROUP BY token
         |), total AS (
         |  SELECT sum(n_tok) AS n_total FROM counts
         |)
         |SELECT t.doc_id, count(*) AS n_tokens,
         |  CAST(sum(c.n_tok) AS DOUBLE) / (count(*) * (SELECT n_total FROM total)) AS mean_corpus_freq
         |FROM toks t JOIN counts c USING (token)
         |GROUP BY t.doc_id""".stripMargin,
  )
}
