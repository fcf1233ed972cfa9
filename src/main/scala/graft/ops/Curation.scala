package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus curation: the end-to-end keep/drop decision a training-data
  * pipeline derives from the component operators — exact dedup
  * (md5 keeper), near-dup dedup (blocked n-gram Jaccard pairs closed
  * into connected-component keepers), quality gating, and language ID
  * — composed into ONE auditable per-document verdict with the first
  * failing rule as the drop reason. This is the query a user actually
  * runs over 100 TB before tokenization; everything upstream of it in
  * this package exists to feed it.
  *
  * Precedence (cheapest-to-run first, so the reason reflects the
  * earliest gate that would have dropped the doc): exact_dup >
  * near_dup > low_quality > kept.
  *
  * Scale posture: one hash aggregation (exact), the propagation loop
  * over id-only edges (near — see [[Dedup.dupKeepers]]), two
  * codegen'd projections (quality, lang), then id-only joins. The
  * oracle twin replays the whole composition in DuckDB, recursive
  * closure included, so the verdict column itself is hash-checked —
  * not just its ingredients. */
object Curation extends graft.QueryModule {

  val corpusFilter: Q = (s, d) => {
    // ONE projection computes the content hash, quality gate, and
    // language prediction (all pure column expressions over the same
    // scan — separate derived frames would each re-scan documents and
    // add a join); only the exact-keeper aggregation and the near-dup
    // closure need their own dataflows.
    val base = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"),
        TextAnalysis.qualityKeepColumn(col("text")).as("quality_keep"),
        TextAnalysis.langPredColumn(col("text")).as("lang_pred"))
    val exactKeeper = base.groupBy(col("h")).agg(min("doc_id").as("exact_keeper"))
      .withColumnRenamed("h", "hk")
    val nearKeeper = Dedup.ngramKeeperStore(s, d)
      .withColumnRenamed("keeper", "near_keeper")
    base
      // null-safe on the hash: md5(NULL text) is NULL, and DuckDB's
      // window twin groups NULL keys together — a plain equi-join
      // would silently drop null-text docs and break row parity
      .join(exactKeeper, col("h") <=> col("hk"))
      .drop("hk")
      .join(nearKeeper, Seq("doc_id"))
      .withColumn("verdict",
        when(col("doc_id") =!= col("exact_keeper"), "exact_dup")
          .when(col("doc_id") =!= col("near_keeper"), "near_dup")
          .when(!col("quality_keep"), "low_quality")
          .otherwise("kept"))
      .withColumn("keep", col("verdict") === "kept")
      .select(col("doc_id"), col("lang_pred"), col("exact_keeper"),
        col("near_keeper"), col("keep"), col("verdict"))
      .orderBy(col("doc_id"))
  }

  /** Rollup of the same decision: corpus survival accounting by
    * verdict and predicted language — the number a pipeline owner
    * watches per ingestion round. */
  val corpusFilterStats: Q = (s, d) =>
    corpusFilter(s, d)
      .groupBy(col("verdict"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("verdict"), col("lang_pred"))

  /** PII pattern set, restricted to the lookahead-free regex subset
    * Java and RE2/DuckDB agree on. Email first, then phone: the
    * phone pattern could otherwise eat digits inside an address. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\+[0-9][0-9()\\- ]{7,}[0-9]"

  /** PII scrubbing (q58): redact emails and phone numbers, counting
    * what was removed — the privacy pass every shipped corpus runs.
    * The fixture corpus carries no PII, so a deterministic fake
    * contact line is planted on every 10th document INSIDE the query
    * (same expression on both engines) — the oracle then checks that
    * redaction actually fired, not just that a no-op hashed equal.
    * Pure per-row expressions: pipelines with the scan, no shuffle.
    * Output carries md5(scrubbed) rather than the scrubbed text to
    * keep the comparison row small. */
  val piiScrub: Q = (s, d) => {
    // coalesce before planting: Spark's concat is NULL if ANY argument
    // is NULL while DuckDB's concat skips NULLs, so planting onto a
    // null-text doc would diverge between the engines. The corpus
    // contract admits null text (corpusFilter handles it above), so
    // both sides plant onto the empty string instead.
    val planted = when(col("doc_id") % 10 === 0,
      concat(coalesce(col("text"), lit("")),
        lit(" contact me at user"), col("doc_id"), lit("@example.com or +1 (555) 010-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(col("text"))
    val scrubbed = regexp_replace(
      regexp_replace(planted, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")
    // size() alone would return -1 on NULL input (Spark's legacy
    // sizeOfNull default) where DuckDB's len() returns NULL — guard so
    // a non-planted null-text doc is NULL on both engines.
    def nMatches(pat: String) = when(planted.isNotNull,
      size(regexp_extract_all(planted, lit(pat), lit(0))))
    Tables.documents(s, d)
      .select(col("doc_id"),
        nMatches(emailPattern).as("n_emails"),
        nMatches(phonePattern).as("n_phones"),
        md5(scrubbed).as("scrubbed_md5"),
        (md5(scrubbed) =!= md5(planted)).as("was_redacted"))
      .orderBy(col("doc_id"))
  }

  /** Linear quality-model weights (milli-units so every sum stays in
    * exact integer arithmetic): fluent-prose function words score
    * positive, boilerplate/spam markers negative — the shape of a
    * fastText/CCNet-style document-quality classifier with the
    * learned weights replaced by a small checked-in table. The values
    * are illustrative; the OPERATOR is the point: per-document
    * `bias + sum(w(token))` over a broadcast-sized model. */
  val modelWeights: Seq[(String, Long)] = Seq(
    "the" -> 40L, "and" -> 35L, "of" -> 30L, "to" -> 25L, "is" -> 25L,
    "a" -> 20L, "in" -> 20L, "that" -> 20L, "it" -> 15L, "was" -> 15L,
    "for" -> 15L, "with" -> 15L, "on" -> 10L, "as" -> 10L, "are" -> 10L,
    "click" -> -80L, "subscribe" -> -80L, "buy" -> -100L, "free" -> -90L,
    "winner" -> -100L, "cheap" -> -70L, "offer" -> -60L, "deal" -> -50L,
    "www" -> -40L, "http" -> -40L)
  val modelBias = -50L

  /** Model-based quality scoring (q66): the classifier pass a
    * curation pipeline runs AFTER the cheap q21 heuristics — score
    * every document against a (tiny, broadcastable) linear model over
    * token features and gate on the sign.
    *
    * Engine shape: the model is a LITERAL map and the score a per-row
    * `aggregate(transform(tokens, ...))` fold — zero shuffle, zero
    * joins, pipelines with the scan; at 100 TB this is the difference
    * between a free column and an explode of ~10^13 token rows. The
    * DuckDB twin deliberately uses the OTHER algorithm (unnest +
    * relational join against a VALUES table + re-aggregate), so the
    * hash check is cross-algorithm evidence, like q44/q45.
    * Multiplicity counts: a token contributes once per occurrence on
    * both paths. Null-text docs yield NULL score/keep on both engines
    * (Spark's fold over a NULL array is NULL; the twin pins it with a
    * CASE). */
  val qualityModel: Q = (s, d) => qualityModelOf(Tables.documents(s, d))

  /** The model score as a reusable per-row column (NULL for NULL
    * text): `bias + sum(w(token))` folded over the token array. */
  def scoreMilliColumn: org.apache.spark.sql.Column = {
    val wMap = map(modelWeights.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    aggregate(TextAnalysis.tokens(col("text")), lit(modelBias),
      (acc, t) => acc + coalesce(element_at(wMap, t), lit(0L)))
  }

  def qualityModelOf(docs: DataFrame): DataFrame = {
    val wMap = map(modelWeights.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val toks = TextAnalysis.tokens(col("text"))
    val scoreMilli = scoreMilliColumn
    val nHits = when(col("text").isNotNull,
      size(filter(toks, t => element_at(wMap, t).isNotNull)))
    docs.select(
        col("doc_id"),
        nHits.as("n_hits"),
        scoreMilli.as("score_milli"),
        (scoreMilli.cast(org.apache.spark.sql.types.DoubleType) / size(toks))
          .as("score_per_token"),
        (scoreMilli > 0L).as("model_keep"))
      .orderBy(col("doc_id"))
  }

  /** Per-source distribution of the model score (q66b): the numbers a
    * pipeline owner reads to set the q66 gate per source — exact
    * quartiles, not sketches. Cross-engine exactness: scores are
    * integers (milli-units) and both engines interpolate quantiles at
    * rank (n-1)*q with the same R-7 linear rule, and `a + (b-a)*q`
    * over integers at q ∈ {.25, .5, .75} is exact in binary doubles —
    * so even the interpolated quartiles hash-match. NULL-text docs
    * carry NULL scores, which count() and quantiles skip identically.
    * Scale: one scan with the per-row fold + a per-source sort-based
    * agg over (sources) groups — the exact form is the audit; q19's
    * approx sketches are the always-on monitoring form. */
  val scoreQuantiles: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), scoreMilliColumn.as("score_milli"))
      .groupBy(col("source"))
      .agg(count(col("score_milli")).as("n_scored"),
        min(col("score_milli")).as("min_score"),
        expr("percentile(score_milli, 0.25)").as("p25"),
        expr("percentile(score_milli, 0.5)").as("p50"),
        expr("percentile(score_milli, 0.75)").as("p75"),
        max(col("score_milli")).as("max_score"))
      .orderBy(col("source"))

  /** q102 — cross-source score calibration: the raw q66 milli-score is
    * not comparable ACROSS sources (a clean encyclopedia's median
    * outranks a web crawl's p90 on vocabulary alone), so mixture
    * construction calibrates each document to its within-source
    * percentile first and thresholds THAT. percent_rank over the
    * total (score_milli, doc_id) order is (rank-1)/(n-1) — one
    * deterministic double division of exact integers, so the whole
    * query hash-matches cross-engine (single-doc sources emit 0.0 by
    * the SQL-standard convention on both). NULL-text docs carry no
    * score and are excluded identically. One scan with the model fold
    * riding it, one source-keyed exchange for the window; a source
    * that outgrows a partition takes the q55b sharded-prefix remedy,
    * as q74 documents for the same shape. */
  val scoreCalibration: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("score_milli"), col("doc_id"))
    Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), scoreMilliColumn.as("score_milli"))
      .withColumn("pct_rank", percent_rank().over(w))
      .orderBy(col("doc_id"))
  }

  /** Per-source best-of selection (q76): the top [[qualityTopN]]
    * documents of every source by the q66 model score — the
    * "curate the best k per slice" step (seed sets, eval sheets,
    * few-shot pools). Ranking is on the exact-integer milli-score
    * with doc_id tiebreak, so the selection is deterministic and the
    * whole query — model fold included — sits under the oracle. One
    * scan into one source-partitioned window (rank, not global
    * sort); the model fold rides the scan like q66. */
  val qualityTopN = 5

  val qualityTopK: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("score_milli").desc, col("doc_id"))
    Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), scoreMilliColumn.as("score_milli"))
      .withColumn("qrank", row_number().over(w))
      .filter(col("qrank") <= qualityTopN)
      .orderBy(col("source"), col("qrank"))
  }

  /** q76 spelled with rank() instead of row_number() (q76b). The order
    * is total (doc_id tiebreak), so the rows are identical to q76 —
    * the entry exists because [[graft.plans.RewriteRankLimitToTopK]]
    * also lowers the rank()/dense_rank() spellings to the bounded
    * heap, and this keeps that arm under the full DuckDB oracle every
    * round the way q76 gates the row_number arm. */
  val qualityTopKRank: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("score_milli").desc, col("doc_id"))
    Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), scoreMilliColumn.as("score_milli"))
      .withColumn("qrank", rank().over(w))
      .filter(col("qrank") <= qualityTopN)
      .orderBy(col("source"), col("qrank"))
  }

  /** DSIR-style importance weighting (q90): score every raw document
    * by how much its unigram distribution looks like a TARGET domain
    * (here the `src0` slice standing in for the curated/quality
    * domain) — the hashed-n-gram importance-resampling selection step
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling") that decides which slice of a 100 TB raw
    * crawl is worth training on.
    *
    * Per raw-corpus token occurrence, the smoothed target/raw count
    * ratio in exact integer micro-units:
    * `((cnt_target + 1) * 10^6) div (cnt_raw + 1)`; a document's
    * importance is the sum over its tokens. Two deliberate, documented
    * divergences from the paper's form, both for cross-engine
    * exactness (the q63 rule — no transcendental math under an
    * oracle):
    *   - the corpus-constant normalization `(tot_raw + V)/(tot_t + V)`
    *     is dropped — identical for every document, so rank-invariant;
    *   - the sum is of RATIOS (arithmetic mean), not log-ratios
    *     (DSIR's geometric form): `ln` hash-diverges on libm ulps
    *     between the JVM and DuckDB. DsirSpec pins that both forms
    *     rank planted target-vocabulary docs above off-domain ones.
    *
    * Engine shape: ONE explode feeds ONE hash agg that computes both
    * per-token counts as conditional sums (no second scan, no
    * count-table join); the ratio table is vocab-bounded and
    * BROADCAST back onto the token stream, so hot tokens never
    * shuffle (q63's skew posture) and the only exchanges carry
    * (token, counts) and (doc_id, sums) — for an open 100 TB
    * vocabulary, swap the broadcast for ops/Skew.scala's salted join,
    * same plan otherwise. */
  val dsirTargetSource = "src0"
  val dsirScale = 1000000L

  /** Per-token ratio cap: an ultra-target-skewed token ((cnt_t+1) ~
    * 10^9 against cnt_r ~ 1) would otherwise mint ratios ~10^15 and a
    * long document could wrap the BIGINT sum — silently on Spark
    * (ANSI off), loudly on DuckDB (HUGEINT sum, CAST error) — so the
    * oracle would break exactly at scale. With the cap, a document
    * needs > 9.2M tokens to overflow; the clamp is mirrored
    * literally in the SQL twin, and a capped ratio still means
    * "overwhelmingly target-flavored". */
  val dsirRatioCap = 1000000000000L // 10^12 micro-units = raw ratio 10^6

  def importanceWeightsOf(docs: DataFrame, targetSource: String = dsirTargetSource): DataFrame = {
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
    val isTarget = col("source") === targetSource
    val ratios = toks
      .groupBy(col("token"))
      .agg(sum(when(isTarget, 1L).otherwise(0L)).as("cnt_t"),
        sum(when(isTarget, 0L).otherwise(1L)).as("cnt_r"))
      .select(col("token"),
        least(expr(s"((cnt_t + 1L) * $dsirScale) div (cnt_r + 1L)"),
          lit(dsirRatioCap)).as("ratio_micro"))
    toks.filter(!isTarget)
      .join(broadcast(ratios), Seq("token"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("ratio_micro")).as("importance_micro"))
      .withColumn("mean_importance_micro",
        expr("importance_micro div n_tokens"))
      .orderBy(col("doc_id"))
  }

  val dsirImportance: Q = (s, d) => importanceWeightsOf(Tables.documents(s, d))

  /** Corpus snapshot diff (q92): the versioning audit run between two
    * releases of a training corpus — which documents were added,
    * removed, or changed — keyed on content hash so a re-ingested but
    * byte-identical document does not show up as churn. Training-data
    * governance runs this before every release: the diff IS the
    * changelog, and an unexpected `changed`/`removed` row is an
    * upstream-pipeline bug caught before a model trains on it.
    *
    * The two snapshots are deterministic views of the one testdata
    * corpus (both engines replay them bit-identically): snapshot A =
    * the first 80% by doc_id, snapshot B = the last 80%, with every
    * doc_id % [[snapshotEditMod]] == 0 doc in B re-cased — so the
    * diff exercises all three statuses plus the hash-equal fast path.
    *
    * Engine shape: each side reduces to (doc_id, md5) ON the scan —
    * the full-outer join carries two 16-byte hashes per doc, never
    * text — and the output is delta-sized (the `unchanged` mass never
    * leaves the join). At 100 TB both sides partition on doc_id, so
    * AQE plans this as a co-partitioned sort-merge join with no
    * corpus-wide text movement. Presence is tracked with explicit
    * flags, not hash nullness: a null-text document has a NULL md5
    * but still EXISTS in its snapshot. */
  val snapshotEditMod = 13L

  val corpusDiff: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val wm = docs.agg(
      expr("(max(doc_id) * 4) div 5").as("wm80"),
      expr("max(doc_id) div 5").as("wm20"))
    val a = docs.crossJoin(broadcast(wm))
      .filter(col("doc_id") <= col("wm80"))
      .select(col("doc_id"), md5(col("text")).as("old_md5"), lit(1).as("in_a"))
    val b = docs.crossJoin(broadcast(wm))
      .filter(col("doc_id") > col("wm20"))
      .select(col("doc_id"),
        md5(when(col("doc_id") % snapshotEditMod === 0, upper(col("text")))
          .otherwise(col("text"))).as("new_md5"),
        lit(1).as("in_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("in_a").isNull, "added")
          .when(col("in_b").isNull, "removed")
          .when(!(col("old_md5") <=> col("new_md5")), "changed")
          .otherwise("unchanged"))
      .filter(col("status") =!= "unchanged")
      .select(col("doc_id"), col("status"), col("old_md5"), col("new_md5"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, Q] = Map(
    "q102_score_calibration" -> scoreCalibration,
    "q92_corpus_diff" -> corpusDiff,
    "q90_dsir_importance" -> dsirImportance,
    "q54_corpus_filter" -> corpusFilter,
    "q54b_corpus_filter_stats" -> corpusFilterStats,
    "q58_pii_scrub" -> piiScrub,
    "q66_quality_model" -> qualityModel,
    "q66b_score_quantiles" -> scoreQuantiles,
    "q76_quality_topk" -> qualityTopK,
    "q76b_quality_topk_rank" -> qualityTopKRank,
  )

  import TextAnalysis.{sqlStops, sqlToks}

  private val sqlLangPred =
    s"""CASE
       |    WHEN ${sqlStops("en")} >= greatest(${sqlStops("de")}, ${sqlStops("es")}, ${sqlStops("fr")}) THEN 'en'
       |    WHEN ${sqlStops("de")} >= greatest(${sqlStops("es")}, ${sqlStops("fr")}) THEN 'de'
       |    WHEN ${sqlStops("es")} >= ${sqlStops("fr")} THEN 'es'
       |    ELSE 'fr'
       |  END""".stripMargin

  private val sqlQualityKeep =
    s"""(len(${sqlToks("text")}) >= 5
       |    AND (CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE) / length(text)) < 0.2
       |    AND (CAST(${sqlStops("en")} AS DOUBLE) / len(${sqlToks("text")})) > 0.0)""".stripMargin

  /** Shared with Assembly's q65 manifest oracle, which filters the
    * same verdicts down to the shipped (kept) corpus. */
  private[ops] val sqlVerdictBody =
    s"""strong AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM strong
       |  UNION ALL SELECT doc_b, doc_a FROM strong
       |),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |),
       |nk AS (
       |  SELECT d.doc_id,
       |    coalesce(least(k.mn, d.doc_id), d.doc_id) AS near_keeper
       |  FROM documents d
       |  LEFT JOIN (SELECT src, min(dst) AS mn FROM reach GROUP BY src) k
       |    ON k.src = d.doc_id
       |),
       |ek AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS exact_keeper
       |  FROM documents
       |),
       |ql AS (
       |  SELECT doc_id, $sqlQualityKeep AS quality_keep, $sqlLangPred AS lang_pred
       |  FROM documents
       |),
       |verdicts AS (
       |  SELECT d.doc_id, ql.lang_pred, ek.exact_keeper, nk.near_keeper,
       |    CASE
       |      WHEN d.doc_id <> ek.exact_keeper THEN 'exact_dup'
       |      WHEN d.doc_id <> nk.near_keeper THEN 'near_dup'
       |      WHEN NOT ql.quality_keep THEN 'low_quality'
       |      ELSE 'kept'
       |    END AS verdict
       |  FROM documents d
       |  JOIN ek ON ek.doc_id = d.doc_id
       |  JOIN nk ON nk.doc_id = d.doc_id
       |  JOIN ql ON ql.doc_id = d.doc_id
       |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q102_score_calibration" -> {
      val valuesList = modelWeights
        .map { case (k, v) => s"('$k', $v)" }.mkString(",\n    ")
      s"""WITH w(token, w_milli) AS (VALUES
         |    $valuesList
         |), tok AS (
         |  SELECT doc_id, unnest(${sqlToks("text")}) AS token
         |  FROM documents WHERE text IS NOT NULL
         |), hits AS (
         |  SELECT doc_id, CAST(sum(w_milli) AS BIGINT) AS s
         |  FROM tok JOIN w USING (token) GROUP BY doc_id
         |), scored AS (
         |  SELECT d.doc_id, d.source,
         |    CAST($modelBias + coalesce(h.s, 0) AS BIGINT) AS score_milli
         |  FROM documents d LEFT JOIN hits h USING (doc_id)
         |  WHERE d.text IS NOT NULL
         |)
         |SELECT doc_id, source, score_milli,
         |  percent_rank() OVER (PARTITION BY source ORDER BY score_milli, doc_id)
         |    AS pct_rank
         |FROM scored ORDER BY doc_id""".stripMargin
    },
    "q92_corpus_diff" ->
      s"""WITH w AS (
         |  SELECT (max(doc_id) * 4) // 5 AS wm80, max(doc_id) // 5 AS wm20
         |  FROM documents
         |), a AS (
         |  SELECT doc_id, md5(text) AS old_md5 FROM documents, w
         |  WHERE doc_id <= wm80
         |), b AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % $snapshotEditMod = 0 THEN md5(upper(text))
         |         ELSE md5(text) END AS new_md5
         |  FROM documents, w WHERE doc_id > wm20
         |)
         |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |  CASE WHEN a.doc_id IS NULL THEN 'added'
         |       WHEN b.doc_id IS NULL THEN 'removed'
         |       ELSE 'changed' END AS status,
         |  old_md5, new_md5
         |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
         |WHERE a.doc_id IS NULL OR b.doc_id IS NULL
         |   OR old_md5 IS DISTINCT FROM new_md5
         |ORDER BY doc_id""".stripMargin,
    // same exact-integer arithmetic, relational spelling: DuckDB's
    // `//` and Spark's `div` agree on positive BIGINTs
    "q90_dsir_importance" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source, unnest(${sqlToks("text")}) AS token
         |  FROM documents WHERE text IS NOT NULL
         |), ratios AS (
         |  SELECT token,
         |    least(
         |      ((CAST(sum(CASE WHEN source = '$dsirTargetSource' THEN 1 ELSE 0 END) AS BIGINT) + 1)
         |        * $dsirScale)
         |      // (CAST(sum(CASE WHEN source <> '$dsirTargetSource' THEN 1 ELSE 0 END) AS BIGINT) + 1),
         |      $dsirRatioCap) AS ratio_micro
         |  FROM tok GROUP BY token
         |)
         |SELECT t.doc_id, t.source, count(*) AS n_tokens,
         |  CAST(sum(r.ratio_micro) AS BIGINT) AS importance_micro,
         |  CAST(sum(r.ratio_micro) AS BIGINT) // count(*) AS mean_importance_micro
         |FROM tok t JOIN ratios r USING (token)
         |WHERE t.source <> '$dsirTargetSource'
         |GROUP BY t.doc_id, t.source
         |ORDER BY t.doc_id""".stripMargin,
    "q54_corpus_filter" ->
      s"""WITH RECURSIVE ${Dedup.sqlBlockedPairs},
         |$sqlVerdictBody
         |SELECT doc_id, lang_pred, exact_keeper, near_keeper,
         |  (verdict = 'kept') AS keep, verdict
         |FROM verdicts""".stripMargin,
    "q54b_corpus_filter_stats" ->
      s"""WITH RECURSIVE ${Dedup.sqlBlockedPairs},
         |$sqlVerdictBody
         |SELECT verdict, lang_pred, count(*) AS n_docs
         |FROM verdicts GROUP BY verdict, lang_pred""".stripMargin,
    "q66b_score_quantiles" -> {
      val valuesList = modelWeights
        .map { case (k, v) => s"('$k', $v)" }.mkString(",\n    ")
      s"""WITH w(token, w_milli) AS (VALUES
         |    $valuesList
         |), tok AS (
         |  SELECT doc_id, unnest(${sqlToks("text")}) AS token
         |  FROM documents WHERE text IS NOT NULL
         |), hits AS (
         |  SELECT doc_id, CAST(sum(w_milli) AS BIGINT) AS s
         |  FROM tok JOIN w USING (token) GROUP BY doc_id
         |), scored AS (
         |  SELECT d.source,
         |    CASE WHEN d.text IS NULL THEN NULL
         |         ELSE CAST($modelBias + coalesce(h.s, 0) AS BIGINT) END AS score_milli
         |  FROM documents d LEFT JOIN hits h USING (doc_id)
         |)
         |SELECT source, count(score_milli) AS n_scored,
         |  min(score_milli) AS min_score,
         |  quantile_cont(score_milli, 0.25) AS p25,
         |  quantile_cont(score_milli, 0.5) AS p50,
         |  quantile_cont(score_milli, 0.75) AS p75,
         |  max(score_milli) AS max_score
         |FROM scored GROUP BY source""".stripMargin
    },
    "q66_quality_model" -> {
      val valuesList = modelWeights
        .map { case (k, v) => s"('$k', $v)" }.mkString(",\n    ")
      s"""WITH w(token, w_milli) AS (VALUES
         |    $valuesList
         |), tok AS (
         |  SELECT doc_id, unnest(${sqlToks("text")}) AS token
         |  FROM documents WHERE text IS NOT NULL
         |), hits AS (
         |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_hits,
         |         CAST(sum(w_milli) AS BIGINT) AS s
         |  FROM tok JOIN w USING (token) GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  CASE WHEN d.text IS NULL THEN NULL
         |       ELSE CAST(coalesce(h.n_hits, 0) AS INTEGER) END AS n_hits,
         |  CASE WHEN d.text IS NULL THEN NULL
         |       ELSE CAST($modelBias + coalesce(h.s, 0) AS BIGINT) END AS score_milli,
         |  CASE WHEN d.text IS NULL THEN NULL
         |       ELSE CAST($modelBias + coalesce(h.s, 0) AS DOUBLE) /
         |            len(${sqlToks("text")}) END AS score_per_token,
         |  CASE WHEN d.text IS NULL THEN NULL
         |       ELSE ($modelBias + coalesce(h.s, 0) > 0) END AS model_keep
         |FROM documents d LEFT JOIN hits h USING (doc_id)""".stripMargin
    },
    "q76_quality_topk" -> {
      val valuesList = modelWeights
        .map { case (k, v) => s"('$k', $v)" }.mkString(",\n    ")
      s"""WITH w(token, w_milli) AS (VALUES
         |    $valuesList
         |), tok AS (
         |  SELECT doc_id, unnest(${sqlToks("text")}) AS token
         |  FROM documents WHERE text IS NOT NULL
         |), hits AS (
         |  SELECT doc_id, CAST(sum(w_milli) AS BIGINT) AS s
         |  FROM tok JOIN w USING (token) GROUP BY doc_id
         |), scored AS (
         |  SELECT d.doc_id, d.source,
         |    CAST($modelBias + coalesce(h.s, 0) AS BIGINT) AS score_milli
         |  FROM documents d LEFT JOIN hits h USING (doc_id)
         |  WHERE d.text IS NOT NULL
         |)
         |SELECT doc_id, source, score_milli, CAST(qrank AS INTEGER) AS qrank
         |FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY source ORDER BY score_milli DESC, doc_id) AS qrank
         |  FROM scored
         |)
         |WHERE qrank <= $qualityTopN
         |ORDER BY source, qrank""".stripMargin
    },
    "q76b_quality_topk_rank" -> {
      val valuesList = modelWeights
        .map { case (k, v) => s"('$k', $v)" }.mkString(",\n    ")
      s"""WITH w(token, w_milli) AS (VALUES
         |    $valuesList
         |), tok AS (
         |  SELECT doc_id, unnest(${sqlToks("text")}) AS token
         |  FROM documents WHERE text IS NOT NULL
         |), hits AS (
         |  SELECT doc_id, CAST(sum(w_milli) AS BIGINT) AS s
         |  FROM tok JOIN w USING (token) GROUP BY doc_id
         |), scored AS (
         |  SELECT d.doc_id, d.source,
         |    CAST($modelBias + coalesce(h.s, 0) AS BIGINT) AS score_milli
         |  FROM documents d LEFT JOIN hits h USING (doc_id)
         |  WHERE d.text IS NOT NULL
         |)
         |SELECT doc_id, source, score_milli, CAST(qrank AS INTEGER) AS qrank
         |FROM (
         |  SELECT *, rank() OVER (
         |    PARTITION BY source ORDER BY score_milli DESC, doc_id) AS qrank
         |  FROM scored
         |)
         |WHERE qrank <= $qualityTopN
         |ORDER BY source, qrank""".stripMargin
    },
    "q58_pii_scrub" ->
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 0
         |      THEN concat(coalesce(text, ''), ' contact me at user', CAST(doc_id AS VARCHAR),
         |                  '@example.com or +1 (555) 010-',
         |                  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
         |      ELSE text END AS t
         |  FROM documents
         |), scrubbed AS (
         |  SELECT doc_id, t,
         |    regexp_replace(regexp_replace(t, '$emailPattern', '<EMAIL>', 'g'),
         |                   '$phonePattern', '<PHONE>', 'g') AS st
         |  FROM planted
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$emailPattern')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$phonePattern')) AS INTEGER) AS n_phones,
         |  md5(st) AS scrubbed_md5,
         |  (md5(st) <> md5(t)) AS was_redacted
         |FROM scrubbed""".stripMargin,
  )
}
