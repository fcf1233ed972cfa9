package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Subword tokenization: greedy byte-pair encoding over a small
  * CHECKED-IN merges table (VERDICT r3 #5 — replaces the documented
  * whitespace-token proxy for packing/vocab budgets with real subword
  * units).
  *
  * Cross-engine parity by construction: standard BPE tokenizes a word
  * by applying the learned merges IN RANK ORDER, each merge replacing
  * every (left-to-right, non-overlapping) adjacent occurrence of its
  * pair — which is exactly the semantics of a literal `replace` chain
  * in BOTH Spark (`functions.replace`, codegen'd) and DuckDB. Units
  * are kept unambiguous during merging by bracketing every unit as
  * `⟨unit⟩` (the brackets cannot occur in corpus text), so a merge
  * rule (a, b) is the string rewrite `⟨a⟩⟨b⟩ -> ⟨ab⟩` and unit
  * boundaries can never be confused with unit content. Both engines
  * run the IDENTICAL rewrite chain from the same merges literal, so
  * q55c/q60b sit under the full hash-compare oracle — no seeded hash
  * functions involved.
  *
  * The merges table was learned OFFLINE with the classic BPE
  * procedure (count adjacent unit pairs over the whitespace-word
  * vocabulary, merge the most frequent, repeat; ties broken
  * lexicographically) on the sf0.01 documents corpus, then checked in
  * as a literal — the library treats it exactly as production
  * treats a tokenizer's released merges file: a versioned artifact,
  * not something recomputed per query. On this corpus it compresses
  * 122,509 characters to 62,627 units.
  *
  * Scale: encoding is a per-row chain of literal string replaces —
  * pure codegen, no shuffle, pipelines with the scan like every other
  * TextAnalysis expression. Cost is O(len x merges) per row with
  * small constants; a 100 TB run spends it inside the same scan that
  * already computes quality/langid features. */
object Bpe extends graft.QueryModule {

  /** Learned merges, highest-frequency first (rank order = apply order). */
  val merges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"), ("f", "i"), ("fi", "l"), ("fil", "t"),
    ("filt", "er"), ("a", "l"), ("al", "l"), ("m", "all"),
    ("s", "mall"), ("g", "e"), ("l", "ow"), ("mer", "ge"),
    ("s", "low"), ("c", "t"), ("ct", "or"), ("d", "er"),
    ("e", "ctor"), ("or", "der"), ("v", "ector"),
  )

  private val L = "⟨" // ⟨
  private val R = "⟩" // ⟩

  /** The bracketed-unit BPE encoding of `text`: every non-whitespace
    * character becomes a `⟨c⟩` unit, then the merges chain rewrites
    * adjacent units in rank order. Whitespace separates words, so
    * merges never cross word boundaries. */
  def encode(text: Column): Column = {
    // the bracket codepoints are RESERVED as unit delimiters: strip
    // them from input first (identically in sqlEncode), otherwise a
    // text containing one would corrupt unit boundaries. Deterministic
    // and cross-engine identical either way; stripping keeps the
    // count/extraction semantics honest.
    val cleaned = replace(replace(lower(trim(text)), lit(L), lit("")), lit(R), lit(""))
    // r16 (VERDICT r15 #8): the bracketing regexp_replace + 47-step
    // literal replace chain is now ONE codegen kernel pass — byte-
    // identical output (BpeSpec pins kernel == chain on the corpus
    // and on adversarial inputs); the DuckDB twin keeps the literal
    // chain (sqlEncode), so the oracle cross-checks the kernel on
    // every consumer.
    graft.functions.BpeOps.bpe_merge_encode(cleaned, merges)
  }

  /** The pre-r16 expression spelling of [[encode]] — kept as the
    * cross-implementation reference BpeSpec pins the kernel against
    * (the same role HashOpsSpec's HOF spellings play). */
  private[graft] def encodeReplaceChain(text: Column): Column = {
    val cleaned = replace(replace(lower(trim(text)), lit(L), lit("")), lit(R), lit(""))
    val spaced = regexp_replace(cleaned, "(\\S)", s"$L$$1$R")
    merges.foldLeft(spaced) { case (c, (a, b)) =>
      replace(c, lit(s"$L$a$R$L$b$R"), lit(s"$L$a$b$R"))
    }
  }

  /** Subword token count of a PRE-PROJECTED encoding attribute (one
    * `⟨` per unit). Takes the attribute, not the text, so the merge
    * chain is evaluated once per row, not once per use. */
  def tokenCountOf(enc: Column): Column =
    (length(enc) - length(replace(enc, lit(L), lit("")))).cast(IntegerType)

  /** The identical rewrite chain as DuckDB SQL over `colExpr`. */
  def sqlEncode(colExpr: String): String = {
    val cleaned = s"replace(replace(lower(trim($colExpr)), '$L', ''), '$R', '')"
    val spaced = s"regexp_replace($cleaned, '(\\S)', '$L\\1$R', 'g')"
    merges.foldLeft(spaced) { case (e, (a, b)) =>
      s"replace($e, '$L$a$R$L$b$R', '$L$a$b$R')"
    }
  }

  /** The BPE-encoded corpus — (doc_id, lang, source, enc, n_ws) —
    * built ONCE per (JVM, corpus) and parqueted to a scratch store
    * (r15, the [[graft.ops.Dedup.ngramDupKeepers]] / trade-edges
    * sharing discipline): the 47-merge rewrite chain is the dominant
    * per-row cost of all three BPE consumers (q55c packing, q60b
    * vocabulary, q68 fertility), and each used to re-encode the
    * identical corpus per call. A production pipeline materializes
    * tokenized text exactly once for the same reason — the merges
    * table is a released artifact, so its encoding is too. Keyed on
    * the corpus content fingerprint; the first consumer of a session
    * pays the encode, every later one reads (column-pruned) parquet.
    * Expressions are byte-identical to the previous inline spellings,
    * so every consumer's oracle is unaffected. */
  private def encodedCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val (key, _) = ScratchStores.corpusKey(docs, d)
    val path = ScratchStores.pathFor(key, "graft-bpe-encoded") { p =>
      docs.select(col("doc_id"), col("lang"), col("source"),
        encode(col("text")).as("enc"),
        size(TextAnalysis.tokens(col("text"))).as("n_ws"))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(path)
  }

  /** q60b: the subword vocabulary the merges induce on the corpus —
    * top units by occurrence, deterministic (count desc, unit asc)
    * tie-break. Same plan shape as q60: explode -> hash agg ->
    * TakeOrderedAndProject, no global sort. */
  val vocabTopK: Q = (s, d) => {
    val k = 40
    encodedCorpus(s, d)
      .select(explode(regexp_extract_all(col("enc"),
        lit(s"$L([^$R]+)$R"), lit(1))).as("unit"))
      .groupBy(col("unit"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("unit"))
      .limit(k)
  }

  /** q55c: context-window packing in SUBWORD units — q55's running
    * sum with the BPE token count in place of the whitespace proxy
    * (the unit a real pipeline actually budgets in). Same
    * stream-partitioned window, same scale posture; the sharded
    * two-phase form (q55b) parameterizes identically. */
  val bpePacking: Q = (s, d) => {
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    encodedCorpus(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        tokenCountOf(col("enc")).as("n_bpe_tokens"))
      .withColumn("tokens_before",
        coalesce(sum(col("n_bpe_tokens")).over(w), lit(0L)).cast(LongType))
      .withColumn("pack_id", floor(col("tokens_before") / Assembly.packBudget).cast(LongType))
      .orderBy(col("doc_id"))
  }

  /** q68: tokenizer FERTILITY by (source, lang) — subword tokens per
    * whitespace word, the standard audit for how well a tokenizer
    * fits each corpus slice (a language the merges were not learned
    * on shows elevated fertility => its documents burn more context
    * window per word, skewing any token-denominated budget). Exact
    * integer sums with ONE final double division per group, the same
    * hash-stable arithmetic discipline as q63/q64; plan is a single
    * scan into one partial-aggregated hash agg — at 100 TB the merge
    * chain rides the scan and the exchange carries one row per
    * (source, lang). */
  val tokenizerFertility: Q = (s, d) =>
    encodedCorpus(s, d)
      .select(col("source"), col("lang"),
        tokenCountOf(col("enc")).as("n_bpe"), col("n_ws"))
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("n_bpe")).as("bpe_tokens"),
        sum(col("n_ws")).as("ws_tokens"),
        count(lit(1)).as("n_docs"))
      .withColumn("fertility",
        col("bpe_tokens").cast(org.apache.spark.sql.types.DoubleType) / col("ws_tokens"))
      .orderBy(col("source"), col("lang"))

  /** Distributed BPE TRAINING (q95): learn a merges table from the
    * corpus — the piece that turns the checked-in [[merges]] artifact
    * (VERDICT r5 noted it as such) into a closed loop. This is the
    * Sennrich et al. 2016 algorithm in its map-reduce form:
    *
    *   1. collapse the corpus to its WORD-FREQUENCY table once — all
    *      training then runs over the vocabulary, which is bounded
    *      (Heaps' law) no matter how many petabytes the corpus is;
    *   2. per merge round: explode each word's adjacent unit pairs
    *      weighted by word frequency, hash-aggregate, and take the
    *      argmax under a TOTAL order (weight DESC, pair ASC — the
    *      deterministic tie-break the reference implementation leaves
    *      to dict order); exactly ONE row reaches the driver per
    *      round;
    *   3. rewrite each word's unit array greedy-left-to-right via a
    *      pure `aggregate` fold (carry the previous unit; emit the
    *      merged unit and clear the carry on a match, so "aaa" under
    *      (a,a) becomes [aa, a] — reference semantics), and loop.
    *
    * The unit-array frame is persisted and localCheckpoint'd every
    * few rounds (the dupKeepers loop discipline: O(rounds) plans,
    * not O(rounds^2) lineage). Cost per round is one explode+agg
    * over the VOCABULARY — at 100 TB the corpus is touched once,
    * in step 1.
    *
    * Rows-only correctness entry (the training loop is not
    * SQL-expressible); BpeSpec pins the learned merge SEQUENCE
    * exactly against a 15-line serial reference implementation, plus
    * the compression invariant. */
  val trainMergeCount = 24

  /** Vocabularies at or below this row count train ON THE DRIVER
    * after the distributed corpus collapse: the word-frequency dict
    * is broadcast-sized by the same Heaps'-law argument that lets
    * q63 broadcast its vocab counts, and one in-memory loop replaces
    * nMerges scheduler round-trips (measured: 3.2 s of pure job
    * overhead for a 31-word vocabulary). Above it, the per-round
    * distributed loop runs — same algorithm, same tie-break, pinned
    * equal in BpeSpec. The corpus-adaptive two-path shape is the
    * house IVF/semantic-cell pattern. */
  val driverVocabLimit = 100000L

  /** (rank, left, right, weight) of the learned merges, in learning
    * order. */
  def trainMerges(docs: DataFrame, nMerges: Int = trainMergeCount,
                  driverLimit: Long = driverVocabLimit): Seq[(Int, String, String, Long)] = {
    // ONE corpus pass — the only step that touches corpus-sized data.
    // Natural partitioning is kept: the driver path collects anyway,
    // and the distributed path needs the vocabulary SPREAD (a
    // coalesce(1) here would serialize all its rounds onto one core —
    // caught in review).
    val words = docs.filter(col("text").isNotNull)
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      // split at codepoint boundaries, NOT split(word, "") — that one
      // cuts UTF-16 code units, so a supplementary-plane char (emoji,
      // rare CJK) would train as two unpaired surrogate halves; the
      // lookbehind keeps each full codepoint whole, matching encode()'s
      // codepoint-level \S bracketing
      .select(filter(split(col("word"), "(?s)(?<=.)"), u => u =!= "").as("units"), col("freq"))
      .localCheckpoint(true) // count + train both read it; corpus scanned once
    if (words.count() <= driverLimit) trainDriver(words, nMerges)
    else trainDistributed(words, nMerges)
  }

  /** Spark's string orderBy compares UTF8String BYTES (code points);
    * Java's String.compareTo compares UTF-16 code units. They differ
    * on supplementary-plane vs upper-BMP characters, so the driver
    * path must tie-break in the SAME byte order or the two paths
    * could learn different merge sequences on a non-ASCII corpus. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val (x, y) = (a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** In-memory loop over the collected word-freq dict. */
  private def trainDriver(words: DataFrame, nMerges: Int): Seq[(Int, String, String, Long)] = {
    var dict: Map[Vector[String], Long] = words.collect()
      .map(r => (r.getSeq[String](0).toVector, r.getLong(1)))
      .groupBy(_._1).map { case (u, fs) => u -> fs.map(_._2).sum }
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    while (rank <= nMerges) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      dict.foreach { case (u, f) =>
        var j = 0
        while (j + 1 < u.length) {
          val p = (u(j), u(j + 1))
          pairs(p) = pairs.getOrElse(p, 0L) + f
          j += 1
        }
      }
      if (pairs.isEmpty) rank = nMerges + 1
      else {
        val ((a, b), w) = pairs.reduceLeft { (p, q) =>
          val (((pa, pb), pw), ((qa, qb), qw)) = (p, q)
          if (qw > pw) q
          else if (qw < pw) p
          else if (utf8Lt(qa, pa)) q
          else if (utf8Lt(pa, qa)) p
          else if (utf8Lt(qb, pb)) q
          else p
        }
        learned += ((rank, a, b, w))
        dict = dict.toSeq.map { case (u, f) =>
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < u.length) {
            if (j + 1 < u.length && u(j) == a && u(j + 1) == b) {
              out += (a + b); j += 2
            } else { out += u(j); j += 1 }
          }
          out.result() -> f
        }.groupBy(_._1).map { case (u, fs) => u -> fs.map(_._2).sum }
        rank += 1
      }
    }
    learned.toSeq
  }

  /** Signed adjacent-pair rows of a (units, freq) frame: one
    * (a, b, weight = sign * freq) row per adjacent unit pair. The
    * size >= 2 guard keeps single-unit words out — sequence(1, size-1)
    * would otherwise be the DESCENDING [1, 0] (ANSI off) and hit
    * element_at(units, 0). */
  private def signedPairs(seg: DataFrame, sign: Int): DataFrame =
    seg.filter(size(col("units")) >= 2)
      .select((col("freq") * sign).as("w"), explode(expr(
        "transform(sequence(1, size(units) - 1), " +
          "i -> struct(element_at(units, i) AS a, element_at(units, CAST(i AS INT) + 1) AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("w").as("weight"))

  /** True when `units` holds (a, b) adjacently somewhere — exactly the
    * words whose segmentation (and pair contributions) the merge (a, b)
    * changes; the greedy rewrite is the identity everywhere else.
    * Length expressions clamp at 0 (ADVICE r7): this predicate runs
    * over EVERY seg row, and for a 0-unit word `size - 1` is -1, which
    * slice rejects at runtime — greatest() makes the predicate simply
    * false for 0/1-unit words instead. */
  private def hasAdjacent(a: String, b: String): Column = {
    val len = greatest(size(col("units")) - 1, lit(0))
    val heads = slice(col("units"), lit(1), len)
    val tails = slice(col("units"), lit(2), len)
    exists(arrays_zip(heads, tails),
      p => p.getField("0") === lit(a) && p.getField("1") === lit(b))
  }

  /** Greedy left-to-right non-overlapping rewrite of `units` under the
    * merge (a, b), as a pure `aggregate` fold: carry the previous unit;
    * emit the merged unit and clear the carry on a match, so "aaa"
    * under (a, a) becomes [aa, a] — reference semantics. */
  private def mergeRewrite(a: String, b: String): Column = {
    val aLit = lit(a)
    val bLit = lit(b)
    val merged = lit(a + b)
    aggregate(col("units"),
      struct(expr("CAST(array() AS array<string>)").as("out"), lit("").as("prev")),
      (acc, u) => {
        val out = acc.getField("out")
        val prev = acc.getField("prev")
        when(prev === aLit && u === bLit,
          struct(concat(out, array(merged)).as("out"), lit("").as("prev")))
          .otherwise(struct(
            when(prev === "", out).otherwise(concat(out, array(prev))).as("out"),
            u.as("prev")))
      },
      acc => when(acc.getField("prev") === "", acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("prev"))))
    )
  }

  /** The distributed loop for open vocabularies, with INCREMENTAL
    * pair-count maintenance (VERDICT r6 #3): the full pair table is
    * exploded and aggregated exactly ONCE, then each round applies the
    * classic update — only words holding the merged pair adjacently
    * change segmentation, so only their old pairs leave the table and
    * their new pairs enter it. Per round the exploded/shuffled rows are
    * O(affected words), not O(vocabulary): the r6 form recounted every
    * word's pairs per merge, which at a real tokenizer's 32k merges
    * means 32k full-vocabulary explodes; here the full-vocab work left
    * per round is one codegen predicate scan of the cached unit frame
    * and the pair-table argmax (a `limit(1)` scalar). Zero-weight pairs
    * are dropped as they die so the table tracks the live pair set.
    *
    * Both frames stay LAZY between periodic localCheckpoints — each
    * round's argmax evaluates at most the checkpoint interval's
    * stacked deltas over the cached partitions (the r6 discipline);
    * the checkpoint bounds plan depth and the recompute window, and
    * its cost amortizes to O(vocab / interval) per round. Parity with
    * the serial reference is pinned merge-for-merge at 256 merges in
    * BpeSpec. */
  private def trainDistributed(words: DataFrame, nMerges: Int): Seq[(Int, String, String, Long)] = {
    var seg = words
    var pairs = signedPairs(seg, 1)
      .groupBy(col("a"), col("b")).agg(sum(col("weight")).as("weight"))
      .localCheckpoint(true)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var sinceCkpt = 0
    while (rank <= nMerges) {
      val pairRow = pairs
        .orderBy(col("weight").desc, col("a"), col("b"))
        .limit(1).collect()
      if (pairRow.isEmpty) { rank = nMerges + 1 } // vocab fully merged
      else {
        val (a, b, w) = (pairRow.head.getString(0), pairRow.head.getString(1),
          pairRow.head.getLong(2))
        learned += ((rank, a, b, w))
        // the incremental update: only words holding (a, b) adjacently
        // change — their old pairs leave the table, their rewritten
        // forms' pairs enter it; every other word cancels exactly and
        // is never exploded. The unit frame itself advances as ONE
        // rewrite fold over the whole chain (the fold is the identity
        // on non-matching words), NOT as filter ∪ rewrite(filter) —
        // that spelling references the previous round twice and
        // doubles the plan per round (exponential by checkpoint time).
        val affectedOld = seg.filter(hasAdjacent(a, b))
        val affectedNew = affectedOld.select(mergeRewrite(a, b).as("units"), col("freq"))
        pairs = pairs
          .unionByName(signedPairs(affectedOld, -1))
          .unionByName(signedPairs(affectedNew, 1))
          .groupBy(col("a"), col("b")).agg(sum(col("weight")).as("weight"))
          .filter(col("weight") > 0)
        seg = seg.select(mergeRewrite(a, b).as("units"), col("freq"))
        sinceCkpt += 1
        if (sinceCkpt == 6) {
          seg = seg.localCheckpoint(true)
          pairs = pairs.localCheckpoint(true)
          sinceCkpt = 0
        }
        rank += 1
      }
    }
    learned.toSeq
  }

  /** q95: the learned merges table over the sf corpus. */
  val bpeTrain: Q = (s, d) => {
    import s.implicits._
    trainMerges(Tables.documents(s, d))
      .toDF("merge_rank", "left", "right", "weight")
      .withColumn("merged", concat(col("left"), col("right")))
      .select(col("merge_rank"), col("left"), col("right"), col("merged"), col("weight"))
      .orderBy(col("merge_rank"))
  }

  val queries: Map[String, Q] = Map(
    "q95_bpe_train" -> bpeTrain,
    "q60b_bpe_vocab" -> vocabTopK,
    "q55c_bpe_packing" -> bpePacking,
    "q68_tokenizer_fertility" -> tokenizerFertility,
  )

  private def sqlCount(e: String) = s"len($e) - len(replace($e, '$L', ''))"

  val oracle: Map[String, String] = Map(
    "q60b_bpe_vocab" ->
      s"""WITH enc AS (SELECT ${sqlEncode("text")} AS e FROM documents),
         |u AS (SELECT unnest(regexp_extract_all(e, '$L([^$R]+)$R', 1)) AS unit FROM enc)
         |SELECT unit, count(*) AS n_occurrences FROM u
         |GROUP BY unit ORDER BY n_occurrences DESC, unit LIMIT 40""".stripMargin,
    "q55c_bpe_packing" ->
      s"""WITH enc AS (
         |  SELECT doc_id, lang, source, ${sqlEncode("text")} AS e FROM documents
         |)
         |SELECT doc_id, lang, source,
         |  CAST(${sqlCount("e")} AS INTEGER) AS n_bpe_tokens,
         |  CAST(coalesce(sum(${sqlCount("e")}) OVER (
         |    PARTITION BY lang, source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before,
         |  CAST(floor(coalesce(sum(${sqlCount("e")}) OVER (
         |    PARTITION BY lang, source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / ${Assembly.packBudget}) AS BIGINT) AS pack_id
         |FROM enc""".stripMargin,
    "q68_tokenizer_fertility" ->
      s"""WITH enc AS (
         |  SELECT source, lang, ${sqlEncode("text")} AS e,
         |    len(${TextAnalysis.sqlToks("text")}) AS n_ws
         |  FROM documents
         |)
         |SELECT source, lang,
         |  CAST(sum(${sqlCount("e")}) AS BIGINT) AS bpe_tokens,
         |  CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
         |  count(*) AS n_docs,
         |  CAST(sum(${sqlCount("e")}) AS DOUBLE) / sum(n_ws) AS fertility
         |FROM enc GROUP BY source, lang ORDER BY source, lang""".stripMargin,
  )
}
