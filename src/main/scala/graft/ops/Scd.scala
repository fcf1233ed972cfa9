package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Slowly-changing-dimension (type 2) machinery: versioned attribute
  * history with [valid_from, valid_to) intervals and a current flag —
  * the warehouse answer to "what did this dimension row say WHEN the
  * fact happened", which the star schema's type-1 upsert
  * ([[graft.flights.StarSchema]] T-9) deliberately forgets.
  *
  * Two entry points for the two operating modes:
  *  - [[fromSnapshots]]: batch-derive the whole history from a pile of
  *    timestamped observations — change-point compression via lag/lead
  *    windows, one exchange on the entity key. This is the backfill /
  *    bootstrap path and is fully SQL-expressible, so it carries the
  *    DuckDB twin (q116).
  *  - [[merge]]: apply one new batch of observations to a standing
  *    history — the incremental path a nightly pipeline runs. One
  *    key-partitioned join against the CURRENT slice only (closed
  *    versions are never touched, so cost scales with |current| +
  *    |batch|, not |history|). Spec-pinned (ScdSpec), including
  *    merge-vs-rebuild equivalence and idempotent re-apply.
  *
  * At 100 TB both paths hash-partition on the entity key and never
  * sort globally; `fromSnapshots`'s windows and `merge`'s join reuse
  * the same exchange. valid_to is an open-right bound (NULL = still
  * current) so interval containment is `from <= ts AND (to IS NULL OR
  * ts < to)` — half-open, adjacent versions never overlap. */
object Scd extends graft.QueryModule {

  /** Change-point-compress timestamped snapshots into SCD2 history.
    *
    * `snapshots` must be unique per (key, orderCols); `attrs` are the
    * tracked columns. A version row is emitted where the attr tuple
    * differs from the entity's previous observation; valid_from is
    * the observation ts, valid_to the NEXT version's valid_from
    * (NULL for the open current version). */
  def fromSnapshots(snapshots: DataFrame, key: Seq[String], attrs: Seq[String],
                    ts: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (col(ts) +: tieBreak.map(col)).toIndexedSeq
    val w = Window.partitionBy(key.map(col).toIndexedSeq: _*).orderBy(order: _*)
    val changed = attrs.map(a =>
      lag(col(a), 1).over(w).isNull || lag(col(a), 1).over(w) =!= col(a))
      .reduce(_ || _)
    // NULL-attr caveat: lag(a) =!= a is NULL when either side is NULL;
    // isNull on the first row catches the open, and a NULL attr value
    // is treated as "no change" against a NULL predecessor — callers
    // with nullable attrs should pre-coalesce to a sentinel.
    val versions = snapshots
      .withColumn("_chg", changed)
      .filter(col("_chg"))
      .drop("_chg")
    val wv = Window.partitionBy(key.map(col).toIndexedSeq: _*).orderBy(order: _*)
    versions
      .withColumn("valid_from", col(ts))
      .withColumn("valid_to", lead(col(ts), 1).over(wv))
      .withColumn("is_current", col("valid_to").isNull)
      .select((key.map(col) ++ attrs.map(col) ++
        Seq(col("valid_from"), col("valid_to"), col("is_current"))).toIndexedSeq: _*)
  }

  /** Incrementally apply `batch` (key ++ attrs ++ ts, one row per key
    * at most — pre-compress multi-row batches with [[fromSnapshots]])
    * to a standing `history` with the same layout as [[fromSnapshots]]
    * output. Closed versions pass through untouched; a current version
    * whose attrs differ from the batch row is closed at the batch ts;
    * new/changed keys open a new current version. A batch row whose
    * attrs equal the current version is a no-op (idempotent). */
  def merge(history: DataFrame, batch: DataFrame, key: Seq[String],
            attrs: Seq[String], ts: String): DataFrame = {
    val closed = history.filter(!col("is_current"))
    val current = history.filter(col("is_current"))
    val b = batch.select((key.map(col) ++ attrs.map(c => col(c).as(s"_b_$c")) :+
      col(ts).as("_b_ts")).toIndexedSeq: _*)
    val joined = current.join(b, key, "full_outer")
    val differs = attrs.map(a =>
      !(col(a) <=> col(s"_b_$a"))).reduce(_ || _)
    // current rows: keep open if no batch row or attrs unchanged;
    // close at the batch ts when the batch changes them
    val keptCurrent = joined.filter(col("valid_from").isNotNull)
      .select((key.map(col) ++ attrs.map(col) ++ Seq(
        col("valid_from"),
        when(col("_b_ts").isNotNull && differs, col("_b_ts")).as("valid_to"),
        (col("_b_ts").isNull || !differs).as("is_current"))).toIndexedSeq: _*)
    // batch rows that open a new version: new key, or changed attrs
    val opened = joined.filter(col("_b_ts").isNotNull &&
        (col("valid_from").isNull || differs))
      .select((key.map(col) ++ attrs.map(a => col(s"_b_$a").as(a)) ++ Seq(
        col("_b_ts").as("valid_from"),
        lit(null).cast(TimestampType).as("valid_to"),
        lit(true).as("is_current"))).toIndexedSeq: _*)
    closed.select(keptCurrent.columns.map(col).toIndexedSeq: _*)
      .unionByName(keptCurrent)
      .unionByName(opened)
  }

  /** Point-in-time lookup: the version of each entity valid at `at`
    * (half-open containment). The as-of join a fact backfill runs. */
  def asOf(history: DataFrame, at: Column): DataFrame =
    history.filter(col("valid_from") <= at &&
      (col("valid_to").isNull || at < col("valid_to")))

  /** Per-ROW point-in-time enrichment join — the feature-store
    * correctness operator: every fact row gets the attr values of the
    * version that was live at ITS OWN (ts, seq), never a later one
    * (no training-serving leakage from the future). [[asOf]] answers
    * "the world at one instant"; this answers "the world at each of a
    * trillion instants", which is where the naive spelling dies at
    * 100 TB: an interval/inequality join fans every fact to every
    * version of its key before filtering.
    *
    * This form has NO JOIN AT ALL: versions and facts union on the
    * shared (key, ts, seq) spine, ONE key-partitioned window pass
    * carries each attr forward with last(ignoreNulls), and fact rows
    * exit enriched — a single hash exchange on the entity key, both
    * inputs scanned once, nothing fanned out. The same union +
    * last_value shape as the q89 as-of join, generalized to arbitrary
    * attr sets. Exactly Spark-shaped: the window is key-partitioned
    * (never `WindowExec: No Partition Defined`), and at 1000 executors
    * it scales with max events-per-key, not versions×facts.
    *
    * Semantics: a version applies to facts strictly AFTER it in the
    * (ts, seq) lexicographic order; among applicable versions the
    * latest wins. `seq` must order uniquely within a key at equal ts
    * (an event id) or the enrichment is nondeterministic. Facts before
    * any version carry NULL attrs. NULL version-attr values are
    * carried as "no observation" by last(ignoreNulls) — callers with
    * legitimately-null attrs should pre-coalesce to a sentinel, same
    * caveat as [[fromSnapshots]].
    *
    * `versions`: key ++ (ts, seq) ++ attrs. `facts`: key ++ (ts, seq)
    * ++ anything else (its columns must not collide with attrs).
    * Returns the fact rows (original columns) plus the attr columns. */
  def pitJoin(versions: DataFrame, facts: DataFrame, key: Seq[String],
              attrs: Seq[String], ts: String, seq: String): DataFrame = {
    val spine = key ++ Seq(ts, seq)
    val factOnly = facts.columns.toSeq.filterNot(spine.contains)
    require(attrs.intersect(factOnly).isEmpty,
      s"fact columns collide with version attrs: ${attrs.intersect(factOnly).mkString(", ")}")
    val vSide = versions.select((spine.map(col) ++ attrs.map(col) ++
      factOnly.map(c => lit(null).cast(facts.schema(c).dataType).as(c)) :+
      lit(true).as("_isv")).toIndexedSeq: _*)
    val fSide = facts.select((spine.map(col) ++
      attrs.map(a => lit(null).cast(versions.schema(a).dataType).as(a)) ++
      factOnly.map(col) :+ lit(false).as("_isv")).toIndexedSeq: _*)
    val w = Window.partitionBy(key.map(col).toIndexedSeq: _*)
      .orderBy(col(ts), col(seq))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vSide.unionByName(fSide)
      .select((spine.map(col) ++
        attrs.map(a => last(col(a), ignoreNulls = true).over(w).as(a)) ++
        factOnly.map(col) :+ col("_isv")).toIndexedSeq: _*)
      .filter(!col("_isv"))
      .drop("_isv")
  }

  /** Two-epoch point-in-time DIFF in one pass — the late-arriving-
    * dimension backfill audit: which facts' [[pitJoin]] enrichment
    * CHANGES once a set of late version rows (flagged by `late`) is
    * folded in, and how. The naive plan runs two full enrichments and
    * joins them back on the fact id — three exchanges, facts shuffled
    * twice. This form computes BOTH epochs inside the single
    * key-partitioned window pitJoin already pays: the "all versions"
    * epoch carries last(attr) over every version row, the "early"
    * epoch carries last(attr) over non-late rows only (the late rows'
    * attr masked to NULL, which ignoreNulls skips) — same window, two
    * carried columns, zero joins. At 100 TB the backfill-impact audit
    * costs exactly one enrichment pass.
    *
    * Returns the fact rows with `<attr>_before` (early epoch; NULL =
    * no applicable version yet) and `<attr>_after` (all versions). */
  def pitBackfillDiff(versions: DataFrame, late: Column, facts: DataFrame,
                      key: Seq[String], attr: String, ts: String,
                      seq: String): DataFrame = {
    val spine = key ++ Seq(ts, seq)
    val factOnly = facts.columns.toSeq.filterNot(spine.contains)
    val aT = versions.schema(attr).dataType
    val vSide = versions.select((spine.map(col) ++ Seq(
      col(attr).as("_attr"), late.as("_late")) ++
      factOnly.map(c => lit(null).cast(facts.schema(c).dataType).as(c)) :+
      lit(true).as("_isv")).toIndexedSeq: _*)
    val fSide = facts.select((spine.map(col) ++ Seq(
      lit(null).cast(aT).as("_attr"), lit(null).cast("boolean").as("_late")) ++
      factOnly.map(col) :+ lit(false).as("_isv")).toIndexedSeq: _*)
    val w = Window.partitionBy(key.map(col).toIndexedSeq: _*)
      .orderBy(col(ts), col(seq))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vSide.unionByName(fSide)
      .select((spine.map(col) ++ Seq(
        last(when(col("_isv") && !col("_late"), col("_attr")),
          ignoreNulls = true).over(w).as(s"${attr}_before"),
        last(when(col("_isv"), col("_attr")),
          ignoreNulls = true).over(w).as(s"${attr}_after")) ++
        factOnly.map(col) :+ col("_isv")).toIndexedSeq: _*)
      .filter(!col("_isv"))
      .drop("_isv")
  }

  /** q208 — the backfill-impact report over q201's band dimension: a
    * deterministic straggler slice of the version rows (event_id ≡ 0
    * mod 5) arrives LATE, and the audit reports how fact enrichment
    * shifts once they land — (band_before, band_after) transition
    * counts with a witness fact per cell, bands before any version
    * coalesced to −1. This is the report a feature platform runs
    * before re-materializing a training table: how much of it is
    * stale, and in which direction. One union + one user-keyed window
    * ([[pitBackfillDiff]]) + the tiny transition rollup; the DuckDB
    * twin runs the scale-hostile spelling — TWO inequality fan-out
    * joins, each ranked per fact — as the cross-algorithm check.
    *
    * Sentinel contract (ADVICE r12, shared with q201): the −1 for "no
    * applicable version yet" assumes non-negative `value` — a real
    * reading at or below −100.00 would band to −1 and collide with the
    * sentinel. The events table's values are non-negative by schema
    * contract; a deployment with signed readings should pick a
    * sentinel outside the representable band domain (Long.MinValue). */
  val pitBackfillImpact: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType)
    val versions = ev.filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), cents.as("cents"))
      .withColumn("band", expr("cents div 10000"))
      .drop("cents")
    val facts = ev.filter(col("event_type").isin("view", "click", "error"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    pitBackfillDiff(versions, col("event_id") % 5 === 0, facts,
        Seq("user_id"), "band", "ts", "event_id")
      .filter(!(col("band_before") <=> col("band_after")))
      .groupBy(coalesce(col("band_before"), lit(-1L)).as("band_before"),
        coalesce(col("band_after"), lit(-1L)).as("band_after"))
      .agg(count(lit(1)).as("n_facts"), min(col("event_id")).as("witness_event"))
      .orderBy(col("band_before"), col("band_after"))
  }

  /** q116 — per-user value-band history over the event stream: each
    * user's `value` reading quantized to exact 100-unit bands (integer
    * arithmetic on cents — no double boundaries), change-point
    * compressed into SCD2 intervals. The telemetry state-change
    * history every fleet dashboard wants, and the [[fromSnapshots]]
    * operator under the DuckDB oracle. Timestamps emit as formatted
    * strings (house rule for cross-engine timestamp parity). */
  val userBandHistory: Q = (s, d) => {
    val tsFmt = "yyyy-MM-dd HH:mm:ss"
    val snaps = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("cents"))
      .withColumn("band", expr("cents div 10000"))
      .drop("cents")
    fromSnapshots(snaps, Seq("user_id"), Seq("band"), "ts", Seq("event_id"))
      .select(col("user_id"), col("band"),
        date_format(col("valid_from"), tsFmt).as("valid_from"),
        date_format(col("valid_to"), tsFmt).as("valid_to"),
        col("is_current"))
      .orderBy(col("user_id"), col("valid_from"))
  }

  /** q201 — point-in-time fact enrichment over the band dimension:
    * signup/purchase events are the versioned dimension (the user's
    * value band, q116's exact integer quantization), view/click/error
    * events are the facts, and each fact is attributed to the band its
    * user was in AT THE FACT'S OWN (ts, event_id) — the feature-store
    * point-in-time-correctness join, then folded to a (band,
    * event_type) mix. Facts before their user's first version land in
    * band −1 ("unknown"). All arithmetic exact (cents, integer div);
    * the [[pitJoin]] union+window form means one user-keyed exchange
    * and zero joins, while the DuckDB twin deliberately runs the
    * scale-hostile spelling — the inequality fan-out join + per-fact
    * row_number — as the cross-algorithm check. */
  val pitBandMix: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType)
    val versions = ev.filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"),
        cents.as("cents"))
      .withColumn("band", expr("cents div 10000"))
      .drop("cents")
    val facts = ev.filter(col("event_type").isin("view", "click", "error"))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), cents.as("cents"))
    pitJoin(versions, facts, Seq("user_id"), Seq("band"), "ts", "event_id")
      .groupBy(coalesce(col("band"), lit(-1L)).as("band"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents_sum"))
      .orderBy(col("band"), col("event_type"))
  }

  val queries: Map[String, Q] = Map(
    "q116_scd2_band_history" -> userBandHistory,
    "q201_pit_band_mix" -> pitBandMix,
    "q208_pit_backfill_impact" -> pitBackfillImpact)

  val oracle: Map[String, String] = Map(
    "q116_scd2_band_history" ->
      """WITH snaps AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 10000 AS band
        |  FROM events),
        |chg AS (
        |  SELECT *, lag(band) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM snaps),
        |vers AS (
        |  SELECT user_id, band, ts, event_id FROM chg WHERE prev IS NULL OR prev <> band)
        |SELECT user_id, band,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
        |FROM vers ORDER BY user_id, valid_from""".stripMargin,
    // the NAIVE spelling on purpose: fan every fact to every earlier
    // version of its user, rank, keep rn=1 — the cross-algorithm twin
    // of the Spark side's join-free union+window form
    "q201_pit_band_mix" ->
      """WITH v AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 10000 AS band
        |  FROM events WHERE event_type IN ('signup', 'purchase')),
        |f AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('view', 'click', 'error')),
        |pit AS (
        |  SELECT f.event_id AS fid, v.band,
        |    row_number() OVER (PARTITION BY f.event_id
        |      ORDER BY v.ts DESC, v.event_id DESC) AS rn
        |  FROM f JOIN v ON v.user_id = f.user_id
        |    AND (v.ts < f.ts OR (v.ts = f.ts AND v.event_id < f.event_id))),
        |best AS (SELECT fid, band FROM pit WHERE rn = 1)
        |SELECT coalesce(b.band, CAST(-1 AS BIGINT)) AS band, f.event_type,
        |  count(*) AS n_events, CAST(sum(f.cents) AS BIGINT) AS cents_sum
        |FROM f LEFT JOIN best b ON b.fid = f.event_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // TWO naive fan-out enrichments (all versions / early-only), each
    // ranked per fact — the cross-algorithm twin of the Spark side's
    // single union+window two-epoch pass
    "q208_pit_backfill_impact" ->
      """WITH v AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 10000 AS band,
        |    event_id % 5 = 0 AS late
        |  FROM events WHERE event_type IN ('signup', 'purchase')),
        |f AS (
        |  SELECT user_id, ts, event_id FROM events
        |  WHERE event_type IN ('view', 'click', 'error')),
        |pit_all AS (
        |  SELECT f.event_id AS fid, v.band,
        |    row_number() OVER (PARTITION BY f.event_id
        |      ORDER BY v.ts DESC, v.event_id DESC) AS rn
        |  FROM f JOIN v ON v.user_id = f.user_id
        |    AND (v.ts < f.ts OR (v.ts = f.ts AND v.event_id < f.event_id))),
        |pit_early AS (
        |  SELECT f.event_id AS fid, v.band,
        |    row_number() OVER (PARTITION BY f.event_id
        |      ORDER BY v.ts DESC, v.event_id DESC) AS rn
        |  FROM f JOIN v ON v.user_id = f.user_id AND NOT v.late
        |    AND (v.ts < f.ts OR (v.ts = f.ts AND v.event_id < f.event_id))),
        |best_all AS (SELECT fid, band FROM pit_all WHERE rn = 1),
        |best_early AS (SELECT fid, band FROM pit_early WHERE rn = 1)
        |SELECT coalesce(e.band, CAST(-1 AS BIGINT)) AS band_before,
        |  coalesce(a.band, CAST(-1 AS BIGINT)) AS band_after,
        |  count(*) AS n_facts, min(f.event_id) AS witness_event
        |FROM f
        |LEFT JOIN best_all a ON a.fid = f.event_id
        |LEFT JOIN best_early e ON e.fid = f.event_id
        |WHERE e.band IS DISTINCT FROM a.band
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
