package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bloom-filter pre-filtered join (q110): the shuffle-reduction
  * pattern for a fact-to-dim join whose dim side is too big to
  * broadcast EXACTLY but whose key set compresses into a few MB of
  * bits. Shuffling 100 TB of lineitem to join a 5%-selective part
  * subset moves 20x the surviving rows; probing a broadcast Bloom of
  * the dim keys at the scan drops ~95% of fact rows BEFORE the
  * exchange, and the exact join then only dedups the false positives
  * (the filter has no false negatives, so the pre-filter is
  * semantics-free — which is also why the query carries a plain-SQL
  * DuckDB twin).
  *
  * Build and probe follow the CMS discipline
  * ([[graft.functions.Aggregators.CountMinSketch]]): bit POSITIONS
  * are codegen'd column expressions (`pmod(xxhash64(key, seed), m)`)
  * shared verbatim by both sides, the build is a partial-aggregable
  * typed Aggregator whose exchange carries one bitmap per map
  * partition (never per row), and the finished one-row bitmap frame
  * is broadcast onto the fact scan — the filter itself is
  * element_at + shift/AND on a LONG array, entirely inside
  * whole-stage codegen. No driver-side hashing, no collect: build
  * and probe cannot drift.
  *
  * Sizing: m/n >= 64 bits/key at k=5 puts the false-positive rate
  * below 1e-5 (fp ~ (1 - e^(-kn/m))^k); the default 2^18 bits (32 KB)
  * covers dims to ~4k keys at that margin. At a 10^8-key dim, m
  * scales to ~1 GB — past broadcast comfort, at which point Spark's
  * own runtime shuffle-side bloom (AQE) or a semi-join on a bucketed
  * layout takes over; the cutover is the caller's call, the math is
  * the same. */
object BloomJoin extends graft.QueryModule {

  val numHashes = 5
  val defaultBits = 1 << 18

  /** The shared hash family: bit position of hash round `r` for `key`,
    * in [0, mBits). Identical expression on build and probe. */
  private def bitPos(key: Column, r: Int, mBits: Int): Column =
    pmod(xxhash64(key, lit(r)), lit(mBits)).cast(IntegerType)

  /** Distributed build: one row holding the m-bit filter as
    * Array[Long], via a partial-aggregable OR of per-partition
    * bitmaps. */
  def buildBloom(keys: DataFrame, key: String, mBits: Int = defaultBits): DataFrame = {
    import keys.sparkSession.implicits._
    val agg = new graft.functions.Aggregators.BloomBits(mBits)
    val pos: org.apache.spark.sql.Dataset[Seq[Int]] = keys
      .select(array((0 until numHashes).map(r => bitPos(col(key), r, mBits)): _*).as("pos"))
      .as[Seq[Int]]
    val out: org.apache.spark.sql.Dataset[Array[Long]] =
      pos.select(agg.toColumn.name("bits"))
    out.toDF("bits")
  }

  /** Probe predicate over a `bits` Array[Long] column: all k bits set.
    * Pure builtins (element_at / shiftright / bit AND), codegen'd. */
  def mightContain(bits: Column, key: Column, mBits: Int = defaultBits): Column =
    (0 until numHashes).map { r =>
      val pos = bitPos(key, r, mBits)
      // word index = pos >> 6 (Column `/` is DOUBLE division — use the
      // shift); bit index = pos & 63
      val word = element_at(bits, shiftright(pos, 6) + 1)
      call_function("shiftright", word, pos.bitwiseAND(lit(63)))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)

  /** q110 — revenue by brand over the "premium parts" slice of
    * lineitem: bloom pre-filter at the fact scan, then the exact join
    * (which also carries p_brand). Locally Catalyst broadcasts the
    * dim anyway — the bloom's value shows at the scale where it
    * cannot; the plan shape (filter-before-exchange) is what this
    * query pins.
    *
    * "Premium" is the top 5% of the price RANGE via a broadcast
    * scalar (not a fixed cutoff: the testdata price span varies by
    * SF). The threshold double is the same fixed op tree on both
    * engines and prices sit on a 0.1 grid, so the boundary cannot
    * straddle an ulp. */
  val bloomSemiJoinRevenue: Q = (s, d) => {
    val part = Tables.part(s, d)
    val bounds = part.agg(min(col("p_retailprice")).as("lo"),
      max(col("p_retailprice")).as("hi"))
    val dim = part.crossJoin(broadcast(bounds))
      .filter(col("p_retailprice") >
        col("lo") + (col("hi") - col("lo")) * 0.95)
      .select(col("p_partkey"), col("p_brand"))
    val bloom = buildBloom(dim.select(col("p_partkey")), "p_partkey")
    Tables.lineitem(s, d)
      .crossJoin(broadcast(bloom))
      .filter(mightContain(col("bits"), col("l_partkey")))
      .drop("bits")
      .join(dim, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(graft.queries.Qx.discPrice(col("l_extendedprice"), col("l_discount")))
          .cast(DecimalType(18, 4)).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  val queries: Map[String, Q] = Map(
    "q110_bloom_semijoin" -> bloomSemiJoinRevenue)

  val oracle: Map[String, String] = Map(
    // the bloom is invisible to semantics: the twin is the plain join
    "q110_bloom_semijoin" ->
      s"""SELECT p_brand,
         |  ${graft.queries.Qx.sqlDsum(graft.queries.Qx.sqlDiscPrice, rescale = 4)} AS revenue,
         |  count(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_retailprice > (SELECT min(p_retailprice) +
         |  (max(p_retailprice) - min(p_retailprice)) * 0.95 FROM part)
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
}
