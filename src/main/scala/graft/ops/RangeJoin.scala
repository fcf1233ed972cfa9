package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Bucketized interval (range) joins — the join family Spark has no
  * native physical operator for: matching POINTS into INTERVALS when
  * no equi-key exists. Spark plans a bare `p BETWEEN lo AND hi` join
  * as BroadcastNestedLoopJoin (fine only while one side broadcasts)
  * or, worse, a cartesian product; at 10⁶ intervals × 10⁹ points
  * neither survives. The standard fix — what Databricks' range-join
  * hints and KDB's band joins do under the hood — is to mint the
  * missing equi-key: quantize the domain into fixed-width buckets,
  * explode each interval into every bucket it touches, tag each
  * point with the one bucket containing it, hash-join on the bucket
  * id, and re-check the exact predicate on the survivors.
  *
  * Correctness is by construction: a point in bucket b can only fall
  * inside intervals that touch b, every (point, interval) pair meets
  * in at most ONE bucket (the point's), so the output needs no dedup,
  * and the residual `lo <= p <= hi` filter makes bucket geometry
  * invisible in the result — the spec pins bucketized == naive.
  *
  * Scale contract: fan-out per interval is ceil(width/grain)+1
  * bucket rows, so `grain` should sit near the TYPICAL interval
  * width (fan-out ~2 rows per interval) — a grain far below the
  * widths multiplies the interval side, a grain far above it piles
  * unrelated intervals into shared buckets and shifts work into the
  * residual filter. Both degradations are linear and observable, not
  * cliffs. Hot buckets (many intervals overlapping one strip) are
  * data skew, the same hazard class as any hash join; the id-only
  * projection below keeps a hot bucket's rows skinny.
  */
object RangeJoin extends graft.QueryModule {

  /** Exact floor division for possibly-negative longs: `div`
    * truncates toward zero, but bucket arithmetic needs the floor
    * (a point at -1 and an interval lo at -1 must land in the same
    * bucket as each other, not straddle zero). Integer arithmetic end
    * to end — the quotient is Catalyst's IntegralDivide, NOT Column./
    * (which coerces to double division and mis-rounds past 2^53, e.g.
    * nanosecond-epoch longs — ADVICE r8), and the truncation→floor
    * correction subtracts 1 only when the dividend is negative with a
    * nonzero remainder. That formulation cannot overflow: the old
    * (c - pmod(c, g)) subtraction underflowed within a partial grain
    * of Long.MinValue, while here q-1 fires only for c < 0 with
    * remainder ≠ 0, which grain = 1 (the only q = Long.MinValue case)
    * makes unreachable. */
  def floorDiv(c: Column, grain: Long): Column = {
    require(grain > 0, s"grain must be positive, got $grain")
    val cl = c.cast(LongType)
    val q = GraftSqlBridge.column(IntegralDivide(
      GraftSqlBridge.expression(cl), Literal(grain, LongType)))
    when(cl < 0 && (cl % lit(grain)) =!= 0, q - 1).otherwise(q)
  }

  /** Join `points` into `intervals` on containment
    * (lo <= point <= hi, both ends inclusive), bucketized on `grain`.
    * All three key columns must be integer (LongType-compatible)
    * units — quantize doubles to cents/micros first; exact unit
    * arithmetic is what makes the residual filter cross-engine-exact.
    * Carries every other column of both inputs through — enforced by
    * failing fast (not silently overwriting) if either input already
    * carries the internal bucket-key name (ADVICE r8). */
  private val bucketCol = "__graft_rj_bucket"

  def pointInInterval(points: DataFrame, intervals: DataFrame,
      pointCol: String, loCol: String, hiCol: String, grain: Long): DataFrame = {
    require(grain > 0, s"grain must be positive, got $grain")
    Seq(points -> "points", intervals -> "intervals").foreach { case (df, side) =>
      require(!df.columns.contains(bucketCol),
        s"$side input already has a '$bucketCol' column — rename it; " +
          "pointInInterval mints that name as its internal bucket key")
    }
    // inverted intervals (lo > hi) match nothing under the containment
    // predicate, but a descending Sequence would THROW — filter them
    // (and NULL-ended intervals, which sequence also rejects) first
    val iv = intervals
      .filter(col(loCol) <= col(hiCol))
      .withColumn(bucketCol,
        explode(sequence(floorDiv(col(loCol), grain), floorDiv(col(hiCol), grain))))
    points.withColumn(bucketCol, floorDiv(col(pointCol), grain))
      .join(iv, Seq(bucketCol))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop(bucketCol)
  }

  /** q138 — balance band lookup: for each REGION's supplier
    * account-balance SPAN ([min, max] of its suppliers' balances),
    * how many customers anywhere hold a balance inside that span.
    * The interval table is derived (per-region min/max through the
    * supplier→nation→region dim chain — dim-sized), the point side is
    * the full customer table, and the two meet ONLY on a range
    * predicate — the canonical no-equi-key join, executed through
    * [[pointInInterval]] as a hash join on the minted bucket key
    * ($100 grain over exact cents; negative balances exercise the
    * floor-division path). The DuckDB twin spells the same thing as
    * the bare BETWEEN theta join, so the whole bucket machinery sits
    * under the hash oracle. Matched-balance extremes are emitted in
    * exact cents. */
  val balanceBandLookup: Q = (s, d) => {
    val cents = (c: Column) => (c.cast("decimal(18,2)") * 100).cast("long")
    val spans = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"))
      .agg(min(cents(col("s_acctbal"))).as("lo_cents"),
        max(cents(col("s_acctbal"))).as("hi_cents"))
    val pts = Tables.customer(s, d)
      .select(col("c_custkey"), cents(col("c_acctbal")).as("bal_cents"))
    pointInInterval(pts, spans, "bal_cents", "lo_cents", "hi_cents", grain = 10000L)
      .groupBy(col("region"))
      .agg(count(lit(1)).as("n_customers"),
        min(col("bal_cents")).as("min_match_cents"),
        max(col("bal_cents")).as("max_match_cents"))
      .orderBy(col("region"))
  }

  val queries: Map[String, Q] = Map(
    "q138_balance_band_lookup" -> balanceBandLookup)

  val oracle: Map[String, String] = Map(
    "q138_balance_band_lookup" ->
      """WITH spans AS (
        |  SELECT r_name AS region,
        |    min(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS lo_cents,
        |    max(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS hi_cents
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name
        |), pts AS (
        |  SELECT c_custkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents
        |  FROM customer
        |)
        |SELECT region, count(*) AS n_customers,
        |  min(bal_cents) AS min_match_cents,
        |  max(bal_cents) AS max_match_cents
        |FROM pts JOIN spans
        |  ON bal_cents BETWEEN lo_cents AND hi_cents
        |GROUP BY region ORDER BY region""".stripMargin)
}
