package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distribution-drift and time-series diagnostics — the monitoring
  * family a production corpus/warehouse pipeline runs BETWEEN releases
  * (did a source's length profile shift? is a metric trending? where
  * did the regime change?), complementing the point-in-time statistics
  * of [[Stats]] (q108 OLS, q139 MAD, q153 chi-square between columns)
  * and the cross-time token drift of TextAnalysis q141.
  *
  * Everything obeys the engine's cross-engine bit-identity discipline
  * (see [[Qx]] / [[Stats]]): comparisons and rank selections run on
  * EXACT integers (counts, cents, cross-multiplied CDVs) in
  * DECIMAL(38,0) (HUGEINT in the DuckDB twins); the only doubles are
  * (a) correctly-rounded casts of exact decimal moments feeding a
  * fixed closed-form expression tree evaluated identically by both
  * engines (the q108 trust), and (b) the Theil–Sen slopes, each a
  * single IEEE division of two exact integers — identical operands,
  * identical quotient bits.
  *
  * Scale posture: every query aggregates the fact table down to a
  * VALUE- or DAY-domain-bounded frame first (value histograms, daily
  * series), so no window or pair space here grows with SF — the same
  * discipline that lets q122/q146 survive 100 TB. Cumulative passes
  * either partition by a bounded key (q160: per-source over the value
  * grid) or run the [[Stats.rangeShards]] two-phase prefix (q163,
  * q164) — the bench stays free of `WindowExec: No Partition Defined`.
  */
object Drift extends graft.QueryModule {
  import Qx._

  private val D38 = DecimalType(38, 0)

  /** Shared daily order series: (day, n_orders, cents) — one
    * map-combined exchange onto the day domain (~2.5k groups at any
    * SF). Exact cents via the q109 cast chain; the BIGINT holds to
    * ~9e16 dollars/day, far past SF100. */
  private def dailyOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast(DateType).as("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast(DecimalType(18, 0))).cast(LongType).as("cents"))

  /** q160 — exact two-sample Kolmogorov–Smirnov drift statistic: for
    * each document source, the KS distance between its n_chars
    * distribution and the POOLED COMPLEMENT (everything else) — the
    * "which source no longer looks like the corpus" audit, reported
    * as an exact ppm. Where q141 compares token MASS across time
    * slices and q153 tests independence of two label columns, this
    * compares full empirical DISTRIBUTIONS, the stronger (and
    * binning-free) drift signal.
    *
    * No doubles anywhere: at every grid value,
    *   |cdf_s − cdf_rest| = |cum_s·n_rest − cum_rest·n_s| / (n_s·n_rest)
    * and the max of the numerator (exact DECIMAL(38,0) cross products)
    * is taken BEFORE the one ppm division — so the argmax is decided
    * on exact integers, never on rounded quotients.
    *
    * Scale shape: the fact collapses to the (source × value) histogram
    * first (one map-combined exchange); the cumulative pass runs over
    * the DENSE |sources|·|values| grid partitioned BY SOURCE, so each
    * reducer sees at most the value domain (q122's bound) — the grid
    * is histogram-sized, never data-sized. The global CDF rides the
    * same window (each grid row carries its value's pooled count), so
    * no second pass and no unpartitioned window. */
  private val q160: Q = (s, d) => {
    val hist = graft.ops.Dedup.materializedSketch(
      Tables.documents(s, d)
        .groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("cnt")))
    val srcTot = hist.groupBy(col("source")).agg(sum(col("cnt")).as("n_s"))
    val valTot = hist.groupBy(col("n_chars")).agg(sum(col("cnt")).as("g"))
    val nTot = hist.agg(sum(col("cnt")).as("n_tot"))
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valTot.crossJoin(broadcast(srcTot))
      .join(hist, Seq("source", "n_chars"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("cum_s", sum(col("cnt")).over(w))
      .withColumn("cum_g", sum(col("g")).over(w))
      .crossJoin(broadcast(nTot))
      .withColumn("dev", abs(
        col("cum_s").cast(D38) * (col("n_tot") - col("n_s")) -
          (col("cum_g") - col("cum_s")).cast(D38) * col("n_s")))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_docs"), max(col("dev")).as("max_dev"),
        max(col("n_tot") - col("n_s")).as("n_rest"))
      // A single-source corpus has no complement to drift against:
      // guard the division (both engines — the twin carries the same
      // HAVING) so the degenerate case is defined as "no rows".
      .filter(col("n_rest") > 0)
      .select(col("source"), col("n_docs"),
        expr("CAST(max_dev * 1000000 div (CAST(n_docs AS DECIMAL(38,0)) * n_rest)" +
          " AS BIGINT)").as("ks_ppm"))
      .orderBy(col("source"))
  }

  /** q161 — Benford first-digit conformance of order totals: observed
    * leading-digit frequencies against Benford's law, the classic
    * fabricated-/truncated-data screen for financial columns. The
    * expected shares are FIXED INTEGER ppm literals (log10(1+1/d)
    * rounded to ppm once, summing to exactly 1 000 000 — both engines
    * evaluate the same CASE over the same constants, so no log and no
    * float enters either plan); observed shares are exact integer ppm
    * (q104's discipline). The leading digit comes from the exact-cents
    * integer's decimal string — cents are positive by schema, so no
    * sign/zero arm is needed. One map-combined exchange onto 9 groups,
    * margins derived from the 9 cells. */
  private val q161: Q = (s, d) => {
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast(DecimalType(18, 0)).cast(LongType)
    val expected = "CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 " +
      "WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181 " +
      "WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153 " +
      "ELSE 45757 END"
    val cells = Tables.orders(s, d)
      .select(substring(cents.cast(StringType), 1, 1).cast(IntegerType).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
    val tot = cells.agg(sum(col("n_orders")).as("n_tot"))
    cells.crossJoin(broadcast(tot))
      .select(col("digit"), col("n_orders"),
        expr("n_orders * 1000000L div n_tot").as("observed_ppm"),
        expr(expected).as("expected_ppm"))
      .withColumn("dev_ppm", abs(col("observed_ppm") - col("expected_ppm")))
      .orderBy(col("digit"))
  }

  /** q162 — autocorrelation of daily revenue at lags 1/7/28 (does
    * yesterday / last week / last month predict today?): the exact-
    * moment Pearson correlation (q108's closed form) over (x_t,
    * x_{t+k}) pairs formed by an EQUI-join of the daily series against
    * its k-day shift — no window, no sort; a missing day simply
    * produces no pair, which is the standard treatment for irregular
    * series. Moments are exact DECIMAL(38,0) sums of cent products
    * (day totals reach ~1e12 cents at SF100, squares ~1e24 — past
    * int64, inside 38 digits); each moment then casts to double once
    * (correctly rounded on both engines) and feeds the fixed formula
    * tree, so the emitted correlation is bit-identical. The daily
    * series is day-domain-bounded, so the whole query costs one fact
    * exchange plus ~2.5k-row joins regardless of SF. */
  private val q162: Q = (s, d) => {
    val daily = graft.ops.Dedup.materializedSketch(
      dailyOrders(s, d).select(col("day"), col("cents")))
    val lagged = Seq(1, 7, 28).map { k =>
      daily.select(col("day"), col("cents").as("x"))
        .join(daily.select(date_sub(col("day"), k).as("day"), col("cents").as("y")),
          Seq("day"))
        .select(lit(k).as("lag"), col("x"), col("y"))
    }.reduce(_ union _)
    val m = lagged.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x").cast(D38)).as("sx_d"), sum(col("y").cast(D38)).as("sy_d"),
        sum(col("x").cast(D38) * col("x")).as("sxx_d"),
        sum(col("x").cast(D38) * col("y")).as("sxy_d"),
        sum(col("y").cast(D38) * col("y")).as("syy_d"))
      .select(col("lag"), col("n_pairs"),
        col("n_pairs").cast(DoubleType).as("n"),
        col("sx_d").cast(DoubleType).as("sx"), col("sy_d").cast(DoubleType).as("sy"),
        col("sxx_d").cast(DoubleType).as("sxx"),
        col("sxy_d").cast(DoubleType).as("sxy"),
        col("syy_d").cast(DoubleType).as("syy"))
    m.select(col("lag"), col("n_pairs"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy")))).as("autocorr"))
      .orderBy(col("lag"))
  }

  /** q163 — CUSUM changepoint scan over daily order counts: the five
    * days where the cumulative count deviates most from the uniform
    * trend, i.e. the argmax of |cum_t/N − t/T| — the classic "where
    * did the rate change" detector (and the one-sample KS statistic
    * against uniform-in-time). Deviations compare as exact
    * DECIMAL(38,0) cross products |cum_t·T − t·N| (q160's trick), so
    * ranking never sees a rounded quotient; the reported dev_ppm is
    * the one terminal division. BOTH engines order by (dev_ppm, day)
    * — the truncated key — so the top-5 cut is decided on identical
    * values. The cumulative count runs the [[Stats.rangeShards]]
    * two-phase prefix over the daily series (day-domain-bounded;
    * range exchange + per-shard windows seeded by broadcast offsets —
    * no single-reducer window), and the top-5 is a
    * TakeOrderedAndProject, not a global sort. */
  private val q163: Q = (s, d) => {
    val daily = dailyOrders(s, d).select(col("day"), col("n_orders"))
    val (ranged, shards) = Stats.rangeShards(daily, Seq(col("day")),
      count(lit(1)).as("c"), sum(col("n_orders")).as("sm"))
    val (offDf, totals) = Stats.exclusiveOffsets(s, shards,
      Seq("_coff", "_soff"), Seq(0L, 0L))
    val tDays = totals(0).asInstanceOf[Long]
    val nOrders = totals(1).asInstanceOf[Long]
    val w = Window.partitionBy(col("_pid")).orderBy(col("day"))
    ranged.join(broadcast(offDf), Seq("_pid"))
      .withColumn("day_idx", col("_coff") + row_number().over(w))
      .withColumn("cum_orders", col("_soff") +
        sum(col("n_orders")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("dev", abs(col("cum_orders").cast(D38) * tDays -
        col("day_idx").cast(D38) * nOrders))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("day_idx"), col("cum_orders"),
        expr(s"CAST(dev * 1000000 div (CAST(${nOrders}L AS DECIMAL(38,0)) * ${tDays})" +
          " AS BIGINT)").as("dev_ppm"))
      .orderBy(col("dev_ppm").desc, col("day"))
      .limit(5)
  }

  /** q164 — Theil–Sen robust trend of daily revenue: the MEDIAN of the
    * pairwise slopes (cents/day) over all T·(T−1)/2 day pairs — the
    * breakdown-point-0.29 estimator that shrugs off the outlier days
    * that drag q108-style OLS (emitted alongside for contrast, from
    * exact moments). Each slope is ONE IEEE division of two exact
    * integers (cent delta / day delta) — identical operand bits on
    * both engines, hence identical quotients — and the median is the
    * q122 nearest-rank SELECTION over the slope-value histogram, so
    * the result is an actual slope value, not an interpolation.
    *
    * Scale shape: the pair space is DAY-domain-bounded (T ≈ 2.4k days
    * at every SF ⇒ ~3M pairs, constant as data grows), generated by a
    * broadcast nested-loop self-join of the tiny daily frame — the
    * one join shape where BNLJ is the RIGHT plan. The median runs
    * the [[Stats.rangeShards]] two-phase prefix over the slope
    * histogram (~3M distinct values — too many for one reducer, which
    * is exactly the single-partition-window trap the shards retire).
    * The nearest-rank index comes from the exact driver-side pair
    * count (T is known; P = T(T−1)/2). */
  private val q164: Q = (s, d) => {
    val daily = graft.ops.Dedup.materializedSketch(
      dailyOrders(s, d).select(col("day"), col("cents")))
    val tDays = daily.count()
    val nPairs = tDays * (tDays - 1) / 2
    val kRank = (50 * nPairs + 99) / 100
    // Degenerate corpus (0 or 1 days): no slope pairs exist. The
    // DuckDB twin's `ts` CTE is empty there (rank 0 matches nothing)
    // and its CROSS JOIN collapses to zero rows; emit the same empty
    // frame instead of one null-slope row so both engines agree.
    if (nPairs == 0) {
      s.range(0).select(col("id").as("n_days"), col("id").as("n_pairs"),
        col("id").cast(DoubleType).as("ts_slope"),
        col("id").cast(DoubleType).as("ols_slope"))
    } else q164NonDegenerate(s, daily, tDays, nPairs, kRank)
  }

  private def q164NonDegenerate(s: SparkSession, daily: DataFrame,
                                tDays: Long, nPairs: Long,
                                kRank: Long): DataFrame = {
    val a = daily.select(col("day").as("day_a"), col("cents").as("cents_a"))
    val b = daily.select(col("day").as("day_b"), col("cents").as("cents_b"))
    val slopes = a.join(broadcast(b), col("day_a") < col("day_b"))
      .select(((col("cents_b") - col("cents_a")) /
        datediff(col("day_b"), col("day_a"))).as("slope"))
      .groupBy(col("slope")).agg(count(lit(1)).as("cnt"))
    val (ranged, shards) = Stats.rangeShards(slopes, Seq(col("slope")),
      sum(col("cnt")).as("sm"))
    val (offDf, _) = Stats.exclusiveOffsets(s, shards, Seq("_off"), Seq(0L))
    val w = Window.partitionBy(col("_pid")).orderBy(col("slope"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tsSlope = ranged.join(broadcast(offDf), Seq("_pid"))
      .withColumn("cum", col("_off") + sum(col("cnt")).over(w))
      .agg(min(when(col("cum") >= kRank, col("slope"))).as("ts_slope"))
    // OLS contrast from exact moments over (epoch day, cents) — the
    // q108/q162 closed form on correctly-rounded exact-decimal casts
    val epoch = datediff(col("day"), lit("1970-01-01").cast(DateType))
    val ols = daily
      .select(epoch.cast(LongType).as("x"), col("cents").as("y"))
      .agg(count(lit(1)).as("n_l"),
        sum(col("x").cast(D38)).as("sx_d"), sum(col("y").cast(D38)).as("sy_d"),
        sum(col("x").cast(D38) * col("x")).as("sxx_d"),
        sum(col("x").cast(D38) * col("y")).as("sxy_d"))
      .select(col("n_l").cast(DoubleType).as("n"),
        col("sx_d").cast(DoubleType).as("sx"), col("sy_d").cast(DoubleType).as("sy"),
        col("sxx_d").cast(DoubleType).as("sxx"), col("sxy_d").cast(DoubleType).as("sxy"))
      .select(((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))).as("ols_slope"))
    tsSlope.crossJoin(broadcast(ols))
      .select(lit(tDays).as("n_days"), lit(nPairs).as("n_pairs"),
        col("ts_slope"), col("ols_slope"))
  }

  /** q178 — SEASONAL INDEX decomposition of monthly revenue: the
    * classic ratio-to-centered-moving-average method — a 13-month
    * centered trend per month (full windows only), each month's
    * revenue as a micro-ratio of its trend, averaged per CALENDAR
    * month into the twelve seasonal indices. Everything is exact
    * integer arithmetic (o_totalprice is 2-decimal so cents are
    * integral; ratios and the index are BIGINT `div`s), so both
    * engines land the same digits — no float-division drift. The
    * ratio numerator is widened to DECIMAL(38,0) before the × 10⁶
    * (the q153/q166 discipline): plain BIGINT would wrap silently
    * (ANSI off) once monthly revenue passes ~9.2·10¹² cents
    * (Long.MaxValue / 10⁶ — roughly SF30), while the widened product
    * holds to 10³² cents. The remaining Long bound is the monthly
    * cent sum itself (~9.2·10¹⁸ cents/month — beyond any real SF).
    *
    * Scale shape: NO window functions at all on the Spark side — the
    * centered moving sum is the q124 CONTRIBUTION EXPLODE over the
    * month-domain-bounded series (each month fans out to the 13
    * window centers it feeds; both aggs are map-combined hash aggs on
    * the ~10²-row month domain), so nothing ever funnels into a
    * single unpartitioned-window reducer. The DuckDB twin runs the
    * OTHER algorithm — a calendar RANGE window (INTERVAL 6 MONTH
    * PRECEDING/FOLLOWING) — so the explode's window algebra is
    * cross-checked against a literal windowed scan, including the
    * full-window (n = 13) edge clipping. */
  val q178: Q = (s, d) => {
    val monthly = Tables.orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType).as("m"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast(DecimalType(18, 0))).cast(LongType).as("cents"))
    val wins = monthly
      .withColumn("off", explode(sequence(lit(-6), lit(6))))
      .select(add_months(col("m"), col("off")).as("c"), col("cents"))
      .groupBy(col("c"))
      .agg(sum(col("cents")).as("wsum"), count(lit(1)).as("n"))
      .filter(col("n") === 13)
    wins.join(monthly, wins("c") === monthly("m"))
      .select(month(col("m")).as("cal_month"),
        expr("CAST(CAST(cents AS DECIMAL(38,0)) * 1000000" +
          " div (wsum div 13L) AS BIGINT)").as("ratio_micro"))
      .groupBy(col("cal_month"))
      .agg(count(lit(1)).as("n_windows"),
        expr("sum(ratio_micro) div count(1)").as("seasonal_micro"))
      .orderBy(col("cal_month"))
  }

  val queries: Map[String, Q] = Map(
    "q160_ks_drift" -> q160,
    "q161_benford_audit" -> q161,
    "q162_revenue_autocorr" -> q162,
    "q163_cusum_changepoint" -> q163,
    "q164_theil_sen_trend" -> q164,
    "q178_seasonal_indices" -> q178)

  private val sqlCents =
    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))"
  private val sqlDaily =
    s"""SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
       |    CAST(sum($sqlCents) AS BIGINT) AS cents
       |  FROM orders GROUP BY 1""".stripMargin

  val oracle: Map[String, String] = Map(
    // literal calendar-range window — the other spelling of the
    // 13-month centered moving sum the Spark side builds by
    // contribution explode
    "q178_seasonal_indices" ->
      s"""WITH monthly AS (
         |  SELECT date_trunc('month', o_orderdate) AS m,
         |    CAST(sum($sqlCents) AS BIGINT) AS cents
         |  FROM orders GROUP BY 1
         |), win AS (
         |  SELECT m, cents,
         |    CAST(sum(cents) OVER w AS BIGINT) AS wsum,
         |    count(*) OVER w AS n
         |  FROM monthly
         |  WINDOW w AS (ORDER BY m RANGE BETWEEN INTERVAL 6 MONTH PRECEDING
         |                                    AND INTERVAL 6 MONTH FOLLOWING)
         |), ratio AS (
         |  -- numerator widened to HUGEINT, mirroring the Spark side's
         |  -- DECIMAL(38,0): plain BIGINT wraps at ~9.2e12 cents/month
         |  -- (~SF30) -- exactly where the widening matters
         |  SELECT CAST(month(m) AS INTEGER) AS cal_month,
         |    CAST((CAST(cents AS HUGEINT) * 1000000) // (wsum // 13)
         |      AS BIGINT) AS ratio_micro
         |  FROM win WHERE n = 13
         |)
         |SELECT cal_month, count(*) AS n_windows,
         |  CAST(CAST(sum(ratio_micro) AS BIGINT) // count(*) AS BIGINT)
         |    AS seasonal_micro
         |FROM ratio GROUP BY 1 ORDER BY 1""".stripMargin,
    "q160_ks_drift" ->
      """WITH hist AS (
        |  SELECT source, n_chars, count(*) AS cnt
        |  FROM documents GROUP BY 1, 2
        |), src AS (
        |  SELECT source, sum(cnt) AS n_s FROM hist GROUP BY 1
        |), val AS (
        |  SELECT n_chars, sum(cnt) AS g FROM hist GROUP BY 1
        |), n AS (
        |  SELECT sum(cnt) AS n_tot FROM hist
        |), grid AS (
        |  SELECT src.source, val.n_chars, src.n_s, val.g,
        |    coalesce(hist.cnt, 0) AS cnt
        |  FROM val CROSS JOIN src
        |  LEFT JOIN hist USING (source, n_chars)
        |), cum AS (
        |  SELECT source, n_s, n_tot,
        |    sum(cnt) OVER (PARTITION BY source ORDER BY n_chars
        |      ROWS UNBOUNDED PRECEDING) AS cum_s,
        |    sum(g) OVER (PARTITION BY source ORDER BY n_chars
        |      ROWS UNBOUNDED PRECEDING) AS cum_g
        |  FROM grid CROSS JOIN n
        |)
        |SELECT source, CAST(max(n_s) AS BIGINT) AS n_docs,
        |  CAST(max(abs(CAST(cum_s AS HUGEINT) * (n_tot - n_s)
        |        - CAST(cum_g - cum_s AS HUGEINT) * n_s)) * 1000000
        |    // (CAST(max(n_s) AS HUGEINT) * max(n_tot - n_s)) AS BIGINT) AS ks_ppm
        |FROM cum GROUP BY source HAVING max(n_tot - n_s) > 0
        |ORDER BY source""".stripMargin,
    "q161_benford_audit" ->
      s"""WITH cells AS (
         |  SELECT CAST(left(CAST(CAST($sqlCents AS BIGINT) AS VARCHAR), 1) AS INTEGER)
         |    AS digit, count(*) AS n_orders
         |  FROM orders GROUP BY 1
         |), n AS (SELECT sum(n_orders) AS n_tot FROM cells)
         |SELECT digit, n_orders,
         |  CAST(n_orders * 1000000 // n_tot AS BIGINT) AS observed_ppm,
         |  CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
         |    WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
         |    WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
         |    ELSE 45757 END AS INTEGER) AS expected_ppm,
         |  CAST(abs(CAST(n_orders * 1000000 // n_tot AS BIGINT)
         |    - CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
         |      WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
         |      WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
         |      ELSE 45757 END) AS BIGINT) AS dev_ppm
         |FROM cells CROSS JOIN n ORDER BY digit""".stripMargin,
    "q162_revenue_autocorr" ->
      s"""WITH daily AS (
         |  $sqlDaily
         |), lagged AS (
         |  SELECT k.lag, a.cents AS x, b.cents AS y
         |  FROM (SELECT unnest([1, 7, 28]) AS lag) k
         |  CROSS JOIN daily a
         |  JOIN daily b ON b.day = a.day + k.lag
         |), m AS (
         |  SELECT lag, count(*) AS n_pairs,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
         |    CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
         |    CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
         |  FROM lagged GROUP BY lag
         |)
         |SELECT lag, n_pairs,
         |  (n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)) AS autocorr
         |FROM m ORDER BY lag""".stripMargin,
    "q163_cusum_changepoint" ->
      s"""WITH daily AS (
         |  $sqlDaily
         |), t AS (
         |  SELECT count(*) AS t_days, sum(n_orders) AS n_tot FROM daily
         |), cum AS (
         |  SELECT day,
         |    row_number() OVER (ORDER BY day) AS day_idx,
         |    sum(n_orders) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum_orders
         |  FROM daily
         |)
         |SELECT strftime(day, '%Y-%m-%d') AS day, day_idx,
         |  CAST(cum_orders AS BIGINT) AS cum_orders,
         |  CAST(abs(CAST(cum_orders AS HUGEINT) * t_days
         |      - CAST(day_idx AS HUGEINT) * n_tot) * 1000000
         |    // (CAST(n_tot AS HUGEINT) * t_days) AS BIGINT) AS dev_ppm
         |FROM cum CROSS JOIN t
         |ORDER BY dev_ppm DESC, day LIMIT 5""".stripMargin,
    "q164_theil_sen_trend" ->
      s"""WITH daily AS (
         |  $sqlDaily
         |), t AS (
         |  SELECT count(*) AS n_days FROM daily
         |), pairs AS (
         |  SELECT (b.cents - a.cents) / (b.day - a.day) AS slope
         |  FROM daily a JOIN daily b ON a.day < b.day
         |), p AS (
         |  SELECT count(*) AS n_pairs FROM pairs
         |), sel AS (
         |  SELECT slope, row_number() OVER (ORDER BY slope) AS rn FROM pairs
         |), ts AS (
         |  SELECT slope AS ts_slope FROM sel CROSS JOIN p
         |  WHERE rn = (50 * n_pairs + 99) // 100
         |), m AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(CAST(day - DATE '1970-01-01' AS HUGEINT)) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) AS sy,
         |    CAST(sum(CAST(day - DATE '1970-01-01' AS HUGEINT)
         |      * CAST(day - DATE '1970-01-01' AS HUGEINT)) AS DOUBLE) AS sxx,
         |    CAST(sum(CAST(day - DATE '1970-01-01' AS HUGEINT) * cents) AS DOUBLE) AS sxy
         |  FROM daily
         |)
         |SELECT t.n_days, p.n_pairs, ts.ts_slope,
         |  (n*sxy - sx*sy) / (n*sxx - sx*sx) AS ols_slope
         |FROM t CROSS JOIN p CROSS JOIN ts CROSS JOIN m""".stripMargin)
}
