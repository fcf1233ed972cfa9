package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core relational analytics surface: the KPI queries the reference's
  * star schema exists to serve (SURVEY.md §2.4, K-1..K-5) re-expressed
  * over the driver testdata star schema (FIXTURES.md §B role mapping),
  * plus the standard operator families SURVEY.md §2.6 calls out
  * (agg, join incl. broadcast/semi/anti, window, top-k, rollup,
  * distinct, set ops, scalar functions).
  *
  * Every query is a lazy DataFrame plan — Catalyst pushes filters and
  * column pruning into the parquet scans; small dimensions are
  * broadcast explicitly. All outputs carry a total ordering so the
  * dumped parquet is deterministic (the sort is eliminated by
  * Catalyst's EliminateSorts under Bench's count()).
  */
object Core extends graft.QueryModule {
  import Qx._

  /** K-1-shaped pricing summary (TPC-H Q1 analog): filter + grouped
    * sums/averages/count with exact decimal arithmetic. */
  private val q01: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.filter(col("l_shipdate") <= lit("2000-12-01").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity"), rescale = 2).as("sum_qty"),
        dsum(col("l_extendedprice"), rescale = 2).as("sum_base_price"),
        sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast(DecimalType(18, 4)).cast(DoubleType).as("sum_disc_price"),
        davg(col("l_quantity"), rescale = 2).as("avg_qty"),
        davg(col("l_discount"), rescale = 2).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q6 analog: tight filter (pushed to parquet) + scalar sum. */
  private val q02: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.filter(
        col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1997-01-01").cast(TimestampType) &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg((sum(col("l_extendedprice").cast(D6) * col("l_discount").cast(D6))).cast(DecimalType(18, 4)).cast(DoubleType).as("revenue"))
  }

  /** K-1/K-2 analog: fact⋈dim join + per-group count/avg/max. */
  private val q03: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        davg(col("o_totalprice"), rescale = 2).as("avg_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_totalprice")).as("min_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** Multi-way broadcast join chain: revenue by region/nation. */
  private val q04: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val su = Tables.supplier(s, d)
    val na = Tables.nation(s, d)
    val re = Tables.region(s, d)
    li.join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
      .join(broadcast(na), su("s_nationkey") === na("n_nationkey"))
      .join(broadcast(re), na("n_regionkey") === re("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast(DecimalType(18, 4)).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** K-4 analog (route popularity): grouped count, fully-ordered top-k
    * (ties broken on the group keys so LIMIT is deterministic). */
  private val q05: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("n_name"), col("o_orderpriority"))
      .limit(10)
  }

  /** Window function: highest-value order per customer (row_number with
    * a deterministic tiebreak on the key). */
  private val q06: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"))
  }

  /** K-5 analog: fare trend over time — daily order count + avg price. */
  private val q07: Q = (s, d) => {
    val o = Tables.orders(s, d)
    o.groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"))
      .agg(count(lit(1)).as("n_orders"), davg(col("o_totalprice"), rescale = 2).as("avg_price"))
      .orderBy(col("order_day"))
  }

  /** Anti join (NOT EXISTS): customers that never ordered, by segment. */
  private val q08: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** Semi join (EXISTS): customers with at least one finished order,
    * aggregated per nation. */
  private val q09: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
    val n = Tables.nation(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .join(broadcast(n), col("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"), davg(col("c_acctbal"), rescale = 2).as("avg_acctbal"))
      .orderBy(col("n_name"))
  }

  /** ROLLUP over (returnflag, linestatus): subtotal + grand-total rows. */
  private val q10: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity"), rescale = 2).as("sum_qty"), count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** Exact distinct aggregates per group. */
  private val q11: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"))
  }

  /** Conditional (CASE WHEN) aggregation — manual pivot by linestatus. */
  private val q12: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("l_linestatus") === "F", col("l_quantity")).otherwise(0).cast(D6)).cast(D6).cast(DoubleType).as("qty_f"),
        sum(when(col("l_linestatus") === "O", col("l_quantity")).otherwise(0).cast(D6)).cast(D6).cast(DoubleType).as("qty_o"),
        count(when(col("l_linestatus") === "F", lit(1))).as("n_f"),
        count(when(col("l_linestatus") === "O", lit(1))).as("n_o"))
      .orderBy(col("l_returnflag"))
  }

  /** Scalar-function surface: string + date part extraction. The
    * day-of-week convention is pinned to pandas (Mon=0..Sun=6), matching
    * the reference's dim_date derivation (transformation.py:97). */
  private val q13: Q = (s, d) => {
    val o = Tables.orders(s, d)
    o.select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        quarter(col("o_orderdate")).as("o_quarter"),
        ((dayofweek(col("o_orderdate")) + lit(5)) % 7).as("o_dow_mon0"),
        upper(col("o_orderstatus")).as("status_u"),
        substring(col("o_orderpriority"), 1, 1).cast(IntegerType).as("priority_rank"),
        length(col("o_orderpriority")).as("priority_len"))
      .orderBy(col("o_orderkey"))
  }

  /** Set operations: INTERSECT and EXCEPT over key projections. */
  private val q14: Q = (s, d) => {
    val c = Tables.customer(s, d).select(col("c_custkey"))
    val o = Tables.orders(s, d).select(col("o_custkey").as("c_custkey"))
    val both = c.intersect(o).withColumn("tag", lit("with_orders"))
    val none = c.except(o).withColumn("tag", lit("no_orders"))
    both.unionByName(none)
      .select(col("tag"), col("c_custkey"))
      .orderBy(col("tag"), col("c_custkey"))
  }

  /** Sketch aggregates (HLL distinct, quantile sketch) next to their
    * exact forms — engine-specific algorithms, so rows-only under the
    * driver (no SQL twin); CoreSketchSpec bounds the relative error.
    *
    * The quantile sketch runs in its OWN aggregation, joined back on
    * the (tiny) group key: combined with countDistinct, Spark's
    * distinct rewrite keys the partial aggregate by (flag, partkey),
    * which would build and merge one QuantileSummaries per distinct
    * part (~2x slower at sf0.1, worse with more parts). Two pruned
    * scans beat one scan with a per-key sketch explosion. */
  private val q19: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val counts = li.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
    val quantiles = li.groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
        .as("median_price_sketch"))
    counts.join(quantiles, Seq("l_returnflag"))
      .orderBy(col("l_returnflag"))
  }

  /** CUBE: all grouping-set combinations over two keys. */
  private val q39: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity"), rescale = 2).as("sum_qty"), count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** The raw-SQL surface: the engine accepts SQL text over registered
    * views (TPC-H Q3 shape). Exercises the full parse -> analyze ->
    * optimize path rather than the DataFrame DSL. */
  private val q40: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("v_customer")
    Tables.orders(s, d).createOrReplaceTempView("v_orders")
    Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
    s.sql(
      """SELECT o_orderkey,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
        |  date_format(o_orderdate, 'yyyy-MM-dd') AS order_date,
        |  o_orderpriority
        |FROM v_customer
        |JOIN v_orders ON c_custkey = o_custkey
        |JOIN v_lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin)
  }

  /** Relational pivot: one column per linestatus value (the native
    * `.pivot()` operator; DuckDB mirrors with conditional aggregates). */
  private val q42: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum(col("l_quantity"), rescale = 2))
      .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
      .orderBy(col("l_returnflag"))
  }

  /** Unpivot (melt): wide per-group measures back to (measure, value)
    * rows — Spark's native unpivot operator; the SQL twin stacks with
    * UNION ALL. */
  private val q43: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val wide = li.groupBy(col("l_returnflag"))
      .agg(
        dsum(col("l_quantity"), rescale = 2).as("sum_qty"),
        dsum(col("l_extendedprice"), rescale = 2).as("sum_price"))
    wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price")),
        "measure", "value")
      .orderBy(col("l_returnflag"), col("measure"))
  }

  /** Correlated scalar subquery (TPC-H Q17 shape): revenue from
    * small-quantity orders, threshold = 0.2 * per-part average.
    * Expressed decorrelated (per-part aggregate + join) — the plan
    * Catalyst produces for the correlated SQL form anyway. The inner
    * avg is exact across engines: integer-valued quantities sum
    * exactly in double. */
  private val q44: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val pa = Tables.part(s, d)
    val perPart = li.groupBy(col("l_partkey").as("t_partkey"))
      .agg((avg(col("l_quantity")) * 0.2).as("qty_threshold"))
    li.join(broadcast(pa.filter(col("p_brand") === "Brand#4")),
        li("l_partkey") === pa("p_partkey"))
      .join(perPart, li("l_partkey") === perPart("t_partkey"))
      .filter(col("l_quantity") < col("qty_threshold"))
      .agg(
        (sum(col("l_extendedprice").cast(D6)).cast(DecimalType(18, 2)).cast(DoubleType) / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }

  /** Window frames: 7-row moving average and running cumulative sum
    * over daily totals (ROWS BETWEEN frames, time-ordered). The frame
    * aggregates stay DECIMAL until the final cast: DuckDB evaluates
    * window sums with a segment tree (pairwise order), Spark
    * sequentially — only exact decimal addition is order-independent.
    * The running total rescales to DECIMAL(18,4) (bound ~9e11) since
    * the cumulative sum outgrows the (18,6) exact-double range.
    *
    * Sharded (r9): the global day order runs through
    * [[Stats.rangeShards]]'s two-phase pass instead of one reducer,
    * with the piece prefix sums alone can't give a SLIDING frame —
    * boundary-carry replication: each shard additionally receives the
    * 6 globally-preceding days (driver-assembled from the per-shard
    * day tails — P·6 rows, bounded by cluster width), so the -6..0
    * frame of every native row sees its true predecessors; `rn` and
    * the running total count ONLY native rows on top of the broadcast
    * exclusive offsets, and carry rows are dropped after the window.
    * Values are bit-identical to the single-reducer spelling (exact
    * decimal addition is associative; carry rows reproduce exactly the
    * rows the global frame would have read). */
  private val q45: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val daily = o.groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"))
      .agg(sum(col("o_totalprice").cast(D6)).cast(D6).as("day_total_dec"))
    val (ranged, shards) = Stats.rangeShards(daily, Seq(col("order_day")),
      count(lit(1)).as("c"), sum(col("day_total_dec")).as("sm"))
    val (offDf, _) = Stats.exclusiveOffsets(s, shards, Seq("_coff", "_soff"),
      Seq(0L, java.math.BigDecimal.ZERO))
    // per-shard last-6-day tails -> the true previous-6 days of each
    // shard, assembled driver-side (robust to small/empty shards: a
    // shard with < 6 rows just contributes what it has and the walk
    // continues into the shard before it)
    val wTail = Window.partitionBy(col("_pid")).orderBy(col("order_day").desc)
    val tails = ranged.withColumn("_tn", row_number().over(wTail))
      .filter(col("_tn") <= 6).select(col("_pid"), col("order_day"))
      .collect().map(r => (r.getInt(0), r.getString(1)))
    val pids = shards.map(_.getInt(0))
    val byPid = tails.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    val spec = pids.toSeq.flatMap { p =>
      pids.filter(_ < p).sorted.reverse.iterator
        .flatMap(q => byPid.getOrElse(q, Array.empty[String]).reverse)
        .take(6).map(day => (p, day)).toSeq
    }
    import s.implicits._
    val carrySpec = spec.toDF("_cpid", "order_day")
    val carries = ranged.join(broadcast(carrySpec), Seq("order_day"))
      .select(col("_cpid").as("_pid"), col("order_day"), col("day_total_dec"),
        lit(false).as("_native"))
    val aug = ranged.select(col("_pid"), col("order_day"), col("day_total_dec"))
      .withColumn("_native", lit(true))
      .unionByName(carries)
    val w = Window.partitionBy(col("_pid")).orderBy(col("order_day"))
    val wMov = w.rowsBetween(-6, 0)
    val wCum = w.rowsBetween(Window.unboundedPreceding, 0)
    aug.join(broadcast(offDf), Seq("_pid"))
      .withColumn("rn", col("_coff") +
        sum(when(col("_native"), 1L).otherwise(0L)).over(wCum))
      .withColumn("mov_dec", sum(col("day_total_dec")).over(wMov))
      .withColumn("run_dec", col("_soff").cast(DecimalType(28, 6)) +
        sum(when(col("_native"), col("day_total_dec"))).over(wCum))
      .filter(col("_native"))
      .select(col("order_day"), col("day_total_dec").cast(DoubleType).as("day_total"),
        (col("mov_dec").cast(D6).cast(DoubleType) /
          least(col("rn"), lit(7))).as("moving_avg_7d"),
        col("run_dec").cast(DecimalType(18, 4)).cast(DoubleType).as("running_total"))
      .orderBy(col("order_day"))
  }

  /** Custom typed Aggregator surface: quantity-weighted average price
    * per returnflag via the udaf bridge. Exact-oracle form (VERDICT r7
    * #3): prices are scaled to integer cents in the column layer
    * (`round(price*100)` — exact for 2-dp money), quantities are
    * integral, and [[graft.functions.Aggregators.WeightedAvgExact]]
    * sums longs — order-independent, so the result is
    * partition-layout-invariant and hash-comparable against the DuckDB
    * twin. The one division happens once in `finish`, double-exact on
    * both engines. */
  private val q46: Q = (s, d) => {
    val wavg = udaf(new graft.functions.Aggregators.WeightedAvgExact(2))
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(wavg(round(col("l_extendedprice") * 100).cast(LongType),
        col("l_quantity").cast(LongType)).as("qty_weighted_avg_price"),
        count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag"))
  }

  /** q87 — the TPC-H Q21 shape (sole-late-supplier), adapted to this
    * schema's columns (no commit/receipt dates: "late" := shipped
    * more than 60 days after the order date). The reference SQL is a
    * triple correlation — EXISTS (another supplier on the order) AND
    * NOT EXISTS (another LATE supplier on the order) — which the
    * oracle twin keeps verbatim as a cross-algorithm check; the Spark
    * side is the decorrelated form a 100 TB plan wants: ONE shuffle
    * of (order, supplier) pairs, a window over the same partition for
    * both order-level fan-outs (no second exchange, no self-joins of
    * lineitem), then supplier/nation broadcast joins onto the tiny
    * qualifying set. numwait counts qualifying LATE LINEITEMS (Q21's
    * row-counting semantics), not just qualifying orders. */
  private val q87: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
    val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select(col("l_orderkey").as("okey"), col("l_suppkey").as("skey"),
        (datediff(col("l_shipdate"), col("o_orderdate")) > 60).as("late"))
    // repartition on okey ALONE: hash(okey) satisfies the (okey, skey)
    // aggregate's clustering AND both windows' partitioning, so the
    // agg and the two order-level fan-outs ride ONE exchange (the
    // default plan shuffles twice — (okey,skey) for the agg, okey for
    // the windows — for rows this narrow the extra exchange costs
    // more than the lost map-side combine saves: ~1 row per (order,
    // supplier) pair either way)
    val perSupp = joined.repartition(col("okey"))
      .groupBy(col("okey"), col("skey"))
      .agg(sum(when(col("late"), 1L).otherwise(0L)).as("n_my_late"))
      .withColumn("supp_late", col("n_my_late") > 0L)
    val w = Window.partitionBy(col("okey"))
    val scored = perSupp
      .withColumn("n_supps", count(lit(1)).over(w))
      .withColumn("n_late_supps",
        sum(when(col("supp_late"), 1L).otherwise(0L)).over(w))
    scored
      .filter(col("supp_late") && col("n_supps") >= 2 && col("n_late_supps") === 1)
      .join(Tables.supplier(s, d), col("skey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("s_name"), col("n_name"))
      .agg(sum(col("n_my_late")).as("numwait"))
      .select(col("s_name"), col("n_name").as("nation"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(25)
  }

  /** q88 — the TPC-H Q22 shape (promising inactive customers),
    * adapted to this schema (no phone column: grouped by nation; the
    * original's fixed 7-year inactivity window becomes "no orders in
    * the trailing 180 days of the dataset", anchored on a SECOND
    * scalar subquery, max(o_orderdate) — almost-everyone-has-orders
    * data makes the literal no-orders-ever form empty). TWO scalar
    * subqueries (exact-decimal positive-balance average per the Qx
    * ladder; the recency watermark) + an anti join against the
    * recent-order key set + broadcast dim rollup. The oracle keeps
    * the correlated NOT EXISTS + scalar-subquery SQL verbatim. */
  private val q88: Q = (s, d) => {
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg(davg(col("c_acctbal")).as("abal"))
    val cutoff = ord
      .agg(date_sub(max(to_date(col("o_orderdate"))), 180).as("cut"))
    val recent = ord.crossJoin(broadcast(cutoff))
      .filter(to_date(col("o_orderdate")) >= col("cut"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("abal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("nation"))
  }

  /** q98 — the TPC-H Q17 shape (small-quantity-order revenue): revenue
    * from line items whose quantity sits below HALF their part's
    * average quantity. The reference spelling is a correlated scalar
    * subquery evaluated per row — the oracle twin keeps that verbatim
    * as the cross-algorithm check — while the Spark side decorrelates
    * to ONE per-part aggregate joined back on l_partkey (both sides
    * shuffle on the same key once; the agg side is one row per part).
    * The fractional-average predicate is restated MULTIPLICATIVELY,
    * `2 * qty * cnt < sum(qty)` over exact decimals, so neither engine
    * ever divides or averages doubles (a double average is
    * partial-order dependent and would break the hash compare — the
    * q90 micro-ratio discipline). At 100 TB the pre-agg join is the
    * only viable form: the correlated spelling rescans lineitem per
    * probe row. */
  private val q98: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("l_quantity").cast(D6)).as("sumq"),
        count(lit(1)).as("cntq"))
    li.join(perPart, col("l_partkey") === col("pk"))
      .filter(col("l_quantity").cast(D6) * 2 * col("cntq") < col("sumq"))
      .agg(dsum(col("l_extendedprice"), rescale = 2).as("small_qty_revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q99 — the TPC-H Q15 shape (top supplier by trailing-quarter
    * revenue): discounted revenue per supplier over the trailing 90
    * days of the dataset, keeping every supplier whose revenue EQUALS
    * the maximum (Q15's tie-preserving "= (SELECT max ...)"
    * semantics, which a LIMIT 1 would get wrong). The oracle twin
    * keeps the view + scalar-subquery SQL; the Spark side broadcasts
    * two scalar aggs (the date watermark, then the max) around one
    * supplier-keyed exchange. Revenue doubles come off the exact
    * decimal ladder (product sums -> scale 4), so the equality
    * compares identical bits on both engines.
    *
    * The per-supplier revenue frame has TWO consumers (the max scalar
    * and the equality filter); left lazy, each consumer re-runs the
    * whole lineitem scan + agg — the plan audit showed the fact
    * scanned twice. It is supplier-cardinality small, so it takes the
    * house two-consumer discipline: persistSketch + eager count, and
    * the fact is scanned once. */
  private val q99: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val cutoff = li.agg(
      date_sub(max(to_date(col("l_shipdate"))), 90).as("cut"))
    // materialized (two-consumer rule): max + filter read it from
    // concurrent stages. NOTE the cost contract: building this
    // DataFrame runs the lineitem scan + agg as a side effect — plan
    // construction at this site is not action-free (ADVICE r7;
    // decided as the documented convention, see materializedSketch).
    val rev = graft.ops.Dedup.materializedSketch(
      li.crossJoin(broadcast(cutoff))
        .filter(to_date(col("l_shipdate")) >= col("cut"))
        .groupBy(col("l_suppkey"))
        .agg(dsum(discPrice(col("l_extendedprice"), col("l_discount")),
          rescale = 4).as("total_revenue")))
    val top = rev.agg(max(col("total_revenue")).as("max_rev"))
    rev.crossJoin(broadcast(top))
      .filter(col("total_revenue") === col("max_rev"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** q100 — the TPC-H Q11 shape (concentration HAVING against a global
    * scalar): (nation, segment) balance sums that exceed 1% of the
    * GLOBAL balance sum. Where q88's scalar subquery filters ROWS,
    * this one filters GROUPS — the HAVING side of the decorrelation
    * family. The threshold is restated multiplicatively over exact
    * decimals (`bal * 100 > total`), division-free on both engines;
    * the global total is a broadcast 1-row agg, so the plan is one
    * customer-keyed exchange plus a broadcast nation join. */
  private val q100: Q = (s, d) => {
    val cust = Tables.customer(s, d)
    val grouped = cust
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("c_mktsegment").as("segment"))
      .agg(sum(col("c_acctbal").cast(D6)).as("bal_dec"),
        count(lit(1)).as("n_custs"))
    val total = cust.agg(sum(col("c_acctbal").cast(D6)).as("total_dec"))
    grouped.crossJoin(broadcast(total))
      .filter(col("bal_dec") * 100 > col("total_dec"))
      .select(col("nation"), col("segment"),
        col("bal_dec").cast(DecimalType(18, 2)).cast(DoubleType).as("segment_balance"),
        col("n_custs"))
      .orderBy(col("nation"), col("segment"))
  }

  /** q105 — the TPC-H Q20 shape (supplier semi-join under a nested IN
    * with a correlated scalar aggregate), adapted to this schema (no
    * partsupp table: the supply relation is the distinct (l_partkey,
    * l_suppkey) pair set of lineitem itself, and Q20's `availqty >
    * 0.5 * shipped` becomes "the pair's trailing-month quantity
    * exceeds half its all-time quantity", volume floor n >= 2).
    * The oracle twin keeps the correlated spelling verbatim — an IN
    * whose inner query runs TWO correlated scalar subqueries per pair
    * (each a lineitem rescan) — as the cross-algorithm check. The
    * Spark side is the decorrelated form a 100 TB plan wants: the
    * part semi-join pushes BELOW the aggregate (the part filter is on
    * a group key, so filtering before grouping is
    * equivalence-preserving), then ONE exchange of lineitem on the
    * pair key computes qty_all and qty_recent as conditional aggs of
    * the same pass — no second scan, no per-pair rescans — and the
    * qualifying pair set collapses to a tiny supplier semi-join.
    * The threshold is multiplicative over exact decimals (q90/q98
    * micro-ratio discipline); a pair with no recent shipments has
    * NULL qty_recent, and NULL * 2 > all is NULL -> dropped, exactly
    * the correlated twin's empty-scalar-subquery semantics. */
  private val q105: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val smallParts = Tables.part(s, d)
      .filter(col("p_name").like("small%")).select(col("p_partkey"))
    val pairs = li
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("n_ship"),
        sum(col("l_quantity").cast(D6)).as("qty_all"),
        sum(when(to_date(col("l_shipdate")) >= lit("2001-10-01"),
          col("l_quantity").cast(D6))).as("qty_recent"))
      .filter(col("n_ship") >= 2 && col("qty_recent") * 2 > col("qty_all"))
    val qualSupp = pairs.select(col("l_suppkey")).distinct()
    Tables.supplier(s, d)
      .join(qualSupp, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name").as("nation"))
      .orderBy(col("s_suppkey"))
  }

  /** q106 — the TPC-H Q18 shape (large-volume orders): customers'
    * orders whose total quantity clears a threshold, found via
    * `o_orderkey IN (SELECT l_orderkey ... GROUP BY ... HAVING sum >
    * 250)`. The IN-over-aggregate is its own decorrelation family
    * (semi-join against a GROUPED subquery — q105's IN is against a
    * correlated-scalar-filtered set, q44/q98's are per-row scalars).
    * The oracle twin keeps the IN + HAVING spelling and aggregates
    * lineitem TWICE (once in the subquery, once for the output sum);
    * the Spark side aggregates ONCE — the per-order sum serves both
    * the filter and the output column, because the outer group (cust,
    * order) is functionally order-keyed — then joins orders and the
    * customer dim onto the tiny qualifying set. One lineitem
    * exchange, one orders join, broadcast dim. Top-100 under a total
    * (qty DESC, orderkey) order, Q18's result discipline. */
  private val q106: Q = (s, d) => {
    val perOrder = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast(D6)).as("qty_dec"))
      .filter(col("qty_dec") > 250)
    Tables.orders(s, d)
      .join(perOrder, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"),
        col("qty_dec").cast(DecimalType(18, 2)).cast(DoubleType).as("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(100)
  }

  /** q107 — the TPC-H Q2 shape (cheapest supplier per part): keep the
    * supply pairs whose price EQUALS the part's correlated minimum —
    * `pair_price = (SELECT min(...) WHERE same part)` — adapted to
    * this schema (no partsupp: the supply relation is the per-pair
    * min l_extendedprice; min is a SELECTION, not arithmetic, so
    * double equality is engine-safe). The oracle twin keeps the
    * correlated min-equality verbatim. The Spark side spells it as
    * `rank() = 1` over (part, price) — Q2's equal-the-min semantics
    * INCLUDING ties (all suppliers at the min survive), which is
    * exactly [[graft.plans.TopKPerGroup]]'s tie-exact keeper, so this
    * query exercises the custom operator's rank()=1 path under a
    * DuckDB oracle. The explicit repartition on l_partkey is the q87
    * trick: hash(partkey) satisfies the (partkey, suppkey) aggregate
    * AND the rank's partitioning, so the agg and the top-1 ride ONE
    * exchange. */
  private val q107: Q = (s, d) => {
    val w = Window.partitionBy(col("l_partkey")).orderBy(col("pair_price"))
    val pairPrice = Tables.lineitem(s, d)
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice")).as("pair_price"))
    pairPrice
      .withColumn("rn", rank().over(w)).filter(col("rn") === 1).drop("rn")
      .join(broadcast(Tables.part(s, d).filter(col("p_name").like("red%"))
        .select(col("p_partkey"), col("p_name"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"), col("pair_price"))
      .orderBy(col("p_partkey"), col("s_name"))
  }

  /** q114 — the TPC-H Q19 shape (disjunctive predicate pushdown):
    * revenue for three (brand, size-band, quantity-band) disjuncts,
    * written ONCE as the OR-of-ANDs the business rule states. The
    * optimizer question Q19 poses: can the engine factor the
    * part-only conjuncts out of the disjunction and push them below
    * the join? Spark's PushExtraPredicateThroughJoin extracts the
    * convertible disjunction `(brand=1 ∧ size≤10) ∨ (brand=2 ∧
    * size≤20) ∨ (brand=3 ∧ size≤30)` to the part scan (visible as a
    * PushedFilters Or(...) in the scan node) — the dim side shrinks
    * to 3/25 of brands BEFORE the join instead of filtering rows
    * after it; the quantity conjuncts stay on the fact scan the same
    * way. Per-brand output rows (Q19's scalar total is the rollup). */
  private val q114: Q = (s, d) => {
    val branch = (col("p_brand") === "Brand#1" &&
        col("p_size").between(1, 10) && col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#2" &&
        col("p_size").between(1, 20) && col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" &&
        col("p_size").between(1, 30) && col("l_quantity").between(20, 30))
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .filter(branch)
      .groupBy(col("p_brand"))
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount")))
          .cast(DecimalType(18, 4)).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  /** q115 — equi-depth (equal-height) histogram of the price column
    * with EXACT ntile(10) semantics (first n mod k buckets get the
    * extra row; ties split across bucket boundaries), per-bucket
    * count/min/max/exact-decimal sum. The optimizer-statistics
    * operator as a query: equi-depth bounds are what a CBO histogram
    * stores, and both engines define ntile identically, so the whole
    * thing sits under the hash oracle (the DuckDB twin KEEPS the
    * literal ntile window spelling as the cross-check).
    *
    * Scale: the naive spelling — `ntile over (ORDER BY price)` on the
    * raw rows — is a single-partition WindowExec in Spark (an
    * unpartitioned window moves EVERY fact row to one reducer; the
    * original round-8 spelling did exactly that and logged the
    * warning). This form replaces it with the q122 discipline plus
    * arithmetic: collapse to the distinct-VALUE histogram (hash agg,
    * map-combined), run the cumulative count over distinct values
    * (window input bounded by the price domain, not the row count —
    * and two-phase sharded prefix sum, q55b-style, lifts even that if
    * a domain ever needs it), then compute each value-run's bucket
    * overlap in closed form: ntile's bucket boundaries are pure
    * integer arithmetic in (rank, n, k), so a run spanning ranks
    * [cum-cnt+1, cum] explodes into at most (buckets it crosses)
    * pieces. Output is bit-identical to the window form: a tied price
    * split across buckets contributes only COUNTS to each side, and
    * the counts are what the closed form computes. */
  private val q115: Q = (s, d) => {
    val hist = Tables.lineitem(s, d)
      .groupBy(col("l_extendedprice").as("price"))
      .agg(count(lit(1)).as("cnt"))
    // cumulative count over the value histogram, SHARDED (VERDICT r8
    // #3 retired the last unpartitioned windows): range-exchange on
    // price, count per shard, broadcast the exclusive prefix offsets
    // back, and run the window per shard — no single reducer even if
    // the price domain ever rivals the row count. The total row count
    // falls out of the shard counts for free.
    val (ranged, shards) = graft.queries.Stats.rangeShards(
      hist, Seq(col("price")), sum(col("cnt")).as("c"))
    val (offDf, totals) = graft.queries.Stats.exclusiveOffsets(
      s, shards, Seq("_off"), Seq(0L))
    import s.implicits._
    val wcum = Window.partitionBy(col("_pid")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ranged.join(broadcast(offDf), Seq("_pid"))
      .withColumn("cum", col("_off") + sum(col("cnt")).over(wcum))
      .drop("_pid", "_off")
    val total = Seq(totals.head.asInstanceOf[Long]).toDF("n")
    // ntile geometry: r = n mod k buckets of size big = n div k + 1,
    // then k - r of size small = n div k; bucketOf/loRank/hiRank are
    // its closed-form inverse (non-ANSI div-by-zero yields NULL only
    // in the branch n < k makes unreachable)
    def bucketOf(rank: String) =
      expr(s"CAST(CASE WHEN r > 0 AND $rank <= r * big THEN ($rank - 1) div big" +
        s" ELSE r + ($rank - 1 - r * big) div small END AS INT) + 1")
    val pieces = cum.crossJoin(broadcast(total))
      .withColumn("r", expr("n % 10"))
      .withColumn("big", expr("n div 10 + 1"))
      .withColumn("small", expr("n div 10"))
      .withColumn("start_rank", col("cum") - col("cnt") + 1)
      .withColumn("bucket", explode(sequence(bucketOf("start_rank"), bucketOf("cum"))))
      .withColumn("lo_rank", expr("CASE WHEN bucket <= r THEN (bucket - 1) * big + 1" +
        " ELSE r * big + (bucket - 1 - r) * small + 1 END"))
      .withColumn("hi_rank", expr("lo_rank + (CASE WHEN bucket <= r THEN big ELSE small END) - 1"))
      .withColumn("rows_here",
        least(col("hi_rank"), col("cum")) - greatest(col("lo_rank"), col("start_rank")) + 1)
    pieces.groupBy(col("bucket"))
      .agg(sum(col("rows_here")).as("n_items"),
        min(col("price")).as("lo"), max(col("price")).as("hi"),
        dsum((col("price").cast(D6) * col("rows_here")).cast(D6), rescale = 2).as("sum_price"))
      .orderBy(col("bucket"))
  }

  /** q120 — modal value per group (the exact "mode" aggregate Spark
    * lacks as a builtin): the most frequent order priority within
    * each customer market segment, tie-broken to the
    * lexicographically smallest priority so the winner is a function
    * of the DATA, never of partitioning. Spelled count-then-select:
    * a (segment, priority) hash agg (map-side combined; at most
    * |segments| x |priorities| rows survive it), then
    * `row_number() = 1` over (count DESC, priority ASC) — the
    * deterministic-tie sibling of q107's rank()=1 min-selection, and
    * a live k=1 path through [[graft.plans.TopKPerGroup]]'s heap
    * rewrite. share_ppm prices HOW modal the mode is in the integer
    * micro-ratio discipline (exact div, no double division). The
    * seg_total window shares the rank window's partitioning, so both
    * ride the one post-agg exchange. */
  private val q120: Q = (s, d) => {
    val part = Window.partitionBy(col("c_mktsegment"))
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("seg_total", sum(col("n_orders")).over(part))
      .withColumn("rk", row_number().over(
        part.orderBy(col("n_orders").desc, col("o_orderpriority"))))
      .filter(col("rk") === 1)
      .select(col("c_mktsegment"), col("o_orderpriority"), col("n_orders"),
        expr("n_orders * 1000000L div seg_total").as("share_ppm"))
      .orderBy(col("c_mktsegment"))
  }

  /** q125 — explicit GROUPING SETS with grouping() markers: the
    * mixed-granularity rollup a reporting layer asks for in one pass
    * — (flag, status) detail, per-flag subtotal, per-STATUS subtotal
    * (which ROLLUP cannot produce), and the grand total — plus the
    * grouping() indicator columns that distinguish "subtotal row"
    * from "a genuinely NULL group key". Spark plans all four sets as
    * ONE Expand + one hash aggregate (4x row fan-out map-side, then
    * the same partial/final agg as any groupBy) — not four scans;
    * this and q10/q39 together pin the whole
    * rollup/cube/grouping-sets family. SQL spelling over a temp view
    * because the typed API exposes only rollup/cube (q40's SQL-surface
    * precedent). */
  private val q125: Q = (s, d) => {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_q125_lineitem")
    s.sql(s"""
      SELECT l_returnflag, l_linestatus,
        CAST(grouping(l_returnflag) AS INT) AS g_flag,
        CAST(grouping(l_linestatus) AS INT) AS g_status,
        count(*) AS n_items,
        ${Qx.sqlDsum("l_quantity", rescale = 2)} AS sum_qty
      FROM graft_q125_lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
                              (l_linestatus), ())
      ORDER BY g_flag, g_status, l_returnflag, l_linestatus""")
  }

  /** q126 — the TPC-H Q14 shape (promo revenue share): a conditional
    * aggregate ratio over one fact⋈dim month slice. The optimizer
    * content: the date band is pushed to the lineitem scan (row-group
    * pruning does the month's worth of work), the part dim broadcasts,
    * and BOTH the conditional numerator and the denominator come out
    * of ONE aggregation pass — no second scan for the total. Ratio
    * discipline: exact decimal sums, one double division (q90/q98's
    * micro-ratio trust). */
  private val q126: Q = (s, d) => {
    val dp = discPrice(col("l_extendedprice"), col("l_discount"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-03-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1996-04-01").cast(TimestampType))
      .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", dp).otherwise(lit(0).cast(D6)))
          .cast(DecimalType(18, 4)).as("promo_d"),
        sum(dp).cast(DecimalType(18, 4)).as("total_d"),
        count(lit(1)).as("n_items"))
      .select(
        (lit(100.0) * col("promo_d").cast(DoubleType) / col("total_d").cast(DoubleType))
          .as("promo_share_pct"),
        col("promo_d").cast(DoubleType).as("promo_revenue"),
        col("total_d").cast(DoubleType).as("total_revenue"),
        col("n_items"))
  }

  /** q134 — the TPC-H Q8 shape (national market share): of the PROMO
    * parts sold to customers in one region, what revenue share did
    * suppliers from one nation take, per order year. The widest join
    * tree in the catalog — lineitem ⋈ part ⋈ supplier ⋈ nation ⋈
    * orders ⋈ customer ⋈ nation ⋈ region — and the plan it spells is
    * the 100 TB one: every dimension filter reduces its OWN side
    * before any fact touch (PROMO parts and supplier→nation broadcast
    * onto lineitem, the region's customers broadcast onto orders), so
    * the single big exchange — lineitem ⋈ orders on orderkey — moves
    * only pre-pruned rows. The share is a conditional-aggregate ratio
    * from ONE aggregation pass (q126's discipline: exact decimal
    * sums, one double division at the end). */
  private val q134: Q = (s, d) => {
    val dp = discPrice(col("l_extendedprice"), col("l_discount"))
    val suppNation = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val regionCust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ord = Tables.orders(s, d)
      .join(broadcast(regionCust), col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), year(col("o_orderdate")).as("order_year"))
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("order_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_5", dp).otherwise(lit(0).cast(D6)))
          .cast(DecimalType(18, 4)).as("nation_d"),
        sum(dp).cast(DecimalType(18, 4)).as("total_d"),
        count(lit(1)).as("n_items"))
      .select(col("order_year"),
        (lit(100.0) * col("nation_d").cast(DoubleType) / col("total_d").cast(DoubleType))
          .as("mkt_share_pct"),
        col("nation_d").cast(DoubleType).as("nation_revenue"),
        col("total_d").cast(DoubleType).as("total_revenue"),
        col("n_items"))
      .orderBy(col("order_year"))
  }

  /** q135 — the TPC-H Q4 shape (order-priority checking): orders
    * placed in one quarter with AT LEAST ONE line item shipped more
    * than 60 days after the order date, counted per priority. The
    * decorrelation family this adds: a correlated EXISTS whose inner
    * predicate references BOTH relations non-equi (l_shipdate >
    * o_orderdate + 60 days) — the oracle twin keeps that correlated
    * spelling verbatim; the Spark side is the LEFT SEMI join with the
    * mixed equi + non-equi condition, which the planner executes as a
    * hash semi-join on orderkey with the date conjunct as a residual
    * (never a nested loop). The quarter filter prunes the orders scan
    * before the exchange, and semi-join semantics dedup the
    * multi-late-line case by construction. */
  private val q135: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_shipdate"))
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-07-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1997-10-01").cast(TimestampType))
      .join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** q136 — the TPC-H Q13 shape (customer order distribution): how
    * many customers placed 0, 1, 2, … qualifying orders — the
    * count-of-counts over a FILTERED LEFT join, whose defining trap
    * is that the filter must live in the JOIN CONDITION (a WHERE
    * would delete the zero-order customers the query exists to
    * count). The oracle twin keeps that left-join spelling; the Spark
    * side runs the scale form: aggregate orders by custkey FIRST (one
    * map-combined exchange of the big side), then a LEFT join from
    * the customer dim onto the counts with coalesce(0) — row-level
    * orders never pass through the customer join. The histogram pass
    * is a second tiny aggregation. */
  private val q136: Q = (s, d) => {
    val perCust = Tables.orders(s, d)
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("c_count"))
    Tables.customer(s, d).select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("c_count"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_customers").desc, col("c_count").desc)
  }

  /** q137 — the TPC-H Q10 shape (returned-item reporting): the top 20
    * customers by revenue lost to returns in one half-year. Plan
    * content: the date band prunes the orders scan, the returnflag
    * filter prunes lineitem, the two pruned facts meet in ONE
    * orderkey exchange, the custkey aggregation map-combines, and the
    * dims broadcast on last. The top-20 is `ORDER BY … LIMIT 20` over
    * a total order (revenue DESC, custkey), which Spark executes as
    * TakeOrderedAndProject — per-partition heaps + a driver merge of
    * 20-row tops, never a global sort (the revenue is an exact
    * decimal, so the cross-engine order is exact too). */
  private val q137: Q = (s, d) => {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-07-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount")))
          .cast(DecimalType(18, 4)).as("rev_d"),
        count(lit(1)).as("n_items"))
      .join(broadcast(Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("n_name").as("nation"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("nation"),
        col("rev_d").cast(DoubleType).as("revenue"), col("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** q144 — the TPC-H Q9 shape (product-type profit): margin by
    * supplier nation and order year for one part family, where margin
    * = discounted revenue − supply cost. This schema has no partsupp,
    * so cost is modeled as 60% of retail value (p_retailprice ×
    * quantity × 0.6) — the JOIN TREE is the point: lineitem picks up
    * part (name-filtered, broadcast), supplier→nation (broadcast),
    * then meets orders in the single fact-fact exchange for the year.
    * Q9's trap is that the name filter must prune the part dim BEFORE
    * the fact join (a post-join filter would shuffle 6× the rows);
    * the broadcast semi-shape spells that directly. All arithmetic in
    * exact decimals: revenue has ≤4 real dp, cost ≤3 (2-dp retail ×
    * integral qty × one-dp 0.6), so the margin rescales losslessly to
    * scale 4 under [[Qx.dsum]]'s loud overflow guard. */
  private val q144: Q = (s, d) => {
    val dp = discPrice(col("l_extendedprice"), col("l_discount"))
    val cost = ((col("p_retailprice").cast(D6) * col("l_quantity").cast(D6)).cast(D6)
      * lit(new java.math.BigDecimal("0.6"))).cast(D6)
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
          .filter(col("p_name").like("%widget%"))
          .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("nation"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"),
          year(col("o_orderdate")).as("order_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), col("order_year"))
      .agg(dsum((dp - cost).cast(D6), rescale = 4).as("margin"),
        count(lit(1)).as("n_items"))
      .orderBy(col("nation"), col("order_year"))
  }

  /** q148 — the TPC-H Q5 shape (local supplier volume): revenue per
    * nation for orders where the CUSTOMER and the SUPPLIER sit in the
    * SAME nation, one region, one year. Q5's defining wrinkle — and
    * why it isn't q04/q112 — is the cross-dimension equality
    * c_nationkey = s_nationkey enforced THROUGH the fact: the
    * customer reaches lineitem via orders, the supplier directly, and
    * the two nation keys meet only after both joins. Plan: region
    * filter prunes nation (broadcast), customers/suppliers of those
    * nations broadcast onto their facts carrying the nation key, the
    * year band prunes orders at the scan, the one big exchange is
    * lineitem ⋈ orders, and the local-supply equality runs as a
    * residual int compare. Exact decimal revenue per the house
    * ladder. */
  private val q148: Q = (s, d) => {
    val asianNations = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(s, d)
      .join(broadcast(asianNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_nationkey").as("cust_nation_key"),
        col("n_name").as("nation"))
    val supp = Tables.supplier(s, d)
      .join(broadcast(asianNations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_nationkey").as("supp_nation_key"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation_key"), col("nation"))
    Tables.lineitem(s, d)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("cust_nation_key") === col("supp_nation_key"))
      .groupBy(col("nation"))
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount")))
          .cast(DecimalType(18, 4)).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("nation"))
  }

  /** q169 — the TPC-H Q12 shape (shipping-channel priority mix), the
    * last of the 22 TPC-H query shapes: per shipping channel, how many
    * line items belong to high-priority (URGENT/HIGH) vs low-priority
    * orders — the conditional two-way count that Q12 uses to audit
    * whether critical orders ride the slow channels. Adapted to this
    * schema (no l_shipmode/l_commitdate/l_receiptdate): l_returnflag
    * IN ('A','R') plays the shipmode IN-list, and Q12's same-row date
    * comparison l_commitdate < l_receiptdate maps to the same-row
    * column compare l_discount > l_tax — both scan-level predicates,
    * preserving Q12's plan signature (every filter on the fact scan;
    * the join exists only to fetch the priority column).
    *
    * Scale shape: Q12's canonical plan joins the filtered fact to
    * orders row-by-row; here the lineitem side pre-collapses to
    * (orderkey, channel, cnt) BEFORE the join — partial aggregation
    * pushed below the join, legal because the final group key
    * (channel) and the counted unit (line items) both survive the
    * collapse — so the one fact-fact exchange carries at most
    * |channels| rows per order instead of every line item. The DuckDB
    * twin keeps Q12's verbatim join-then-conditional-count spelling
    * as the cross-algorithm check. */
  private val q169: Q = (s, d) => {
    val perOrder = Tables.lineitem(s, d)
      .filter(col("l_returnflag").isin("A", "R") &&
        col("l_discount") > col("l_tax") &&
        to_date(col("l_shipdate")) >= lit("1996-01-01") &&
        to_date(col("l_shipdate")) < lit("1997-01-01"))
      .groupBy(col("l_orderkey"), col("l_returnflag").as("return_channel"))
      .agg(count(lit(1)).as("cnt"))
    perOrder
      .join(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("return_channel"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
          col("cnt")).otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
          col("cnt")).otherwise(0L)).as("low_line_count"))
      .orderBy(col("return_channel"))
  }

  /** The q156 crosstab's pivot VALUES, passed explicitly: an explicit
    * list keeps the pivot a single groupBy with conditional aggregates
    * — no distinct-value pre-scan, no dynamic schema, output width
    * fixed at plan time regardless of SF. Identifier-safe renames for
    * the oracle compare. */
  private val pivotPriorities = Seq(
    "1-URGENT" -> "n_urgent", "2-HIGH" -> "n_high", "3-MEDIUM" -> "n_medium",
    "4-NOT SPECIFIED" -> "n_not_specified", "5-LOW" -> "n_low")

  private def segmentPriorityWide(s: SparkSession, d: String): DataFrame = {
    val wide = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .pivot("o_orderpriority", pivotPriorities.map(_._1))
      .agg(count(lit(1)))
    pivotPriorities.foldLeft(wide) { case (df, (from, to)) =>
      df.withColumn(to, coalesce(col(s"`$from`"), lit(0L))).drop(from)
    }.orderBy(col("c_mktsegment"))
  }

  /** q156 — the pivot/unpivot INVERSE LAW under a hash oracle: a
    * segment x priority crosstab (pivot with explicit values, absent
    * combinations coalesced to 0) folded straight back to long form
    * by unpivot. q42/q43 pin each operator separately against
    * conditional-agg and UNION-ALL-stack twins; this pins their
    * COMPOSITION — the DuckDB twin never pivots at all, it is the
    * plain GROUP BY with the column-name mapping, so the hash match
    * proves unpivot ∘ pivot is the identity on the long form. Unpivot
    * is a per-row Expand (no shuffle), so the round-trip's only
    * exchanges are the crosstab's own. Zero cells (a segment missing
    * a priority entirely — the pivot coalesces them to 0) are dropped
    * after the unpivot because the plain-GROUP-BY twin never emits
    * them; on a corpus where every combination occurs (all tested
    * SFs) the filter is a no-op, and on a sparse corpus both engines
    * agree on the occupied cells. */
  private val q156: Q = (s, d) => {
    segmentPriorityWide(s, d).unpivot(
      Array(col("c_mktsegment")),
      pivotPriorities.map(p => col(p._2)).toArray,
      "priority_col", "n_orders")
      .filter(col("n_orders") > 0)
      .orderBy(col("c_mktsegment"), col("priority_col"))
  }

  /** q193 — MULTI-CHANNEL fact union (the TPC-DS `WITH … UNION ALL`
    * report shape none of the 22 TPC-H forms exercises): two fact
    * ROLES — orders as the sales channel, returned lineitem rows
    * (`l_returnflag = 'R'`) as the returns channel — each aggregated
    * to the month domain in its OWN arm, tagged, unioned, and folded
    * into a per-month channel crosstab with an exact return-rate
    * ratio. Plan shape: exactly one exchange per fact arm (each arm
    * is a map-combined hash agg onto ~84 month groups); the union and
    * second agg meet only month-domain-bounded frames, so no plan
    * node ever holds both facts at data size — the property that
    * makes the shape safe at 100 TB where a sales×returns join would
    * not be. Exact integer micro per channel (the q189 cast chains);
    * the ppm ratio widens its numerator to DECIMAL(38,0) (q178
    * discipline) and is defined only for months with sales — ship
    * months can outrun order months, and an explicit NULL beats a
    * division-by-zero whose result differs across engines. */
  private val q193: Q = (s, d) => {
    val sales = Tables.orders(s, d)
      .groupBy(date_format(date_trunc("month", col("o_orderdate")),
        "yyyy-MM-dd").as("m"))
      .agg(count(lit(1)).as("n"),
        // per-row micro fits BIGINT trivially (price < 1e7 → < 1e13);
        // the per-month SUM is what wraps past ~9.2e18 micro/month, so
        // it accumulates in DECIMAL(38,0) — the same q178/q187
        // widening discipline — and lands back in BIGINT (the twin's
        // DuckDB sum(BIGINT) is HUGEINT-exact already)
        sum((col("o_totalprice").cast(DecimalType(18, 2)) * 1000000L)
          .cast(LongType).cast(DecimalType(38, 0)))
          .cast(LongType).as("micro"))
      .select(lit("sales").as("ch"), col("m"), col("n"), col("micro"))
    val returns = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .groupBy(date_format(date_trunc("month", col("l_shipdate")),
        "yyyy-MM-dd").as("m"))
      .agg(count(lit(1)).as("n"),
        sum(((col("l_extendedprice").cast(D6) *
          (lit(1) - col("l_discount").cast(D6))).cast(D6) * lit(1000000L))
          .cast(LongType).cast(DecimalType(38, 0)))
          .cast(LongType).as("micro"))
      .select(lit("returns").as("ch"), col("m"), col("n"), col("micro"))
    sales.unionByName(returns)
      .groupBy(col("m"))
      .agg(
        sum(when(col("ch") === "sales", col("n")).otherwise(0L))
          .as("sales_orders"),
        sum(when(col("ch") === "sales", col("micro")).otherwise(0L))
          .as("sales_micro"),
        sum(when(col("ch") === "returns", col("n")).otherwise(0L))
          .as("return_items"),
        sum(when(col("ch") === "returns", col("micro")).otherwise(0L))
          .as("return_micro"))
      .select(col("m"), col("sales_orders"), col("sales_micro"),
        col("return_items"), col("return_micro"),
        when(col("sales_micro") > 0,
          expr("CAST(CAST(return_micro AS DECIMAL(38,0)) * 1000000" +
            " div sales_micro AS BIGINT)")).as("return_ppm"))
      .orderBy(col("m"))
  }

  /** q194 — BILATERAL trade volume (the TPC-H Q7 shape): revenue
    * shipped between two named nations, split by shipping direction
    * and ship year — the two-sided-dimension-filter form where the
    * SAME dim (nation) constrains both fact roles and a cross-side
    * predicate keeps only the off-diagonal pairs. Plan shape, built
    * for the 100 TB version: each fact arm is REDUCED BEFORE the
    * fact-fact shuffle — lineitem keeps only the two nations'
    * suppliers via one broadcast of the (2-nation × suppliers) slice,
    * orders keeps only their customers via a shuffled join with the
    * customer slice (customers are data-sized, not broadcastable at
    * scale) — so the orderkey exchange moves the ~8% bilateral slice,
    * not the raw facts. The off-diagonal predicate collapses to
    * `supp_nation <> cust_nation` because both sides are already
    * two-valued. Exact integer micro revenue (q189 chain). */
  private val q194: Q = (s, d) => {
    val nations = Tables.nation(s, d)
      .filter(col("n_name").isin("NATION_18", "NATION_19"))
      .select(col("n_nationkey"), col("n_name"))
    val supp = Tables.supplier(s, d)
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(s, d)
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Tables.orders(s, d)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    Tables.lineitem(s, d)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast(IntegerType).as("l_year"))
      .agg(count(lit(1)).as("n_items"),
        sum(((col("l_extendedprice").cast(D6) *
          (lit(1) - col("l_discount").cast(D6))).cast(D6) * lit(1000000L))
          .cast(LongType)).as("rev_micro"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val queries: Map[String, Q] = Map(
    "q194_bilateral_trade" -> q194,
    "q193_multichannel_returns" -> q193,
    "q169_priority_shipmix" -> q169,
    "q156_pivot_roundtrip" -> q156,
    "q148_local_supplier_volume" -> q148,
    "q144_margin_by_nation" -> q144,
    "q134_market_share" -> q134,
    "q135_late_shipment_priority" -> q135,
    "q136_customer_order_distribution" -> q136,
    "q137_returned_top_customers" -> q137,
    "q126_promo_share" -> q126,
    "q125_grouping_sets" -> q125,
    "q120_priority_mode" -> q120,
    "q105_recent_supply_shift" -> q105,
    "q106_large_orders" -> q106,
    "q107_cheapest_supplier" -> q107,
    "q114_disjunctive_bands" -> q114,
    "q115_equidepth_histogram" -> q115,
    "q98_small_qty_revenue" -> q98,
    "q99_top_revenue_supplier" -> q99,
    "q100_balance_concentration" -> q100,
    "q87_sole_late_supplier" -> q87,
    "q88_rich_inactive_customers" -> q88,
    "q46_weighted_avg" -> q46,
    "q19_sketches" -> q19,
    "q39_cube_agg" -> q39,
    "q40_sql_surface" -> q40,
    "q42_pivot" -> q42,
    "q43_unpivot" -> q43,
    "q44_correlated_subquery" -> q44,
    "q45_window_frames" -> q45,
    "q01_pricing_summary" -> q01,
    "q02_revenue_filter" -> q02,
    "q03_segment_stats" -> q03,
    "q04_revenue_by_nation" -> q04,
    "q05_top_routes" -> q05,
    "q06_top_order_per_cust" -> q06,
    "q07_daily_trend" -> q07,
    "q08_customers_no_orders" -> q08,
    "q09_active_customers" -> q09,
    "q10_rollup_qty" -> q10,
    "q11_distinct_counts" -> q11,
    "q12_case_pivot" -> q12,
    "q13_scalar_funcs" -> q13,
    "q14_setops" -> q14,
  )

  val oracle: Map[String, String] = Map(
    "q194_bilateral_trade" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
        |    * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))
        |    * 1000000 AS BIGINT)) AS BIGINT) AS rev_micro
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_18', 'NATION_19')
        |  AND n2.n_name IN ('NATION_18', 'NATION_19')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q193_multichannel_returns" ->
      """WITH sales AS (
        |  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS m,
        |    count(*) AS n,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |      * 1000000 AS BIGINT)) AS BIGINT) AS micro
        |  FROM orders GROUP BY 1
        |), ret AS (
        |  SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS m,
        |    count(*) AS n,
        |    CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
        |      * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))
        |      * 1000000 AS BIGINT)) AS BIGINT) AS micro
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
        |), u AS (
        |  SELECT 'sales' AS ch, * FROM sales
        |  UNION ALL
        |  SELECT 'returns' AS ch, * FROM ret
        |)
        |SELECT m,
        |  CAST(sum(CASE WHEN ch = 'sales' THEN n ELSE 0 END) AS BIGINT)
        |    AS sales_orders,
        |  CAST(sum(CASE WHEN ch = 'sales' THEN micro ELSE 0 END) AS BIGINT)
        |    AS sales_micro,
        |  CAST(sum(CASE WHEN ch = 'returns' THEN n ELSE 0 END) AS BIGINT)
        |    AS return_items,
        |  CAST(sum(CASE WHEN ch = 'returns' THEN micro ELSE 0 END) AS BIGINT)
        |    AS return_micro,
        |  CASE WHEN sum(CASE WHEN ch = 'sales' THEN micro ELSE 0 END) > 0
        |    THEN CAST(CAST(sum(CASE WHEN ch = 'returns' THEN micro ELSE 0 END)
        |      AS HUGEINT) * 1000000
        |      // sum(CASE WHEN ch = 'sales' THEN micro ELSE 0 END) AS BIGINT)
        |    ELSE NULL END AS return_ppm
        |FROM u GROUP BY m ORDER BY m""".stripMargin,
    "q156_pivot_roundtrip" ->
      """SELECT c_mktsegment,
        |  CASE o_orderpriority
        |    WHEN '1-URGENT' THEN 'n_urgent'
        |    WHEN '2-HIGH' THEN 'n_high'
        |    WHEN '3-MEDIUM' THEN 'n_medium'
        |    WHEN '4-NOT SPECIFIED' THEN 'n_not_specified'
        |    ELSE 'n_low' END AS priority_col,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY c_mktsegment, priority_col""".stripMargin,
    "q169_priority_shipmix" ->
      """SELECT l_returnflag AS return_channel,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_returnflag IN ('A', 'R')
        |  AND l_discount > l_tax
        |  AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q148_local_supplier_volume" ->
      s"""SELECT n_name AS nation,
         |  ${Qx.sqlDsum(Qx.sqlDiscPrice, rescale = 4)} AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |  AND c_nationkey = s_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1
         |ORDER BY revenue DESC, nation""".stripMargin,
    "q144_margin_by_nation" ->
      """SELECT n_name AS nation, year(CAST(o_orderdate AS DATE)) AS order_year,
        |  CAST(CAST(sum(CAST(
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))
        |    - CAST(CAST(CAST(p_retailprice AS DECIMAL(18,6)) * CAST(l_quantity AS DECIMAL(18,6)) AS DECIMAL(18,6))
        |           * CAST(0.6 AS DECIMAL(2,1)) AS DECIMAL(18,6))
        |  AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS margin,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q134_market_share" ->
      """WITH agg AS (
        |  SELECT year(CAST(o_orderdate AS DATE)) AS order_year,
        |    CAST(sum(CASE WHEN sn.n_name = 'NATION_5'
        |      THEN CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(18,4)) AS nation_d,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS total_d,
        |    count(*) AS n_items
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  GROUP BY 1
        |)
        |SELECT order_year,
        |  100.0 * CAST(nation_d AS DOUBLE) / CAST(total_d AS DOUBLE) AS mkt_share_pct,
        |  CAST(nation_d AS DOUBLE) AS nation_revenue,
        |  CAST(total_d AS DOUBLE) AS total_revenue,
        |  n_items
        |FROM agg ORDER BY order_year""".stripMargin,
    "q135_late_shipment_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o_orderdate < TIMESTAMP '1997-10-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q136_customer_order_distribution" ->
      """WITH per_cust AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c_custkey
        |)
        |SELECT c_count, count(*) AS n_customers
        |FROM per_cust GROUP BY c_count
        |ORDER BY n_customers DESC, c_count DESC""".stripMargin,
    "q137_returned_top_customers" ->
      s"""SELECT c_custkey, c_name, n_name AS nation,
         |  CAST(CAST(sum($sqlDiscPrice) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1997-07-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin,
    "q126_promo_share" ->
      s"""WITH agg AS (
         |  SELECT
         |    CAST(sum(CASE WHEN p_type = 'PROMO' THEN ${Qx.sqlDiscPrice}
         |             ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(18,4)) AS promo_d,
         |    CAST(sum(${Qx.sqlDiscPrice}) AS DECIMAL(18,4)) AS total_d,
         |    count(*) AS n_items
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
         |)
         |SELECT 100.0 * CAST(promo_d AS DOUBLE) / CAST(total_d AS DOUBLE) AS promo_share_pct,
         |  CAST(promo_d AS DOUBLE) AS promo_revenue,
         |  CAST(total_d AS DOUBLE) AS total_revenue, n_items
         |FROM agg""".stripMargin,
    "q125_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
         |  CAST(grouping(l_linestatus) AS INTEGER) AS g_status,
         |  count(*) AS n_items,
         |  ${Qx.sqlDsum("l_quantity", rescale = 2)} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
         |                        (l_linestatus), ())""".stripMargin,
    "q120_priority_mode" ->
      """WITH counts AS (
        |  SELECT c_mktsegment, o_orderpriority, count(*) AS n_orders
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2
        |), t AS (
        |  SELECT *, sum(n_orders) OVER (PARTITION BY c_mktsegment) AS seg_total,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY n_orders DESC, o_orderpriority) AS rk
        |  FROM counts
        |)
        |SELECT c_mktsegment, o_orderpriority, n_orders,
        |  CAST(n_orders * 1000000 // seg_total AS BIGINT) AS share_ppm
        |FROM t WHERE rk = 1 ORDER BY c_mktsegment""".stripMargin,
    "q114_disjunctive_bands" ->
      s"""SELECT p_brand,
         |  ${Qx.sqlDsum(Qx.sqlDiscPrice, rescale = 4)} AS revenue,
         |  count(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
         |         AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
         |         AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
         |         AND l_quantity BETWEEN 20 AND 30)
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q115_equidepth_histogram" ->
      s"""SELECT bucket, count(*) AS n_items,
         |  min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
         |  ${Qx.sqlDsum("l_extendedprice", rescale = 2)} AS sum_price
         |FROM (
         |  SELECT l_extendedprice,
         |    ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
         |  FROM lineitem)
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    // the CORRELATED Q20 spelling: nested IN + two correlated scalar
    // subqueries per supply pair (each a lineitem rescan) — DuckDB
    // decorrelates its own way; the hash compare checks both
    // algorithms land on identical rows
    "q105_recent_supply_shift" ->
      """SELECT s_suppkey, s_name, n_name AS nation
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT ps.l_suppkey
        |  FROM (SELECT l_partkey, l_suppkey FROM lineitem
        |        GROUP BY 1, 2 HAVING count(*) >= 2) ps
        |  WHERE ps.l_partkey IN
        |      (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |    AND (SELECT sum(CAST(l2.l_quantity AS DECIMAL(18,6)))
        |         FROM lineitem l2
        |         WHERE l2.l_partkey = ps.l_partkey
        |           AND l2.l_suppkey = ps.l_suppkey
        |           AND CAST(l2.l_shipdate AS DATE) >= DATE '2001-10-01') * 2
        |      > (SELECT sum(CAST(l3.l_quantity AS DECIMAL(18,6)))
        |         FROM lineitem l3
        |         WHERE l3.l_partkey = ps.l_partkey
        |           AND l3.l_suppkey = ps.l_suppkey))
        |ORDER BY s_suppkey""".stripMargin,
    // the Q18 spelling: IN over a grouped HAVING subquery; lineitem
    // aggregated twice (the Spark side aggregates once)
    "q106_large_orders" ->
      """SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_day,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(18,2)) AS DOUBLE) AS total_qty
        |FROM customer c
        |JOIN orders o ON c_custkey = o_custkey
        |JOIN lineitem l ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 250)
        |GROUP BY 1, 2, 3, 4
        |ORDER BY total_qty DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    // the Q2 spelling: correlated scalar min-equality over the supply
    // pair relation (min is selection, not arithmetic — double
    // equality is engine-safe)
    "q107_cheapest_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS pair_price
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT p_partkey, p_name, s_name, pair_price
        |FROM ps
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |WHERE p_name LIKE 'red%'
        |  AND pair_price = (SELECT min(ps2.pair_price) FROM ps ps2
        |                    WHERE ps2.l_partkey = ps.l_partkey)
        |ORDER BY p_partkey, s_name""".stripMargin,
    // the CORRELATED Q17 original — per-row scalar subqueries, split
    // into count+sum so the half-average predicate stays in exact
    // multiplicative decimal form (no double average on either engine)
    "q98_small_qty_revenue" ->
      s"""SELECT ${Qx.sqlDsum("l_extendedprice", rescale = 2)} AS small_qty_revenue,
         |  count(*) AS n_items
         |FROM lineitem l1
         |WHERE 2 * CAST(l_quantity AS DECIMAL(18,6)) *
         |    (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
         |  < (SELECT sum(CAST(l_quantity AS DECIMAL(18,6)))
         |     FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)""".stripMargin,
    // the Q15 view + scalar-max original, tie-preserving
    "q99_top_revenue_supplier" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |    ${Qx.sqlDsum(Qx.sqlDiscPrice, rescale = 4)} AS total_revenue
         |  FROM lineitem
         |  WHERE CAST(l_shipdate AS DATE) >=
         |    (SELECT max(CAST(l_shipdate AS DATE)) FROM lineitem) - 90
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,
    // the Q11 HAVING-against-global-scalar original
    "q100_balance_concentration" ->
      s"""SELECT n_name AS nation, c_mktsegment AS segment,
         |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DECIMAL(18,2)) AS DOUBLE)
         |    AS segment_balance,
         |  count(*) AS n_custs
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY 1, 2
         |HAVING sum(CAST(c_acctbal AS DECIMAL(18,6))) * 100 >
         |  (SELECT sum(CAST(c_acctbal AS DECIMAL(18,6))) FROM customer)
         |ORDER BY 1, 2""".stripMargin,
    // the CORRELATED Q21 original — cross-algorithm twin of the
    // decorrelated window form
    "q87_sole_late_supplier" ->
      """SELECT s_name, n_name AS nation, count(*) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey
        |  AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND date_diff('day', CAST(o_orderdate AS DATE),
        |        CAST(l1.l_shipdate AS DATE)) > 60
        |  AND s_nationkey = n_nationkey
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND date_diff('day', CAST(o_orderdate AS DATE),
        |            CAST(l3.l_shipdate AS DATE)) > 60)
        |GROUP BY s_name, n_name
        |ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin,
    // the correlated Q22 original: scalar subquery + NOT EXISTS
    "q88_rich_inactive_customers" ->
      s"""SELECT n_name AS nation, count(*) AS numcust,
         |  ${Qx.sqlDsum("c_acctbal")} AS totacctbal
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |WHERE c_acctbal > (
         |    SELECT ${Qx.sqlDavg("c_acctbal")} FROM customer
         |    WHERE c_acctbal > 0.0)
         |  AND NOT EXISTS (
         |    SELECT 1 FROM orders WHERE o_custkey = c_custkey
         |      AND CAST(o_orderdate AS DATE) >=
         |        (SELECT max(CAST(o_orderdate AS DATE)) FROM orders) - 180)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q39_cube_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlDsum("l_quantity", rescale = 2)} AS sum_qty, count(*) AS n_items
         |FROM lineitem
         |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q44_correlated_subquery" ->
      """SELECT
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(18,2)) AS DOUBLE) / 7.0 AS avg_yearly,
        |  count(*) AS n_small
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#4'
        |  AND l_quantity < (
        |    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin,
    "q45_window_frames" ->
      """WITH daily AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_day,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS day_total_dec
        |  FROM orders GROUP BY 1
        |)
        |SELECT order_day,
        |  CAST(day_total_dec AS DOUBLE) AS day_total,
        |  CAST(CAST(sum(day_total_dec) OVER w7 AS DECIMAL(18,6)) AS DOUBLE)
        |    / least(row_number() OVER wo, 7) AS moving_avg_7d,
        |  CAST(CAST(sum(day_total_dec) OVER wu AS DECIMAL(18,4)) AS DOUBLE) AS running_total
        |FROM daily
        |WINDOW
        |  wo AS (ORDER BY order_day),
        |  w7 AS (ORDER BY order_day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
        |  wu AS (ORDER BY order_day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    // q46's twin mirrors WeightedAvgExact step for step: integer-cents
    // scaling (round(price*100) — exact for 2-dp money), exact BIGINT
    // sums, then ONE double division spelled identically on both
    // engines ((sum/100.0)/sumw, left-assoc). l_quantity is integral
    // (both engines' double->BIGINT agree on integral values).
    "q46_weighted_avg" ->
      """SELECT l_returnflag,
        |  (CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |            * CAST(l_quantity AS BIGINT)) AS DOUBLE) / 100.0)
        |    / CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |    AS qty_weighted_avg_price,
        |  count(*) AS n_items
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q42_pivot" ->
      s"""SELECT l_returnflag,
         |  CAST(CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DECIMAL(18,2)) AS DOUBLE) AS qty_f,
         |  CAST(CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DECIMAL(18,2)) AS DOUBLE) AS qty_o
         |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q43_unpivot" ->
      s"""WITH wide AS (
         |  SELECT l_returnflag,
         |    ${sqlDsum("l_quantity", rescale = 2)} AS sum_qty,
         |    ${sqlDsum("l_extendedprice", rescale = 2)} AS sum_price
         |  FROM lineitem GROUP BY l_returnflag
         |)
         |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
         |UNION ALL
         |SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM wide""".stripMargin,
    "q40_sql_surface" ->
      """SELECT o_orderkey,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin,
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlDsum("l_quantity", rescale = 2)} AS sum_qty,
         |  ${sqlDsum("l_extendedprice", rescale = 2)} AS sum_base_price,
         |  CAST(CAST(sum($sqlDiscPrice) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
         |  ${sqlDavg("l_quantity", rescale = 2)} AS avg_qty,
         |  ${sqlDavg("l_discount", rescale = 2)} AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_revenue_filter" ->
      """SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q03_segment_stats" ->
      s"""SELECT c_mktsegment,
         |  count(*) AS n_orders,
         |  ${sqlDavg("o_totalprice", rescale = 2)} AS avg_price,
         |  max(o_totalprice) AS max_price,
         |  min(o_totalprice) AS min_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment""".stripMargin,
    "q04_revenue_by_nation" ->
      s"""SELECT r_name, n_name,
         |  CAST(CAST(sum($sqlDiscPrice) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name""".stripMargin,
    "q05_top_routes" ->
      """SELECT n_name, o_orderpriority, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, o_orderpriority
        |ORDER BY n_orders DESC, n_name, o_orderpriority
        |LIMIT 10""".stripMargin,
    "q06_top_order_per_cust" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn = 1""".stripMargin,
    "q07_daily_trend" ->
      s"""SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_day,
         |  count(*) AS n_orders,
         |  ${sqlDavg("o_totalprice", rescale = 2)} AS avg_price
         |FROM orders GROUP BY 1""".stripMargin,
    "q08_customers_no_orders" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,
    "q09_active_customers" ->
      s"""SELECT n_name, count(*) AS n_customers, ${sqlDavg("c_acctbal", rescale = 2)} AS avg_acctbal
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         |GROUP BY n_name""".stripMargin,
    "q10_rollup_qty" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlDsum("l_quantity", rescale = 2)} AS sum_qty, count(*) AS n_items
         |FROM lineitem
         |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q11_distinct_counts" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q12_case_pivot" ->
      """SELECT l_returnflag,
        |  CAST(CAST(sum(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS qty_f,
        |  CAST(CAST(sum(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS qty_o,
        |  count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f,
        |  count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q13_scalar_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(month(o_orderdate) AS INTEGER) AS o_month,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS o_quarter,
        |  CAST((dayofweek(o_orderdate) + 6) % 7 AS INTEGER) AS o_dow_mon0,
        |  upper(o_orderstatus) AS status_u,
        |  CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS priority_rank,
        |  CAST(length(o_orderpriority) AS INTEGER) AS priority_len
        |FROM orders""".stripMargin,
    "q14_setops" ->
      """SELECT 'with_orders' AS tag, c_custkey
        |FROM (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders) a
        |UNION ALL
        |SELECT 'no_orders' AS tag, c_custkey
        |FROM (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders) b""".stripMargin,
  )
}
