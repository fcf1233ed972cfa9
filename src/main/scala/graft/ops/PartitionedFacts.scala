package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, LongType}

/** PARTITIONED-table layout + the two pruning plan shapes a
  * date-partitioned 100 TB fact lives or dies by:
  *
  *   - STATIC partition pruning — a literal predicate on the partition
  *     column resolves against the directory listing, so the scan
  *     never opens a file outside the band (`PartitionFilters` on the
  *     scan node, `numFiles` ≪ the table's file count);
  *   - DYNAMIC partition pruning (DPP) — the selective predicate lives
  *     on a DIMENSION, not the fact: Spark broadcasts the filtered dim
  *     for the join, re-uses that broadcast result as an IN-filter on
  *     the fact's partition column (`dynamicpruningexpression(...)` in
  *     the scan's PartitionFilters), and skips every partition no
  *     surviving dim row points at. This is the star-schema shape —
  *     "Q1-1995 revenue" expressed against a month dim must NOT scan
  *     seven years of fact partitions.
  *
  * The testdata tables arrive as flat parquet files (Tables.scala), so
  * the engine mints the layout itself: a month-partitioned copy of
  * orders under a [[ScratchStores]] key (built once per (JVM, corpus),
  * exactly like the q127/q143 trade-edge store), `o_month` derived
  * from `o_orderdate`. At 100 TB this build is the standard layout job
  * a warehouse runs at ingest; the month-hash repartition before the
  * write bounds output files to ~one per partition directory (a
  * production month that outgrows one task adds a salt term — the
  * partition DIRECTORY layout is unchanged).
  *
  * Both queries sit under exact DuckDB twins on the FLAT table — the
  * oracle proves the partitioned copy + pruned plan computes the same
  * answer as the unpartitioned scan, and PartitionedFactsSpec pins the
  * plan shapes (dynamicpruningexpression present; files read < files
  * in store).
  */
object PartitionedFacts extends graft.QueryModule {

  /** Exact cents for a 2-decimal double price (the house q109/q178
    * cast chain). */
  private val cents = sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
    .cast(DecimalType(18, 0))).cast(LongType).as("cents")

  /** The month-partitioned copy of orders for `d`, built at most once
    * per (JVM, corpus content) and read back through partition
    * discovery (so `o_month` is a real partition column and pruning
    * is available to the planner). A zero-row corpus writes a plain
    * schema-bearing parquet instead — `partitionBy` on zero rows
    * leaves an unreadable empty directory (the RoundStores lesson),
    * and an empty store needs no pruning anyway. */
  private[graft] def partitionedOrders(s: SparkSession, d: String): DataFrame = {
    val key = ScratchStores.fileKey("orders-by-month", Seq(Tables.orders(s, d)))
    val path = ScratchStores.pathFor(key, "graft-orders-bymonth") { p =>
      val withMonth = Tables.orders(s, d).withColumn(
        "o_month", date_trunc("month", col("o_orderdate")).cast(DateType))
      if (withMonth.isEmpty)
        withMonth.write.mode("overwrite").parquet(p)
      else
        withMonth.repartition(col("o_month"))
          .write.mode("overwrite").partitionBy("o_month").parquet(p)
    }
    s.read.parquet(path)
  }

  /** The month dimension: distinct order months with calendar
    * attributes — the dim side of the DPP join, derived from the flat
    * table (one column-pruned scan over o_orderdate; at 100 TB this
    * is a real dim_date table and the derivation disappears). */
  private[graft] def monthDim(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(date_trunc("month", col("o_orderdate")).cast(DateType).as("m"))
      .distinct()
      .select(col("m"), year(col("m")).as("m_year"),
        quarter(col("m")).as("m_quarter"))

  /** q191 — revenue for 1995-Q1 expressed STAR-WISE: the quarter
    * filter lives on the month DIM, the fact is touched only through
    * the join on its partition column. The dim is broadcast by hint —
    * it is month-domain-bounded (≤ ~84 rows at any SF; size estimation
    * over a path-read aggregate is too conservative to auto-broadcast)
    * — which also satisfies DPP's reuseBroadcastOnly default, so the
    * fact scan carries `dynamicpruningexpression(o_month IN ...)` and
    * reads 3 of the ~84 month partitions. The DuckDB twin runs the
    * same quarter over the FLAT table, proving layout + pruning change
    * the plan, not the answer. */
  val dppQuarterRevenue: Q = (s, d) => {
    val fact = partitionedOrders(s, d)
    val dim = monthDim(s, d)
      .filter(col("m_year") === 1995 && col("m_quarter") === 1)
    fact.join(broadcast(dim), fact("o_month") === dim("m"))
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n_orders"), cents)
      // dates cross the oracle boundary as strings (house convention:
      // DuckDB's pandas bridge widens DATE to datetime64)
      .select(date_format(col("o_month"), "yyyy-MM-dd").as("o_month"),
        col("n_orders"), col("cents"))
      .orderBy(col("o_month"))
  }

  /** q192 — order backlog mix for the last fiscal stretch: a LITERAL
    * band on the partition column (months from 1997-10 on), resolved
    * statically against the partition listing — the scan's
    * `PartitionFilters` carries the band and `numFiles` drops to the
    * surviving months before a byte is read. Priority mix + exact
    * cents per priority over the pruned slice. */
  val staticPruneBacklog: Q = (s, d) =>
    partitionedOrders(s, d)
      .filter(col("o_month") >= lit(java.sql.Date.valueOf("1997-10-01")))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), cents)
      .orderBy(col("o_orderpriority"))

  /** The FULL production layout, layered: lineitem partitioned by ship
    * MONTH (coarse pruning via directory listing) and Z-ORDERED within
    * each partition on the (ship-day, partkey) plane (fine pruning via
    * per-file min/max statistics — [[Layout]]'s curve). The write
    * range-partitions on (month, z) so each month directory holds
    * several files each covering a contiguous curve segment — i.e. a
    * tight 2-D bounding box — and file count scales with the month
    * domain (4 files/month here; a production job sizes by bytes).
    * Zero-row corpora fall back to a plain schema-bearing write like
    * [[partitionedOrders]]. */
  private[graft] val zFilesPerMonth = 4

  private[graft] def partitionedLineitem(s: SparkSession, d: String): DataFrame = {
    val key = ScratchStores.fileKey("lineitem-month-z", Seq(Tables.lineitem(s, d)))
    val path = ScratchStores.pathFor(key, "graft-li-monthz") { p =>
      val days = datediff(col("l_shipdate").cast(DateType),
        lit(java.sql.Date.valueOf("1992-01-01")))
      val withCols = Tables.lineitem(s, d)
        .withColumn("l_month", date_trunc("month", col("l_shipdate")).cast(DateType))
        .withColumn("__day", days.cast("long"))
      if (withCols.isEmpty)
        withCols.drop("__day").write.mode("overwrite").parquet(p)
      else {
        val nMonths = withCols.select(col("l_month")).distinct().count().toInt
        Layout.withZ(withCols, "__day", "l_partkey")
          .repartitionByRange(math.max(1, nMonths * zFilesPerMonth),
            col("l_month"), col("__z"))
          .sortWithinPartitions(col("l_month"), col("__z"))
          .drop("__day", "__z")
          .write.mode("overwrite").partitionBy("l_month").parquet(p)
      }
    }
    s.read.parquet(path)
  }

  /** q196 — the LAYERED prune: a quarter-long month band (resolved
    * against the partition listing, like q192) plus an orthogonal
    * partkey band (resolved against per-file z-segment min/max stats,
    * like q94's audit — the spec proves the band touches a fraction of
    * each surviving month's files). Per-month item count, exact
    * quantity sum and revenue micro over the doubly-pruned scan; the
    * DuckDB twin runs the same predicate over the flat table, proving
    * the layout changed the I/O, not the answer. */
  val layeredPrune: Q = (s, d) => {
    val li = partitionedLineitem(s, d)
    li.filter(col("l_month") >= lit(java.sql.Date.valueOf("1995-06-01")) &&
        col("l_month") <= lit(java.sql.Date.valueOf("1995-08-01")) &&
        col("l_partkey").between(100, 500))
      .groupBy(col("l_month"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(DecimalType(18, 0))).cast(LongType)
          .as("sum_qty"),
        // micro sums accumulate in DECIMAL(38,0) (the q193 discipline:
        // per-row micro fits BIGINT, the per-group SUM is what wraps)
        sum(((col("l_extendedprice").cast(DecimalType(18, 6)) *
          (lit(1) - col("l_discount").cast(DecimalType(18, 6))))
          .cast(DecimalType(18, 6)) * lit(1000000L)).cast(LongType)
          .cast(DecimalType(38, 0))).cast(LongType)
          .as("rev_micro"))
      .select(date_format(col("l_month"), "yyyy-MM-dd").as("l_month"),
        col("n_items"), col("sum_qty"), col("rev_micro"))
      .orderBy(col("l_month"))
  }

  val queries: Map[String, Q] = Map(
    "q191_dpp_quarter_revenue" -> dppQuarterRevenue,
    "q192_partition_prune_backlog" -> staticPruneBacklog,
    "q196_layered_prune" -> layeredPrune,
  )

  private val sqlCents =
    "CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))) AS BIGINT)"

  val oracle: Map[String, String] = Map(
    "q191_dpp_quarter_revenue" ->
      s"""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS o_month,
         |  count(*) AS n_orders, $sqlCents AS cents
         |FROM orders
         |WHERE EXTRACT(year FROM o_orderdate) = 1995
         |  AND EXTRACT(quarter FROM o_orderdate) = 1
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q192_partition_prune_backlog" ->
      s"""SELECT o_orderpriority, count(*) AS n_orders, $sqlCents AS cents
         |FROM orders
         |WHERE CAST(date_trunc('month', o_orderdate) AS DATE) >= DATE '1997-10-01'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q196_layered_prune" ->
      """SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS l_month,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,0))) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
        |    * (1 - CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(18,6))
        |    * 1000000 AS BIGINT)) AS BIGINT) AS rev_micro
        |FROM lineitem
        |WHERE CAST(date_trunc('month', l_shipdate) AS DATE)
        |    BETWEEN DATE '1995-06-01' AND DATE '1995-08-01'
        |  AND l_partkey BETWEEN 100 AND 500
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
