package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Co-located joins via bucketing: persist both sides of a
  * frequently-joined pair bucketed (and sorted) on the join key, and
  * every subsequent equi-join on that key runs as a zero-exchange
  * sort-merge join — at 100 TB this converts the dominant repeated
  * shuffle of a fact⋈fact workload into local merges.
  *
  * Uses the session catalog's managed tables (`saveAsTable` is the
  * only writer that records bucketing metadata; a plain parquet path
  * loses it). `spark.sql.sources.bucketing.enabled` is on by default.
  */
object Bucketing extends graft.QueryModule {
  /** Persist a DataFrame as a bucketed, sorted managed table. Drops a
    * prior table AND its location (a stale location without a catalog
    * entry — e.g. after a fresh session against an old warehouse dir —
    * fails saveAsTable with LOCATION_ALREADY_EXISTS). */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int = 8): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/" + table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Bucketed copies of (lineitem, orders) on the order key, built at
    * most once per (JVM, corpus content) — the partitioned-store
    * memoization ([[ScratchStores]]), with table NAMES derived from
    * the corpus key so two corpora in one JVM (e.g. the bench pre-pass
    * SF and the timed SF) never overwrite each other's catalog
    * entries. Returns the two table names. */
  def bucketedOrderTables(spark: SparkSession, dir: String,
                          buckets: Int = 8): (String, String) = {
    val li = graft.Tables.lineitem(spark, dir)
    val o = graft.Tables.orders(spark, dir)
    val key = ScratchStores.fileKey("bucketed-ord", Seq(li, o))
    val tag = (scala.util.hashing.MurmurHash3.stringHash(key) & 0x7fffffff).toString
    val (tl, to) = (s"b_lineitem_$tag", s"b_orders_$tag")
    ScratchStores.pathFor(key, "graft-bucketed") { _ =>
      writeBucketed(li, tl, "l_orderkey", buckets)
      writeBucketed(o, to, "o_orderkey", buckets)
    }
    (tl, to)
  }

  /** Bucket lineitem and orders on the order key once; return the
    * co-located join (no Exchange on either side — asserted by
    * BucketingSpec against the physical plan). */
  def colocatedOrderJoin(spark: SparkSession, dir: String,
                         buckets: Int = 8): DataFrame = {
    val (tl, to) = bucketedOrderTables(spark, dir, buckets)
    val bl = spark.table(tl)
    val bo = spark.table(to)
    // "merge" hint: at test scale AQE would broadcast the small side
    // (bypassing bucketing); at 100 TB neither side broadcasts and
    // sort-merge over co-located buckets is exactly the plan we want.
    bl.hint("merge").join(bo, bl("l_orderkey") === bo("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        graft.queries.Qx.dsum(col("l_extendedprice"), rescale = 2).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** q199 — the AGG-side payoff of the same layout: grouping by the
    * bucket key runs the per-order rollup with NO Exchange feeding the
    * aggregate — the bucketed hash distribution already satisfies the
    * grouping's clustering requirement, so the heaviest aggregation of
    * an order-keyed workload (per-order rollups over the 4-billion-row
    * fact at SF1000) becomes bucket-local. Only the second, domain-
    * bounded fold (items-per-order histogram, ≤ 7 groups) exchanges.
    * The DuckDB twin runs the flat-table spelling: the layout changes
    * the plan, never the values. BucketingSpec pins the no-Exchange
    * shape on the order-key aggregate. */
  def bucketedOrderAgg(spark: SparkSession, dir: String): DataFrame = {
    val (tl, _) = bucketedOrderTables(spark, dir)
    spark.table(tl)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 0)))
          .cast("long").as("qty"))
      .groupBy(col("n_items"))
      .agg(count(lit(1)).as("n_orders"), sum(col("qty")).as("total_qty"))
      .orderBy(col("n_items"))
  }

  /** q198 — the zero-exchange co-located fact⋈fact join as a catalog
    * query: identical VALUES to the flat-table join (the DuckDB twin),
    * but planned as a sort-merge over pre-bucketed tables with no
    * Exchange on either side (BucketingSpec pins the plan). The bucket
    * write is paid once per (JVM, corpus) in the store build —
    * exactly the amortization a 100 TB fact⋈fact workload buys with a
    * bucketed layout. */
  val queries: Map[String, Q] = Map(
    "q198_bucketed_join" -> ((s, d) => colocatedOrderJoin(s, d)),
    "q199_bucketed_agg" -> ((s, d) => bucketedOrderAgg(s, d)),
  )

  val oracle: Map[String, String] = Map(
    "q198_bucketed_join" ->
      s"""SELECT o_orderpriority, count(*) AS n_items,
         |  ${graft.queries.Qx.sqlDsum("l_extendedprice", rescale = 2)} AS sum_price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q199_bucketed_agg" ->
      """WITH per_order AS (
        |  SELECT l_orderkey, count(*) AS n_items,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,0))) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT n_items, count(*) AS n_orders,
        |  CAST(sum(qty) AS BIGINT) AS total_qty
        |FROM per_order GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
