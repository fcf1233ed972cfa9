package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Declarative data-quality expectations over the warehouse tables —
  * the dbt-test / Great-Expectations surface as a single auditable
  * query (q117): one row per check with exact violation counts and an
  * integer-ppm rate, so the audit itself is hash-comparable and a
  * regression in data quality shows up as a changed ROW, not a log
  * line (the same "health as data" discipline as q34b/q53).
  *
  * Scale shape: all ROW-LOCAL checks on a table (nulls, ranges,
  * domain membership) fold into ONE aggregation pass over one scan —
  * adding a check adds a conditional-sum column, not a scan — and
  * only the relational checks (PK uniqueness, FK orphans) pay their
  * own exchange: the PK check is a map-side-combinable count-distinct
  * shape, the FK checks are id-only anti-joins (broadcast when the
  * parent side is small; shuffle otherwise — Catalyst's call). The
  * final UNION is over one-row frames. */
object Expectations extends graft.QueryModule {

  private def checkRow(check: String, table: String,
                       violations: org.apache.spark.sql.Column) =
    struct(lit(check).as("check"), lit(table).as("table_name"),
      violations.cast(LongType).as("n_violations"))

  /** q117 — the standing expectation suite over the star tables.
    * Violation counts are exact; ppm is q104's integer floor-div
    * discipline. The checks themselves assert the testdata's own
    * contracts (TPC-H-ish domains), so the expected output at every
    * SF is all-zeros except where the generator genuinely violates —
    * which is precisely what the audit exists to surface. */
  val qualityAudit: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
    val cust = Tables.customer(s, d)
    // one scan, every row-local lineitem check as a conditional sum
    val liLocal = li.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
        .otherwise(0L)).as("range_quantity"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
        .otherwise(0L)).as("range_discount"),
      sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L)).as("range_price"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("null_shipdate"),
      sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L)
        .otherwise(0L)).as("domain_returnflag"))
    val ordLocal = ord.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("range_totalprice"),
      sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L)
        .otherwise(0L)).as("domain_orderstatus"))
    // relational checks: exact duplicate-PK row surplus and FK orphans
    val pkDup = li.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("c")).agg(
        coalesce(sum(col("c") - 1), lit(0L)).as("v"),
        coalesce(sum(col("c")), lit(0L)).as("n"))
    val fkOrders = li.select(col("l_orderkey"))
      .join(ord.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
      .crossJoin(liLocal.select(col("n_rows").as("n")))
    val fkCust = ord.select(col("o_custkey"))
      .join(cust.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
      .crossJoin(ordLocal.select(col("n_rows").as("n")))
    def unpack(local: DataFrame, table: String, checks: Seq[String]): DataFrame =
      local.select(explode(array(checks.map(c =>
          checkRow(c, table, col(c))): _*)).as("r"), col("n_rows"))
        .select(col("r.check"), col("r.table_name"),
          col("r.n_violations"), col("n_rows"))
    def one(df: DataFrame, check: String, table: String): DataFrame =
      df.select(lit(check).as("check"), lit(table).as("table_name"),
        col("v").cast(LongType).as("n_violations"), col("n").as("n_rows"))
    unpack(liLocal, "lineitem", Seq("range_quantity", "range_discount",
        "range_price", "null_shipdate", "domain_returnflag"))
      .unionByName(unpack(ordLocal, "orders",
        Seq("range_totalprice", "domain_orderstatus")))
      .unionByName(one(pkDup, "pk_unique", "lineitem"))
      .unionByName(one(fkOrders, "fk_orders", "lineitem"))
      .unionByName(one(fkCust, "fk_customer", "orders"))
      .withColumn("violation_ppm", expr("1000000 * n_violations div n_rows"))
      .orderBy(col("table_name"), col("check"))
  }

  val queries: Map[String, Q] = Map(
    "q117_quality_audit" -> qualityAudit)

  val oracle: Map[String, String] = Map(
    "q117_quality_audit" ->
      """WITH checks AS (
        |  SELECT 'range_quantity' AS "check", 'lineitem' AS table_name,
        |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |    count(*) AS n_rows FROM lineitem
        |  UNION ALL SELECT 'range_discount', 'lineitem',
        |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*) FROM lineitem
        |  UNION ALL SELECT 'range_price', 'lineitem',
        |    CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*) FROM lineitem
        |  UNION ALL SELECT 'null_shipdate', 'lineitem',
        |    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*) FROM lineitem
        |  UNION ALL SELECT 'domain_returnflag', 'lineitem',
        |    CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*) FROM lineitem
        |  UNION ALL SELECT 'range_totalprice', 'orders',
        |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*) FROM orders
        |  UNION ALL SELECT 'domain_orderstatus', 'orders',
        |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*) FROM orders
        |  UNION ALL SELECT 'pk_unique', 'lineitem',
        |    CAST(coalesce(sum(c - 1), 0) AS BIGINT), CAST(coalesce(sum(c), 0) AS BIGINT)
        |    FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)
        |  UNION ALL SELECT 'fk_orders', 'lineitem',
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
        |      (SELECT o_orderkey FROM orders)),
        |    (SELECT count(*) FROM lineitem)
        |  UNION ALL SELECT 'fk_customer', 'orders',
        |    (SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |      (SELECT c_custkey FROM customer)),
        |    (SELECT count(*) FROM orders))
        |SELECT "check", table_name, n_violations, n_rows,
        |  (1000000 * n_violations) // n_rows AS violation_ppm
        |FROM checks ORDER BY table_name, "check"""".stripMargin)
}
