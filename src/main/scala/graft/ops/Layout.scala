package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data LAYOUT operators: multi-dimensional clustering via a Z-order
  * (Morton) space-filling curve — the storage-side half of scan
  * performance that no query plan can recover once files are written.
  * A 100 TB fact laid out by ingest order answers a two-dimensional
  * range predicate (`partkey BETWEEN ... AND shipdate BETWEEN ...`)
  * by reading everything; sorted by ONE dimension it prunes that
  * dimension only. Interleaving the bits of both dimensions into one
  * sort key gives every file a tight bounding box in BOTH, so
  * min/max (row-group / file) statistics prune the scan in each —
  * the technique behind Delta/Databricks OPTIMIZE ZORDER and
  * Iceberg's sort-order curves, built here from plain column
  * arithmetic + `repartitionByRange`.
  *
  * The curve value is PURE integer arithmetic — `(x div 2^i) % 2`
  * picks bit i, `* 2^(2i)` re-places it — generated term-by-term in
  * both engines' dialects, so the whole q94 audit sits under an
  * exact DuckDB oracle (the house no-transcendentals rule; bit ops
  * would also have worked but `div`/`%` spell identically in both).
  */
object Layout extends graft.QueryModule {

  /** Bits kept per dimension (values are clamped to [0, 2^bits)): 16
    * bits is exact for both testdata dimensions and for a production
    * column with wider range the caller rescales (e.g. `value div N`
    * or a rank) — the curve needs locality, not injectivity. */
  val zBits = 16

  /** Morton-interleave two non-negative integer columns:
    * bit i of `x` lands at position 2i, bit i of `y` at 2i+1. */
  def zValue(x: Column, y: Column): Column = {
    val cx = least(greatest(x.cast("long"), lit(0L)), lit((1L << zBits) - 1))
    val cy = least(greatest(y.cast("long"), lit(0L)), lit((1L << zBits) - 1))
    (0 until zBits).map { i =>
      shiftright(cx, i).bitwiseAND(lit(1L)) * (1L << (2 * i)) +
        shiftright(cy, i).bitwiseAND(lit(1L)) * (1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** Min-max normalize a column to [0, 2^zBits) in exact integer
    * arithmetic — interleaving needs BALANCED dimensions (a raw
    * 8-bit partkey against a 12-bit day puts every partkey bit below
    * every bucket boundary and the curve degenerates to a day sort;
    * the first LayoutSpec run caught exactly that). The bounds
    * arrive as broadcast columns, so this is a scan-riding
    * projection. */
  private def scaled(v: String, lo: String, hi: String): Column =
    expr(s"(($v - $lo) * ${1L << zBits}) div ($hi - $lo + 1)")

  /** `df` plus the curve column over dims `xName`/`yName`, each
    * min-max normalized to the full bit width (one tiny stats agg,
    * broadcast back — the same exact-integer idiom as q92's
    * watermarks). */
  def withZ(df: DataFrame, xName: String, yName: String,
            zCol: String = "__z"): DataFrame = {
    val stats = df.agg(
      min(col(xName)).as("__x0"), max(col(xName)).as("__x1"),
      min(col(yName)).as("__y0"), max(col(yName)).as("__y1"))
    df.crossJoin(broadcast(stats))
      .withColumn(zCol, zValue(
        scaled(xName, "__x0", "__x1"), scaled(yName, "__y0", "__y1")))
      .drop("__x0", "__x1", "__y0", "__y1")
  }

  /** The same interleave in DuckDB SQL, term-for-term. */
  def sqlZValue(x: String, y: String): String = {
    val cx = s"least(greatest(CAST($x AS BIGINT), 0), ${(1L << zBits) - 1})"
    val cy = s"least(greatest(CAST($y AS BIGINT), 0), ${(1L << zBits) - 1})"
    (0 until zBits).map { i =>
      val px = 1L << i
      s"(($cx // $px) % 2) * ${1L << (2 * i)} + (($cy // $px) % 2) * ${1L << (2 * i + 1)}"
    }.mkString("(", " + ", ")")
  }

  /** Write `df` clustered along the curve: range-partition on the
    * z-value into `nFiles` output files, each internally sorted by
    * it. Range partitioning samples the z distribution, so files get
    * contiguous curve segments — i.e. 2-D bounding boxes — and the
    * sort makes row-group statistics monotone within each file. The
    * curve column does not survive into the files. */
  def zorderWrite(df: DataFrame, xName: String, yName: String, path: String,
                  nFiles: Int): Unit =
    withZ(df, xName, yName)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Z-order layout audit (q94): lineitem's (ship-date day number,
    * partkey) plane cut into curve buckets — per bucket, the row
    * count and the bounding box in BOTH dimensions. This is the
    * number a storage engineer reads to size the layout: tight
    * per-bucket spans in two dimensions at once is exactly what
    * file-level min/max pruning needs (LayoutSpec then proves it
    * end-to-end on written files: a 2-D box predicate touches a
    * fraction of z-ordered files but every naively-laid-out one).
    * One scan, one hash agg on the bucket id; the curve value itself
    * is a codegen'd integer expression riding the scan. */
  val zBucketShift = 26

  val zorderAudit: Q = (s, d) => {
    val days = datediff(col("l_shipdate"), lit(java.sql.Date.valueOf("1992-01-01")))
    val li = Tables.lineitem(s, d)
      .select(days.cast("long").as("ship_day"), col("l_partkey"))
    withZ(li, "ship_day", "l_partkey")
      .withColumn("zbucket", shiftright(col("__z"), zBucketShift))
      .groupBy(col("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("ship_day")).as("min_day"), max(col("ship_day")).as("max_day"),
        min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"))
      .orderBy(col("zbucket"))
  }

  val queries: Map[String, Q] = Map(
    "q94_zorder_audit" -> zorderAudit,
  )

  val oracle: Map[String, String] = Map(
    "q94_zorder_audit" -> {
      val z = sqlZValue(
        s"((ship_day - x0) * ${1L << zBits}) // (x1 - x0 + 1)",
        s"((l_partkey - y0) * ${1L << zBits}) // (y1 - y0 + 1)")
      s"""WITH raw AS (
         |  SELECT CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS ship_day,
         |    l_partkey
         |  FROM lineitem
         |), st AS (
         |  SELECT min(ship_day) AS x0, max(ship_day) AS x1,
         |    min(l_partkey) AS y0, max(l_partkey) AS y1
         |  FROM raw
         |), zs AS (
         |  SELECT ship_day, l_partkey,
         |    $z // ${1L << zBucketShift} AS zbucket
         |  FROM raw, st
         |)
         |SELECT zbucket, count(*) AS n_rows,
         |  min(ship_day) AS min_day, max(ship_day) AS max_day,
         |  min(l_partkey) AS min_part, max(l_partkey) AS max_part
         |FROM zs GROUP BY zbucket ORDER BY zbucket""".stripMargin
    },
  )
}
