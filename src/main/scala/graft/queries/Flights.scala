package graft.queries

import graft.flights.{Cleaning, FlightSchemas, StarBuild}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Flight-pipeline semantics under the DuckDB oracle. The testdata
  * tables carry no flight CSV, so these queries read the checked-in
  * fixture (FIXTURES.md §A) by absolute path — DuckDB mirrors it with
  * read_csv(..., all_varchar=true), giving both engines the same
  * schema-on-read strings the reference's staging layer has.
  *
  * Title-cased columns are deliberately absent from oracle outputs
  * (DuckDB has no title-case); those semantics are pinned by
  * TitleCaseSpec/CleaningSpec instead. Oracle-facing string keys use
  * lower(trim(...)) which both engines define identically.
  */
object Flights extends graft.QueryModule {
  override def fixtureDriven: Boolean = true

  val fixturePath = "/root/repo/src/test/resources/flights_small.csv"
  val appendFixturePath = "/root/repo/src/test/resources/flights_append.csv"

  private def rawFixture(s: SparkSession): DataFrame =
    FlightSchemas.renameToStaging(
      s.read.schema(FlightSchemas.rawCsv).option("header", true).csv(fixturePath))

  /** T-3 decision table (transformation.py:14-24) over literal rows,
    * verified against an independent SQL re-derivation. */
  private val q15: Q = (s, _) => {
    import s.implicits._
    val inputs = stopoverCases.toDF("s")
    inputs.select(col("s"), Cleaning.parseStopovers(col("s")).as("stopovers"))
      .orderBy(col("s"))
  }

  val stopoverCases: Seq[String] = Seq(
    "Direct", "direct", "DIRECT  ", "Non-stop", "non-stop", " NON-STOP ",
    "1 Stop", "2 stops", "3 STOPS", "  10 stops ", "stopover", "many stops",
    "stop", "1 layover", "transit", "", "5", "no. 2 stop", "99999999999999999999 stops")

  /** T-7 + T-8b/c: the dim_date build from the fixture CSV. */
  private val q16: Q = (s, _) => {
    val cleaned = Cleaning.clean(rawFixture(s))
    StarBuild.dimDateRows(cleaned)
      .withColumn("date_id", date_format(col("date_id"), "yyyy-MM-dd"))
      .orderBy(col("date_id"))
  }

  /** K-1/K-2 over flight data: fares by airline key (lower-trim; the
    * title-cased display name is covered by unit tests). */
  private val q17: Q = (s, _) => {
    val cleaned = Cleaning.clean(rawFixture(s))
    cleaned
      .groupBy(lower(trim(col("airline"))).as("airline_key"))
      .agg(
        count(lit(1)).as("n_flights"),
        Qx.dsum(col("total_fare"), rescale = 2).as("sum_total_fare"),
        Qx.davg(col("total_fare"), rescale = 2).as("avg_total_fare"),
        Qx.davg(col("base_fare"), rescale = 2).as("avg_base_fare"))
      .orderBy(col("airline_key"))
  }

  /** Row-level cleaned projection: T-3 + T-4 + T-5 + T-7 together,
    * every fact measure visible to the oracle. */
  private val q18: Q = (s, _) => {
    val cleaned = Cleaning.clean(rawFixture(s))
    cleaned.select(
        lower(trim(col("airline"))).as("airline_key"),
        col("source_code"),
        col("destination_code"),
        date_format(col("departure_dt"), "yyyy-MM-dd HH:mm:ss").as("departure_ts"),
        col("stopovers"),
        col("duration_hours"),
        col("base_fare"),
        col("tax_surcharge"),
        col("total_fare"),
        col("days_before_departure").cast(IntegerType).as("days_before_departure"))
      .orderBy(col("airline_key"), col("departure_ts").asc_nulls_first,
        col("source_code"), col("total_fare"))
  }

  val queries: Map[String, Q] = Map(
    "q15_stopover_rules" -> q15,
    "q16_flight_dim_date" -> q16,
    "q17_flight_fares_by_airline" -> q17,
    "q18_flight_cleaned_rows" -> q18,
  )

  private val sqlStopover =
    """CASE
      |  WHEN s IS NULL THEN 0
      |  WHEN contains(lower(trim(s)), 'direct') OR contains(lower(trim(s)), 'non-stop') THEN 0
      |  WHEN contains(lower(trim(s)), 'stop')
      |    THEN coalesce(try_cast(regexp_replace(lower(trim(s)), '[^0-9]', '', 'g') AS INTEGER), 0)
      |  ELSE 0
      |END""".stripMargin

  private val sqlValues =
    stopoverCases.map(v => s"('${v.replace("'", "''")}')").mkString("(VALUES ", ", ", ") t(s)")

  /** The cleaned fixture as a DuckDB CTE: all_varchar read + T-4
    * coercion/rounding + T-5 filter + T-7 parse + T-3 stopovers. */
  private val sqlCleaned =
    s"""WITH raw AS (
       |  SELECT * FROM read_csv('$fixturePath', header=true, all_varchar=true)
       |), cleaned AS (
       |  SELECT
       |    "Airline" AS airline,
       |    "Source" AS source_code,
       |    "Destination" AS destination_code,
       |    try_cast("Departure Date & Time" AS TIMESTAMP) AS departure_dt,
       |    (CASE
       |      WHEN "Stopovers" IS NULL THEN 0
       |      WHEN contains(lower(trim("Stopovers")), 'direct') OR contains(lower(trim("Stopovers")), 'non-stop') THEN 0
       |      WHEN contains(lower(trim("Stopovers")), 'stop')
       |        THEN coalesce(try_cast(regexp_replace(lower(trim("Stopovers")), '[^0-9]', '', 'g') AS INTEGER), 0)
       |      ELSE 0
       |    END) AS stopovers,
       |    round(coalesce(try_cast("Duration (hrs)" AS DOUBLE), 0), 2) AS duration_hours,
       |    round(coalesce(try_cast("Base Fare (BDT)" AS DOUBLE), 0), 2) AS base_fare,
       |    round(coalesce(try_cast("Tax & Surcharge (BDT)" AS DOUBLE), 0), 2) AS tax_surcharge,
       |    round(coalesce(try_cast("Total Fare (BDT)" AS DOUBLE), 0), 2) AS total_fare,
       |    nullif(trim("Seasonality"), '') AS seasonality,
       |    try_cast("Days Before Departure" AS INTEGER) AS days_before_departure
       |  FROM raw
       |)
       |, valid AS (SELECT * FROM cleaned WHERE total_fare > 0 AND duration_hours > 0)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q15_stopover_rules" ->
      s"SELECT s, $sqlStopover AS stopovers FROM $sqlValues",
    "q16_flight_dim_date" ->
      s"""$sqlCleaned
         |SELECT strftime(d, '%Y-%m-%d') AS date_id,
         |  CAST(year(d) AS INTEGER) AS year,
         |  CAST(month(d) AS INTEGER) AS month,
         |  CAST(day(d) AS INTEGER) AS day,
         |  CAST(quarter(d) AS INTEGER) AS quarter,
         |  CAST((dayofweek(d) + 6) % 7 AS INTEGER) AS day_of_week,
         |  ((dayofweek(d) + 6) % 7) >= 5 AS is_weekend,
         |  coalesce(max(seasonality), 'Normal') AS seasonality
         |FROM (SELECT CAST(departure_dt AS DATE) AS d, seasonality FROM valid
         |      WHERE departure_dt IS NOT NULL) v
         |GROUP BY d""".stripMargin,
    "q17_flight_fares_by_airline" ->
      s"""$sqlCleaned
         |SELECT lower(trim(airline)) AS airline_key,
         |  count(*) AS n_flights,
         |  ${Qx.sqlDsum("total_fare", rescale = 2)} AS sum_total_fare,
         |  ${Qx.sqlDavg("total_fare", rescale = 2)} AS avg_total_fare,
         |  ${Qx.sqlDavg("base_fare", rescale = 2)} AS avg_base_fare
         |FROM valid GROUP BY 1""".stripMargin,
    "q18_flight_cleaned_rows" ->
      s"""$sqlCleaned
         |SELECT lower(trim(airline)) AS airline_key,
         |  source_code, destination_code,
         |  strftime(departure_dt, '%Y-%m-%d %H:%M:%S') AS departure_ts,
         |  stopovers, duration_hours, base_fare, tax_surcharge, total_fare,
         |  days_before_departure
         |FROM valid""".stripMargin,
  )
}
