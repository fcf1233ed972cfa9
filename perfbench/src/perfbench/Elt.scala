package perfbench

import java.io.File

import scala.collection.mutable

import graft.flights.{FlightIngest, StarWarehouse, Validation}
import graft.queries.Kpi
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `elt_incremental`: the paper's pipeline on a generated flight CSV.
  *
  * Set-up loads a `rows`-row file into an empty warehouse (ingest →
  * transform → counts + V-3/V-4 gate → K-1..K-5) in the fresh JVM. The
  * timed loop then runs append rounds, each growing the same file in
  * place by `growth` and refreshing the warehouse and the dashboard:
  * at least three rounds, then until the measuring time is used up.
  * Each public call is one span. */
final class Elt(spark: SparkSession, tracer: Tracer, work: String, seed: Long,
                cfg: Map[String, String]) extends Workload {
  private val rows = cfg("rows").toLong
  private val growth = cfg("growth").toDouble
  private val days = cfg("days").toInt
  private val csv = s"$work/flights.csv"
  private val root = s"$work/wh"
  private var total = 0L
  private var valid = 0L

  private val roundS = mutable.ArrayBuffer.empty[Double]
  private val kpiS = mutable.ArrayBuffer.empty[Double]
  private val rounds = mutable.ArrayBuffer.empty[Span]
  private val counted = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var load: Span = _
  private var lastKpis = Map.empty[String, Array[Row]]

  def generate(): Double = {
    val t = System.nanoTime()
    valid = FlightCsv.write(csv, seed, days, 0, rows)
    total = rows
    (System.nanoTime() - t) / 1e9
  }

  def warmUp(): Unit = load = refresh("load", timed = false)

  def measure(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    while (rounds.size < Workload.minUnits || (System.nanoTime() - t0) / 1e9 < seconds) {
      val add = math.round(total * growth)
      valid += FlightCsv.write(csv, seed, days, total, total + add)
      total += add
      val round = refresh(s"round${rounds.size + 1}", timed = true)
      rounds += round
      roundS += round.seconds
    }
  }

  /** One refresh: ingest → transform → counts + gate → K-1..K-5, with the
    * counts checked against what was generated. */
  private def refresh(name: String, timed: Boolean): Span = {
    val ingest = new FlightIngest(spark, root)
    val wh = new StarWarehouse(spark, s"$root/analytics")
    tracer.spanned(name, "round") {
      val ing = tracer.span("FlightIngest.ingest", "ingest")(ingest.ingest(csv))
      val factFilesBefore = Workload.du(wh.factPath)._2
      val filesBefore = Workload.du(s"$root/analytics")._2 - factFilesBefore
      val tr = tracer.span("StarWarehouse.transform", "transform")(wh.transform(ingest.staging))
      val c = tracer.span("Validation.counts", "validate") {
        val c = Validation.counts(spark, csv, ingest.stagingPath, wh.factPath)
        Validation.validate(c)
        c
      }
      ops += 3
      check(s"$name source rows", c.source == total, s"${c.source} != $total generated")
      check(s"$name staging rows", c.staging == total, s"${c.staging} != $total generated")
      check(s"$name fact rows", c.fact == valid, s"${c.fact} != $valid valid generated")
      lastKpis = Kpis.all.map { case (k, f) =>
        val (rows, s) = tracer.spanned(k, "kpi") { ops += 1; f(wh).collect() }
        if (timed) kpiS += s.seconds
        k -> rows
      }.toMap
      if (timed) {
        // the fact is rewritten whole, the dims only gain files
        val written = Workload.du(s"$root/analytics")._2 - filesBefore
        record("ingest.rows_scanned", ing.rowsScanned.toDouble)
        record("ingest.rows_loaded", ing.rowsLoaded.toDouble)
        record("ingest.load_ratio", ing.rowsLoaded.toDouble / math.max(1L, ing.rowsScanned))
        record("transform.files_written", written.toDouble)
        record("transform.rewrite_ratio", tr.factRows.toDouble / math.max(1L, ing.rowsLoaded))
        val (bytes, files) = Workload.du(root)
        record("store.bytes", bytes.toDouble)
        record("store.files", files.toDouble)
        record("store.amp", bytes.toDouble / new File(csv).length())
      }
    }._2
  }

  private def record(k: String, v: Double): Unit =
    counted.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  def endToEnd: Map[String, Double] = Map(
    "pass_s" -> Stats.median(roundS.toSeq),
    "query_p50_s" -> Stats.quantile(kpiS.toSeq, 0.5),
    "query_p90_s" -> Stats.quantile(kpiS.toSeq, 0.9))

  def samples: Map[String, Int] = Map("pass_s" -> roundS.size, "query_s" -> kpiS.size)

  /** Per append round, the median over the run's rounds. */
  def perLayer(): Map[String, Double] = {
    tracer.drain()
    val kids = tracer.spans.toSeq.groupBy(_.parent)
    def perRound(layer: String)(f: Seq[Span] => Double): Double =
      Stats.median(rounds.toSeq.map(r => f(kids.getOrElse(r.id, Nil).filter(_.layer == layer))))
    def sum(f: Counts => Double)(ss: Seq[Span]): Double = ss.map(s => f(s.counts)).sum
    def secs(ss: Seq[Span]): Double = ss.map(_.seconds).sum
    def busy(ss: Seq[Span]): Double = sum(_.runMs / 1e3)(ss) / math.max(1e-9, secs(ss))
    val m = mutable.Map.empty[String, Double]
    for (l <- Seq("ingest", "transform", "validate", "kpi")) {
      m(s"$l.s") = perRound(l)(secs)
      m(s"$l.jobs") = perRound(l)(sum(_.jobs.toDouble))
    }
    for (l <- Seq("ingest", "transform", "kpi")) {
      m(s"$l.tasks") = perRound(l)(sum(_.tasks.toDouble))
      m(s"$l.busy_cores") = perRound(l)(busy)
    }
    m("ingest.input_bytes") = perRound("ingest")(sum(_.inputBytes.toDouble))
    m("validate.input_bytes") = perRound("validate")(sum(_.inputBytes.toDouble))
    m("transform.shuffle_bytes") = perRound("transform")(sum(_.shuffleBytes.toDouble))
    m("transform.spill_bytes") = perRound("transform")(sum(_.spillBytes.toDouble))
    m("kpi.files_read") = perRound("kpi")(sum(_.filesRead.toDouble))
    m("load.s") = kids.getOrElse(load.id, Nil).filterNot(_.layer == "kpi").map(_.seconds).sum
    counted.foreach { case (k, vs) => m(k) = Stats.median(vs.toSeq) }
    m.toMap
  }

  /** The K-1..K-5 rows of the last round, as the dashboard received them,
    * in the natural-key form of q48..q52 (lower-cased airline names,
    * yyyy-MM-dd dates), with those queries' DuckDB twins pointed at the
    * grown CSV. */
  def writeChecks(dir: String): Map[String, String] = {
    val oracle = graft.SparkEntry.oracleSql
    new File(dir).mkdirs()
    Kpis.natural.map { case (q, (k, project)) =>
      val rows = lastKpis(k).map(r => Json.value(project(r)))
      val out = new java.io.PrintWriter(new File(s"$dir/$q.json"), "UTF-8")
      try rows.foreach(out.println) finally out.close()
      q -> oracle(q).replace(graft.queries.Flights.fixturePath, new File(csv).getAbsolutePath)
    }.toMap
  }
}

/** K-1..K-5 as the dashboard calls them, and the q48..q52 projection of
  * their rows that the DuckDB twins compute. */
object Kpis {
  val all: Seq[(String, StarWarehouse => DataFrame)] = Seq(
    "Kpi.avgFareByAirline" -> (wh => Kpi.avgFareByAirline(wh)),
    "Kpi.bookingsByAirline" -> (wh => Kpi.bookingsByAirline(wh)),
    "Kpi.seasonalFares" -> (wh => Kpi.seasonalFares(wh)),
    "Kpi.topRoutes" -> (wh => Kpi.topRoutes(wh, k = 10)),
    "Kpi.fareTrend" -> (wh => Kpi.fareTrend(wh)))

  private def fields(r: Row, names: String*): Map[String, Any] =
    names.map(n => n -> r.getAs[Any](n)).toMap
  private def airlineKey(r: Row): (String, Any) =
    "airline_key" -> r.getAs[String]("airline_name").toLowerCase(java.util.Locale.ROOT)

  val natural: Seq[(String, (String, Row => Map[String, Any]))] = Seq(
    "q48_kpi_fares_by_airline" -> ("Kpi.avgFareByAirline" -> (r =>
      fields(r, "avg_total_fare", "avg_base_fare", "n_flights") + airlineKey(r))),
    "q49_kpi_bookings_by_airline" -> ("Kpi.bookingsByAirline" -> (r =>
      fields(r, "n_bookings") + airlineKey(r))),
    "q50_kpi_seasonal_fares" -> ("Kpi.seasonalFares" -> (r =>
      fields(r, "seasonality", "avg_total_fare", "n_flights"))),
    "q51_kpi_top_routes" -> ("Kpi.topRoutes" -> (r =>
      fields(r, "source_airport", "destination_airport", "n_flights"))),
    "q52_kpi_fare_trend" -> ("Kpi.fareTrend" -> (r =>
      fields(r, "avg_total_fare", "n_flights") +
        ("departure_date" -> r.getAs[java.sql.Date]("departure_date_id").toString))))
}
