package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** Seeded generator of the reference's raw flight CSV (FIXTURES.md §A.1).
  *
  * Row `i` is a pure function of `(seed, days, i)`, so a file of `n` rows
  * is the same bytes on every run with the same seed, and growing it from `n` to
  * `m` rows appends exactly rows `n until m` — the in-place growth that the
  * incremental ingest's offset contract is built for.
  *
  * Why each value looks the way it does:
  *  - airline, class, aircraft and booking spellings carry mixed case and
  *    stray whitespace, so T-2 (trim + title case) folds several raw
  *    spellings into one dim row, as in the checked-in fixtures;
  *  - the stopover strings cover every branch of the T-3 decision table;
  *  - departure times are `i * stride mod (days * 86400 s)` from
  *    2024-01-01 with a stride coprime to that span: injective for any file
  *    shorter than the span in seconds, so every row is unique (the exact
  *    V-3 staging gate holds after the md5-ledger dedup), and every one of
  *    the `days` dates gets rows (one fact partition each, the layout the
  *    KPIs scan);
  *  - fares are whole cents and total = base + tax, so T-4's rounding is
  *    exact on both engines; durations carry a third decimal that is never
  *    5, so HALF_UP and DuckDB's rounding agree;
  *  - about 0.4% of rows fail T-5 (zero, negative or non-numeric fare, or a
  *    non-positive duration), inside V-4's 1% budget; every other row has
  *    all fact keys, so fact rows equal the valid rows generated;
  *  - each date has one seasonality label; a fifth of its rows carry a
  *    label that sorts below it or an empty cell, so T-8c's max-wins rule
  *    has conflicts to resolve while the date's label is already decided by
  *    the first rows ever loaded (dim_date is insert-only, so a later round
  *    can never need to change it).
  */
object FlightCsv {
  val header: String = Seq("Airline", "Source", "Source Name", "Destination",
    "Destination Name", "Departure Date & Time", "Arrival Date & Time",
    "Duration (hrs)", "Stopovers", "Aircraft Type", "Class", "Booking Source",
    "Base Fare (BDT)", "Tax & Surcharge (BDT)", "Total Fare (BDT)",
    "Seasonality", "Days Before Departure").mkString(",")

  private val airlines = Array(" biman Bangladesh ", "US-bangla", "novoair",
    "Air astra  ", "biman bangladesh", "NOVOAIR", "us-BANGLA", "air astra",
    "Fly dubai", "qatar AIRWAYS", " emirates", "Saudia")
  private val airports = Array(("DAC", "hazrat shahjalal intl"),
    ("CGP", "shah amanat intl"), ("ZYL", "osmani intl"), ("CXB", "cox's bazar"),
    ("SPD", "saidpur"), ("JSR", "jashore"), ("RJH", "shah makhdum"),
    ("BZL", "barisal"), ("DXB", "dubai intl"), ("DOH", "hamad intl"),
    ("JED", "king abdulaziz intl"), ("KUL", "kuala lumpur intl"))
  private val stops = Array("Direct", "Non-stop", "direct", "1 Stop", "2 stops",
    "3 STOPS", "many stops", "transit", "non-stop  ", "1 stop")
  private val classes = Array("economy", "Business", " first ", "Economy", "ECONOMY")
  private val aircraft = Array("boeing 737", "ATR 72", "dash 8-Q400",
    "Airbus A320", "boeing 787")
  private val booking = Array("online", "Agent", "MOBILE app", "Online website")
  // sorted: a conflicting label is always drawn from below the date's own
  private val seasons = Array("Eid", "Monsoon", "Normal", "Peak", "Winter")

  private val daySeconds = 86400L
  private val epoch2024 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)

  /** The first stride from 7919 * 4001 up that is coprime to the span, so
    * `i * stride mod span` visits every second of the span once. */
  private def strideFor(span: Long): Long =
    Iterator.iterate(7919L * 4001L)(_ + 1).find(s => BigInt(s).gcd(span) == 1).get

  private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Row `i` as a CSV line, and whether it passes T-5. */
  def row(seed: Long, days: Int, stride: Long, i: Long): (String, Boolean) = {
    val r = new java.util.SplittableRandom(mix(seed * 0x632BE59BD9B4E019L + i))
    def pick[T](a: Array[T]): T = a(r.nextInt(a.length))
    val (src, srcName) = pick(airports)
    var dst = pick(airports)
    while (dst._1 == src) dst = pick(airports)
    val offset = Math.floorMod(i * stride, days * daySeconds)
    val dep = epoch2024.plusSeconds(offset)
    val durMinutes = 35 + r.nextInt(900)
    val arr = dep.plusMinutes(durMinutes)
    var thirdDecimal = r.nextInt(9)
    if (thirdDecimal >= 5) thirdDecimal += 1
    val duration = "%.2f".formatLocal(java.util.Locale.ROOT, durMinutes / 60.0) + thirdDecimal
    val baseCents = 150000L + r.nextInt(9000000)
    val taxCents = baseCents / 8 + r.nextInt(50000)
    val dayOfYear = (offset / daySeconds).toInt
    val seasonIdx = (mix(seed ^ dayOfYear.toLong) >>> 1) % seasons.length
    val season = {
      val u = r.nextInt(10)
      if (u == 0) ""
      else if (u == 1 && seasonIdx > 0) seasons(r.nextInt(seasonIdx.toInt))
      else seasons(seasonIdx.toInt)
    }
    var durationCell = duration
    var totalCell = cents(baseCents + taxCents)
    var baseCell = cents(baseCents)
    val invalid = r.nextInt(1000) < 4
    if (invalid) r.nextInt(5) match {
      case 0 => totalCell = "0"
      case 1 => totalCell = "-" + totalCell
      case 2 => totalCell = "--"; baseCell = "--"
      case 3 => durationCell = "0"
      case _ => durationCell = "-" + duration
    }
    val line = Seq(pick(airlines), src, srcName, dst._1, dst._2, dep.format(fmt),
      arr.format(fmt), durationCell, pick(stops), pick(aircraft), pick(classes),
      pick(booking), baseCell, cents(taxCents), totalCell, season,
      (1 + r.nextInt(120)).toString).mkString(",")
    (line, !invalid)
  }

  private def cents(c: Long): String = s"${c / 100}." + (if (c % 100 < 10) "0" else "") + (c % 100)

  /** Append rows `from until to` to `path` (writing the header when `from`
    * is 0, truncating any old file). Returns the number of valid rows. */
  def write(path: String, seed: Long, days: Int, from: Long, to: Long): Long = {
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path, from > 0), StandardCharsets.UTF_8), 1 << 20)
    val stride = strideFor(days * daySeconds)
    var valid = 0L
    try {
      if (from == 0) { out.write(header); out.write('\n') }
      var i = from
      while (i < to) {
        val (line, ok) = row(seed, days, stride, i)
        out.write(line); out.write('\n')
        if (ok) valid += 1
        i += 1
      }
    } finally out.close()
    valid
  }
}
