package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, measure, count per layer (when
  * tracing), write the check outputs, and leave `result.json` (and
  * `trace.jsonl` when tracing) in the work directory for `run.py`.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1 --work DIR
  * --cpus C, then --set key=value... for the ELT, or --data DIR
  * --queries q,... for a catalog slice. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).toSeq.groupMap(_(0).stripPrefix("--"))(_(1))
    def arg(k: String): String = args(k).head
    val name = arg("workload"); val seed = arg("seed").toLong
    val trace = arg("trace") == "1"; val work = arg("work"); val cpus = arg("cpus")
    val cfg = args.getOrElse("set", Nil).map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    def list(k: String): Seq[String] =
      args.get(k).map(_.head.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)

    val t0 = System.nanoTime()
    // the session confs of graft.Bench, unchanged
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(s"$name-$seed-trace$trace")
    if (trace) tracer.attach(spark)
    val w: Workload = name match {
      case "elt_incremental" => new Elt(spark, tracer, work, seed, cfg)
      case _ => new Catalog(spark, tracer, work, arg("data"), list("queries"))
    }
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    def guarded(step: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        errors += s"$step: ${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
      }

    // set-up: the input generation is repeated and its median kept
    val genS = (1 to 3).map(_ => w.generate())
    val tWarm = System.nanoTime()
    guarded("warm-up")(w.warmUp())
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = sessionS + Stats.median(genS) + warmS

    val tMeasure = System.nanoTime()
    guarded("measure")(w.measure(arg("seconds").toDouble))
    val measureS = (System.nanoTime() - tMeasure) / 1e9
    val peakRssMb = rssMb("VmHWM")

    var checks = Map.empty[String, String]
    guarded("check outputs") { checks = w.writeChecks(s"$work/check") }
    val perLayer = if (trace) w.perLayer() else Map.empty[String, Double]

    val measured: Map[String, Double] =
      try w.endToEnd catch { case e: Throwable => errors += s"metrics: $e"; Map.empty }
    val e2e = measured ++
      Map("setup_s" -> setupS, "peak_rss_mb" -> peakRssMb)
    val result = Json.obj(
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "end_to_end" -> e2e, "per_layer" -> perLayer, "samples" -> w.samples,
      "setup_parts" -> Map("session_s" -> sessionS, "generate_s" -> genS, "warm_up_s" -> warmS),
      "measure_s" -> measureS, "attempted" -> w.ops, "failed_checks" -> w.failures.toSeq,
      "errors" -> errors.toSeq, "checks" -> checks,
      "passes" -> (w match { case c: Catalog => c.passLog.toSeq; case _ => Nil }))
    write(s"$work/result.json", Seq(result))
    if (trace) write(s"$work/trace.jsonl", tracer.toJson)
    spark.stop()
  }

  private def write(path: String, lines: Seq[String]): Unit = {
    val out = new PrintWriter(new File(path), "UTF-8")
    try lines.foreach(out.println) finally out.close()
  }

  /** A memory line of /proc/self/status (VmHWM = peak resident set) in MB. */
  def rssMb(key: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
