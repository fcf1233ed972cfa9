package perfbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** `catalog_mixed`: a pinned slice of the query registry over generated
  * tables, run as Bench runs it — build the DataFrame with
  * `SparkEntry.queries(q)(spark, dir)`, write it to the noop sink, then
  * `Dedup.releaseSketchCaches()`. Passes over the list repeat, at least
  * three, until the measuring time is used up. The tables in `dir` are
  * read by path, as in Bench's SPARK_GRAFT_CATALOG=off arm. */
final class Catalog(spark: SparkSession, tracer: Tracer, work: String, dir: String,
                    pinned: Seq[String]) extends Workload {
  private val registry = SparkEntry.queries

  private val missing = pinned.filterNot(registry.contains)
  require(missing.isEmpty,
    s"pinned queries missing from SparkEntry.queries: ${missing.mkString(", ")}")

  private val passS = mutable.ArrayBuffer.empty[Double]
  private val queryS = mutable.ArrayBuffer.empty[Double]
  private val passSpans = mutable.ArrayBuffer.empty[Span]
  val passLog = mutable.ArrayBuffer.empty[Map[String, Any]]

  def generate(): Double = 0.0 // the tables are written before the JVM starts

  private var twins = Map.empty[String, String]

  /** The warm-up is the check pass: each pinned query once, its output
    * written to `work/check` for the DuckDB comparison. */
  def warmUp(): Unit = {
    val oracle = SparkEntry.oracleSql
    twins = pinned.map { q =>
      ops += 1
      registry(q)(spark, dir).write.mode("overwrite").parquet(s"$work/check/$q")
      graft.ops.Dedup.releaseSketchCaches()
      q -> oracle.getOrElse(q, null)
    }.toMap
  }

  def writeChecks(out: String): Map[String, String] = twins // written by warmUp

  def measure(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    while (passS.size < Workload.minUnits || (System.nanoTime() - t0) / 1e9 < seconds) {
      val gc0 = Catalog.gcSeconds
      val (_, pass) = tracer.spanned(s"pass${passS.size}", "pass") {
        pinned.foreach { q =>
          val (_, s) = tracer.spanned(q, "query") {
            ops += 1
            val df = tracer.span("build", "query.build")(registry(q)(spark, dir))
            tracer.span("action", "query.action")(df.write.format("noop").mode("overwrite").save())
            graft.ops.Dedup.releaseSketchCaches()
          }
          queryS += s.seconds
        }
      }
      passS += pass.seconds
      passSpans += pass
      passLog += Map("pass" -> passS.size, "pass_s" -> pass.seconds,
        "jvm_gc_s" -> (Catalog.gcSeconds - gc0), "rss_mb" -> Main.rssMb("VmRSS"),
        "heap_used_mb" -> Catalog.heapUsedMb)
    }
  }

  def endToEnd: Map[String, Double] = Map(
    "pass_s" -> Stats.median(passS.toSeq),
    "query_p50_s" -> Stats.quantile(queryS.toSeq, 0.5),
    "query_p90_s" -> Stats.quantile(queryS.toSeq, 0.9))

  def samples: Map[String, Int] = Map("pass_s" -> passS.size, "query_s" -> queryS.size)

  def perLayer(): Map[String, Double] = {
    tracer.drain()
    val all = tracer.spans.toSeq
    val kids = all.groupBy(_.parent)
    def under(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil).flatMap(k => k +: under(k))
    // one row per pass: the sums over its queries
    val perPass = passSpans.toSeq.map { p =>
      val queries = kids.getOrElse(p.id, Nil)
      val leaves = queries.flatMap(q => q +: under(q))
      def sum(f: Counts => Double): Double = leaves.map(s => f(s.counts)).sum
      val wall = queries.map(_.seconds).sum
      val runS = sum(_.runMs / 1e3)
      val jobSpans = leaves.flatMap(_.counts.jobSpans).map(j => (j._1.toDouble, j._2.toDouble))
      val driverS = queries.map(q =>
        q.seconds - Stats.covered(jobSpans, q.startMs, q.endMs) / 1e3).sum
      val m = mutable.Map[String, Double](
        "query.build_s" -> leaves.filter(_.layer == "query.build").map(_.seconds).sum,
        "query.action_s" -> leaves.filter(_.layer == "query.action").map(_.seconds).sum,
        "query.plan_s" -> sum(_.planMs / 1e3),
        "query.driver_s" -> driverS,
        "query.jobs" -> sum(_.jobs.toDouble),
        "query.stages" -> sum(_.stages.toDouble),
        "query.tasks" -> sum(_.tasks.toDouble),
        "query.busy_cores" -> runS / math.max(1e-9, wall),
        "query.cpu_frac" -> sum(_.cpuNs / 1e9) / math.max(1e-9, runS),
        "query.gc_frac" -> sum(_.gcMs / 1e3) / math.max(1e-9, runS),
        "query.shuffle_bytes" -> sum(_.shuffleBytes.toDouble),
        "query.spill_bytes" -> sum(_.spillBytes.toDouble),
        "query.input_bytes" -> sum(_.inputBytes.toDouble))
      queries.foreach { q =>
        val short = q.name.takeWhile(_ != '_')
        m(s"query.$short.s") = q.seconds
        m(s"query.$short.jobs") = (q +: under(q)).map(_.counts.jobs.toDouble).sum
      }
      m.toMap
    }
    perPass.flatMap(_.keys).distinct.map(k => k -> Stats.median(perPass.map(_(k)))).toMap
  }
}

object Catalog {
  import scala.jdk.CollectionConverters._
  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  def heapUsedMb: Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
}
