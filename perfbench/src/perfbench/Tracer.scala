package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts gathered at one span: its own Spark jobs, stages and tasks, the
  * task metrics those tasks report, and the Catalyst phases of the query
  * executions that ran inside it. */
final class Counts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  var outputBytes = 0L; var filesRead = 0L; var sqlExecs = 0L
  var planMs = 0.0
  /** [start, end] wall-clock ms of each job, to derive driver-only time. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

final case class Span(id: Int, name: String, layer: String, parent: Int,
                      startMs: Double, var endMs: Double = Double.NaN) {
  val counts = new Counts
  def seconds: Double = (endMs - startMs) / 1e3
}

/** The benchmark's span recorder, fed by a `SparkListener` and a
  * `QueryExecutionListener` registered on the session.
  *
  * The benchmark thread opens one span around each public call it makes
  * and sets the span id as a local property, so every job that call
  * submits from the same thread carries its span. Jobs submitted from
  * driver pool threads (which do not inherit the property) fall back to
  * the innermost span open at the job's start time. Catalyst phase times
  * come from `qe.tracker` and are attributed the same way by time.
  *
  * With tracing off the benchmark still calls `span`, but no listener is
  * registered and only the span times are kept. */
final class Tracer(val runId: String) extends SparkListener with QueryExecutionListener {
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  private var sc: SparkContext = _

  private val stageSpan = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, (Span, Long)]

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = if (sc != null) org.apache.spark.PerfbenchBridge.drain(sc)

  def span[T](name: String, layer: String)(body: => T): T = spanned(name, layer)(body)._1

  /** Runs `body` inside a new span; returns its result and the span. */
  def spanned[T](name: String, layer: String)(body: => T): (T, Span) = {
    val parent = open.lastOption.map(_.id).getOrElse(-1)
    val s = synchronized {
      val s = Span(spans.size, name, layer, parent, nowMs)
      spans += s; byId(s.id) = s; open += s; s
    }
    if (sc != null) sc.setLocalProperty(Tracer.prop, s.id.toString)
    try (body, s)
    finally {
      synchronized { s.endMs = nowMs; open -= s }
      if (sc != null)
        sc.setLocalProperty(Tracer.prop, if (parent >= 0) parent.toString else null)
    }
  }

  /** Innermost span covering wall-clock time `ms`. */
  private def at(ms: Double): Option[Span] = synchronized {
    spans.reverseIterator.find(s => s.startMs <= ms && (s.endMs.isNaN || ms <= s.endMs))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tagged = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.prop)))
    val s = tagged.flatMap(id => synchronized(byId.get(id.toInt))).orElse(at(e.time.toDouble))
    s.foreach { s =>
      synchronized {
        s.counts.jobs += 1
        jobSpan(e.jobId) = (s, e.time)
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, start) => s.counts.jobSpans += ((start, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(_.counts.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val c = s.counts
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val start = phases.values.map(_.startTimeMs).min
      at(start.toDouble).foreach { s =>
        val files = try filesRead(qe.executedPlan) catch { case _: Throwable => 0L }
        synchronized {
          s.counts.sqlExecs += 1
          s.counts.planMs += phases.values.map(_.durationMs).sum
          s.counts.filesRead += files
        }
      }
    }
  }

  /** Files opened by the file scans of a finished physical plan. */
  private def filesRead(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case q: QueryStageExec => filesRead(q.plan)
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => (other.children ++ other.subqueries).map(filesRead).sum
  }

  /** Spans as JSON lines, with self time (own duration minus the part
    * covered by child spans) and driver-only time (own duration minus the
    * union of its job spans). */
  def toJson: Seq[String] = synchronized {
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      val selfS = s.seconds - Stats.covered(kids, s.startMs, s.endMs) / 1e3
      val c = s.counts
      val driverS = s.seconds - Stats.covered(c.jobSpans.map(j => (j._1.toDouble, j._2.toDouble)),
        s.startMs, s.endMs) / 1e3
      Json.obj("run" -> runId, "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_s" -> selfS, "driver_s" -> driverS, "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "task_run_s" -> c.runMs / 1e3, "task_cpu_s" -> c.cpuNs / 1e9,
        "task_gc_s" -> c.gcMs / 1e3, "plan_s" -> c.planMs / 1e3, "sql_execs" -> c.sqlExecs,
        "input_bytes" -> c.inputBytes, "shuffle_bytes" -> c.shuffleBytes,
        "spill_bytes" -> c.spillBytes, "output_bytes" -> c.outputBytes,
        "files_read" -> c.filesRead)
    }
  }
}

object Tracer {
  val prop = "perfbench.span"
}
