package perfbench

import java.io.File

import scala.collection.mutable

/** What `Main` needs from a workload: set-up steps, a timed loop, and
  * its metrics. Every operation it attempts is counted, and every output
  * check that fails is recorded by name. */
trait Workload {
  var ops = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def check(what: String, ok: Boolean, detail: => String): Unit = {
    ops += 1
    if (!ok) failures += s"$what: $detail"
  }

  /** Writes the workload's inputs; returns the seconds it took. */
  def generate(): Double
  /** The first, cold unit of work of the run, outside the timed loop. */
  def warmUp(): Unit
  /** The timed loop: whole rounds or passes, at least [[Workload.minUnits]],
    * then more until `seconds` have passed. */
  def measure(seconds: Double): Unit
  def endToEnd: Map[String, Double]
  def samples: Map[String, Int]
  def perLayer(): Map[String, Double]
  /** Leaves the outputs for the DuckDB checks under `dir`; returns the
    * DuckDB twin of each output (outputs without a twin map to null). */
  def writeChecks(dir: String): Map[String, String]
}

object Workload {
  /** Rounds or passes a timed loop runs at least, however long they take:
    * the first one after set-up is still partly cold, and the median of
    * three leaves it out. */
  val minUnits = 3


  /** Bytes and files under `path` (0, 0 when it does not exist). */
  def du(path: String): (Long, Long) = {
    val f = new File(path)
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).getOrElse(Array.empty).map(c => du(c.getPath))
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
  }

  def delete(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(c => delete(c.getPath))
    f.delete()
  }
}
