package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** One accepted timed call. CPU, GC and JIT compile time are process-wide
  * deltas read immediately around the call, nothing else in between. */
final case class Sample(kind: String, opId: Int, wallS: Double, cpuS: Double,
    gcS: Double, jitS: Double)

/** Times calls into the program and counts them. A call that throws, or
  * whose output fails its check, counts as failed and gives no sample. */
final class Meter {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0

  def failed: Int = failures.size

  def measure[T](kind: String, opId: Int)(call: => T)(check: T => Boolean)
      : Option[T] = {
    attempted += 1
    val j0 = JvmCounters.jitMs
    val g0 = JvmCounters.gcMs
    val c0 = JvmCounters.cpuNs
    val t0 = System.nanoTime()
    val result = try Right(call) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val c1 = JvmCounters.cpuNs
    val g1 = JvmCounters.gcMs
    val j1 = JvmCounters.jitMs
    result match {
      case Left(e) =>
        failures += s"$kind #$opId threw ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300)
        None
      case Right(v) =>
        val ok = try check(v) catch {
          case NonFatal(e) =>
            failures += s"$kind #$opId check threw: ${String.valueOf(e.getMessage).take(300)}"
            return None
        }
        if (ok) {
          samples += Sample(kind, opId, (t1 - t0) / 1e9, (c1 - c0) / 1e9,
            (g1 - g0) / 1e3, (j1 - j0) / 1e3)
          Some(v)
        } else {
          failures += s"$kind #$opId: output check failed"
          None
        }
    }
  }

  /** An output check that belongs to no single timed call. */
  def verify(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch { case NonFatal(_) => false }
    if (!passed) failures += s"$what: output check failed"
  }

  def walls(kind: String): Seq[Double] =
    samples.iterator.filter(_.kind == kind).map(_.wallS).toSeq
}
