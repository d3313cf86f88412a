package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds at nanosecond resolution, on the same
  * base as the epoch-millisecond times in Spark's listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Cumulative JVM counters read at span boundaries. */
object JvmCounters {
  import java.lang.management.ManagementFactory
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  private val os = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => Some(b)
    case _ => None
  }
  def gcMs: Long = {
    var t = 0L
    gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }
  def cpuNs: Long = os.map(_.getProcessCpuTime).filter(_ >= 0).getOrElse(0L)
  private val jit = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
  /** Time spent in JIT compilations so far, summed over the compiler
    * threads. */
  def jitMs: Long = jit.map(_.getTotalCompilationTime).getOrElse(0L)
  /** Janino compilations so far (count of Spark's compile-time histogram). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def heapUsedMb: Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** One timed call into the program. Times are epoch ms; `codegen` and
  * `gcMs` are the deltas of [[JvmCounters]] over the span. */
final case class Span(
    id: Int, name: String, opId: Int, parent: Int,
    start: Double, end: Double, codegen: Long, gcMs: Long) {
  def seconds: Double = (end - start) / 1e3
}

/** Records spans around calls into the program. The untraced run uses
  * [[Tracer.Off]], which only runs the body. */
trait Tracer {
  def span[T](name: String, opId: Int)(body: => T): T
  def enabled: Boolean
}

object Tracer {
  /** Local property carrying the innermost open span id; Spark copies it
    * into every job the body starts, which ties jobs to spans. */
  val SpanProperty = "perfbench.span"

  object Off extends Tracer {
    def span[T](name: String, opId: Int)(body: => T): T = body
    def enabled = false
  }
}

/** Keeps spans in memory; [[spans]] is read once the run ends. */
final class SpanTracer(sc: SparkContext) extends Tracer {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1

  def enabled = true
  def spans: Seq[Span] = done.toSeq

  def span[T](name: String, opId: Int)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0)
    open = id :: open
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val c0 = JvmCounters.codegenCompiles
    val g0 = JvmCounters.gcMs
    val t0 = Clock.nowMs
    try body
    finally {
      val t1 = Clock.nowMs
      done += Span(id, name, opId, parent, t0, t1,
        JvmCounters.codegenCompiles - c0, JvmCounters.gcMs - g0)
      open = open.tail
      sc.setLocalProperty(Tracer.SpanProperty,
        open.headOption.map(_.toString).orNull)
    }
  }

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val children = done.groupBy(_.parent)
    def walk(id: Int): Set[Int] =
      children.getOrElse(id, Nil).map(s => walk(s.id)).foldLeft(Set(id))(_ ++ _)
    walk(root)
  }
}

/** Task metrics of one completed stage. */
final case class StageMetrics(
    tasks: Long, cpuNs: Long, runMs: Long, inputBytes: Long,
    outputBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** One Spark job: epoch-ms interval, description and owning span. */
final case class JobRecord(
    id: Int, start: Double, end: Double, description: String, span: Int,
    stages: Seq[StageMetrics])

/** The benchmark's own listener, attached only in the traced run. */
final class JobListener extends SparkListener {
  private case class Open(start: Double, desc: String, span: Int)
  private val open = mutable.Map.empty[Int, Open]
  private val ended = mutable.Map.empty[Int, Double]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageMetrics = mutable.Map.empty[Int, StageMetrics]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    open(e.jobId) = Open(e.time.toDouble,
      prop("spark.job.description").getOrElse(""),
      prop(Tracer.SpanProperty).map(_.toInt).getOrElse(0))
    // A stage runs under the first job that needs it; later jobs skip it.
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended(e.jobId) = e.time.toDouble
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stageMetrics(i.stageId) = StageMetrics(
        i.numTasks, m.executorCpuTime, m.executorRunTime,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  /** Every finished job. Call after draining the listener bus. */
  def jobs: Seq[JobRecord] = synchronized {
    val byJob = stageJob.toSeq.groupBy(_._2)
    open.toSeq.flatMap { case (id, o) =>
      ended.get(id).map { end =>
        val stages = byJob.getOrElse(id, Nil).flatMap(s => stageMetrics.get(s._1))
        JobRecord(id, o.start, end, o.desc, o.span, stages)
      }
    }.sortBy(_.id)
  }
}
