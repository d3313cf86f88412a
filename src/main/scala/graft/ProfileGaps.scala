package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.Bridge
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Per-job and driver-gap profiler for declared queries (optimization-round
  * tooling, not part of the driver contract). Runs each query like Bench
  * (setup outside the timed region, count() as the action) and reports
  * two views of the timed region per rep:
  *
  *  - the job table: every Spark job's wall span, stages, tasks and
  *    executor-time sum, with what ran it ([[JobTable]]), and the split
  *    of the wall into job spans vs driver-side gaps — on local[32] with
  *    sf0.1 fixtures most queries are gap/scheduling-bound;
  *  - what the driver is DOING in the gaps: a sampler thread polls every
  *    live thread's stack every few ms; samples taken while zero Spark
  *    jobs are active are gap samples, aggregated by their most
  *    informative frame group (analysis/optimization, physical planning,
  *    codegen, Hadoop fs ops, manifest commit helpers, parquet footer
  *    reads, ...).
  *
  * Usage: runMain graft.ProfileGaps <query>[,<query>...] [reps]
  * (SPARK_GRAFT_SF_DIR as in Bench; the profiles quoted in
  * OPTIMIZATION_r15.md and OPTIMIZATION_r16.md ran at SPARK_GRAFT_CPUS=32.)
  */
object ProfileGaps {
  /** One Spark job: `desc` names it, `via` says how — "job" (its job
    * description), "sql" (its SQL execution) or "site" (its final
    * stage's call site). */
  private[graft] final case class JobRec(
      desc: String, via: String, start: Long, var end: Long = 0L,
      var tasks: Int = 0, var taskTime: Long = 0L, var stages: Int = 0)

  /** The job table's listener. A job is attributed to its job
    * description when set, else to its SQL execution — the jobs AQE
    * submits from its pool threads carry no description and a pool-thread
    * call site, but they do carry `spark.sql.execution.id`, and that
    * execution's start event names the action that ran it — else to its
    * final stage's name (Spark's "collect at Foo.scala:123" form). */
  private[graft] final class JobTable extends SparkListener {
    val active = new AtomicInteger(0)
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    private val stageToJob = new ConcurrentHashMap[Int, Int]()
    private val executions = new ConcurrentHashMap[Long, String]()

    def clear(): Unit = {
      jobs.clear(); stageToJob.clear(); executions.clear()
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executions.put(s.executionId, s.description)
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      active.incrementAndGet()
      def prop(k: String) = Option(e.properties).flatMap(p =>
        Option(p.getProperty(k))).filter(_.nonEmpty)
      val rec = prop("spark.job.description").map(JobRec(_, "job", e.time))
        .orElse(prop("spark.sql.execution.id")
          .flatMap(id => Option(executions.get(id.toLong))
            .map(d => JobRec(s"sql $id: $d", "sql", e.time))))
        .getOrElse(JobRec(e.stageInfos.lastOption.map(_.name).getOrElse(""),
          "site", e.time))
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      active.decrementAndGet()
      val r = jobs.get(e.jobId); if (r != null) r.end = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val r = jobs.get(stageToJob.getOrDefault(e.stageInfo.stageId, -1))
      if (r != null) {
        r.tasks += e.stageInfo.numTasks
        r.stages += 1
        r.taskTime += e.stageInfo.taskMetrics.executorRunTime
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.tool("profile")

    val table = new JobTable
    val active = table.active
    spark.sparkContext.addSparkListener(table)

    GraftSession.warmUp(spark, sfDir)

    val mainThread = Thread.currentThread()

    /** Collapse a stack to its most informative label: the first frame
      * (from the top) in a recognized group, else the topmost
      * spark/graft frame, else "other". */
    def classify(st: Array[StackTraceElement]): String = {
      def has(sub: String) = st.exists(_.getClassName.contains(sub))
      def firstGraft = st.find(f => f.getClassName.startsWith("graft"))
        .map(f => s"${f.getClassName}.${f.getMethodName}").getOrElse("")
      val label =
        if (has("RuleExecutor") && has("Optimizer")) "catalyst optimize"
        else if (has("RuleExecutor") && has("Analyzer")) "catalyst analyze"
        else if (has("CheckAnalysis")) "catalyst checkAnalysis"
        else if (has("QueryPlanner") || has("SparkStrategies"))
          "physical planning"
        else if (has("WholeStageCodegen") || has("CodeGenerator") ||
          has("janino")) "codegen"
        else if (has("ParquetFooterReader") || has("ParquetFileReader"))
          "parquet footer read"
        else if (has("InMemoryFileIndex") || has("listLeafFiles") ||
          has("HadoopFSUtils")) "file listing"
        else if (has("FileOutputCommitter") || has("commitJob") ||
          has("HadoopMapReduceCommitProtocol")) "output commit"
        else if (has("RawLocalFileSystem") || has("ChecksumFileSystem") ||
          has("FileUtil")) "hadoop local fs op"
        else if (has("objectweb.asm") || has("ClosureCleaner"))
          "closure cleaning"
        else if (has("JacksonParser") || has("json4s") || has("jackson"))
          "json (manifest?) parse"
        else if (has("Observation")) "observation wait"
        else if (st.exists(f => f.getMethodName == "sleep" ||
          f.getMethodName == "park" || f.getMethodName == "wait"))
          "blocked/waiting"
        else ""
      val g = firstGraft
      if (label.nonEmpty && g.nonEmpty) s"$label | $g"
      else if (label.nonEmpty) label
      else {
        val f = st.find(f => f.getClassName.startsWith("org.apache.spark") ||
          f.getClassName.startsWith("graft"))
        f.map(f => s"${f.getClassName}.${f.getMethodName}")
          .getOrElse(st.headOption.map(f =>
            s"${f.getClassName}.${f.getMethodName}").getOrElse("empty"))
      }
    }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val setup = SparkEntry.benchSetups.get(name)
      (1 to reps).foreach { rep =>
        setup.foreach(f => f(spark, sfDir))
        // setup's job events must land before the table is cleared
        Bridge.waitListenerBus(spark)
        table.clear()
        val gapCounts = new ConcurrentHashMap[String, Integer]()
        val jobCounts = new ConcurrentHashMap[String, Integer]()
        @volatile var run = true
        @volatile var gapSamples = 0
        @volatile var jobSamples = 0
        val sampler = new Thread(() => {
          while (run) {
            // Sample every live thread: the main thread is often BLOCKED
            // awaiting AQE stage futures while the actual gap work
            // (re-optimization, codegen, commit fs ops) runs on pool
            // threads. Count each RUNNABLE thread with a spark/graft
            // frame; fall back to the main thread's state if none.
            val all = Thread.getAllStackTraces
            val self = Thread.currentThread()
            val gap = active.get() == 0
            var counted = 0
            all.forEach { (t, st) =>
              if ((t ne self) && t.getState == Thread.State.RUNNABLE &&
                st.nonEmpty &&
                st.exists(f => f.getClassName.startsWith("org.apache.spark") ||
                  f.getClassName.startsWith("graft") ||
                  f.getClassName.contains("janino") ||
                  f.getClassName.startsWith("org.apache.hadoop")) &&
                !st.exists(_.getClassName.contains("netty"))) {
                counted += 1
                val k = (if (t eq mainThread) "[main] " else "") + classify(st)
                if (gap) gapCounts.merge(k, 1, (a, b) => a + b)
                else jobCounts.merge(k, 1, (a, b) => a + b)
              }
            }
            if (counted == 0) {
              val k = "[main] " + classify(mainThread.getStackTrace)
              if (gap) gapCounts.merge(k, 1, (a, b) => a + b)
              else jobCounts.merge(k, 1, (a, b) => a + b)
            }
            if (gap) gapSamples += 1 else jobSamples += 1
            Thread.sleep(2)
          }
        })
        sampler.setDaemon(true)
        val cm = org.apache.spark.metrics.source.CodegenMetrics
        val c0 = cm.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val t0ms = System.currentTimeMillis()
        sampler.start()
        fn(spark, sfDir).count()
        run = false
        sampler.join(500)
        val wall = (System.nanoTime() - t0) / 1e9
        val c1 = cm.METRIC_COMPILATION_TIME.getCount
        Bridge.waitListenerBus(spark)

        val recs = table.jobs.values.asScala.toSeq.sortBy(_.start)
        val jobSum = recs.map(r => math.max(0L, r.end - r.start)).sum / 1e3
        println(f"%n=== $name rep $rep: wall $wall%.3f s, " +
          f"${recs.size} jobs ($jobSum%.3f s in jobs, " +
          f"${wall - jobSum}%.3f s driver gaps), " +
          f"${c1 - c0} codegen compilations ===")
        println(f"${"t0+ms"}%8s ${"ms"}%7s ${"stg"}%4s ${"tasks"}%6s " +
          f"${"exec_ms"}%8s  desc")
        recs.foreach { r =>
          val dur = math.max(0L, r.end - r.start)
          println(f"${r.start - t0ms}%8d $dur%7d ${r.stages}%4d " +
            f"${r.tasks}%6d ${r.taskTime}%8d  ${r.desc.take(90)}")
        }
        println(f"-- gap samples (no job active; $gapSamples samples " +
          "of live stacks @2ms):")
        gapCounts.asScala.toSeq.sortBy(-_._2).take(18).foreach {
          case (k, c) => println(f"  $c%6d  $k")
        }
        println(f"-- in-job samples ($jobSamples samples):")
        jobCounts.asScala.toSeq.sortBy(-_._2).take(12).foreach {
          case (k, c) => println(f"  $c%6d  $k")
        }
      }
    }
    spark.stop()
  }
}
