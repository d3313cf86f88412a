package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import graft.GraftSession

/** Runs one workload as a closed loop with one client on `local[nproc]`
  * and prints its metrics; the last line of standard output is the JSON
  * result. See perfbench/NOTES.md for the metric definitions.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --out <dir>
  */
object Main {

  /** Set-up runs input generation and fixture creation this many times
    * and counts the median, so one slow repetition does not decide it. */
  val SetupReps = 3


  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, out: Path)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      }, Paths.get(need("out")).toAbsolutePath)
    require(Workload.names.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workload.names.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  /** A statistic of no samples is not a number; the result line then
    * reports the run as incorrect instead of crashing. */
  def orNaN(xs: Seq[Double])(f: Seq[Double] => Double): Double =
    if (xs.isEmpty) Double.NaN else f(xs)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val processStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime.toDouble
    val nproc = Runtime.getRuntime.availableProcessors
    val work = args.out.resolve(s"work-${args.workload}")
    Fs.delete(work)
    Files.createDirectories(work)

    val tSession = Clock.nowMs
    val spark = GraftSession.builder("perfbench", shufflePartitions = nproc)
      .master(s"local[$nproc]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Clock.nowMs - tSession) / 1e3

    val wl = Workload(args.workload, spark, args.seed, work)
    val prepS = (1 to SetupReps).map { r =>
      val t0 = Clock.nowMs
      wl.prepare(work.resolve(s"inputs$r"))
      (Clock.nowMs - t0) / 1e3
    }
    // Only the last repetition's inputs are used.
    (1 until SetupReps).foreach(r => Fs.delete(work.resolve(s"inputs$r")))
    val warm = new Meter
    val tWarm = Clock.nowMs
    wl.warmUp(warm, wl.warmUpOps)
    val warmS = (Clock.nowMs - tWarm) / 1e3
    val tFirst = Clock.nowMs
    // Process start to first timed op, with the repeated part at its median.
    val setupS = (tFirst - processStartMs) / 1e3 - prepS.sum + Stats.median(prepS)

    val meter = new Meter
    warm.failures.foreach(f => meter.failures += s"warm-up: $f")
    meter.attempted += warm.attempted
    meter.samples ++= warm.samples.map(s => s.copy(kind = s"warm-up ${s.kind}"))

    // Whole cycles only, and another one only when the mean cycle so far
    // says it will end in time: a cut cycle would sample only its early,
    // cheaper ops.
    def loop(seconds: Double, tr: Tracer, from: Int): Int = {
      val t0 = System.nanoTime()
      var c = from
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (c == from || elapsed * (c - from + 1) / (c - from) <= seconds) {
        wl.cycle(c, meter, tr)
        c += 1
      }
      c
    }

    val metrics: ListMap[String, (Double, String)] =
      if (!args.trace) {
        loop(args.seconds, Tracer.Off, 0)
        val ops = meter.walls("op")
        val heap = JvmCounters.heapUsedMb
        ListMap(
          "setup_s" -> (setupS, "s"),
          "op_p50_s" -> (orNaN(ops)(Stats.median), "s"),
          "retained_heap_mb" -> (heap, "MB"))
      } else {
        // Half the time untraced, then the same ops traced: the difference
        // of their medians is what tracing costs.
        val next = loop(args.seconds / 2.0, Tracer.Off, 0)
        val untraced = meter.walls("op")
        val listener = new JobListener
        spark.sparkContext.addSparkListener(listener)
        val tracer = new SpanTracer(spark.sparkContext)
        val before = meter.samples.size
        loop(args.seconds / 2.0, tracer, next)
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        val traced = meter.samples.drop(before).filter(_.kind == "op").map(_.wallS).toSeq
        val jobs = listener.jobs
        val layers = wl.layers(tracer, jobs) +
          ("trace.overhead_s" ->
            (orNaN(traced)(Stats.median) - orNaN(untraced)(Stats.median)))
        Report.writeTrace(args.out.resolve(
          s"trace-${args.workload}-seed${args.seed}.jsonl"), tracer.spans, jobs)
        ListMap(Layers.all.map { case (name, unit) =>
          name -> (layers.getOrElse(name, 0.0), unit)
        }: _*)
      }

    Report.writeArtifact(
      args.out.resolve(s"run-${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json"),
      args, spark, meter, metrics, ListMap(
        "process_to_session_s" -> (tSession - processStartMs) / 1e3,
        "session_s" -> sessionS,
        "warm_up_s" -> warmS) ++ prepS.zipWithIndex.map { case (s, i) =>
          s"inputs_rep${i + 1}_s" -> s })

    spark.stop()
    Fs.delete(work)

    val ops = meter.walls("op")
    println(s"workload ${args.workload}: ${wl.rowsPerOp} input rows per op" +
      (if (ops.nonEmpty) f", ${wl.rowsPerOp / Stats.median(ops)}%.0f rows/s at the median op" else ""))
    Seq("op", "lookup").map(k => k -> meter.walls(k)).filter(_._2.nonEmpty).foreach {
      case (kind, xs) =>
        // A tail percentile is reported only where ten samples lie beyond it.
        val tail = Stats.tailLevel(xs.size) match {
          case Some(q) => f"p${q * 100}%.0f ${Stats.percentile(xs, q)}%.4f s"
          case None => "no tail percentile (fewer than 10 samples beyond the median)"
        }
        println(f"  $kind: ${xs.size} samples, median ${Stats.median(xs)}%.4f s, $tail")
    }
    metrics.foreach { case (n, (v, u)) => println(f"$n%-36s $v%.6f $u") }
    println(s"output checks: ${meter.attempted - meter.failed} of ${meter.attempted} passed")
    meter.failures.take(20).foreach(f => println(s"  FAILED $f"))
    println(Report.resultLine(meter, metrics))
  }
}

/** Every per-layer metric a traced run reports, with its unit. A layer a
  * workload does not exercise reads 0. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "sources.csv_s" -> "s",
    "sources.input_bytes" -> "B",
    "mapping.project_s" -> "s",
    "operators.upsert_s" -> "s",
    "operators.upsert_shuffle_bytes" -> "B",
    "store.merge_scan_s" -> "s",
    "store.merge_write_s" -> "s",
    "store.merge_driver_s" -> "s",
    "store.merge_bytes_read_per_row" -> "B/row",
    "store.merge_bytes_written_per_row" -> "B/row",
    "store.manifest_versions" -> "count",
    "store.manifest_bytes" -> "B",
    "store.version_probe_s" -> "s",
    "store.lookup_s" -> "s",
    "store.lookup_files_read" -> "count",
    "store.lookup_bytes_read" -> "B",
    "store.bytes_per_live_row" -> "B/row",
    "operators.curate_s" -> "s",
    "operators.lsh_s" -> "s",
    "operators.lsh_shuffle_bytes" -> "B",
    "operators.lsh_pair_yield" -> "ratio",
    "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.driver_gap_s" -> "s",
    "spark.executor_cpu_s" -> "s",
    "spark.executor_run_s" -> "s",
    "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "spark.codegen_compiles" -> "count",
    "spark.gc_s" -> "s",
    "trace.overhead_s" -> "s")
}
