package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** JSON rendering of the result line and the run's artifact files. */
object Report {

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  /** A finite number with all its digits; anything else is a bug upstream
    * and renders as JSON null so the result fails to parse as a figure. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def resultLine(meter: Meter, metrics: ListMap[String, (Double, String)]): String = {
    val complete = metrics.values.forall { case (v, _) => !v.isNaN && !v.isInfinite }
    obj(Seq(
      "correct" -> (meter.failed == 0 && meter.walls("op").nonEmpty && complete).toString,
      "attempted" -> meter.attempted.toString,
      "failed" -> meter.failed.toString,
      "metrics" -> obj(metrics.toSeq.map { case (n, (v, u)) =>
        n -> obj(Seq("value" -> num(v), "unit" -> str(u)))
      })))
  }

  /** The traced run's spans, then its Spark jobs, one JSON object a line. */
  def writeTrace(path: Path, spans: Seq[Span], jobs: Seq[JobRecord]): Unit =
    write(path, (spans.map { s =>
      obj(Seq("span" -> s.id.toString, "name" -> str(s.name),
        "op" -> s.opId.toString, "parent" -> s.parent.toString,
        "start_ms" -> num(s.start), "end_ms" -> num(s.end),
        "codegen_compiles" -> s.codegen.toString, "gc_ms" -> s.gcMs.toString))
    } ++ jobs.map { j =>
      def sum(f: StageMetrics => Long) = j.stages.map(f).sum.toString
      obj(Seq("job" -> j.id.toString, "span" -> j.span.toString,
        "description" -> str(j.description),
        "start_ms" -> num(j.start), "end_ms" -> num(j.end),
        "stages" -> j.stages.size.toString, "tasks" -> sum(_.tasks),
        "cpu_ns" -> sum(_.cpuNs), "run_ms" -> sum(_.runMs),
        "input_bytes" -> sum(_.inputBytes), "output_bytes" -> sum(_.outputBytes),
        "shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
        "spill_bytes" -> sum(_.spillBytes)))
    }).mkString("", "\n", "\n"))

  /** Everything behind the result line: arguments, the effective Spark
    * conf, the seconds each set-up phase took, every sample and every
    * failure. */
  def writeArtifact(
      path: Path,
      args: Main.Args,
      spark: SparkSession,
      meter: Meter,
      metrics: ListMap[String, (Double, String)],
      phases: ListMap[String, Double]): Unit = {
    val conf = spark.sparkContext.getConf.getAll.toMap ++
      Seq("spark.sql.codegen.cache.maxEntries", "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled").map(k => k -> spark.conf.get(k))
    write(path, obj(Seq(
      "workload" -> str(args.workload),
      "seed" -> args.seed.toString,
      "seconds" -> args.seconds.toString,
      "trace" -> args.trace.toString,
      "processors" -> Runtime.getRuntime.availableProcessors.toString,
      "spark_conf" -> obj(conf.toSeq.sorted.map { case (k, v) => k -> str(v) }),
      "phases_s" -> obj(phases.toSeq.map { case (k, v) => k -> num(v) }),
      "metrics" -> obj(metrics.toSeq.map { case (n, (v, u)) =>
        n -> obj(Seq("value" -> num(v), "unit" -> str(u)))
      }),
      "attempted" -> meter.attempted.toString,
      "failures" -> meter.failures.map(str).mkString("[", ", ", "]"),
      "samples" -> meter.samples.map(s => obj(Seq(
        "kind" -> str(s.kind), "op" -> s.opId.toString,
        "wall_s" -> num(s.wallS), "cpu_s" -> num(s.cpuS), "gc_s" -> num(s.gcS),
        "jit_s" -> num(s.jitS))))
        .mkString("[", ",\n  ", "]"))) + "\n")
  }

  private def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
  }
}
