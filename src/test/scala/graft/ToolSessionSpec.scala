package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps session wiring in one place: every `graft.*` tool runs on
  * [[GraftSession.tool]] and deployments build on [[GraftSession.builder]],
  * so no other main source may call `SparkSession.builder()` — a second
  * builder is how the tools drifted to four parallelism defaults and two
  * time zones. Mentions in comments and scaladoc do not count. */
class ToolSessionSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  /** Source text with block comments and line comments removed. */
  private def code(p: Path): String =
    Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  test("only GraftSession.scala calls SparkSession.builder() in src/main") {
    assert(Files.isDirectory(mainRoot), s"$mainRoot not found")
    val sources = Files.walk(mainRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val callers = sources
      .filter(p => code(p).contains("SparkSession.builder()"))
      .map(p => mainRoot.relativize(p).toString).sorted
    assert(callers == List("graft/GraftSession.scala"))
  }

  test("DumpPlans renumbers run-dependent ids so equal plans dump equal") {
    def plan(base: Int, rdd: Int, attempt: String) =
      s"Project [_k#${base}L, name#${base + 1}]\n" +
        s"Filter isnotnull(_k#${base}L), [plan_id=${base * 3}]\n" +
        s"MapPartitionsRDD[$rdd] at createDataFrame at Avro.scala:${rdd}\n" +
        s"Location: [/tmp/graft-plans/t/data/v3-$attempt/x]\n" +
        s"CollectMetrics ${attempt.take(8)}-0000-4000-8000-$attempt\n"
    val a = DumpPlans.normalize(plan(44, 12, "0123456789ab"))
    assert(a == DumpPlans.normalize(plan(907, 2117, "fedcba987654")))
    assert(a.contains("_k#1L, name#2") && a.contains("plan_id=1") &&
      a.contains("RDD[1] at createDataFrame at Avro.scala\n") &&
      a.contains("/v3-attempt1/") && a.contains("CollectMetrics uuid1"))
  }
}
