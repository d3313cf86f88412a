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
}
