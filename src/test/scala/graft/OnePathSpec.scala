package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine is armed one way: every session opens through
  * [[GraftSession.create]], which carries [[GraftExtensions]]. A second
  * path (a hand-built session, runtime registration of a function, strategy
  * or optimizer rule) would wire a surface the tests never exercise, so the
  * program sources must not contain one.
  */
class OnePathSpec extends AnyFunSuite {

  private val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
  }

  private def filesWith(needle: String): Seq[String] =
    sources.collect { case (p, text) if text.contains(needle) => p.toString }.sorted

  test("SparkSession.builder appears only in GraftSession") {
    assert(filesWith("SparkSession.builder")
      .filterNot(_.endsWith("/GraftSession.scala")).isEmpty)
  }

  test("no experimental strategy or optimizer hooks") {
    assert(filesWith("extraStrategies").isEmpty)
    assert(filesWith("extraOptimizations").isEmpty)
  }

  test("no runtime dot_arrays registration") {
    assert(filesWith("VectorFunctions.register").isEmpty)
  }

  test("one timing loop") {
    // the clock is read only inside CatalogBench.timed: every timed region
    // of the harness mains goes through it, so they all time the same way
    assert(filesWith("System.nanoTime").map(Paths.get(_).getFileName.toString) ==
      Seq("CatalogBench.scala"))
    val text = sources.collectFirst {
      case (p, t) if p.getFileName.toString == "CatalogBench.scala" => t
    }.get
    val start = text.indexOf("def timed[")
    assert(start >= 0)
    val end = text.indexOf("\n  def ", start + 1)
    val clocks = "System.nanoTime".r.findAllMatchIn(text).map(_.start).toSeq
    assert(clocks.nonEmpty && clocks.forall(i => i > start && i < end))
    // the A/B loop is CatalogBench's CONF mode, not a main of its own
    assert(filesWith("object AbFanout").isEmpty)
  }
}
