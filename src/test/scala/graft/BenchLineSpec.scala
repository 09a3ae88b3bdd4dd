package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The `graft.Bench` stdout line is a contract: consumers compare it round
  * over round, key by key. The expected orders are today's line (the r17
  * artifact's parsed document).
  */
class BenchLineSpec extends AnyFunSuite {

  private val headline = Bench.Headline(
    probeWorst = 6.44961, probeTwoSidedPerUnit = 0.0781, skewWorst = 6.8376,
    probeWorstQuery = Some("q_duty_cycle"), skewWorstQuery = None, streamingRps = 273486L)
  private val contention = Bench.Contention(
    cpus = 32, loadAvgStart = 3.39, loadAvgEnd = 20.36,
    sentinelStartSec = 0.2097, sentinelEndSec = 0.2975)
  private val results = Seq("q_a" -> 1.23456789, "q_b" -> -1.0, "q_c" -> 2.0)

  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)
  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  private val summaryKeys = Seq("total_sec", "n_queries", "n_errors",
    "worst_probe_ratio", "worst_uniform_ratio", "worst_twosided_per_unit",
    "worst_skew_ratio", "worst_uniform_query", "worst_skew_query",
    "streaming_rows_per_sec", "load_avg_start", "sentinel_start_sec")
  private val contentionKeys = Seq("cpus", "load_avg_start", "load_avg_end",
    "sentinel_start_sec", "sentinel_end_sec")

  test("a clean run's line keeps the r17 key order") {
    val line = Bench.stdoutLine("/data/sf0.1", results, Map.empty, headline, contention)
    assert(!line.contains("\n"))
    val doc = parse(line)
    assert(keys(doc) ==
      Seq("metric", "value", "unit", "sf", "queries", "summary", "contention"))
    assert(keys(doc.get("summary")) == summaryKeys)
    assert(keys(doc.get("contention")) == contentionKeys)
    assert(keys(doc.get("queries")) == Seq("q_a", "q_b", "q_c"))
    assert(doc.get("queries").get("q_a").asDouble() == 1.2346)
    assert(doc.get("value").asDouble() == 3.2346) // failed queries are not summed
    assert(doc.get("summary").get("worst_probe_ratio").asDouble() == 6.4496)
    assert(doc.get("summary").get("worst_skew_query").isNull)
  }

  test("failures ride in an errors object between queries and summary") {
    val errors = scala.collection.mutable.LinkedHashMap("q_b" -> "boom")
    val doc = parse(Bench.stdoutLine("/data/sf0.1", results, errors, headline, contention))
    assert(keys(doc) ==
      Seq("metric", "value", "unit", "sf", "queries", "errors", "summary", "contention"))
    assert(doc.get("errors").get("q_b").asText() == "boom")
    assert(doc.get("summary").get("n_errors").asInt() == 1)
    assert(keys(doc.get("summary")) == summaryKeys)
  }

  // The writer behind both bench documents: whatever a section measures or
  // throws, the document it lands in must load with a standard JSON parser.

  test("strings are escaped, not blanked") {
    val nasty = "a \"quoted\" \\path\\\n\ttab\rcr\u0001bell"
    val out = Json.write(Json.obj("s" -> nasty))
    assert(!out.contains("\n") && !out.contains("\t") && !out.contains("\u0001"))
    assert(out.contains("\\\"quoted\\\"") && out.contains("\\\\path"))
    assert(out.contains("\\n") && out.contains("\\t") && out.contains("\\r"))
    assert(out.contains("\\u0001"))
    assert(parse(out).get("s").asText() == nasty)
  }

  test("error text keeps its characters and is cut to 200") {
    val t = new RuntimeException("bad \"x\"\n" + "y" * 400)
    val err = parse(Json.write(Json.error(t))).get("error").asText()
    assert(err.length == 200)
    assert(err.startsWith("java.lang.RuntimeException: bad \"x\"\ny"))
  }

  test("non-finite doubles are null, finite ones stay numbers") {
    val doc = parse(Json.write(Json.obj("nan" -> Double.NaN,
      "inf" -> Double.PositiveInfinity, "ninf" -> Double.NegativeInfinity,
      "zero_over_zero" -> 0L / 0.0, "x" -> 1.5, "n" -> 3L, "arr" -> Seq(1.0, Double.NaN))))
    Seq("nan", "inf", "ninf", "zero_over_zero").foreach(k => assert(doc.get(k).isNull, k))
    assert(doc.get("x").isDouble && doc.get("x").asDouble() == 1.5)
    assert(doc.get("n").isIntegralNumber && doc.get("n").asLong() == 3L)
    assert(doc.get("arr").get(0).asDouble() == 1.0 && doc.get("arr").get(1).isNull)
  }

  test("members keep their order at every depth") {
    val doc = parse(Json.write(Json.obj("z" -> 1, "a" -> Json.obj("y" -> true,
      "b" -> Json.obj("x" -> "s", "c" -> None, "w" -> Some(2L))), "m" -> Seq(Json.obj("k" -> 1)))))
    assert(keys(doc) == Seq("z", "a", "m"))
    assert(keys(doc.get("a")) == Seq("y", "b"))
    assert(keys(doc.get("a").get("b")) == Seq("x", "c", "w"))
    assert(doc.get("a").get("b").get("c").isNull)
    assert(doc.get("a").get("b").get("w").asLong() == 2L)
  }

  test("a throwing section renders an error object and the later sections still run") {
    var laterRan = false
    val first = Bench.section[JsonNode]("first")(throw new IllegalStateException("boom"))
    val later = Bench.section("later") { laterRan = true; Json.obj("ok" -> 1) }
    assert(laterRan)
    val doc = parse(Json.write(Json.obj("first" -> first, "later" -> later)))
    assert(keys(doc) == Seq("first", "later"))
    assert(keys(doc.get("first")) == Seq("error"))
    assert(doc.get("first").get("error").asText() == "java.lang.IllegalStateException: boom")
    assert(doc.get("later").get("ok").asInt() == 1)
  }

  test("a fatal error is not a section failure") {
    intercept[InterruptedException](Bench.section("fatal")(throw new InterruptedException))
  }
}
