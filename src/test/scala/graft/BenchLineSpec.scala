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
    probeWorstQuery = "\"q_duty_cycle\"", skewWorstQuery = "null", streamingRps = 273486L)
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
}
