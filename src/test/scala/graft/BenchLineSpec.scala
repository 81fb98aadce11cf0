package graft

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The bench's stdout line, checked without a Spark session: the harness
  * keeps only a short tail of stdout and parses its last line as JSON. */
class BenchLineSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private def check(results: Seq[(String, Double)], fields: String): JsonNode = {
    val out = Bench.stdoutLine(results, fields, "bench_full.json")
    assert(out.getBytes(UTF_8).length <= Bench.StdoutBudget)
    val j = mapper.readTree(out)
    val kept = j.path("queries").properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble()).toMap
    assert(kept.nonEmpty)
    // the kept map is the slowest queries: nothing omitted is slower than
    // the fastest kept one
    val omitted = results.filterNot(r => kept.contains(r._1))
    assert(omitted.map(_._2).maxOption.forall(_ <= kept.values.min))
    kept.foreach { case (k, v) =>
      assert(math.abs(results.toMap.apply(k) - v) <= 0.0005) }
    // value reconciles with the kept map plus omitted_sec, within the
    // 3-decimal rounding of each rendered number
    val slack = 0.0005 * (kept.size + 2)
    assert(math.abs(j.path("value").asDouble() -
      (kept.values.sum + j.path("omitted_sec").asDouble())) <= slack)
    assert(j.path("n_queries").asInt() === results.size)
    assert(j.path("n_omitted").asInt() === results.size - kept.size)
    assert(j.path("metric").asText() === "total")
    assert(j.path("unit").asText() === "sec")
    assert(j.path("queries_file").asText() === "bench_full.json")
    assert(j.path("failed").isArray)
    j
  }

  test("340 synthetic timings fit the budget, slowest first") {
    val rng = new scala.util.Random(7)
    val results = (1 to 340).map(i =>
      s"q${i}_synthetic_query_name" -> rng.nextDouble() * 5)
    val fields = Bench.runFields(Seq("q3_synthetic_query_name"), 12.345,
      6.789, 123.456, 2, "/root/testdata/sf0.1")
    val j = check(results, fields)
    assert(j.path("failed").get(0).asText() === "q3_synthetic_query_name")
    assert(j.path("materializer").asText() === Bench.Materializer)
  }

  test("the last committed trend entry's timings fit the budget") {
    val last = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("bench_trend.jsonl")).asScala
      .filter(_.trim.nonEmpty).last
    val e = mapper.readTree(last)
    val results = e.path("queries").properties().asScala
      .map(q => q.getKey -> q.getValue.asDouble()).toSeq
    assert(results.nonEmpty)
    val fields = Bench.runFields(Nil, e.path("load_avg_start").asDouble(),
      e.path("load_avg_end").asDouble(), e.path("warmup_sec").asDouble(),
      e.path("runs_per_query").asInt(), e.path("sf").asText())
    val j = check(results, fields)
    assert(j.path("sf").asText() === e.path("sf").asText())
  }
}
