package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The stdout contract line: the run log keeps only its last ~2000 chars. */
class BenchSpec extends AnyFunSuite {
  test("an oversized stdout line falls back to the minimal contract fields") {
    val names = (1 to 400).map(i => f"synthetic_query_$i%03d" -> 1.234)
    val line = s"""{"metric":"total","value":${Bench.fmt(493.6)},"unit":"sec",""" +
      s""""queries":${Bench.qmap(names)},"failed":0,"full":"BENCH_FULL.json","sf":"sf"}"""
    assert(line.length > 1900)
    val out = Bench.stdoutLine(line, 493.6, 2, "/data/sf0.1")
    assert(out.length <= 1900)
    val json = new ObjectMapper().readTree(out)
    assert(json.get("unit").asText == "sec")
    assert(json.get("value").asDouble == 493.6)
    assert(json.get("failed").asInt == 2)
    assert(json.get("full").asText == "BENCH_FULL.json")
    assert(json.get("sf").asText == "/data/sf0.1")
    assert(!json.has("queries"))
  }

  test("a stdout line within the budget is printed as built") {
    val line = s"""{"metric":"total","value":1.000,"unit":"sec","queries":${Bench.qmap(Seq("q1_agg" -> 0.5))}}"""
    assert(Bench.stdoutLine(line, 1.0, 0, "sf") == line)
  }
}
