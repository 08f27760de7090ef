package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The JSON lines Bench and Verify end with: valid JSON for any path or
  * message, failed rows kept out of the totals. */
class DriverLinesSpec extends AnyFunSuite {
  private val json = new ObjectMapper()
  private val rows = Seq(
    Bench.Row("q01", 1.25, None),
    Bench.Row("q02", 0.5, None),
    Bench.Row("x99", 7.0, Some("boom \"quoted\" \\ path")))

  test("Bench summary line escapes the per-query path and sf") {
    val path = """/tmp/we"ird\dir/bench_per_query_c4.json"""
    val sf = """C:\data\"sf0.1""""
    val n = json.readTree(Bench.summaryLine(rows, path, sf))
    assert(n.get("per_query_file").asText == path)
    assert(n.get("sf").asText == sf)
    assert(n.get("metric").asText == "total")
  }

  test("Bench failed rows count in neither queries nor the total") {
    val full = json.readTree(Bench.fullLine(rows, "/d"))
    assert(full.get("value").asDouble == 1.75)
    assert(full.get("queries").size == 2)
    assert(!full.get("queries").has("x99"))
    val f = full.get("failures").get("x99")
    assert(f.get("sec").asDouble == 7.0)
    assert(f.get("error").asText == "boom \"quoted\" \\ path")
    val short = json.readTree(Bench.summaryLine(rows, "p", "/d"))
    assert(short.get("value").asDouble == 1.75)
    assert(short.get("nqueries").asInt == 2)
    assert(short.get("nfailures").asInt == 1)
  }

  test("Verify summary line lists failed and missing rows") {
    val n = json.readTree(Verify.summaryLine(161, Seq("x2", "x1"), Seq("x1")))
    assert(n.get("verify").asText == "summary")
    assert(n.get("ok").asInt == 161)
    assert(n.get("failed").toString == """["x1","x2"]""")
    assert(n.get("missing").toString == """["x1"]""")
  }
}
