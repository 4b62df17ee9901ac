package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the stdout summary is one line of valid JSON inside the driver's tail") {
    val names = (1 to 249).map(i => f"query_with_a_fairly_long_name_$i%03d")
    val warm = names.zipWithIndex.map { case (n, i) => n -> Bench.T(0.1 + i * 0.01, 0.4 + i * 0.02) }.toMap
    val cold = warm.map { case (n, t) => n -> Bench.T(t.wall * 3, t.cpu * 3) }
    val longMsg = "AnalysisException: \"quoted\"\nsecond line\t" + ("x" * 5000)
    val errors = Seq("err_a" -> longMsg, "err_b" -> longMsg, "err_c" -> longMsg)
    val line = Bench.summaryLine("/data/sf0.1", warm, cold, errors, memoTotal = 12.5,
      stealWarm = 1.0, stealCold = 2.0, cdsLoaded = false)
    assert(!line.contains('\n') && !line.contains('\r'))
    assert(line.length < 2000, s"${line.length} chars")
    val json = new ObjectMapper().readTree(line)
    assert(json.get("metric").asText == "total")
    assert(math.abs(json.get("value").asDouble - warm.values.map(_.wall).sum) < 1e-3)
    assert(json.get("n_errors").asInt == 3)
    assert(math.abs(json.get("cold_total").asDouble - cold.values.map(_.wall).sum) < 1e-3)
    assert(json.get("n_queries").asInt == 249)
    assert(json.get("queries").size == 12)
  }
}
