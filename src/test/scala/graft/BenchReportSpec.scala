package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalactic.Tolerance._
import com.fasterxml.jackson.databind.ObjectMapper

/** Pins Bench's report: a PURE function of the run state
  * ([[Bench.buildReport]]), so the interim emission after each completed
  * warm pass and the final emission after `spark.stop()` produce identical
  * JSON for identical state. Also pins the report contract — two
  * well-formed lines whose keys are exactly the archived parsed record,
  * summary scalars at the END of the last line — and that the totals
  * reconcile. No SparkSession needed — buildReport is clock-free. */
class BenchReportSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private val errorMessage = "boom \"quoted\" \\path\tand a tab"

  private def state(deadlineHit: Boolean) = Bench.BenchState(
    names = Seq("q01_agg", "q02_join", "q03_top", "q04_fail"),
    passes = Seq(
      Map("q01_agg" -> 1.5, "q02_join" -> 2.0, "q03_top" -> -1.0,
        "q04_fail" -> -1.0),
      Map("q01_agg" -> 1.2, "q02_join" -> 2.4, "q03_top" -> 0.9,
        "q04_fail" -> -1.0)),
    stageSecs = Seq(10.0, 8.0),
    stagePass = Seq(
      Seq("docs" -> 6.0, "grams" -> 3.0),
      Seq("docs" -> 5.0, "grams" -> 2.5)),
    consumers = Map("docs" -> 4L, "grams" -> 2L),
    errors = Seq("q03_top" -> "transient", "q04_fail" -> errorMessage),
    passLoads = Seq(2.1, 3.4),
    retriedSecs = Seq(30.0),
    retriedLoads = Seq(5.2),
    coldTotal = 42.0,
    deadlineHit = deadlineHit,
    sfDir = "/root/testdata/sf0.1",
    startEpoch = 1000L,
    endEpoch = 2000L)

  private def keys(line: String): Set[String] =
    ScaleProbeGateSpec.fieldNames(mapper.readTree(line)).toSet

  test("buildReport is deterministic — early and final emission identical") {
    val a = Bench.buildReport(state(deadlineHit = false))
    val b = Bench.buildReport(state(deadlineHit = false))
    assert(a == b)
  }

  test("both lines parse as JSON, with escaped error messages") {
    val (l1, l2) = Bench.buildReport(state(deadlineHit = true))
    val j1 = mapper.readTree(l1)
    val j2 = mapper.readTree(l2)
    // q03 failed only pass 1 and recovered in pass 2 (median 0.9 >= 0),
    // so it must NOT surface as a persistent error
    assert(!j1.get("errors").has("q03_top"))
    // q04 failed every pass: its message survives quotes, backslashes
    // and control characters, on both lines
    assert(j1.get("errors").get("q04_fail").asText() == errorMessage)
    assert(j2.get("errors").get("q04_fail").asText() == errorMessage)
    assert(j1.get("queries").get("q04_fail").asDouble() == -1.0)
    assert(j1.get("queries").get("q01_agg").asDouble() === 1.35 +- 1e-9)
    assert(j1.get("queries_min").get("q01_agg").asDouble() === 1.2 +- 1e-9)
    // deadline telemetry rides the last line
    assert(j2.get("deadline_hit").asBoolean())
    assert(j2.get("deadline_sec").asDouble() == 2400.0)
    assert(j2.get("passes_done").asInt() == 2)
    assert(j2.get("pass_load").size() == 2)
    assert(j2.get("retried_sec").size() == 1)
  }

  test("the two lines carry exactly the archived parsed record — the 27 " +
    "keys of BENCH_r20.json's `parsed` — and no band keys") {
    val (l1, l2) = Bench.buildReport(state(deadlineHit = false))
    val parsed = Set("queries", "queries_min", "errors", "stage_sec",
      "stage_min_sec", "stage_consumers", "warm_passes", "sf",
      "cold_total_sec", "stage_build_sec", "stage_build_min_sec",
      "min_total_sec", "metric", "unit", "value", "slowest",
      "slowest_stages", "pass_sec", "pass_load", "retried_sec",
      "retried_load", "load_gate", "passes_done", "deadline_sec",
      "deadline_hit", "win", "n_queries")
    assert(parsed.size == 27)
    assert((keys(l1) ++ keys(l2)) == parsed)
    for (band <- Seq("band", "band_den", "min_q", "stage_min_band"))
      assert(!l1.contains("\"" + band + "\"") && !l2.contains("\"" + band + "\""))
  }

  test("totals reconcile: value = stage_build_sec + sum of median marginals") {
    val (_, l2) = Bench.buildReport(state(deadlineHit = false))
    val j2 = mapper.readTree(l2)
    val stageMed = j2.get("stage_build_sec").asDouble() // median(10, 8) = 9
    assert(stageMed === 9.0 +- 1e-9)
    // medians: q01 1.35, q02 2.2, q03 0.9 (single successful obs)
    assert(j2.get("value").asDouble() === (9.0 + 1.35 + 2.2 + 0.9) +- 1e-6)
    val stageMin = j2.get("stage_build_min_sec").asDouble()
    assert(stageMin === 8.0 +- 1e-9)
    assert(j2.get("min_total_sec").asDouble() === (8.0 + 1.2 + 2.0 + 0.9) +- 1e-6)
  }

  test("summary scalars sit at the tail of the last line (front-truncation safe)") {
    val (_, l2) = Bench.buildReport(state(deadlineHit = false))
    val tail = l2.takeRight(200)
    assert(tail.contains("\"min_total_sec\""))
    assert(tail.contains("\"metric\":\"total\""))
    assert(l2.endsWith("}"))
  }
}
