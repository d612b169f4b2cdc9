package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalactic.Tolerance._
import com.fasterxml.jackson.databind.ObjectMapper

/** Writer–reader agreement for the scale probe: [[ScaleProbe.artifact]]
  * over synthetic timings with one stage past the gate, read back the way
  * `ScaleProbeGateSpec` reads a committed SCALEPROBE_rN.json. No Spark. */
class ScaleProbeArtifactSpec extends AnyFunSuite {
  import ScaleProbeGateSpec._

  private val probes = Seq("q1_scan", "q2_join", "q3_broken")
  private val tSmall = Map("q1_scan" -> 1.0, "q2_join" -> 2.0, "q3_broken" -> 0.5)
  private val tBig = Map("q1_scan" -> 8.0, "q2_join" -> 15.0, "q3_broken" -> -1.0)
  private val sSmall = Map("grams" -> 2.0, "postings" -> 4.0)
  private val sBig = Map("grams" -> 25.0, "postings" -> 30.0)

  private val j = new ObjectMapper().readTree(ScaleProbe.artifact(
    "/data/small", "/data/big", probes, tSmall, tBig, sSmall, sBig))

  test("the gate reads back the per-query and per-stage ratios it was fed, " +
    "skipping the failed side") {
    assert(fieldNames(j.get("queries")) == probes)
    assert(ratios(j.get("queries")).toMap == Map("q1_scan" -> 8.0, "q2_join" -> 7.5))
    assert(j.get("queries").get("q3_broken").get(2).asDouble() == -1.0)
    assert(fieldNames(j.get("stages")) == Seq("grams", "postings"))
    assert(ratios(j.get("stages")).toMap == Map("grams" -> 12.5, "postings" -> 7.5))
  }

  test("gate_violations names exactly the ratio past GateFactor, and the " +
    "gate's own over-factor reading agrees") {
    assert(factor(j) == ScaleProbe.GateFactor)
    assert(overFactor(j).map(_._1) == Seq("grams"))
    assert(declaredViolations(j) == Set("grams"))
    assert(j.get("gate_violations").get("grams").asDouble() == 12.5)
  }

  test("q_ratio and stage_ratio are the ratios of the successful totals") {
    // q3_broken's big side failed: its small side still counts in the
    // small total (the totals sum every successful cell)
    assert(j.get("q_small_total").asDouble() == 3.5)
    assert(j.get("q_big_total").asDouble() == 23.0)
    assert(j.get("q_ratio").asDouble() === 23.0 / 3.5 +- 5e-4)
    assert(j.get("stage_ratio").asDouble() === 55.0 / 6.0 +- 5e-4)
    assert(j.get("stage_ratio").asDouble() <= factor(j))
    assert(j.get("n_probes").asInt() == 3)
    assert(j.get("metric").asText() == "scale_ratio_10x")
  }
}
