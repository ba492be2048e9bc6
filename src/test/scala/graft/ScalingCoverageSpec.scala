package graft

import org.scalatest.funsuite.AnyFunSuite

/** Ratchet for the round-17 full-inventory scaling program: every
  * registry op must carry a measured curve in the committed
  * SCALING_r22.json, and the file's own count must match the registry.
  *
  * Why a test and not just a narrative: the unmeasured tail is exactly
  * where round 17 found real structure (agg_spearman's rank-sum Long
  * overflow, eight closed-key window funnels) — so ADDING an op without
  * measuring its growth should be a red test, not a silent gap. A new
  * op fails here until its curve is consolidated into the artifact
  * (run `ScalingBench <family>`, rebuild the json, bump ops_measured).
  *
  * The check is textual on purpose: the artifact is a committed,
  * generator-owned file (README.md "Artifacts & round archives"), its
  * ops map keys are written as `"<name>": {` at a fixed indent, and op
  * names never collide with field names — no JSON parser dependency
  * needed in the test classpath.
  */
class ScalingCoverageSpec extends AnyFunSuite {

  private lazy val artifact: String = {
    val src = scala.io.Source.fromFile("SCALING_r22.json")
    try src.mkString finally src.close()
  }

  test("every registry op has a measured scaling curve in the artifact") {
    val missing = Registry.all.map(_.name).filterNot(n => artifact.contains(s""""$n": {"""))
    assert(missing.isEmpty,
      s"ops without a measured curve (run ScalingBench <family> and re-consolidate): $missing")
  }

  test("the artifact's own count matches the registry (forces re-consolidation on growth)") {
    assert(artifact.contains(s""""ops_total": ${Registry.all.size}"""),
      s"SCALING_r22.json ops_total != registry size ${Registry.all.size} — re-consolidate")
    assert(artifact.contains(s""""ops_measured": ${Registry.all.size}"""),
      s"SCALING_r22.json ops_measured != registry size ${Registry.all.size} — measure the new ops")
  }

  test("no undisposed weak verdicts ride in the artifact") {
    // A genuinely weak finding is allowed — but only acknowledged: it must
    // be listed in the weak array (and, per round protocol, carry a
    // BASELINE.md narrative + a rewrite queue entry). An empty list plus
    // any WEAK verdict in the body means the consolidation step was
    // skipped.
    if (artifact.contains(""""weak": []""")) {
      assert(!artifact.contains(""""verdict": "WEAK""""),
        "WEAK verdict present but weak list is empty — re-consolidate")
    }
  }
}
