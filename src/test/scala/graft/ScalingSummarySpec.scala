package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[ScalingBench.opSummary]], the per-op summary every scaling
  * family emits: the log-log slope and its verdict, the stepwise wall
  * ratios and the output-density check. Spark-free.
  */
class ScalingSummarySpec extends AnyFunSuite {

  private def cells(wall: Int => Double, rows: Int => Long): Seq[ScalingBench.Cell] =
    Seq(64, 1, 8).map(k => ScalingBench.Cell("op", k, rows(k), wall(k), 0, 0, 0))

  test("wall ∝ k: slope 1.0, subquadratic, ×8 ratios, density 1.0") {
    val s = ScalingBench.opSummary("op", cells(k => 0.5 * k, k => 100L * k), "pairs_vs_linear")
    assert(s === """{"op":"op","slope":1.000,"verdict":"subquadratic",""" +
      """"wall_ratios":{"x1_to_x8":8.00,"x8_to_x64":8.00},""" +
      """"pairs_vs_linear":{"x1":1.000,"x8":1.000,"x64":1.000}}""")
  }

  test("wall ∝ k²: slope 2.0, WEAK, ×64 ratios, fixed-key density 1/k") {
    val s = ScalingBench.opSummary("op", cells(k => 0.01 * k * k, _ => 10L), "rows_vs_linear")
    assert(s === """{"op":"op","slope":2.000,"verdict":"WEAK",""" +
      """"wall_ratios":{"x1_to_x8":64.00,"x8_to_x64":64.00},""" +
      """"rows_vs_linear":{"x1":1.000,"x8":0.125,"x64":0.016}}""")
  }

  test("the verdict turns WEAK at slope 1.5") {
    def weak(exp: Double) =
      ScalingBench.opSummary("op", cells(k => math.pow(k, exp), _ => 1L), "d")
        .contains(""""verdict":"WEAK"""")
    assert(!weak(1.49) && weak(1.51))
  }
}
