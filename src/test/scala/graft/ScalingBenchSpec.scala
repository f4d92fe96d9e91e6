package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ScalingBench

class ScalingBenchSpec extends AnyFunSuite {
  test("BENCH/BASELINE.md is written only for the default world over >= 3 reps") {
    assert(ScalingBench.writesBaseline(rows = 64, cols = 128, tpr = 400, reps = 3))
    assert(ScalingBench.writesBaseline(rows = 64, cols = 128, tpr = 400, reps = 5))
    assert(!ScalingBench.writesBaseline(rows = 64, cols = 128, tpr = 400, reps = 2))
    assert(!ScalingBench.writesBaseline(rows = 16, cols = 24, tpr = 8, reps = 1))
    assert(!ScalingBench.writesBaseline(rows = 16, cols = 128, tpr = 400, reps = 3))
    assert(!ScalingBench.writesBaseline(rows = 64, cols = 24, tpr = 400, reps = 3))
    assert(!ScalingBench.writesBaseline(rows = 64, cols = 128, tpr = 8, reps = 3))
  }
}
