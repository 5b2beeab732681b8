package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("steal ticks: the total sums user..steal and leaves guest time out") {
    // user nice system idle iowait irq softirq steal guest guest_nice
    val line = "cpu  100 20 30 400 5 6 7 8 50 9"
    assert(Bench.stealTicks(line) === ((8L, 576L)))
  }

  test("reference gates: a nested object or a quoted number before other gates loses none") {
    val ref = """{"note":"x","queries":{"a_gate":1.5,"nested":{"inner":2},""" +
      """"quoted":"3","b_gate":2,"c_gate":0.25},"control":{"q1_agg":0.4}}"""
    assert(Bench.referenceGates(ref) ===
      Map("a_gate" -> 1.5, "b_gate" -> 2.0, "c_gate" -> 0.25))
  }
}
