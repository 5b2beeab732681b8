package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("steal ticks: the total sums user..steal and leaves guest time out") {
    // user nice system idle iowait irq softirq steal guest guest_nice
    val line = "cpu  100 20 30 400 5 6 7 8 50 9"
    assert(Bench.stealTicks(line) === ((8L, 576L)))
  }
}
