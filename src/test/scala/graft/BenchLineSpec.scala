package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver captures only a ~2000-char stdout TAIL of the bench run
  * (which also holds sbt's trailing "[success] ..." line), so the final
  * machine-first line MUST fit `Bench.MaxCompactLen` or the driver
  * records `"parsed": null` — which it did for rounds 5–8. These tests
  * pin the formatter's fit invariant for any realistic (and several
  * pathological) inputs, so an overflow regression fails at build time
  * instead of costing another verdict cycle.
  */
class BenchLineSpec extends AnyFunSuite {

  private def entries(n: Int, nameLen: Int): Seq[(String, Double, Long, Double)] =
    (0 until n).map(i => (("q%03d_".format(i) + "x" * nameLen).take(nameLen max 5),
      20.0 - i * 0.01, 1000L + i, 9.123456789))

  test("typical round-8-shaped run fits the cap with margin") {
    val line = Bench.compactLine(Some(293.38359884100015), 239, Nil, 8.6875,
      entries(239, 26), "/root/testdata/sf0.1")
    assert(line.length <= Bench.MaxCompactLen)
    assert(line.length < 1000, s"expected comfortable margin, got ${line.length}")
    assert(line.startsWith("""{"metric":"total","value":293.384"""))
    assert(line.contains(""""n_queries":239"""))
    assert(line.contains(""""full":"bench_last.json""""))
    // exactly 5 slowest survive
    assert("\"sec\":".r.findAllIn(line).size == 5)
  }

  test("pathologically long entry names still fit (entries dropped, not overflowed)") {
    val line = Bench.compactLine(Some(100.0), 500, Nil, 3.5,
      entries(500, 400), "/root/testdata/sf0.1")
    assert(line.length <= Bench.MaxCompactLen)
  }

  test("failure list is capped at 8 names with a total count") {
    val fails = (0 until 40).map(i => s"q${i}_some_longish_entry_name")
    val line = Bench.compactLine(Some(50.0), 240, fails, 2.0,
      entries(200, 26), "/root/testdata/sf0.1")
    assert(line.length <= Bench.MaxCompactLen)
    assert(line.contains(""""n_failures":40"""))
    assert("q\\d+_some_longish_entry_name".r.findAllIn(line).size == 8)
  }

  test("empty run emits a valid minimal line") {
    val line = Bench.compactLine(Some(0.0), 0, Nil, -1.0, Nil, "/tmp/x")
    assert(line.length <= Bench.MaxCompactLen)
    assert(line.contains(""""slowest":{}"""))
    assert(line.contains(""""failures":[]"""))
  }

  test("doubles are fixed-decimal (no exponent / 17-digit noise)") {
    val line = Bench.compactLine(Some(0.30000000000000004), 3, Nil, 8.689999999,
      Seq(("a", 1.0 / 3.0, 5L, 2.0 / 3.0)), "/tmp/x")
    assert(line.contains(""""value":0.300"""))
    assert(line.contains(""""load_start":8.69"""))
    assert(line.contains(""""sec":0.333"""))
    assert(line.contains(""""load":0.67"""))
    assert(!line.contains("E-") && !line.contains("e-"))
  }

  test("a run with a failed entry reports a null total, never a smaller number") {
    val line = Bench.compactLine(None, 3, Seq("q1_broken"), 1.0,
      Seq(("q0", 2.0, 10L, 1.0), ("q2", 1.0, 5L, 1.0)), "/tmp/x")
    assert(line.length <= Bench.MaxCompactLen)
    assert(line.startsWith("""{"metric":"total","value":null,"""))
    assert(line.contains(""""n_failures":1,"failures":["q1_broken"]"""))
  }
}
