package graft.pipebench

/** Drives the closed loop with planted operations and prints the run
  * record as JSON: one good cold pass, then measured passes of which one
  * throws and one fails its output check. test_pipebench.py feeds the
  * record to metrics.py to show that a failed operation lowers ok_frac
  * and contributes no time. Needs no Spark session.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    def op(body: () => Unit, failures: Seq[String]) =
      Passes.Op(() => (), body, () => true, _ => (failures, Map.empty[String, Double]),
        _ => 1000000L, traced = false)
    val ok = op(() => Thread.sleep(20), Nil)
    val plan = Seq(
      "cold" -> ok,
      "measure" -> ok,
      "measure" -> op(() => { Thread.sleep(300); throw new IllegalStateException("planted") }, Nil),
      "measure" -> op(() => Thread.sleep(300), Seq("planted wrong output")),
      "measure" -> ok,
      "measure" -> ok)
    val records = plan.zipWithIndex.map { case ((phase, o), n) => Passes.one(n, phase, o) }
    println(Json.write(Map("session_s" -> 1.0, "setup_work_s" -> Seq(0.5),
      "live_heap_mb" -> 1.0, "passes" -> records.map(_.toMap))))
  }
}
