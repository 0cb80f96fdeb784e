package graftbench

/** The output checker's own test: `graftbench.SelfTest <repo root>`. Every
  * planted fault must be rejected and the correct output accepted. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val cases = Checker.selfTest(args(0), Host.threads)
    cases.foreach { case (c, ok) => println(s"[perfbench] ${if (ok) "PASS" else "FAIL"} $c") }
    val failed = cases.count(!_._2)
    println("BENCH_RESULT " + Json(Map("correct" -> (failed == 0), "attempted" -> cases.size,
      "failed" -> failed, "metrics" -> Map.empty)))
    System.exit(if (failed == 0) 0 else 1)
  }
}
