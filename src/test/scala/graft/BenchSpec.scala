package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.summarize`: a query that fails in any pass is reported by name
  * and kept out of every total, so a crash can never read as a faster
  * bench. */
class BenchSpec extends AnyFunSuite {

  test("a planted failure is listed and never shortens the totals") {
    val names = Seq("q_a", "q_b", "q_crash", "q_flaky")
    val passes = Seq(
      Map("q_a" -> 1.0, "q_b" -> 4.0, "q_crash" -> -1.0, "q_flaky" -> 2.0),
      Map("q_a" -> 3.0, "q_b" -> 2.0, "q_crash" -> -1.0, "q_flaky" -> -1.0),
      Map("q_a" -> 2.0, "q_b" -> 6.0, "q_crash" -> -1.0, "q_flaky" -> 2.0))
    val s = Bench.summarize(names, passes)
    assert(s.failed == Seq("q_crash", "q_flaky"))
    assert(s.clean == Seq("q_a", "q_b"))
    assert(s.total == 1.0 + 2.0)        // per-query minimums
    assert(s.totalMedian == 2.0 + 4.0)  // per-query medians
    assert(s.repTotals == Seq(5.0, 5.0, 8.0))
  }

  test("a clean run reports no failures and sums every query") {
    val s = Bench.summarize(Seq("q_a", "q_b"),
      Seq(Map("q_a" -> 1.5, "q_b" -> 0.5), Map("q_a" -> 1.0, "q_b" -> 0.75)))
    assert(s.failed.isEmpty && s.clean == Seq("q_a", "q_b"))
    assert(s.total == 1.5)
    assert(s.totalMedian == 1.25 + 0.625)
    assert(s.repTotals == Seq(2.0, 1.75))
  }
}
