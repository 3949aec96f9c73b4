package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry's one query-selection rule, shared by Bench, Verify and
  * PlanDump: a pattern is a full name or a prefix up to `_`.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("a pattern selects its own name and the names it prefixes up to '_'") {
    assert(SparkEntry.selects("q1", "q1_scan"))
    assert(!SparkEntry.selects("q1", "q10_pivot_status"))
    assert(!SparkEntry.selects("q1", "q100_scan"))
    assert(SparkEntry.selects("q10_pivot_status", "q10_pivot_status"))
    assert(SparkEntry.selects("q10_pivot", "q10_pivot_status"))
    assert(!SparkEntry.selects("q10_piv", "q10_pivot_status"))
    assert(SparkEntry.selects("q9,q10", "q10_pivot_status"))
    assert(!SparkEntry.selects(",", "q10_pivot_status"))

    val q10 = SparkEntry.selected("q10").keySet
    assert(q10 == Set("q10_pivot_status"))
    assert(SparkEntry.selected("q10_pivot_status").keySet == q10)
    assert(SparkEntry.selected("q1,q10").keySet == q10) // q1 alone names no query
  }
}
