package graft

import org.scalatest.funsuite.AnyFunSuite

/** The per-module name lists outside the gate registry must name live
  * gates: a renamed or deleted gate left behind in one of them would
  * otherwise drop its cold reps, its budget exception or its audit
  * exemption without a word. The materialize line items are Bench's own
  * lines, not gates, so they count as registered there. */
class GateNamesSpec extends AnyFunSuite {

  private val gates = SparkEntry.queries.keySet

  private def stale(names: Iterable[String], known: Set[String]): Seq[String] =
    names.filterNot(known).toSeq.sorted

  test("Bench.ColdRepNames names registered gates") {
    assert(stale(Bench.ColdRepNames, gates).isEmpty)
  }

  test("Bench.BudgetExceptions names registered gates or materialize lines") {
    assert(stale(Bench.BudgetExceptions, gates ++ Bench.MaterializeHooks.map(_._1)).isEmpty)
  }

  test("PlanAudit.intentional names registered gates") {
    assert(stale(PlanAudit.intentional, gates).isEmpty)
  }
}
