package graft

/** PlanDump's per-query snapshots say when a plan holds no operators:
  * a query that computed its result on the driver while its DataFrame
  * was built shows only a local scan. */
class PlanDumpSpec extends SparkSpecBase {

  test("a driver-local result is marked on the first line") {
    val plan = PlanDump.snapshot(spark, sf, "k_core")
    assert(plan.linesIterator.next() == PlanDump.DriverLocal, plan)
  }

  test("an operator plan is written as it is") {
    val plan = PlanDump.snapshot(spark, sf, "q1_agg")
    assert(!plan.contains(PlanDump.DriverLocal), plan)
    assert(plan.contains("HashAggregate"), plan)
  }
}
