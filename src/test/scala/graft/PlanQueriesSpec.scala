package graft

import graft.operators.PlanQueries

/** Plan properties of the graded plan-path queries (the row-level
  * results are held to the DuckDB oracle by the driver gate). */
class PlanQueriesSpec extends SparkTestBase {

  test("graded bucketed join executes without a shuffle exchange") {
    val (df, plan) = PlanQueries.bucketedJoinRun(spark, sfDir)
    assert(df.count() > 0)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n${plan.take(2000)}")
    assert(plan.contains("SortMergeJoin"), plan.take(500))
  }

  test("graded skew join executes adaptively with skew handling forced") {
    val (df, plan) = PlanQueries.skewJoinRun(spark, sfDir)
    assert(df.count() == 5) // one row per event type
    assert(plan.contains("AdaptiveSparkPlan"), plan.take(500))
  }
}
