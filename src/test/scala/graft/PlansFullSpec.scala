package graft

import org.apache.spark.sql.functions._

/** PLANS_full.md promises the final adaptive plan of every query — the
  * plan that ran. Explaining a frame whose execution went through a
  * separate QueryExecution (a `df.write`) dumps a plan that never ran,
  * and its header reads `isFinalPlan=false`. */
class PlansFullSpec extends SparkTestBase {

  test("a dumped plan is the final adaptive plan (isFinalPlan=true)") {
    val df = spark.range(0, 1000, 1, 4)
      .groupBy((col("id") % 7).as("g")).agg(count(lit(1)).as("n"))
    val plan = graft.tools.PlansFull.executedPlan(df)
    assert(plan.contains("AdaptiveSparkPlan"), plan)
    assert(plan.contains("isFinalPlan=true"), plan)
    assert(!plan.contains("isFinalPlan=false"), plan)
  }
}
