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

  test("scrub renumbers codegen and query-stage ids in order of first appearance") {
    val plan =
      """(2) ColumnarToRow [codegen id : 7]
        |Input [1]: [a#12]
        |
        |(3) Project [codegen id : 7]
        |Output [1]: [a#12]
        |
        |(5) ShuffleQueryStage
        |Output [1]: [a#12]
        |Arguments: 4
        |
        |(6) HashAggregate [codegen id : 3]
        |Arguments: 9
        |
        |(8) BroadcastQueryStage
        |Output [1]: [a#12]
        |Arguments: 2
        |
        |(9) BroadcastHashJoin [codegen id : 7]
        |
        |(10) HashAggregate [codegen id : 5]
        |
        |(11) ResultQueryStage
        |Output [1]: [a#12]
        |Arguments: 6
        |""".stripMargin
    assert(graft.tools.PlansFull.scrub(plan) ===
      """(2) ColumnarToRow [codegen id : 1]
        |Input [1]: [a#X]
        |
        |(3) Project [codegen id : 1]
        |Output [1]: [a#X]
        |
        |(5) ShuffleQueryStage
        |Output [1]: [a#X]
        |Arguments: 0
        |
        |(6) HashAggregate [codegen id : 2]
        |Arguments: 9
        |
        |(8) BroadcastQueryStage
        |Output [1]: [a#X]
        |Arguments: 1
        |
        |(9) BroadcastHashJoin [codegen id : 1]
        |
        |(10) HashAggregate [codegen id : 3]
        |
        |(11) ResultQueryStage
        |Output [1]: [a#X]
        |Arguments: 2
        |""".stripMargin)
  }

  test("scrub masks broadcast-stage sizes, which follow the heap, and keeps row counts") {
    val at = (size: String) =>
      s"""+- BroadcastHashJoin Inner BuildRight (12)
         |   :- ShuffleQueryStage (4), Statistics(sizeInBytes=624.0 B, rowCount=6)
         |   +- BroadcastQueryStage (11), Statistics(sizeInBytes=$size, rowCount=1.27E+4)
         |""".stripMargin
    val scrubbed = graft.tools.PlansFull.scrub(at("8.1 MiB"))
    assert(scrubbed === graft.tools.PlansFull.scrub(at("16.1 MiB")))
    assert(scrubbed.contains(
      "BroadcastQueryStage (11), Statistics(sizeInBytes=X, rowCount=1.27E+4)"), scrubbed)
    assert(scrubbed.contains(
      "ShuffleQueryStage (4), Statistics(sizeInBytes=624.0 B, rowCount=6)"), scrubbed)
  }
}
