package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame

/** Lineage-cut helper around `Dataset.localCheckpoint(eager = true)`.
  *
  * Every pin in the query/operator code funnels through [[pin]] so the
  * PRE-checkpoint subplan stays auditable: a checkpointed frame dumps as
  * `Scan ExistingRDD` in any later `explain`, which hides the pinned
  * subtree's parquet scans and exchanges from plan-corpus reviews
  * (PLANS_full showed "0 scans" for q116/q123/q127 in r15 while each pin
  * job actually tokenizes the corpus once). With the system property
  * `graft.capturePinPlans=true` (set by `graft.tools.PlansFull`), [[pin]]
  * records the formatted plan of the frame it is about to checkpoint;
  * the dump tool drains them per query and emits them alongside the main
  * plan. Off (the default, including the bench), the only cost is one
  * system-property read per pin call at plan-construction time.
  *
  * Contract notes shared by every call site (see SCALING.md):
  *  - eager: the checkpoint job runs at plan-construction time, inside
  *    the timed region of whatever query builds it;
  *  - durability: blocks are executor-local and unreplicated — an
  *    executor loss mid-query fails the query instead of recomputing
  *    lineage. Callers must pin only bounded frames (groups-, vocab-,
  *    matrix- or pair-list-sized) where a retry is cheaper than the
  *    removed re-derivations.
  */
object Pins {
  final case class Sub(label: String, plan: String)

  private val buf = new ConcurrentLinkedQueue[Sub]()
  // backstop for loop call sites (the per-round CC pins):
  // bounded so a plan dump can never balloon the capture buffer
  private val MaxCaptured = 64

  private def capturing: Boolean =
    java.lang.Boolean.getBoolean("graft.capturePinPlans")

  /** `localCheckpoint(true)` with an auditable pre-pin subplan. */
  def pin(df: DataFrame, label: String): DataFrame = {
    if (capturing && buf.size < MaxCaptured) {
      buf.add(Sub(label, df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
    }
    df.localCheckpoint(true)
  }

  /** Drop a pinned frame's checkpoint blocks once nothing will read it
    * again (the frame itself becomes unusable). Without this they stay
    * on the executors until the context cleaner collects the frame. */
  def release(pinned: DataFrame): Unit =
    pinned.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Remove and return everything captured since the last drain. */
  def drain(): Seq[Sub] = {
    var out = List.empty[Sub]
    var e = buf.poll()
    while (e != null) { out ::= e; e = buf.poll() }
    out.reverse
  }
}
