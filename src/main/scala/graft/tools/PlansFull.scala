package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

/** Final-AQE plan corpus for the COMPLETE query inventory (VERDICT r10
  * item 5): PLANS.md covers the headline tail with annotated initial
  * plans; this dumps the post-execution adaptive plan of every
  * SparkEntry query so any round-over-round drift (a new exchange, a
  * lost pushed filter, a broadcast that became a shuffle) is a reviewable
  * DIFF instead of a re-derivation.
  *
  * Each query's own QueryExecution EXECUTES first (every partition,
  * rows discarded, like the noop sink) and that same QueryExecution is
  * explained — only then does `AdaptiveSparkPlan` report
  * `isFinalPlan=true` with the runtime-chosen strategies, which is the
  * plan that actually ran (the r10 DPP lesson: pre-execution plans can
  * carry expressions that silently degrade). Explaining `df` after a
  * separate `df.write` would dump a plan that never ran: the write
  * plans and executes a QueryExecution of its own.
  *
  * Run-varying tokens are scrubbed so reruns diff clean:
  * expression/plan ids (#123, plan_id=456), temp staging dirs, and result
  * ids. Usage: runMain graft.tools.PlansFull [sfDir] → PLANS_full.md.
  */
object PlansFull {
  private[tools] def scrub(plan: String): String = plan
    .replaceAll("#\\d+", "#X")
    .replaceAll("plan_id=\\d+", "plan_id=X")
    .replaceAll("\\bid=#?\\d+", "id=X")
    .replaceAll("result=\\[[^\\]]*\\]", "result=[X]")
    // JVM object identities on typed-aggregator instances, and RDD
    // lineage numbers on checkpointed inputs
    .replaceAll("@[0-9a-f]{6,}", "@X")
    .replaceAll("RDD\\[\\d+\\]", "RDD[X]")
    // uuid() draws a random seed per plan; q61 may additionally jitter
    // in its distinct-Expand branch ORDER (seed-keyed) — the one known
    // cosmetic residual a reviewer should ignore when diffing
    .replaceAll("uuid\\(Some\\(-?\\d+\\)\\)", "uuid(Some(X))")
    // higher-order-function lambda variables are named from a JVM-wide
    // counter (x_27, acc_31), so every lambda built by an earlier query
    // renumbers the ones after it
    .replaceAll("(lambda \\w+?)_\\d+", "$1_X")
    // temp staging roots (IVF indexes, signature stores, spools) get a
    // fresh random dir per run
    .replaceAll("/tmp/[-\\w.]+", "TMPDIR")
    .replaceAll("target/[-\\w./]*tmp[-\\w./]*", "TMPDIR")

  /** Run `df`'s QueryExecution to completion and explain it — the
    * final adaptive plan, as it ran. */
  private[graft] def executedPlan(df: DataFrame): String = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("plans-full")) {
      qe.toRdd.foreach(_ => ())
    }
    qe.explainString(FormattedMode)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // capture every localCheckpoint site's PRE-pin subplan (graft.Pins) so
    // pinned plans stay scan-count-auditable: the main dump reads
    // `Scan ExistingRDD` at a pin, which otherwise hides the pinned
    // subtree's parquet scans from a reviewer (VERDICT r15 item 7)
    System.setProperty("graft.capturePinPlans", "true")
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.optimizer.excludedRules",
        graft.core.GraftSession.ExcludedOptimizerRules)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS_full — final AQE plans, complete inventory ")
    sb.append("(generated by graft.tools.PlansFull)\n\n")
    sb.append(s"Corpus: `$sfDir`. Every query executed (rows discarded); the\n")
    sb.append("dumped tree is the FINAL adaptive plan (isFinalPlan=true) — the one\n")
    sb.append("that ran, runtime strategy choices included. Expression ids and temp\n")
    sb.append("paths are scrubbed so two rounds' dumps diff cleanly.\n")

    var failed = List.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = executedPlan(fn(spark, sfDir))
        sb.append(s"\n## $name\n\n```\n${scrub(plan)}```\n")
        val pins = graft.Pins.drain()
        if (pins.nonEmpty) {
          // a `Scan ExistingRDD` above is one of these checkpointed
          // subtrees — their scans/exchanges count toward the query's
          // real I/O. The one loop site (the CC rounds) emits one entry
          // per round; post-first-cut rounds read the previous pin, so
          // their subplans are scan-free by design.
          sb.append(s"\n### $name — pinned (localCheckpoint) subtrees\n")
          pins.foreach { p =>
            sb.append(s"\n**pin: ${p.label}** (pre-checkpoint plan; " +
              "executes as its own job at plan-construction time)\n")
            sb.append(s"\n```\n${scrub(p.plan)}```\n")
          }
        }
      } catch { case e: Exception =>
        failed ::= name
        graft.Pins.drain()
        sb.append(s"\n## $name\n\nFAILED: ${e.getMessage}\n")
      }
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get("PLANS_full.md"), sb.toString)
    println(s"[plans-full] wrote PLANS_full.md " +
      s"(${graft.SparkEntry.queries.size} queries, failed=${failed.reverse})")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
