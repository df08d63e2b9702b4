package graft

import org.apache.spark.sql.DataFrame

/** Plan-shape pins for the expensive tail of BENCH_full (every query
  * ≥1.5 s at sf0.1 not already pinned in ScaleSpec): q52, q60, q66,
  * q68, q72, q79, q93, q97, q128. These assert the SHAPE that makes
  * each query survive a 100× scale-up — bounded scans, no cartesians,
  * pruned read schemas, broadcast only on provably-small sides — so a
  * regression shows up as a failed pin, not a silent slow bench cell.
  *
  * All assertions run on the FINAL adaptive plan (post-execution
  * render), so they pin what AQE actually decided, not the static
  * planner's guess. */
class TailPlanSpec extends SparkTestBase {

  private val d = "/root/testdata/sf0.001"

  /** Execute the query, then render the final adaptive physical plan.
    * The render is cut at the `== Initial Plan ==` marker: the adaptive
    * toString prints BOTH the final and the pre-AQE plan, and pins must
    * judge what actually ran, not the static guess (which the final
    * section may have replaced — e.g. SortMergeJoin → BroadcastHashJoin). */
  private def executedPlan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, d)
    df.collect() // force execution so AQE finalizes every stage
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  private def scans(plan: String, table: String): Int =
    s"$table\\.parquet".r.findAllIn(plan).size

  // the unbounded built-in exact-percentile aggregate (buffers every
  // distinct value per group); approx_percentile is fine and must not
  // trip the match
  private def usesUnboundedPercentile(plan: String): Boolean =
    "(?<!approx_)percentile\\(".r.findAllIn(plan).nonEmpty

  test("q52 exact percentiles: two bounded passes, no per-group value buffers") {
    val plan = executedPlan("q52_percentiles")
    // the selection is a bounded CONSTANT number of 2-column pruned
    // scans (stats pass, histogram pass, candidate-bin re-scan, the
    // last shared by two consumers → 4 physical scans today) — never
    // O(quantiles) or O(groups) scans, and never a per-group buffer
    assert(scans(plan, "lineitem") <= 4, s"extra lineitem scans:\n$plan")
    assert(!usesUnboundedPercentile(plan),
      s"unbounded percentile() aggregate crept back in:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // column pruning must reach the scan: the 2-column projection never
    // reads join keys or quantities
    assert(!plan.contains("l_orderkey") && !plan.contains("l_quantity"),
      s"lineitem read schema not pruned to (l_returnflag, l_extendedprice):\n$plan")
  }

  test("q68 approx percentiles: bounded sketch + two-pass exact, constant scans") {
    val plan = executedPlan("q68_approx_percentiles")
    // exact leg's 4 bounded scans + the one-pass mergeable sketch scan
    // (+1 for a shared subtree consumed twice) — constant, all pruned
    assert(scans(plan, "lineitem") <= 6, s"extra lineitem scans:\n$plan")
    assert(plan.contains("approx_percentile"),
      s"approx sketch path missing:\n$plan")
    assert(!usesUnboundedPercentile(plan),
      s"unbounded percentile() aggregate crept back in:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("events loader split: raw events carries NO exchange; eventsProps spreads (single-file corpus)") {
    // The r10 spread taxed seven non-props events consumers ~0.2-0.35 s
    // each at the single-file tier; the r11 split keeps the raw loader
    // exchange-free and confines the parse spread to eventsProps. Pin
    // both halves so neither silently regresses: an exchange creeping
    // back into Tables.events re-taxes q16/q17/q38/q39/q43/q98/q99; the
    // spread disappearing from eventsProps re-serializes q60/q66's JSON
    // parse on unsplittable layouts.
    val raw = graft.core.Tables.events(spark, d)
    raw.collect()
    val rawPlan = raw.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!rawPlan.contains("Exchange"),
      s"raw events loader grew an exchange:\n$rawPlan")
    val spreadDf = graft.core.Tables.eventsProps(spark, d)
    spreadDf.collect()
    val spreadPlan = spreadDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(spreadPlan.contains("Exchange RoundRobinPartitioning"),
      s"eventsProps lost its round-robin parse spread:\n$spreadPlan")
  }

  test("q60 json validity: one events scan, pruned schema, partial agg") {
    val plan = executedPlan("q60_json_validity")
    assert(scans(plan, "events") === 1, s"events scanned more than once:\n$plan")
    // Pin the exact ReadSchema — substring checks false-positive on
    // expression names like map_values. Tables.eventsProps spreads
    // round-robin, so no partitioning key rides along: the scan reads
    // ONLY the two columns the query projects.
    assert(plan.contains(
      "ReadSchema: struct<event_type:string,props:string>"),
      s"events read schema not pruned to (event_type, props):\n$plan")
    // map-side combine before the group-by exchange: HashAggregate must
    // appear at least twice (partial + final)
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no partial aggregation before the shuffle:\n$plan")
  }

  test("q66 map ops: one events scan, pruned schema, no shuffle before sort") {
    val plan = executedPlan("q66_map_ops")
    assert(scans(plan, "events") === 1, s"events scanned more than once:\n$plan")
    // round-robin spread → no partitioning key rides along (q60 note)
    assert(plan.contains(
      "ReadSchema: struct<event_id:bigint,props:string>"),
      s"events read schema not pruned to (event_id, props):\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q72 training pipeline: banded pair join only — no cartesian, no nested loop") {
    val plan = executedPlan("q72_training_pipeline")
    assert(!plan.contains("CartesianProduct"),
      s"global cartesian in the curation chain:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the curation chain (pair gen must stay banded):\n$plan")
  }

  /** The trained-IVF shape (q79, q128): Lloyd runs on the driver and
    * cell assignment is a map-side projection, so the ONLY nested-loop
    * join left is the query × centroid probe ranking (k rows broadcast),
    * and nothing re-joins or re-aggregates the corpus by vec_id. */
  private def assertTrainedIvfShape(plan: String): Unit = {
    assert(!plan.contains("CartesianProduct"),
      s"corpus-sized cartesian in IVF training:\n$plan")
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nested == 1, s"expected only the probe ranking ($nested):\n$plan")
    assert(!plan.contains("hashpartitioning(vec_id"),
      s"corpus exchange on vec_id (argmin aggregate or re-join):\n$plan")
    assert(plan.contains("graft_nearest_cell"), plan)
  }

  test("q79 trained IVF: centroid sides broadcast, candidate join keyed on cell") {
    assertTrainedIvfShape(executedPlan("q79_ann_ivf_trained"))
  }

  test("q128 sample-trained IVF: same shape with the sampled training scan") {
    assertTrainedIvfShape(executedPlan("q128_ann_ivf_sampled"))
  }

  test("q93 priority keep-one: pair gen stays banded, policy join is equi") {
    val plan = executedPlan("q93_priority_keep_one")
    assert(!plan.contains("CartesianProduct"),
      s"global cartesian in CC/keep-one:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in CC/keep-one:\n$plan")
  }

  test("q56 tfidf: tf pinned — one corpus tokenize, df derives from tf") {
    val plan = executedPlan("q56_tfidf_top_terms")
    // r16: tf is localCheckpoint'd, so the MAIN plan reads the pinned
    // (doc_id, t, tf) rows twice (df branch + scoring join) and touches
    // parquet only for the corpus-size COUNT(*) frame (zero columns —
    // footer counts). The scan → explode → corpus-tokens exchange →
    // aggregate subtree lives in the checkpoint job, ONCE (sf1 A/B in
    // OPTIMIZATION_r16.md: the unpinned twin ran it per consumer).
    assert(scans(plan, "documents") <= 1,
      s"main plan re-reads the corpus beyond the COUNT frame:\n$plan")
    assert("Generate explode".r.findAllIn(plan).isEmpty,
      s"a tokenize branch escaped the tf pin:\n$plan")
    assert("Scan ExistingRDD".r.findAllIn(plan).size == 2,
      s"expected both consumers to read the pinned tf:\n$plan")
    // COUNT(DISTINCT doc_id) over raw tokens plans an Expand (row
    // multiplication through the first shuffle) — df must instead count
    // tf's already-distinct (doc_id, t) rows
    assert(!plan.contains("Expand"),
      s"distinct-expand crept back into the df branch:\n$plan")
  }

  test("q129 keyword search: df derives from tf's distinct pairs, no distinct expand") {
    val plan = executedPlan("q129_keyword_search")
    // same rationale as the q56 pin: COUNT(DISTINCT doc_id) over the
    // term-filtered token stream plans an Expand (row multiplication
    // through the first shuffle); df must instead count tf's
    // already-distinct (doc_id, tok) rows
    assert(!plan.contains("Expand"),
      s"distinct-expand crept back into the df branch:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q37/q103 centroids: float embeddings feed the fixed-point aggregates cast-free") {
    // the per-row cast(embedding AS array<double>) materialized a fresh
    // array per row per side before the float-native expressions; a cast
    // above the embeddings scan in these plans means the allocation is back
    for (q <- Seq("q37_label_centroids", "q103_centroid_outliers")) {
      val plan = executedPlan(q)
      assert(!plan.contains("as array<double>"),
        s"$q: per-row array<double> cast reappeared over the corpus:\n$plan")
    }
  }

  test("q97 hybrid curation: semantic pair join stays cell-keyed") {
    val plan = executedPlan("q97_hybrid_curation")
    assert(!plan.contains("CartesianProduct"),
      s"global cartesian in hybrid curation:\n$plan")
    // the only nested-loop joins are broadcasts of provably-tiny sides
    // (the k-row centroid frame from the semantic-dedup leg)
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nested <= 4, s"unexpected nested-loop joins ($nested):\n$plan")
    // the vector-pair comparison must be an equi-join on cell — never an
    // unkeyed corpus×corpus comparison
    assert("Join \\[cell".r.findAllIn(plan).nonEmpty,
      s"pair join not keyed on cell:\n$plan")
  }
}
