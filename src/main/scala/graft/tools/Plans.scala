package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dumps formatted physical plans for headline queries → PLANS.md
  * (plan-quality evidence: pushed filters, pruned schemas, broadcast
  * joins, codegen spans). Usage: runMain graft.tools.Plans <sfDir> */
object Plans {
  val headline: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "single scan, pushed shipdate filter, 3-column read schema, partial+final hash agg",
    "q03_star_join_revenue" -> "5-way star join: fact scanned once, every dimension broadcast, no shuffle join",
    "q16_keep_latest_event" -> "keep-latest as partial-aggregable max_by (map-side combine, no window sort)",
    "q23_asof_join" -> "as-of join via union-and-carry: one exchange, running last_value per key",
    "q31_lsh_near_dup" -> "MinHash+LSH single-pass: one agg computes signatures + re-collected shingle sets, band self-join carries payloads, exact verify with no further joins",
    "q41_simhash_near_dup" -> "60-bit SimHash: 3x20-bit pigeonhole chunk join (2^20 buckets/band), codegen HammingDistance verify",
    "q69_ann_ivf_topk" -> "IVF ANN: coarse quantizer collected and broadcast as one table, map-side nearest-centroid cell assignment (graft_nearest_cell), nprobe cell-join probe, exact cosine verify",
    "q35_cosine_topk" -> "brute-force ANN baseline: tiny query set broadcast against the corpus scan",
    "q38_tumbling_window" -> "event-time tumbling window aggregation (same plan shape streaming uses)",
    "q82_semantic_dedup" -> "SemDeDup: driver-held Lloyd quantizer, map-side nearest-centroid cell assignment (graft_nearest_cell), cell-scoped pair join, keep-one verdict as partial-agg min",
    "q85_incremental_dedup" -> "cross-batch dedup: old/new banded signatures joined within buckets only, per-new-doc verdict aggregation — no global self-join",
    "q88_bloom_prefilter" -> "Bloom pre-filter: one-pass bitmap aggregate, one-row sketch broadcast (BroadcastNestedLoopJoin), compiled md5 probe — the batch side never shuffles",
    "q90_ann_recall" -> "ANN recall eval: ONE scored pair frame (single corpus scan + query broadcast), ranked twice — global exact rank and in-bucket ANN rank — then one grouped overlap count",
    "q101_hard_negatives" -> "hard-negative mining: broadcast query set with the cross-label predicate inside the join, one corpus pass, per-query top-k window",
    "q102_dsir_weights" -> "DSIR weights: ONE bucket-count aggregation broadcast back to the feature stream, (id, bucket) re-agg, one-row totals crossJoin as BroadcastNestedLoopJoin",
    "q103_centroid_outliers" -> "centroid outliers: label centroids from one float-native array-buffer partial agg (no per-row cast allocation above the scan), broadcast back, map-side distances, per-label rank window",
    "q56_tfidf_top_terms" -> "TF-IDF: corpus tokenized once, df counted from tf's already-distinct (doc, term) rows — no COUNT(DISTINCT) Expand row-multiplication through the first shuffle",
    "q107_embedding_covariance" -> "covariance: per-row triangle products into ONE global array-buffer aggregate (partial + final, no dim-pair explode), single-row posexplode unfurl",
    "q112_staged_incremental_dedup" -> "staged-signature probe: the new batch is the ONLY documents scan (the corpus side reads the bkey-clustered signature table) — the once-per-snapshot staging cost is absent from the per-batch plan",
    "q113_incremental_clusters" -> "incremental CC: existing labels replayed as star edges + new pairs, one checkpointed pair materialization shared by both consumers — CC input is labels + new pairs, never the pair history; both CC calls fit the driver bound, so each is one edges pin + one collect + union-find, and the plan joins two local relations",
    "q115_span_novelty" -> "span novelty: compiled span hashing map-only, ONE partial-aggregated min per span hash, hash equi-join back — the ExactSubstr-style audit without a suffix array",
    "q119_centroid_drift" -> "centroid drift: two array-buffer centroid aggregates (one per snapshot slice), label-count-sized equi-join, grid-floored integer distance",
    "q52_percentiles" -> "exact percentiles by two-pass selection: bounded (group x bin) histogram aggregate, offset window locates candidate bins, ONLY those bins sort — no per-group value buffer, state bounded at any scale",
    "q125_ann_corpus_neighbors" -> "corpus-vs-corpus ANN: hinted SortMergeJoin on (set, bucket) — zero BroadcastExchange, LSH-bounded candidates, each pair scored once at its first shared table (join residual); the query shape a broadcast side cannot run",
    "q128_ann_ivf_sampled" -> "sample-trained IVF: Lloyd centroids held on the driver (one collected <=k-row cell aggregate per iteration, no pin), corpus assignment as a map-side graft_nearest_cell projection, the query x centroid probe ranking the only nested-loop join",
    "q129_keyword_search" -> "keyword search: exploded tokens filtered to query terms map-side, df counted from tf's already-distinct pairs (no distinct Expand), query-term-sized weight frame broadcast, score partial-agg, global top-10 via TakeOrderedAndProject heaps — no global sort",
    "q130_repeated_run" -> "repeated-run detector: gaps-and-islands windows keyed on doc (parallel across docs, no SinglePartition), run census as one partial-agg count",
    "q68_approx_percentiles" -> "approx percentiles, bounded everywhere: two-pass exact selection + one-pass mergeable sketch scan meeting in a 3-row join — no corpus repartition, no per-group value buffers",
    "q132_cms_heavy_hitters" -> "Count-Min sketch: one-pass fixed-size counter-grid aggregate (elementwise-add partials), one-row sketch broadcast as BroadcastNestedLoopJoin, LEAST-of-array-probes estimation",
    "q133_principal_direction" -> "power iteration: one covariance array-buffer pass collected as the dim·(dim+1)/2 triangle, then 3 overflow-checked integer matvecs with integer normalization on the driver — the plan is the local result",
    "q135_rare_token_scrub" -> "CMS in-pipeline: sketch pass + broadcast one-row probe pass — per-token frequency gate with NO vocabulary-sized count join",
    "q136_classifier_gate" -> "hashed-feature classifier inference: compiled bigram shingles map-side, inline integer bucket weights, per-doc partial-agg SUM, source roll-up — no vocabulary join, no UDF",
    "q80_repetition_filter" -> "Gopher/C4 repetition gates fully row-local: compiled ShingleRepetition + TokenStats structs, zero shuffles before the output sort — replaces a per-corpus-token explode shuffle",
    "q137_feature_hash_embed" -> "feature hashing: explode + (doc, dim) integer sums (<=64 rows/doc through the shuffle), per-doc map->dense assembly, corpus left join for full coverage (NULL docs embed as the zero vector) — the no-vocabulary text->vector bridge",
    "q121_token_budget_sample" -> "token-budget sample, size-adaptive plan: at this input the statistic picks the join-free per-stratum window; past 256 MB the same call plans 2^10 hash-sharded windows + bucket-offset prune (row-identical, ScaleSpec-pinned)",
    "q138_pps_sample" -> "systematic PPS draw, same size-adaptive rule: single running-sum window here, sharded windows + offset join at scale — integer sums and floor division make both shapes bit-identical")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
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
    sb.append("# PLANS — headline physical plans (generated by graft.tools.Plans)\n\n")
    sb.append("What to look for: `PushedFilters` / narrow `ReadSchema` on every scan,\n")
    sb.append("`BroadcastHashJoin` on dimension joins, `WholeStageCodegen` spans over\n")
    sb.append("the hot path, partial (`HashAggregate` twice) aggregation before exchanges.\n")
    headline.foreach { case (name, note) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n_${note}_\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${headline.size} queries)")
    spark.stop()
  }
}
