package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-group interpolated percentiles without the per-group
  * value-buffer sort.
  *
  * Spark's `percentile` aggregate holds EVERY distinct value with its
  * count in each aggregation buffer and sorts it at evaluation — state
  * grows with group cardinality, which is unbounded at corpus scale
  * (the q52 profile: one buffer per return flag spanning the whole
  * lineitem price domain). [[exactPercentiles]] gets the identical
  * result in two bounded passes instead (the classic distributed
  * selection shape — histogram prune + exact rank within candidate
  * buckets):
  *
  *   1. per-group (count, min, max) — a trivial narrow aggregate;
  *   2. per-group VALUE-RANGE histogram: each row maps to one of
  *      `buckets` equal-width bins (monotone in the value, ties share a
  *      bin), counted map-side — state is ≤ groups × buckets rows no
  *      matter how many rows or distinct values flow through;
  *   3. bin offsets (a tiny window) locate which bins hold the wanted
  *      order statistics `floor/ceil(p·(n−1))`; ONLY those bins' rows —
  *      ~n/buckets each — are re-scanned, sorted per (group, bin), and
  *      the two order statistics interpolated exactly as Spark's
  *      `Percentile.getPercentile` does: `(hi−t)·v_lo + (t−lo)·v_hi`
  *      with its `hi==lo` / `v_lo==v_hi` early returns, so results are
  *      bit-identical to the built-in (and to DuckDB quantile_cont,
  *      which the q52 oracle already equates).
  *
  * Cost: 3 scans of a 2-column projection, all partial-aggregated, no
  * sort wider than one bin — vs 1 scan whose aggregation buffers carry
  * every distinct value through the shuffle and sort per group. The
  * crossover favors this form as soon as the value domain is large —
  * and only this form survives a 100 TB group whose distinct values
  * don't fit one buffer.
  *
  * Drop-in parity with the built-in on degenerate inputs: groups whose
  * values are all NULL emit the built-in's NULL-array row (derived from
  * the same stats pass — no extra scan); rows with NULL values are
  * ignored like the built-in; a NULL GROUP KEY is a group like any
  * other (the key rides in a one-field struct internally so the
  * candidate-bin joins are null-safe — a bare key join would silently
  * drop that group where groupBy keeps it). NaN values FAIL LOUDLY instead — NaN
  * poisons the equal-width bin expression (max = NaN ⇒ bin width NaN),
  * so rather than return silently wrong bins the scan raises; filter
  * NaN upstream if NaN-last built-in ordering is wanted. Returns
  * (groupCol, ps: array<double>) with ps in the order requested.
  *
  * Eager: the pass-1 stats frame is pinned ([[graft.Pins.pin]]), so the
  * CALL runs that pass as a Spark job before any result is executed —
  * even if the result never is — and the pin cuts lineage. A filter the
  * caller applies to the result (say, on the group column) therefore
  * cannot push down into the stats pass; filter the input instead.
  */
object Quantiles {

  def exactPercentiles(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double], buckets: Int = 4096): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentages must be in [0,1], got $ps")
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(!df.columns.contains("__g"),
      "exactPercentiles uses internal column '__g'; input already has one")
    // the group key rides inside a one-field struct: struct equality
    // compares NULL fields as equal, so every equi-join below keeps the
    // NULL group — a bare join on the key would silently DROP it (the
    // built-in percentile emits a row for the NULL group; drop-in
    // parity must too). Unwrapped in the final projection.
    val g = col("__g")
    val vr = col(valueCol).cast("double")
    val guarded = df.select(struct(col(groupCol)).as("__g"),
      when(isnan(vr), raise_error(lit(
        s"exactPercentiles: NaN in '$valueCol' — NaN has no exact rank " +
          "in the histogram bins; filter NaN upstream")).cast("double"))
        .otherwise(vr).as("__v"))
    // ONE stats pass over all rows (NULLs included): count/min/max skip
    // NULLs, so an all-NULL group surfaces here with __n = 0 — that is
    // where the built-in's NULL-array row comes from, for free.
    // PINNED (localCheckpoint): this groups-sized frame feeds THREE
    // consumers (the bin join, the target order statistics, the
    // all-NULL rows) and two of them fan out further — without the
    // barrier each consumer re-executes the stats pass from the scan
    // (column pruning de-canonicalizes the branches; the committed q52
    // plan showed SEVEN parquet scans where the scaladoc's cost model
    // says three). The frame is one row per group — the operator's own
    // bounded-state argument — so pinning is free at any scale.
    // Plan: 7 scans -> 3 (q52) / 8 -> 4 (q68). Measured min-of-5 at
    // sf0.1 (where the pruned 2-column scans are cheap — the win is the
    // dropped corpus passes at scale): q52 1.15 -> 1.06 s,
    // q68 1.13 -> 1.06 s.
    val allStats = graft.Pins.pin(
      guarded.groupBy(g).agg(count(col("__v")).as("__n"),
        min(col("__v")).as("__mn"), max(col("__v")).as("__mx")),
      "exactPercentiles.stats")
    val stats = allStats.filter(col("__n") > 0)
    val rows = guarded.filter(col("__v").isNotNull)
    // equal-width bin, monotone in __v (floor of a positive-constant
    // division), clamped so __v == max lands in the last bin
    val bin = when(col("__mx") === col("__mn"), lit(0L))
      .otherwise(least(
        floor((col("__v") - col("__mn"))
          / ((col("__mx") - col("__mn")) / lit(buckets.toDouble))),
        lit(buckets - 1L)))
    val binned = rows.join(broadcast(stats), Seq("__g"))
      .withColumn("__b", bin)
    val hist = binned.groupBy(g, col("__b")).agg(count(lit(1)).as("__c"))
    val offs = hist.withColumn("__off", coalesce(
      sum(col("__c")).over(Window.partitionBy(g).orderBy(col("__b").asc)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // wanted 0-based order statistics, exactly Percentile.getPercentile:
    // position = p·(n−1); lower = floor, higher = ceil
    val tgt = stats.select(g, col("__n"),
        posexplode(array(ps.map(lit): _*)).as(Seq("__pi", "__p")))
      .withColumn("__t", (col("__n") - 1).cast("double") * col("__p"))
      .withColumn("__lo", floor(col("__t")))
      .withColumn("__hi", ceil(col("__t")))
    val wanted = offs.join(tgt.select(g, col("__lo"), col("__hi")), Seq("__g"))
      .filter((col("__lo") >= col("__off") && col("__lo") < col("__off") + col("__c")) ||
        (col("__hi") >= col("__off") && col("__hi") < col("__off") + col("__c")))
      .select(g, col("__b"), col("__off")).distinct()
    // second pass: sort ONLY the candidate bins; bin-major + in-bin
    // order IS the global value order, so __off + in-bin rank is the
    // global 0-based position (ties share a bin and an equal value)
    val cand = binned.join(broadcast(wanted), Seq("__g", "__b"))
      .withColumn("__pos", col("__off") - 1 +
        row_number().over(Window.partitionBy(g, col("__b")).orderBy(col("__v").asc)))
    val hits = cand.join(broadcast(tgt), Seq("__g"))
      .filter(col("__pos") === col("__lo") || col("__pos") === col("__hi"))
      .groupBy(g, col("__pi"), col("__t"), col("__lo"), col("__hi"))
      .agg(min(when(col("__pos") === col("__lo"), col("__v"))).as("__vlo"),
        min(when(col("__pos") === col("__hi"), col("__v"))).as("__vhi"))
    val interp = when(col("__hi") === col("__lo") || col("__vlo") === col("__vhi"),
        col("__vlo"))
      .otherwise((col("__hi").cast("double") - col("__t")) * col("__vlo")
        + (col("__t") - col("__lo").cast("double")) * col("__vhi"))
    val present = hits.select(g, col("__pi"), interp.as("__q"))
      .groupBy(g)
      .agg(transform(array_sort(collect_list(struct(col("__pi"), col("__q")))),
        s => s.getField("__q")).as("ps"))
    val allNull = allStats.filter(col("__n") === 0)
      .select(g, lit(null).cast("array<double>").as("ps"))
    present.unionByName(allNull)
      .select(col("__g").getField(groupCol).as(groupCol), col("ps"))
  }
}
