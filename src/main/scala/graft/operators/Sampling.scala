package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash-based sampling and split assignment.
  *
  * Spark's `sample`/`randomSplit` draw from per-partition RNG streams, so
  * results change with partitioning, task retries and row order — none of
  * which a 100 TB curation pipeline can tolerate (and none of which an
  * external oracle can reproduce). Hashing the row's id instead gives a
  * sample that is stable under any physical layout, reproducible across
  * engines (md5-derived, DuckDB-mirrorable), and consistent across tables
  * (the same id always lands in the same bucket — join-safe).
  */
object Sampling {

  /** The seeded 60-bit md5 hash every sampling op derives from — ONE
    * definition (the same value as graft_hash64 and the oracle's dkHash)
    * so bucket assignment and rank order can never drift apart: the
    * portable composition of [[graft.functions.TextFunctions.hash64]]
    * over the id's string form. */
  def seededHash(id: Column, seed: Int): Column =
    graft.functions.TextFunctions.hash64(id.cast("string"), seed)

  /** Uniform bucket in [0, buckets) from the id's seeded md5-hash.
    * Modulo bias is ≤ buckets/2^60 — negligible. */
  def hashBucket(id: Column, seed: Int, buckets: Int = 100): Column = {
    require(buckets >= 1)
    pmod(seededHash(id, seed), lit(buckets.toLong))
  }

  /** train/val/test assignment by hash percentile: [0,train) → "train",
    * [train,train+valPct) → "val", rest → "test". */
  def assignSplit(id: Column, seed: Int, train: Int = 80, valPct: Int = 10): Column = {
    require(train >= 0 && valPct >= 0 && train + valPct <= 100)
    val b = hashBucket(id, seed, 100)
    when(b < train, lit("train"))
      .when(b < train + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** Keep ~pct% of rows, deterministically. */
  def sampleHash(df: DataFrame, idCol: String, pct: Int, seed: Int): DataFrame =
    df.filter(hashBucket(col(idCol), seed) < pct)

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling"): score every row by how
    * much more likely its hashed-n-gram feature bag is under the TARGET
    * slice's feature distribution than under the full corpus's. Rows
    * whose vocabulary looks like the target get weight > 1 — resampling
    * by this weight shifts the corpus mix toward the target domain
    * without training a model.
    *
    * `featureCol` is an array<string> feature bag WITH multiplicity
    * (e.g. word bigrams); each feature is hashed into one of `buckets`
    * buckets with the seeded md5 hash, and per-bucket occurrence counts
    * are taken over the target slice and the whole corpus. The row's
    * weight is the count-normalized ratio
    *   (Σ_f tgt_cnt(f) / tot_tgt) / (Σ_f raw_cnt(f) / tot_raw)
    * — integer sums throughout, three double divisions at the end (each
    * operand exact below 2^53 feature instances), never an integer
    * product that could overflow — deterministic under any partitioning
    * and exactly oracle-mirrorable.
    *
    * Scale: ONE aggregation builds both count tables together (≤
    * `buckets` rows — broadcast), and the totals are sums over that tiny
    * table; the corpus feature explode runs twice (count pass + scoring
    * pass), and the only wide exchange is the (id, bucket)
    * re-aggregation back to rows. Rows with an empty/NULL feature bag
    * are ABSENT from the output (left-join and default downstream if
    * they must survive); an empty target slice fails loudly rather than
    * emitting NULL weights. Returns
    * (idCol, n_feats, sum_tgt_cnt, sum_raw_cnt, importance). */
  def importanceWeights(df: DataFrame, idCol: String, featureCol: Column,
      targetPred: Column, seed: Int, buckets: Int = 8192): DataFrame = {
    require(buckets >= 1)
    val feats = df.select(col(idCol), targetPred.as("__t"),
        explode(featureCol).as("__feat"))
      .select(col(idCol), col("__t"),
        pmod(seededHash(col("__feat"), seed), lit(buckets.toLong)).as("h"))
    // cnt is consumed twice (the broadcast scoring join AND tot) — without
    // a materialization barrier each consumer re-executes the whole count
    // subtree including its corpus feature explode (column pruning
    // de-canonicalizes the branches, defeating ReuseExchange), making the
    // operator 3 corpus passes where its contract says 2. The frame is ≤
    // `buckets` rows, the same bounded-frame pin as exactPercentiles'
    // stats; measured 1.09 → 0.92 s on q102 at sf0.1
    // (min-of-5, same window).
    val cnt = graft.Pins.pin(
      feats.groupBy("h").agg(count(lit(1)).as("raw_cnt"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("tgt_cnt")),
      "importanceWeights.cnt")
    val tot = cnt.agg(sum(col("raw_cnt")).as("tot_raw"),
      sum(col("tgt_cnt")).as("tot_tgt"))
    feats
      .join(broadcast(cnt), "h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        sum(col("tgt_cnt")).as("sum_tgt_cnt"),
        sum(col("raw_cnt")).as("sum_raw_cnt"))
      .crossJoin(broadcast(tot))
      .select(col(idCol), col("n_feats"), col("sum_tgt_cnt"),
        col("sum_raw_cnt"),
        when(col("tot_tgt") === 0, raise_error(lit(
          "importanceWeights: target slice has no feature instances")))
          .otherwise(
            (col("sum_tgt_cnt").cast("double") / col("tot_tgt").cast("double"))
              / (col("sum_raw_cnt").cast("double") / col("tot_raw").cast("double")))
          .as("importance"))
  }

  /** Stratified cap-K sampling: within each stratum keep the `cap` rows
    * with the smallest seeded id-hash (a deterministic uniform draw —
    * every row's hash is an iid uniform, so rank ≤ cap is an exact
    * without-replacement sample per stratum, stable under layout/retries
    * like every hash op here). Adds `rn` (1-based rank within stratum).
    *
    * Scale: one shuffle on the stratum key; each window partition sorts
    * only its stratum. The corpus-balancing use has many strata of
    * bounded size (source × lang × …), which is exactly the shape that
    * parallelizes; for a single giant stratum, pre-filter on the RAW hash
    * — `seededHash(id, seed) < (2·cap/|stratum|) · 2^60` — so the sort
    * sees a small superset that provably contains the cap smallest
    * hashes (a prefix of the global hash order), then rank. A
    * [[hashBucket]] pre-filter would NOT work: pmod is not monotone in
    * the hash, so bucket membership keeps a random slice, not the
    * smallest-hash rows. */
  def stratifiedCap(df: DataFrame, strata: Seq[String], idCol: String,
      cap: Int, seed: Int): DataFrame = {
    require(cap >= 1 && strata.nonEmpty)
    // fail fast: silently replacing a caller's `rn` (e.g. another ranking
    // step's output) would hand downstream code the wrong column
    require(!df.columns.contains("rn"),
      "stratifiedCap emits a 'rn' column; input already has one — rename it first")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strata.map(col): _*)
      .orderBy(seededHash(col(idCol), seed).asc, col(idCol).asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= cap)
  }

  /** Resolve the `shardBits = -1` AUTO sentinel for the sharded-window
    * samplers from the input's Catalyst size estimate: below
    * [[autoShardThresholdBytes]] the whole input fits one task's sort
    * with room to spare, so the single-window shape wins (the sharded
    * form pays an extra subtotal aggregation + offset join — measured
    * ~25% of q121's runtime at small scale); above it, shard 2^10 ways
    * so no task ever sorts more than ~1/1024 of a dominant stratum.
    * Unknown statistics report Long.MaxValue, which lands on the sharded
    * side — the safe direction. Same decision style as
    * autoBroadcastJoinThreshold: a size-statistic picks between two
    * plans with identical results (equality is spec-proven both ways).
    *
    * Cost note: reading `optimizedPlan.stats` forces a DRIVER-side
    * optimization pass of the input subtree per call — milliseconds for
    * a scan-rooted input, but a sampler wrapped around an expensive
    * unoptimized subtree pays it twice (once here, once at execution).
    * Callers composing samplers over deep plans should pass an explicit
    * `shardBits` (or cache/checkpoint the input first) to skip the
    * probe. */
  private[graft] def resolveShardBits(df: DataFrame, shardBits: Int): Int = {
    require(shardBits >= -1 && shardBits <= 20,
      s"shardBits must be in [0, 20] or -1 (auto), got $shardBits")
    if (shardBits >= 0) shardBits
    else if (df.queryExecution.optimizedPlan.stats.sizeInBytes
      <= autoShardThresholdBytes) 0
    else 10
  }

  /** 256 MB: a comfortable single-task sort; also well under the size
    * where a stratum-serial window could stall a stage. */
  private[graft] val autoShardThresholdBytes: Long = 1L << 28

  /** Token-budget stratified sample: within each stratum, take documents
    * in seeded-hash order (the same deterministic uniform draw as
    * [[stratifiedCap]]) while the running TOKEN sum stays ≤ `budget`.
    * This is the MATERIALIZATION step after a mixture plan (q104's
    * temperature weights, a manual rebalance, a data contract) has
    * decided each stratum's share: an LM consumes tokens, not documents,
    * so the cap is by tokens — and it stays exact under repartitioning
    * and retries because the order is a pure hash of the id. `budget` is
    * a Column, so per-stratum budgets arrive by joining the plan table
    * upstream; emits `cum_tokens` for audit.
    *
    * Scale — the giant-stratum problem, solved exactly: a single window
    * over the stratum would pull the WHOLE stratum through one task's
    * sort even though only ~budget tokens survive. Instead the hash
    * order is sharded by its own TOP BITS into 2^`shardBits` range
    * buckets (bucket id is monotone in the hash, so bucket-major +
    * in-bucket order IS the global hash order):
    *   1. one map-side partial aggregation computes per-(stratum,
    *      bucket) token subtotals — a strata × 2^shardBits-row frame;
    *   2. a window over that TINY frame turns subtotals into each
    *      bucket's starting offset `off` (tokens in all earlier
    *      buckets);
    *   3. offsets join back to the rows (the planner broadcasts the
    *      strata × 2^shardBits frame while it is small and falls back
    *      to a shuffle join past autoBroadcastJoinThreshold — no forced
    *      hint, so a huge strata count cannot OOM the driver), and every
    *      row in a bucket with off > budget is dropped BEFORE the sort —
    *      its running sum is ≥ off, so it can never be kept (this is
    *      the exactness argument, and why `tokens` must be ≥ 0 —
    *      enforced loudly);
    *   4. the window sorts per (stratum, bucket) — parallel across the
    *      ~budget-sized survivor prefix — and off + in-bucket running
    *      sum is exactly the global running sum.
    * So the only per-stratum serial work is over buckets that intersect
    * the budget prefix, never the stratum. Kept rows and `cum_tokens`
    * are identical to the single-window definition for any integral
    * token column (integer addition is associative; for fractional
    * token weights the re-association can differ in the last ulp).
    * `shardBits = 0` IS the one-window-per-stratum shape (no subtotal
    * pass, no join); `shardBits = -1` (the default) picks between the
    * two from the input's size statistic ([[resolveShardBits]]). */
  def tokenBudgetSample(df: DataFrame, strata: Seq[String], idCol: String,
      tokens: Column, budget: Column, seed: Int,
      shardBits: Int = -1): DataFrame = {
    require(strata.nonEmpty, "tokenBudgetSample needs at least one stratum")
    val sb = resolveShardBits(df, shardBits)
    require(!df.columns.contains("cum_tokens"),
      "tokenBudgetSample emits a 'cum_tokens' column; input already has one")
    Seq("__h", "__b", "__off", "__btok").foreach(c =>
      require(!df.columns.contains(c),
        s"tokenBudgetSample uses internal column '$c'; input already has one"))
    val W = org.apache.spark.sql.expressions.Window
    // a negative token count breaks the prefix-monotonicity the bucket
    // prune relies on, and a NULL would slip past the comparison guard
    // (NULL < 0 is NULL → false) and be silently summed as 0, keeping
    // the row "for free" — both fail loudly instead of mis-sampling
    val tok = when(tokens.isNull, raise_error(concat(
        lit("tokenBudgetSample: NULL token count for id "),
        col(idCol).cast("string"))).cast("long"))
      .when(tokens < 0, raise_error(concat(
        lit("tokenBudgetSample: negative token count for id "),
        col(idCol).cast("string"))).cast("long"))
      .otherwise(tokens)
    if (sb == 0) {
      val wIn = W.partitionBy(strata.map(col): _*)
        .orderBy(col("__h").asc, col(idCol).asc)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      df.withColumn("__h", seededHash(col(idCol), seed))
        .withColumn("cum_tokens", sum(tok).over(wIn))
        .filter(col("cum_tokens") <= budget)
        .drop("__h")
    } else {
      // seededHash is 60-bit; the bucket is its top shardBits — monotone
      val rows = df.withColumn("__h", seededHash(col(idCol), seed))
        .withColumn("__b", shiftright(col("__h"), 60 - sb))
      val offs = rows
        .groupBy((strata.map(col) :+ col("__b")): _*)
        .agg(sum(tok).as("__btok"))
        .withColumn("__off", coalesce(
          sum(col("__btok")).over(W.partitionBy(strata.map(col): _*)
            .orderBy(col("__b").asc)
            .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
        .select((strata.map(col) :+ col("__b") :+ col("__off")): _*)
      val wIn = W.partitionBy((strata.map(col) :+ col("__b")): _*)
        .orderBy(col("__h").asc, col(idCol).asc)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      rows.join(offs, strata :+ "__b")
        .filter(col("__off") <= budget)
        .withColumn("cum_tokens", col("__off") + sum(tok).over(wIn))
        .filter(col("cum_tokens") <= budget)
        .drop("__h", "__b", "__off")
    }
  }

  /** Distribution-matched sampling: within each `bucketCol` cell, keep
    * the same number of rows from every `sideCol` group — the smallest
    * side's count — drawn by seeded hash. This builds CONTRAST SETS
    * whose confound is controlled away: a quality/source classifier
    * trained on curated-vs-crawl must not be able to cheat by reading
    * document length, so bucket by length and the kept sides have
    * identical length histograms by construction. Buckets missing any
    * of the `nSides` expected sides are dropped entirely (a one-sided
    * bucket can't be matched). The draw is the usual repartition-stable
    * hash order.
    *
    * Scale: one shuffle on (bucket, side) for the rank windows plus the
    * per-bucket min — all window-local; buckets × sides are many and
    * bounded (the parallel shape). No joins, no corpus self-anything. */
  def matchedSample(df: DataFrame, sideCol: String, bucketCol: String,
      idCol: String, nSides: Int, seed: Int): DataFrame = {
    require(nSides >= 2, s"matching needs at least 2 sides, got $nSides")
    // a NULL side would form its own window partition — it shrinks every
    // side's cap through the per-bucket min AND leaks its rows into the
    // output (collect_set drops NULLs, so __nsides still matches); a
    // NULL bucket would match rows across "unknown" strata. Both are
    // corrupt metadata for a matching design — fail loudly (the
    // [[keepOneByPriority]] contract), wired through the window keys so
    // every row passes the guard
    val side = when(col(sideCol).isNull, raise_error(concat(
        lit("matchedSample: NULL side for id "), col(idCol).cast("string")))
        .cast(df.schema(sideCol).dataType))
      .otherwise(col(sideCol))
    val bucket = when(col(bucketCol).isNull, raise_error(concat(
        lit("matchedSample: NULL bucket for id "), col(idCol).cast("string")))
        .cast(df.schema(bucketCol).dataType))
      .otherwise(col(bucketCol))
    val wSB = org.apache.spark.sql.expressions.Window.partitionBy(bucket, side)
    val wB = org.apache.spark.sql.expressions.Window.partitionBy(bucket)
    df.withColumn("__rn", row_number()
        .over(wSB.orderBy(seededHash(col(idCol), seed).asc, col(idCol).asc))
        .cast("long"))
      .withColumn("__cnt", count(lit(1)).over(wSB))
      .withColumn("__cap", min(col("__cnt")).over(wB))
      .withColumn("__nsides",
        size(collect_set(side).over(wB)).cast("int"))
      .filter(col("__nsides") === nSides && col("__rn") <= col("__cap"))
      .drop("__rn", "__cnt", "__cap", "__nsides")
  }

  /** Systematic probability-proportional-to-size sampling per stratum:
    * rows are laid out in seeded-hash order, token weights accumulate,
    * and a row is kept exactly when its weight span straddles a
    * `step`-token boundary (`cum DIV step > (cum − w) DIV step`). Each
    * kept row therefore "represents" one step-sized block of tokens —
    * inclusion probability ≈ w/step (rows with w ≥ step are always
    * kept), and a stratum's sample count is proportional to its token
    * mass: the classical systematic PPS design, the right primitive for
    * token-weighted corpus mixing where [[stratifiedCap]]'s equal-count
    * draw would over-represent short-doc strata ([[tokenBudgetSample]]
    * answers a different question — a hard budget prefix, not a rate).
    *
    * Everything is integer (weights, running sums, floor division) in a
    * deterministic order, so the draw is repartition/retry-stable and
    * bit-identical in any engine. Adds `cum` (the running token sum at
    * the row).
    *
    * Scale — the same giant-stratum decomposition as
    * [[tokenBudgetSample]]: a single per-stratum window would pull a
    * dominant source's WHOLE stratum through one task's sort (a 100 TB
    * corpus routinely has one). The hash order is therefore sharded by
    * its own top bits into 2^`shardBits` range buckets (the bucket id
    * is monotone in the hash, so bucket-major + in-bucket order IS the
    * global hash order): per-(stratum, bucket) weight subtotals →
    * prefix-summed bucket offsets over that tiny frame → offsets join
    * back → per-(stratum, bucket) windows run in parallel, and
    * off + in-bucket running sum is exactly the global running sum.
    * Unlike the budget case NO rows can be pruned before the window —
    * every block of the stratum yields a pick — but no task ever sorts
    * more than ~1/2^shardBits of a stratum. Integer addition is
    * associative, so kept rows and `cum` are identical to the
    * one-window definition; `shardBits = 0` IS that single-window shape
    * (no subtotal pass, no join), and `shardBits = -1` (the default)
    * picks between the two from the input's size statistic
    * ([[resolveShardBits]]).
    *
    * Weights must be non-negative integers: a negative weight breaks
    * the boundary-straddle predicate (and the Spark `DIV`-vs-DuckDB
    * `//` truncate/floor parity on negative sums), and a fractional
    * weight would be silently truncated by the long cast — both fail
    * loudly instead. */
  def systematicPps(df: DataFrame, strata: Seq[String], idCol: String,
      weight: Column, step: Long, seed: Int,
      shardBits: Int = -1): DataFrame = {
    require(step >= 1, s"step must be >= 1, got $step")
    require(strata.nonEmpty, "systematicPps needs at least one stratum")
    val sb = resolveShardBits(df, shardBits)
    (Seq("cum", "__w", "__h", "__b", "__off", "__btok")).foreach(c =>
      require(!df.columns.contains(c),
        s"systematicPps uses column '$c'; input already has one"))
    val W = org.apache.spark.sql.expressions.Window
    val wl = when(weight.isNull, raise_error(concat(
        lit("systematicPps: NULL weight for id "),
        col(idCol).cast("string"))).cast("long"))
      .when(weight < 0, raise_error(concat(
        lit("systematicPps: negative weight for id "),
        col(idCol).cast("string"))).cast("long"))
      .when(weight.cast("double") =!= weight.cast("long").cast("double"),
        raise_error(concat(lit("systematicPps: non-integral weight for id "),
          col(idCol).cast("string"))).cast("long"))
      .otherwise(weight.cast("long"))
    if (sb == 0) {
      val wIn = W.partitionBy(strata.map(col): _*)
        .orderBy(col("__h").asc, col(idCol).asc)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      df.withColumn("__w", wl)
        .withColumn("__h", seededHash(col(idCol), seed))
        .withColumn("cum", sum(col("__w")).over(wIn))
        .filter(expr(s"cum DIV $step > (cum - __w) DIV $step"))
        .drop("__w", "__h")
    } else {
      val rows = df.withColumn("__w", wl)
        .withColumn("__h", seededHash(col(idCol), seed))
        .withColumn("__b", shiftright(col("__h"), 60 - sb))
      val offs = rows
        .groupBy((strata.map(col) :+ col("__b")): _*)
        .agg(sum(col("__w")).as("__btok"))
        .withColumn("__off", coalesce(
          sum(col("__btok")).over(W.partitionBy(strata.map(col): _*)
            .orderBy(col("__b").asc)
            .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
        .select((strata.map(col) :+ col("__b") :+ col("__off")): _*)
      val wIn = W.partitionBy((strata.map(col) :+ col("__b")): _*)
        .orderBy(col("__h").asc, col(idCol).asc)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      rows.join(offs, strata :+ "__b")
        .withColumn("cum", col("__off") + sum(col("__w")).over(wIn))
        .filter(expr(s"cum DIV $step > (cum - __w) DIV $step"))
        .drop("__w", "__h", "__b", "__off")
    }
  }
}
