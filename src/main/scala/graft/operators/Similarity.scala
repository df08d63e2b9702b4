package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GraftFunctions
import graft.functions.VectorFunctions._
import graft.functions.expressions.CentroidTable

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design (100 TB):
  *  - [[bruteForceTopK]] broadcasts the (small) query set against the full
  *    corpus — one pass over the big side, no shuffle of the corpus; the
  *    only exchange is the tiny per-query top-k window. This is the exact
  *    baseline.
  *  - [[lshTopK]] first maps every vector to a random-hyperplane bucket
  *    (a narrow projection), then joins queries to corpus *within buckets*
  *    — candidate count drops by ~2^planes, which is the path that holds
  *    when the corpus no longer fits a broadcast-side scan per query.
  */
object Similarity {

  /** Corpus with exact squared norms attached (computed once). Schema
    * contract shared by every operator here: columns `vec_id` and
    * `embedding` (rename upstream if needed). */
  def withNorm2(emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    emb.withColumn("n2", norm2Exact(col("embedding")))
  }

  /** The ONE broadcast-top-k shape shared by [[bruteForceTopK]] and
    * [[hardNegatives]]: join the corpus to the broadcast query frame `q`
    * (needs qid, q_emb, q_n2 + any carried columns) under `cond`, score
    * with the exact fixed-point cosine, rank per query (cosine desc,
    * vec_id tie-break), keep the top k. */
  private def cosineTopK(e: DataFrame, q: DataFrame, cond: Column,
      k: Int): DataFrame = {
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid") && cond)
      .withColumn("cosine",
        cosineFrom(dotExact(col("q_emb"), col("embedding")), col("q_n2"), col("n2")))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Exact top-k cosine neighbors for each query row (queryPred selects
    * queries). Returns (qid, vid, cosine, rank). */
  def bruteForceTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val e = withNorm2(emb)
    val q = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"), col("n2").as("q_n2"))
    cosineTopK(e, q, lit(true), k)
      .select(col("qid"), col("vec_id").as("vid"), col("cosine"), col("rank"))
  }

  /** Hard-negative mining for contrastive training: for each query row,
    * the top-k highest-cosine corpus vectors with a DIFFERENT label —
    * near-misses in embedding space that cross a class boundary, the
    * pairs a contrastive loss learns most from. Input needs
    * (vec_id, embedding, label).
    *
    * Scale: identical shape to [[bruteForceTopK]] — the query set
    * broadcasts, the corpus is scanned once map-side (the label
    * inequality is evaluated inside the broadcast join, so disallowed
    * same-label candidates never reach the top-k window), and the only
    * exchange is the per-query top-k. When the query set outgrows a
    * broadcast, cell-scope it through the IVF quantizer exactly like
    * [[ivfTopK]]. Returns (qid, q_label, vid, neg_label, cosine, rank). */
  def hardNegatives(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val e = withNorm2(emb)
    val q = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("label").as("q_label"),
        col("embedding").as("q_emb"), col("n2").as("q_n2"))
    cosineTopK(e, q, col("label") =!= col("q_label"), k)
      .select(col("qid"), col("q_label"), col("vec_id").as("vid"),
        col("label").as("neg_label"), col("cosine"), col("rank"))
  }

  /** Embedding-space outlier detection: each vector's exact squared-L2
    * distance to its own label's centroid, ranked within the label —
    * the top `topN` farthest members are the mislabeled/garbage
    * candidates a curation pass reviews or drops. Input needs
    * (vec_id, embedding, label).
    *
    * The centroid is the same fixed-point mean as [[kmeansCentroids]]
    * (Σfloor(x·2^40)/2^40)/n — bit-identical in any IEEE engine), the
    * distance the same n2 + c_n2 − 2·dot composition as [[ivfTopK]]'s
    * assignment, so verdicts are deterministic and oracle-mirrorable.
    *
    * Scale: one partial-agg pass builds label-count-many centroids (array
    * buffer, no dimension explode), the tiny centroid frame broadcasts
    * back, distances are map-side, and the rank window partitions by
    * label — no corpus self-join anywhere. Labels with huge membership
    * parallelize the distance scan and only sort within the label.
    * Returns (label, vec_id, dist2, rank) for the topN per label. */
  def labelCentroidOutliers(emb: DataFrame, topN: Int): DataFrame = {
    require(topN >= 1)
    val e = withNorm2(emb)
    val cents = e.groupBy(col("label"))
      .agg(graft.functions.GraftFunctions.fpVecSum(col("embedding")).as("s"),
        count(lit(1)).as("n"))
      .select(col("label"), transform(col("s"),
        v => (v.cast("double") / lit(1099511627776.0)) / col("n")).as("c_emb"))
      .withColumn("c_n2", norm2Exact(col("c_emb")))
    val w = Window.partitionBy(col("label")).orderBy(desc("dist2"), asc("vec_id"))
    e.join(broadcast(cents), Seq("label"))
      .withColumn("dist2",
        col("n2") + col("c_n2") - lit(2.0) * dotExact(col("embedding"), col("c_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("label"), col("vec_id"), col("dist2"), col("rank"))
  }

  /** Corpus covariance matrix of the embedding column — the input to
    * PCA / whitening / decorrelation stages of an embedding pipeline.
    * cov(i,j) = E[x_i·x_j] − E[x_i]·E[x_j], both moments accumulated as
    * fixed-point (2^40) integer sums, so the matrix is bit-identical in
    * any IEEE engine and independent of partitioning.
    *
    * Scale: the upper-triangle products are built PER ROW into one
    * dim·(dim+1)/2-long array and aggregated with the same array-buffer
    * partial aggregate as the centroids (FixedPointVectorSum) — one
    * map-side corpus pass, one buffer per partition through the
    * exchange, and NO dimension-pair explode (which would multiply the
    * corpus ~2000× through the shuffle at dim 64). The final unfurl to
    * (i, j, cov) rows posexplodes a single aggregated row.
    *
    * Unlike the other fpVecSum consumers (bounded groups: cells, labels)
    * this aggregates ONE global group, so elements are pre-scaled by
    * 2^-10 — means accumulate at 2^30, products at 2^20 — which raises
    * int64 capacity to n · max(|x|·2^30, x²·2^20) < 2^63: ~8.6 B rows at
    * |x| ≈ 1 (resolution 2^-20 on raw moments — ample for PCA). The
    * bound is ENFORCED in-plan from the aggregated row count and max
    * component, and a row whose length ≠ dim fails loudly rather than
    * silently mislabeling every cell after it.
    * Returns the upper triangle: (i, j, cov), i ≤ j, 0-based. */
  def covarianceMatrix(emb: DataFrame, dim: Int): DataFrame = {
    require(dim >= 1)
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val raw = when(size(col("embedding")) === dim,
        col("embedding").cast("array<double>"))
      .otherwise(raise_error(concat(
        lit("covarianceMatrix: embedding length "),
        size(col("embedding")).cast("string"), lit(s" != dim $dim"))))
    // exact ÷2^10 per element: fpVecSum's floor(v·2^40) becomes
    // floor(x·2^30) for means and floor(x_i·x_j·2^20) for products
    val dbl = transform(raw, x => x / lit(1024.0))
    // row-major upper triangle: for i in 0..dim-1, products x_i·x_j, j ≥ i
    val tri = flatten(transform(dbl, (xi, i) =>
      transform(slice(dbl, i + lit(1), lit(dim) - i), xj => xi * xj)))
    val agg = emb.agg(
      graft.functions.GraftFunctions.fpVecSum(tri).as("sp"),
      graft.functions.GraftFunctions.fpVecSum(dbl).as("sm"),
      count(lit(1)).as("n"),
      max(array_max(transform(raw, x => abs(x)))).as("mx"))
    val iIdx = for (i <- 0 until dim; j <- i until dim) yield i
    val jIdx = for (i <- 0 until dim; j <- i until dim) yield j
    val scaleM = lit(1.073741824e9)  // 2^30 (means)
    val scaleP = lit(1048576.0)      // 2^20 (products)
    // loud capacity check: the int64 buffers must not have wrapped
    val nD = col("n").cast("double")
    val unsafe = (nD * col("mx") * scaleM > lit(9.0e18)) ||
      (nD * col("mx") * col("mx") * scaleP > lit(9.0e18))
    def mean(idx: Column): Column =
      (element_at(col("sm"), idx + 1).cast("double") / scaleM) / col("n")
    agg
      .select(col("sm"), col("n"), col("mx"),
        posexplode(col("sp")).as(Seq("pos", "spv")))
      .select(
        element_at(typedlit(iIdx), col("pos") + 1).as("i"),
        element_at(typedlit(jIdx), col("pos") + 1).as("j"),
        col("spv"), col("sm"), col("n"), col("mx"))
      .select(col("i"), col("j"),
        when(unsafe, raise_error(concat(
          lit("covarianceMatrix: fixed-point capacity exceeded (n="),
          col("n").cast("string"), lit(", max|x|="),
          col("mx").cast("string"), lit(")"))))
          .otherwise(((col("spv").cast("double") / scaleP) / col("n"))
            - mean(col("i")) * mean(col("j"))).as("cov"))
  }

  /** The SCALING.md occupancy rule, shared by every knob that must grow
    * with the corpus (LSH plane counts, coarse-quantizer k): the number
    * of bits needed so that `t · 2^bits >= n` — all-integer
    * (bitLength(⌈n/t⌉ − 1)), so a DuckDB mirror derives the identical
    * value from COUNT(*) via `length(bin(greatest((n + t-1) // t - 1,
    * 0)))`; float log2 could round differently at exact powers of two
    * across engines. */
  private[graft] def occupancyBits(n: Long, t: Long): Int = {
    require(t >= 1, s"occupancy target must be >= 1, got $t")
    java.lang.Long.toBinaryString(math.max((n + t - 1) / t - 1, 0L)).length
  }

  /** Corpus row count feeding the auto-knob rules
    * ([[occupancyBits]]-derived plane counts / quantizer k), measured once
    * per session, lineage and file listing ([[graft.core.Measured]]), so
    * repeated invocations over the same corpus — q48/q82/q97/q125 in one
    * Verify/Bench run, or bench reps — pay the narrow count scan ONCE,
    * not once per plan construction (ADVICE r9), while a table
    * overwritten in place is counted again.
    *
    * PARITY CONTRACT: pass the same UNFILTERED corpus the oracle's
    * COUNT(*) sees — the derived knob is mirrored integer-exactly in
    * DuckDB from COUNT(*) of the full table, so deriving it from a
    * filtered frame would silently diverge the two engines' parameters
    * (same contract as `targetOccupancy`/`targetCell` themselves). */
  private[graft] def corpusCount(df: DataFrame): Long =
    graft.core.Measured.once(df, "rows")(df.count())

  /** Embedding-cosine near-duplicate pairs: candidates from shared
    * random-hyperplane buckets (the scale path — no n² comparison), exact
    * fixed-point cosine verification. Returns (a, b, cosine), a < b.
    *
    * This is a corpus × corpus bucket self-join, so a FIXED plane count
    * is quadratic in the corpus: candidate pairs are Σ occupancy² over
    * buckets ≈ n²/2^planes (the q125 shape — measured superlinear in the
    * sf1 soak at planes=4). `targetOccupancy = Some(t)` engages the
    * [[occupancyBits]] rule — planesUsed = max(planes,
    * occupancyBits(n, t)) — holding expected bucket occupancy (and with
    * it per-bucket verify cost) near `t` as the corpus grows, at the
    * usual LSH price: more planes ⇒ fewer candidate pairs ⇒ recall of
    * weak-cosine pairs drops while strong pairs keep colliding. Costs
    * one narrow count pass; `None` keeps the caller's fixed count. */
  def nearDupPairs(emb: DataFrame, planes: Int, dim: Int,
      threshold: Double, targetOccupancy: Option[Long] = None): DataFrame = {
    val planesUsed = targetOccupancy.fold(planes) { t =>
      math.min(math.max(planes, occupancyBits(corpusCount(emb), t)), 30)
    }
    // NOT persisted: both self-join sides shuffle on `bucket` over an
    // identical subtree, so ReusedExchange computes it once; a .persist()
    // here would leak cached blocks across invocations (nothing owns the
    // unpersist) — material memory pressure at corpus scale.
    val e = withNorm2(emb)
      .withColumn("bucket", lshBucket(col("embedding"), planesUsed, dim))
      .select("vec_id", "embedding", "n2", "bucket")
    val a = e.select(col("vec_id").as("a"), col("embedding").as("emb_a"),
      col("n2").as("n2_a"), col("bucket"))
    val b = e.select(col("vec_id").as("b"), col("embedding").as("emb_b"),
      col("n2").as("n2_b"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("a") < col("b"))
      .withColumn("cosine",
        cosineFrom(dotExact(col("emb_a"), col("emb_b")), col("n2_a"), col("n2_b")))
      .filter(col("cosine") >= threshold)
      .select("a", "b", "cosine")
  }

  /** IVF-style ANN top-k (the inverted-file scale path next to
    * [[lshTopK]]): a coarse quantizer of `kCentroids` centroids, every
    * corpus vector assigned to its nearest centroid (one map-side pass
    * against a broadcast centroid table — no join, no aggregate), queries probe
    * their `nprobe` nearest cells and verify with exact fixed-point
    * cosine. Centroids are a deterministic corpus sample (the vectors
    * with `vec_id < kCentroids`) — FAISS-style IVF also trains its
    * quantizer on a sample; a deterministic sample keeps the DuckDB
    * oracle exact, and swapping in k-means centroids changes only the
    * `cents` frame.
    *
    * Unlike LSH buckets, each corpus vector lives in exactly one cell, so
    * (qid, vid) candidates are unique without a distinct. At scale:
    * assignment is corpus × k dot products, map-side only, with no
    * shuffle; probe cost per query is
    * nprobe · n / kCentroids — grow kCentroids ~ √n to balance the two.
    * Returns (qid, vid, cell, cosine, rank). */
  def ivfTopK(emb: DataFrame, queryPred: Column, kCentroids: Int, nprobe: Int,
      k: Int): DataFrame = {
    val e = withNorm2(emb)
    val cents = e.filter(col("vec_id") < kCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"),
        col("n2").as("c_n2"))
    ivfSearch(e, cents, queryPred, nprobe, k)
  }

  /** A quantizer frame `cents` (cid, c_emb, c_n2) — k rows — collected
    * into a driver-held centroid table. Rows with a NULL cid name no
    * cell and are dropped. */
  private[graft] def collectCentroids(cents: DataFrame): CentroidTable =
    CentroidTable(cents
      .select(col("cid").cast("long"), col("c_emb").cast("array<double>"),
        col("c_n2").cast("double"))
      .filter(col("cid").isNotNull)
      .collect().toSeq.map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) null
          else r.getSeq[Any](1).map(_.asInstanceOf[java.lang.Double]).toArray,
          if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2)))
      })

  /** Nearest-centroid assignment, the ONE definition shared by IVF
    * search, k-means training, semantic dedup and IVF staging: `e`
    * (needs vec_id, embedding, n2) plus `cell`, the cid of the nearest
    * centroid by squared L2 from exact fixed-point parts (n2v + n2c −
    * 2·dot — the same few IEEE ops in both engines) with the (dist, cid)
    * tie-break mirroring the oracle's ROW_NUMBER ordering ⇒ bit-identical
    * cells everywhere.
    *
    * A projection: the k centroids reach the executors as one broadcast
    * table and [[graft.functions.expressions.NearestCell]] scores each row
    * against all of them in one codegen'd call — no corpus × k rows, no
    * argmin aggregate, no shuffle, and the row keeps its embedding, so
    * no consumer joins back to the corpus. Each row is assigned on its
    * own (vec_id is the embeddings key). With no centroids nothing is
    * assigned, as a cross join with an empty quantizer gives. */
  private[graft] def assignCells(e: DataFrame, cents: CentroidTable): DataFrame =
    if (cents.size == 0) e.filter(lit(false)).withColumn("cell", lit(null).cast("long"))
    else e.withColumn("cell", GraftFunctions.nearestCell(col("embedding"), col("n2"),
      GraftFunctions.broadcastCentroids(e.sparkSession, cents)))

  /** IVF search against a given quantizer frame `cents` (cid, c_emb,
    * c_n2) — shared by the sampled ([[ivfTopK]]) and trained
    * ([[ivfTrainedTopK]]) quantizers. */
  private def ivfSearch(e: DataFrame, cents: DataFrame, queryPred: Column,
      nprobe: Int, k: Int): DataFrame = {
    val assign = assignCells(e, collectCentroids(cents))
    rankMembers(probeCells(e.filter(queryPred), cents, nprobe),
      assign.select(col("cell"), col("vec_id"), col("embedding"), col("n2")), k)
  }

  /** Each query's `nprobe` nearest cells: queries `q` (vec_id,
    * embedding, n2) × the broadcast quantizer `cents` (cid, c_emb,
    * c_n2), ranked by squared L2 with the oracle's (dist, cid)
    * tie-break. Returns (qid, q_emb, q_n2, cell). */
  private def probeCells(q: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val wp = Window.partitionBy(col("qid")).orderBy(col("dist"), col("cid"))
    q.select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("n2").as("q_n2"))
      .crossJoin(broadcast(cents))
      .withColumn("dist",
        col("q_n2") + col("c_n2") - lit(2.0) * dotExact(col("q_emb"), col("c_emb")))
      .withColumn("pr", row_number().over(wp)).filter(col("pr") <= nprobe)
      .select(col("qid"), col("q_emb"), col("q_n2"), col("cid").as("cell"))
  }

  /** The IVF verify tail: probed cells joined to their `members` (cell,
    * vec_id, embedding, n2), exact fixed-point cosine, each query's top
    * `k` other vectors. Returns (qid, vid, cell, cosine, rank). */
  private def rankMembers(probes: DataFrame, members: DataFrame,
      k: Int): DataFrame = {
    val wr = Window.partitionBy(col("qid")).orderBy(desc("cosine"), col("vec_id"))
    probes.join(members, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine",
        cosineFrom(dotExact(col("q_emb"), col("embedding")), col("q_n2"), col("n2")))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("vid"), col("cell"), col("cosine"),
        col("rank"))
  }

  /** Deterministic Lloyd's k-means over the corpus, oracle-mirrorable:
    * init = the deterministic sample (vec_id < kCentroids), each
    * iteration assigns every vector to its nearest centroid by the exact
    * fixed-point squared-L2 and recomputes per-cell means with
    * [[graft.functions.GraftFunctions.fpVecSum]] (integer sums →
    * (Σfloor(x·2^40)/2^40)/n — the identical pair of IEEE divisions in
    * DuckDB), so trained centroids are bit-identical in both engines.
    * Cells that lose all members keep their previous centroid.
    *
    * Scale: the k centroids live on the DRIVER between iterations. Each
    * iteration is one job over the training slice — the map-side
    * nearest-centroid kernel ([[assignCells]]) feeding a partial-agg
    * `groupBy(cell)` on an array buffer (no dimension explode) — whose
    * ≤ k (sum, count) rows are collected; the means are the same two
    * IEEE divisions, taken on the driver. No corpus-sized state crosses
    * iterations, so there is no join, pin or lineage to cut.
    *
    * `trainPred` restricts the TRAINING passes (assignment + means) to a
    * slice of the corpus — the 100 TB shape: a coarse quantizer needs a
    * representative sample, not every vector, so training on a
    * deterministic hash sample (Sampling.hashBucket) cuts per-iteration
    * cost from a full-corpus pass to a sample pass while the downstream
    * assignment still covers the whole corpus exactly once (FAISS trains
    * IVF on a sample for the same reason). Seeds stay the global
    * deterministic `vec_id < kCentroids` sample either way. `None`
    * trains on everything (the pre-round-6 behavior).
    * Returns (cid, c_emb: array<double>) as a local relation. */
  def kmeansCentroids(emb: DataFrame, kCentroids: Int, iters: Int,
      trainPred: Option[Column] = None): DataFrame = {
    val e = withNorm2(emb)
    val tr = trainPred.map(e.filter).getOrElse(e)
    // initial quantizer = the deterministic sample, as array<double>
    val init = e.filter(col("vec_id") < kCentroids)
      .select(col("vec_id").as("cid"),
        col("embedding").cast("array<double>").as("c_emb"))
    val cid = init.schema("cid")
    // (cid in the id's own type, cid as long, c_emb with NULLs boxed)
    var cents = init.collect().toSeq.map { r =>
      (r.get(0), r.getAs[Number](0).longValue,
        if (r.isNullAt(1)) null
        else r.getSeq[Any](1).map(_.asInstanceOf[java.lang.Double]).toArray)
    }
    for (_ <- 1 to iters) {
      val table = CentroidTable(cents.map { case (_, id, c) =>
        (id, c, CentroidTable.norm2(c)) })
      val means = assignCells(tr, table)
        .groupBy(col("cell"))
        .agg(GraftFunctions.fpVecSum(col("embedding")).as("s"),
          count(lit(1)).as("n"))
        .collect().map { r =>
          val n = r.getLong(2).toDouble
          r.getLong(0) -> r.getSeq[Long](1).map(s =>
            java.lang.Double.valueOf((s.toDouble / 1099511627776.0) / n)).toArray
        }.toMap
      cents = cents.map { case (c, id, v) => (c, id, means.getOrElse(id, v)) }
    }
    emb.sparkSession.createDataFrame(
      cents.map { case (c, _, v) => Row(c, Option(v).map(_.toSeq).orNull) }.asJava,
      StructType(Seq(cid, StructField("c_emb", ArrayType(DoubleType)))))
  }

  /** [[ivfTopK]] with a TRAINED coarse quantizer ([[kmeansCentroids]])
    * instead of the raw sample — better-balanced cells ⇒ fewer wasted
    * probe candidates for the same nprobe (quantizer quality vs probe
    * cost; SCALING.md). `trainPred` trains the quantizer on a slice
    * (hash-sample it at scale) while search still assigns and probes the
    * FULL corpus — the q128 shape. */
  def ivfTrainedTopK(emb: DataFrame, queryPred: Column, kCentroids: Int,
      iters: Int, nprobe: Int, k: Int,
      trainPred: Option[Column] = None): DataFrame = {
    val e = withNorm2(emb)
    val cents = kmeansCentroids(emb, kCentroids, iters, trainPred)
      .withColumn("c_n2", norm2Exact(col("c_emb")))
    ivfSearch(e, cents, queryPred, nprobe, k)
  }

  /** Stage a trained IVF index to `path`: `centroids/` (k rows — cid,
    * c_emb, c_n2) plus `assignment/` cell-PARTITIONED parquet carrying
    * (vec_id, embedding, n2) per member, so probes never join back to
    * the corpus table.
    *
    * The ANN production shape ([[ivfProbeStaged]] / [[appendToIvfIndex]]
    * complete it), mirroring what Dedup.stageSignatureBuckets does for
    * text dedup: training + full-corpus assignment are the ONCE-per-snapshot
    * cost; each query batch afterwards probes the staged table. Because
    * `assignment` is hive-partitioned on `cell`, a probe's bucket join
    * triggers dynamic partition pruning — the scan reads ONLY the
    * nprobe·|queries| probed cells' files, ~nprobe/k of the index
    * regardless of corpus size (plan-asserted in ScaleSpec). `splits`
    * spreads each cell over that many writer tasks/files — size it so
    * cell_files ≈ cell_bytes / 128 MB at scale.
    *
    * The two subtables are INTERDEPENDENT (assignment cells are defined
    * by the centroids), so the write — including a RESTAGE over an
    * existing index — commits through
    * [[graft.sources.Layout.atomicStagedWrite]]: readers see either the
    * whole old index or the whole new one, never new centroids paired
    * with old assignments (which would probe the wrong cells silently);
    * a crash mid-restage is repaired by the recovery pass at the start
    * of the next call (FaultSpec-proven). Single-writer per path, per
    * that contract. */
  def stageIvfIndex(emb: DataFrame, kCentroids: Int, iters: Int,
      path: String, trainPred: Option[Column] = None, splits: Int = 1): Unit = {
    require(splits >= 1, s"splits must be >= 1, got $splits")
    graft.sources.Layout.atomicStagedWrite(emb.sparkSession, path) { tmp =>
      val e = withNorm2(emb)
      val cents = kmeansCentroids(emb, kCentroids, iters, trainPred)
        .withColumn("c_n2", norm2Exact(col("c_emb")))
      cents.coalesce(1).write.parquet(s"$tmp/centroids")
      // `cents` is a local relation (k rows held on the driver), so
      // collecting it again for the assignment costs no job
      val table = collectCentroids(cents)
      val asg = assignCells(e, table)
        .select(col("cell"), col("vec_id"), col("embedding"), col("n2"))
      asg.repartition(col("cell"), pmod(hash(col("vec_id")), lit(splits)))
        .write.partitionBy("cell").parquet(s"$tmp/assignment")
      // The manifest records both sub-tables' schemas — a partitionBy
      // write of an EMPTY frame emits zero data files, and staging an
      // empty snapshot (a date-scoped run that matched nothing) must
      // yield a READABLE empty index — and the embedding dimension, a
      // property of the INDEX, so no probe batch runs a job to learn it.
      // An empty or null-vector snapshot records no dim; the probe's
      // broadcast gate then gives no hint.
      graft.sources.Layout.writeManifest(emb.sparkSession, tmp,
        graft.sources.Layout.Manifest(IvfKind, IvfVersion,
          params = Map("k_centroids" -> kCentroids.toLong,
            "iters" -> iters.toLong),
          schemas = Map("centroids" -> cents.schema.toDDL,
            "assignment" -> asg.schema.toDDL),
          measures = table.embs.find(_ != null)
            .map(c => "dim" -> c.length.toLong).toMap))
    }
  }

  private[graft] val IvfKind = "ivf-index"
  private val IvfVersion = 1

  /** The manifest of the IVF index at `path`, checked for `op`. */
  private def ivfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      op: String): graft.sources.Layout.Manifest =
    graft.sources.Layout.requireManifest(spark, path, op, Set(IvfKind),
      IvfVersion, Map.empty, "restage it with stageIvfIndex")

  /** Assign a NEW batch of vectors against a staged index's FROZEN
    * centroids and append them to the cell-partitioned assignment —
    * map-only (one broadcast of k centroids, no shuffle beyond the
    * write), so ingest cost is batch-sized. Because cell assignment
    * depends only on the frozen centroids, probing after an append is
    * bit-identical to probing an index staged over the union (spec-
    * proven) — the q113-style ingest contract for ANN. Re-train + restage
    * when drift monitors (q119) say the quantizer has aged. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, newEmb: DataFrame, splits: Int = 1): Unit =
    // lock keys on the index ROOT (same key as restage/compact), so all
    // three lifecycle ops of one index serialize — rationale at
    // Layout.withTableWriteLock
    graft.sources.Layout.withTableWriteLock(spark, path) {
      val m = ivfIndex(spark, path, "appendToIvfIndex")
      val cents = collectCentroids(
        graft.sources.Layout.readStaged(spark, path, m, "centroids"))
      assignCells(withNorm2(newEmb), cents)
        .select(col("cell"), col("vec_id"), col("embedding"), col("n2"))
        .repartition(col("cell"), pmod(hash(col("vec_id")), lit(splits)))
        .write.mode("append").partitionBy("cell").parquet(s"$path/assignment")
    }

  /** Compact over-fragmented cells of a staged IVF assignment table.
    *
    * [[appendToIvfIndex]] adds ≥1 file per touched cell per batch, so
    * months of ingest turn hot cells into thousands of small files —
    * which degrades exactly the scan [[ivfProbeStaged]]'s dynamic
    * partition pruning is meant to keep cheap. The shared minor-
    * compaction machinery ([[graft.sources.Layout.compactHiveDirs]] —
    * semantics, crash recovery, and the streaming-sink caveat documented
    * there) rewrites ONLY the cells whose file count exceeds `maxFiles`
    * and the ~128 MB-per-file ideal (the same sizing rule as
    * [[stageIvfIndex]]'s `splits`), leaving cold cells' files
    * byte-identical. Returns the number of cells rewritten. Row content
    * is preserved exactly (spec-proven: probes are bit-identical
    * before/after). */
  def compactIvfCells(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFiles: Int = 8): Int =
    graft.sources.Layout.withTableWriteLock(spark, path) {
      graft.sources.Layout.compactHiveDirs(spark, s"$path/assignment", "cell=",
        maxFiles)
    }

  /** Whether a measured probe frame (row count + max embedding width)
    * is safely broadcastable: ≤2^17 rows (the degenerate-dim guard) AND
    * ≤64 MB estimated at rows·(8·dim + 48) — q_emb doubles plus
    * qid/q_n2/row overhead. Rows alone are not enough (ADVICE r11:
    * 2^17 rows at dim 1024 is ~1 GB — inside Spark's 8 GB hard limit
    * but enough to OOM a small executor). Pure so the bound is
    * unit-testable without staging a gigabyte frame. */
  private[graft] def broadcastProbeFits(rows: Long, dim: Long): Boolean =
    rows <= (1L << 17) && rows * (8L * dim + 48L) <= (64L << 20)

  /** IVF ANN top-k against a [[stageIvfIndex]] table: queries rank the
    * staged centroids (broadcast — k rows), keep `nprobe` cells, and the
    * cell equi-join against the partitioned assignment scan prunes to
    * exactly those cells' files via dynamic partition pruning. Same
    * result contract as [[ivfTrainedTopK]] over the same quantizer
    * (oracle-gated as q131 ≡ q128): (qid, vid, cell, cosine, rank).
    * `queries` needs (vec_id, embedding); `vec_id =!= qid` excludes the
    * query itself when it is part of the corpus. */
  def ivfProbeStaged(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val m = ivfIndex(spark, path, "ivfProbeStaged")
    val probes = probeCells(withNorm2(queries),
      graft.sources.Layout.readStaged(spark, path, m, "centroids"), nprobe)
    // pin the cell to the cid's long so the join and the q128-shared
    // oracle see one type whatever the recorded partition type
    val members = graft.sources.Layout.readStaged(spark, path, m, "assignment")
      .withColumn("cell", col("cell").cast("long"))
    // STATIC partition pruning, not DPP-only: the probed cell set is
    // bounded by contract (≤ |queries|·nprobe and ≤ kCentroids — the
    // query batch ranks a broadcast centroid frame), so resolve it
    // driver-side (one tiny job over queries × centroids) and push a
    // literal IN filter into the cell-partitioned scan. Dynamic
    // partition pruning alone is a HEURISTIC here: Spark inserts the
    // filter `onlyInBroadcast` when its benefit estimate fails, and if
    // broadcast reuse then doesn't line up the filter silently degrades
    // to `dynamicpruningexpression(true)` and the probe reads EVERY
    // cell's files — ProbeIOSpec observed exactly that numerically
    // before this change (the plan-string pin kept passing). The static
    // IN prunes at file-listing time at any scale; the 64k cap guards
    // the degenerate everything-probed case, where pruning buys nothing
    // anyway and the plain join is correct. One aggregate pass yields
    // both the cell list AND the probe row count (the broadcast gate
    // below) — no second job. The probes-side cell is cast to long
    // BEFORE the collect, same defensive cast as the members side: a
    // staged index whose cid landed as int32 (schema evolution,
    // different writer) must not ClassCastException at probe time
    // (ADVICE r10).
    val cellCounts = probes.groupBy(col("cell").cast("long").as("cell"))
      .count().limit(65537).collect()
    val pruned =
      if (cellCounts.length <= 65536)
        members.filter(col("cell").isInCollection(cellCounts.map(_.getLong(0)).toSeq))
      else members
    // The bounded probe frame is the natural broadcast build side, but
    // only the probed CELL count is bounded by contract — the probe ROW
    // count is |queries|·nprobe with `queries` caller-supplied, and an
    // unconditional hint bypasses autoBroadcastJoinThreshold straight
    // into the 8 GB / 512M-row broadcast hard limits (ADVICE r10). Gate
    // the hint on the measured BYTES, not rows alone (ADVICE r11: a
    // 2^17-row cap at dim-1024 embeddings is ~1 GB — legal but enough to
    // OOM a small executor): the cell-count pass yields the probe row
    // count, and the embedding width is the index's recorded dim —
    // probe q_emb has the same dimension by construction, and reading
    // it there keeps the array column out of the cell-count aggregate
    // (a first cut ran max(size(q_emb)) inside it and cost q131 a
    // consistent ~1.3× at sf0.1). Together
    // rows·(8·dim + rowOverhead) bounds the broadcast within 64 MB —
    // comfortably inside any executor, ~an order of magnitude over
    // typical autoBroadcastJoinThreshold (the hint exists because the
    // planner cannot SIZE this frame, not to exceed the user's
    // tolerance by orders of magnitude). The 2^17 row cap stays as the
    // degenerate-dim guard; when cellCounts hit the 64k limit the count
    // is unknown — treat as unbounded (no hint) and let AQE pick.
    val build =
      if (cellCounts.length <= 65536) {
        val rows = cellCounts.map(_.getLong(1)).sum
        // an index that records no dim (empty or null-vector snapshot)
        // gets no hint
        if (m.measures.get("dim").exists(broadcastProbeFits(rows, _)))
          probes.hint("broadcast")
        else probes
      } else probes
    rankMembers(build, pruned, k)
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus with the
    * trained coarse quantizer ([[kmeansCentroids]]), compare vectors only
    * WITHIN their cluster by exact fixed-point cosine, and drop every
    * vector that has a lower-id cluster-mate above `threshold` (keep-one =
    * lowest vec_id — deterministic, retry-stable).
    *
    * Scale: the all-pairs comparison is cluster-scoped, never global —
    * cost is Σ|cell|², bounded by growing kCentroids with the corpus;
    * assignment is one broadcast pass, the pair join shuffles on `cell`
    * once, and the keep-one verdict is a partial-agg min per dropped id.
    *
    * `targetCell = Some(t)` makes that growth automatic: a FIXED k is
    * quadratic (Σ|cell|² ≈ n²/k — measured superlinear in the sf1 soak
    * at k=8), so the rule grows the quantizer to kUsed = max(kCentroids,
    * 2^occupancyBits(n, t)), holding expected cell size near `t` and
    * within-cell pair cost near t·n — linear. Power-of-two k keeps the
    * rule integer-exact for the oracle mirror (same [[occupancyBits]]
    * derivation from COUNT(*)); seeds stay the deterministic
    * `vec_id < kUsed` sample. Costs one narrow count pass. Semantics at
    * larger k: vectors quantized into different cells are never
    * compared, exactly as a FAISS-style SemDeDup shards its comparison —
    * the verdict is parameterized by the same rule in both engines.
    * `None` keeps the caller's fixed k. At 1000× scale pair cost stays
    * t·n, while assignment cost grows n·k = n²/t — past ~10⁸ vectors,
    * train/assign against a staged index with a two-level quantizer
    * ([[stageIvfIndex]] + cell-scoped sub-assignment) instead of one
    * flat broadcast.
    *
    * Returns one row per corpus vector: (vec_id, cell, dup_of, kept)
    * with dup_of = lowest-id duplicate partner (null when kept). */
  def semanticDedup(emb: DataFrame, kCentroids: Int, iters: Int,
      threshold: Double, targetCell: Option[Long] = None): DataFrame = {
    val kUsed = targetCell.fold(kCentroids) { t =>
      math.max(kCentroids, 1 << math.min(occupancyBits(corpusCount(emb), t), 20))
    }
    // Sample-trained quantizer (the FAISS pattern ivfTrainedTopK already
    // uses): with the auto-k rule engaged, k grows ~n/t, so FULL-corpus
    // training costs n·k = n²/t dots — the sf10 soak measured q82/q97
    // just past the linear budget on exactly this term. Training on the
    // deterministic prefix `vec_id < max(32·k, 20480)` caps that pass at
    // 32 training vectors per centroid while the (irreducible) final
    // full-corpus assignment stays the dominant term. The training set
    // is DEFINED by id (`vec_id < cap`), never by count: an earlier cut
    // skipped the filter when COUNT(*) ≤ cap, silently assuming dense
    // ids — the replay corpus gate (DUPCHECK: same content re-landed
    // under ids +10⁹) broke that assumption and diverged q82/q97 from
    // the mirror, whose tre CTE always applies the predicate. The filter
    // is a pushed-down scan predicate (free at gate SFs where every id
    // is below the cap, a read WIN at scale); the rule is integer-exact
    // from COUNT(*), mirrored by dkSemDedup's kk/tre CTEs. Fixed-k
    // callers (targetCell = None) keep full-corpus training.
    val trainPred = targetCell.map { _ =>
      col("vec_id") < lit(math.max(32L * kUsed, 20480L))
    }
    // NOT pinned: ev feeds three consumers, but its assignment is a
    // map-side projection (k dots per row), cheaper to re-derive than a
    // checkpoint job — a pin of the older aggregate form already
    // measured neutral-to-negative at sf0.1 (r15) and sf1 (r16).
    val ev = assignCells(withNorm2(emb), collectCentroids(
        kmeansCentroids(emb, kUsed, iters, trainPred)
          .withColumn("c_n2", norm2Exact(col("c_emb")))))
      .select(col("vec_id"), col("cell"), col("embedding"), col("n2"))
    val a = ev.select(col("cell"), col("vec_id").as("a"),
      col("embedding").as("emb_a"), col("n2").as("n2_a"))
    val b = ev.select(col("cell"), col("vec_id").as("b"),
      col("embedding").as("emb_b"), col("n2").as("n2_b"))
    val drops = a.join(b, Seq("cell")).filter(col("a") < col("b"))
      .withColumn("cosine",
        cosineFrom(dotExact(col("emb_a"), col("emb_b")), col("n2_a"), col("n2_b")))
      .filter(col("cosine") >= threshold)
      .groupBy(col("b")).agg(min(col("a")).as("dup_of"))
    ev.join(drops, col("vec_id") === col("b"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
  }

  /** Query-side join strategy for the LSH bucket joins, the knob that
    * separates the two production shapes:
    *
    *  - POINT QUERIES (a handful of probe vectors): broadcast the query
    *    side — the corpus is scanned once map-side, no exchange of the
    *    big side at all. This was the only path before round 6.
    *  - CORPUS-SIZED QUERY SETS ("re-embed everything and find all
    *    neighbors" — e.g. the full-neighbor sweep a q119 centroid-drift
    *    alarm escalates to): broadcasting would OOM the driver and every
    *    executor; instead SHUFFLE both sides on the bucket key
    *    (sort-merge join). The join is hinted so neither the static
    *    planner's size guess nor AQE can silently re-broadcast a
    *    corpus-sized frame.
    *
    * `broadcastQueries = None` picks automatically: a bounded
    * `limit(threshold+1).count()` probe (never holds more than
    * threshold+1 rows) decides by the ACTUAL query count. The probe adds
    * one narrow corpus pass, which the surrounding job already pays
    * several of — callers who know their shape pass `Some(true/false)`
    * and skip it. */
  private def joinQueries(eb: DataFrame, q: DataFrame, cond: Column,
      broadcastQueries: Option[Boolean], maxBroadcastQueries: Long): DataFrame = {
    val useBroadcast = broadcastQueries.getOrElse {
      require(maxBroadcastQueries >= 0 && maxBroadcastQueries < Int.MaxValue,
        s"maxBroadcastQueries out of range: $maxBroadcastQueries")
      q.limit(maxBroadcastQueries.toInt + 1).count() <= maxBroadcastQueries
    }
    if (useBroadcast) eb.join(broadcast(q), cond)
    else eb.join(q.hint("shuffle_merge"), cond)
  }

  /** OR-amplified multi-table LSH ANN top-k: `sets` INDEPENDENT
    * hyperplane sets (set s uses the md5 plane family at offset
    * s·planes), and a corpus vector is a candidate when it shares a
    * bucket with the query in ANY set. This is the standard L-table
    * LSH amplification [[lshTopK]]'s scaladoc defers to: recall rises
    * toward exact with each added set while PER-SET bucket occupancy —
    * and therefore verify cost per table — stays constant; total cost
    * is ~sets × one-table cost, a linear price for an exponential
    * recall gap.
    *
    * Shape: one posexplode to (vec_id, set, bucket) — sets × corpus
    * narrow rows, map-only — then the [[joinQueries]] bucket join keyed
    * on (set, bucket): query side broadcast for point queries,
    * shuffle-joined for corpus-sized query sets (`broadcastQueries` /
    * `maxBroadcastQueries` — counts EXPLODED rows, i.e. sets × queries).
    * A pair colliding in several tables is kept only at its FIRST
    * shared table — a first-collision residual inside the bucket join
    * (both sides carry their full bucket array; there is no
    * dropDuplicates operator) — so each pair is scored exactly once and
    * the top-k window sees no duplicates. Returns (qid, vid, cosine,
    * rank).
    *
    * `targetOccupancy = Some(t)` activates the SCALING.md planes rule:
    * per-bucket verify cost is occupancy², so at a corpus-sized query
    * set a FIXED plane count is O(n²/2^planes) — quadratic in the
    * corpus (measured 38× for 10× rows in the sf1 soak). The rule holds
    * expected occupancy near `t` by growing the plane count with the
    * corpus: planesUsed = max(planes, bitLength(⌈n/t⌉ − 1)) — smallest
    * P with t·2^P ≥ n, all-integer so an oracle mirror derives the
    * identical P from COUNT(*) (float log2 could round differently at
    * exact powers of two across engines). Costs one narrow count pass;
    * `planes` becomes the floor. `None` keeps the caller's fixed count
    * (right for bounded query sets, where cost is queries × occupancy —
    * already linear). */
  def lshTopKMulti(emb: DataFrame, queryPred: Column, planes: Int, dim: Int,
      k: Int, sets: Int = 2, broadcastQueries: Option[Boolean] = None,
      maxBroadcastQueries: Long = 65536L,
      targetOccupancy: Option[Long] = None): DataFrame = {
    require(sets >= 1, s"sets must be >= 1, got $sets")
    val planesUsed = targetOccupancy.fold(planes) { t =>
      // bucket bits must fit a long with headroom, hence the 30 cap
      math.min(math.max(planes, occupancyBits(corpusCount(emb), t)), 30)
    }
    val eb = withNorm2(emb)
      .select(col("vec_id"), col("embedding"), col("n2"),
        array((0 until sets).map(s =>
          lshBucket(col("embedding"), planesUsed, dim, s * planesUsed)): _*)
          .as("bks"))
      .select(col("vec_id"), col("embedding"), col("n2"), col("bks"),
        posexplode(col("bks")).as(Seq("bset", "bucket")))
    val q = eb.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("n2").as("q_n2"), col("bks").as("q_bks"),
        col("bset").as("q_set"), col("bucket").as("q_bucket"))
    // A pair colliding in several tables must be scored exactly once. The
    // pre-r15 form deduped AFTER the join with dropDuplicates(qid, vid) —
    // a full exchange plus sort-based aggregate (array payloads defeat
    // hash aggregation) carrying BOTH embedding vectors per candidate.
    // Each side already knows its complete bucket array (`bks`, sets
    // longs), so "is this the first table the pair collides in" is
    // decidable per joined row: keep the row only when no EARLIER set
    // also matched. Same candidate set, emitted exactly once, as a
    // codegen residual filter instead of a payload shuffle. The check is
    // UNROLLED over the static set count (element_at comparisons) — the
    // higher-order exists/zip_with form is interpreted per joined row
    // (lambda variables block whole-stage codegen) and measured +0.4 s
    // on q120's broadcast path at sf0.1.
    val noEarlierCollision =
      if (sets == 1) lit(true)
      else not((0 until sets - 1).map { e =>
        col("bset") > e &&
          element_at(col("bks"), e + 1) === element_at(col("q_bks"), e + 1)
      }.reduce(_ || _))
    val cand = joinQueries(eb, q,
        col("bset") === col("q_set") && col("bucket") === col("q_bucket") &&
          col("vec_id") =!= col("qid") && noEarlierCollision,
        broadcastQueries, maxBroadcastQueries)
      .select(col("qid"), col("q_emb"), col("q_n2"),
        col("vec_id"), col("embedding"), col("n2"))
    val scored = cand.withColumn("cosine",
      cosineFrom(dotExact(col("q_emb"), col("embedding")), col("q_n2"), col("n2")))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("vid"), col("cosine"), col("rank"))
  }

  /** LSH-bucketed ANN top-k: candidates restricted to the query's
    * random-hyperplane bucket; query side broadcast or shuffle-joined
    * per [[joinQueries]]. Returns (qid, vid, bucket, cosine, rank). */
  def lshTopK(emb: DataFrame, queryPred: Column, planes: Int, dim: Int, k: Int,
      broadcastQueries: Option[Boolean] = None,
      maxBroadcastQueries: Long = 65536L): DataFrame = {
    val e = withNorm2(emb).withColumn("bucket", lshBucket(col("embedding"), planes, dim))
    val q = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("n2").as("q_n2"), col("bucket").as("q_bucket"))
    val cand = joinQueries(e, q,
      col("bucket") === col("q_bucket") && col("vec_id") =!= col("qid"),
      broadcastQueries, maxBroadcastQueries)
    val scored = cand.withColumn("cosine",
      cosineFrom(dotExact(col("q_emb"), col("embedding")), col("q_n2"), col("n2")))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cosine"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("vid"), col("bucket"), col("cosine"), col("rank"))
  }

  /** Dominant covariance direction (top principal component) by
    * fixed-point power iteration — the PCA/whitening prep step and the
    * anisotropy monitor (embedding collapse shows up as one direction
    * swallowing the spectrum).
    *
    * Shape: ONE corpus pass builds the dim×dim covariance
    * ([[covarianceMatrix]] — array-buffer aggregate, no dim² explode),
    * and its dim·(dim+1)/2 upper triangle is collected to the driver.
    * The matrix is dim²-sized whatever the corpus (as in MLlib's
    * `RowMatrix.computePrincipalComponents`), so the `iters` matvecs and
    * normalisations run on the driver: a distributed matvec would pay a
    * plan, a checkpoint job and an AQE stage cycle per iteration for a
    * 64-row vector. Corpus scale only touches the one covariance pass.
    *
    * Determinism (the oracle contract): the covariance doubles are
    * floored onto the 2^20 grid (in the collected plan) BEFORE
    * iterating, so every matvec is an exact int64 reduction and every
    * normalisation is integer:
    * v' = sign(w)·(|w| DIV ceil(max|w| / 2^20)), keeping components on
    * the ±2^20 grid. Capacity: |w| ≤ dim·max|c|·2^20 with
    * max|c| ≤ max|cov|·2^20 — ≤ 2^46 for unit-scale embeddings at
    * dim 64, far inside int64 (and [[covarianceMatrix]] already enforces
    * its own moment bounds in-plan). The arithmetic fails the way the
    * ANSI plan it mirrors does: products and sums are overflow-checked
    * (`Math.multiplyExact`/`addExact`), and an all-zero matvec (max|w|
    * = 0, e.g. a constant corpus) raises DIVIDE_BY_ZERO instead of
    * returning NULL components.
    *
    * After `iters` rounds the direction is the power-iteration
    * approximation (convergence is data-dependent; iters=3 resolves a
    * dominant eigenvalue with a clear gap — same fixed-iteration
    * contract as [[kmeansCentroids]]). Returns a local relation with one
    * row per dimension, in dim_idx order (none for an empty corpus):
    * (dim_idx, component ±2^20-grid, loading = component/2^20,
    * eig_est — max|w|/2^40, the Rayleigh-style magnitude estimate,
    * constant across rows). */
  def dominantDirection(emb: DataFrame, dim: Int, iters: Int = 3): DataFrame = {
    require(iters >= 1)
    val grid = 1048576L // 2^20
    val tri = covarianceMatrix(emb, dim)
      .select(col("i"), col("j"),
        floor(col("cov") * lit(grid.toDouble)).cast("long").as("c"))
      .collect()
    val rows = if (tri.isEmpty) Seq.empty[Row] else {
      val c = Array.ofDim[Long](dim, dim)
      tri.foreach { r =>
        val (i, j) = (r.getInt(0), r.getInt(1))
        c(i)(j) = r.getLong(2)
        c(j)(i) = r.getLong(2)
      }
      var v = Array.fill(dim)(grid)
      var m = 0L
      for (_ <- 1 to iters) {
        val w = c.map(ci => ci.indices.foldLeft(0L)((s, j) =>
          Math.addExact(s, Math.multiplyExact(ci(j), v(j)))))
        m = w.map(x => Math.absExact(x)).max
        if (m == 0L) throw new ArithmeticException("[DIVIDE_BY_ZERO] " +
          "dominantDirection: the matvec is all zero (zero covariance), " +
          "so its max-norm normalisation divides by zero")
        val d = Math.addExact(m, grid - 1) / grid
        v = w.map(x => if (x < 0) -(Math.negateExact(x) / d) else x / d)
      }
      v.indices.map(i => Row(i, v(i), v(i).toDouble / grid.toDouble,
        m.toDouble / 1.099511627776e12))
    }
    emb.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
      StructField("dim_idx", IntegerType, nullable = false),
      StructField("component", LongType),
      StructField("loading", DoubleType),
      StructField("eig_est", DoubleType))))
  }
}
