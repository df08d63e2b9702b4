package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions._

/** Deduplication operators (SURVEY §2.4 A2/A3 + U6 north-star ops).
  *
  * Scale notes (100 TB design point):
  *  - keepLatest / firstWins are single hash-shuffles on the dedup key;
  *    partial aggregation applies before the exchange.
  *  - minhashLshPairs never compares all pairs: candidates come from a
  *    self-equi-join on (band, bandKey) — the standard LSH bucket join —
  *    so cost is O(near-duplicates), not O(n²). The exact-Jaccard
  *    verification only runs on candidates.
  */
object Dedup {

  /** A3 REPLACE-WITH-LATEST: one row per key, the greatest by `order`. */
  def keepLatest(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** A3 keep-latest as a hash aggregation: `max_by(struct(payload),
    * struct(order))` — unlike the window form this partially aggregates
    * (map-side combine) and needs no per-partition sort, so it is the
    * preferred shape when only the winning row is needed. Returns one row
    * per key with the payload columns of the greatest `order` tuple. */
  def keepLatestAgg(df: DataFrame, keys: Seq[String], order: Seq[Column],
      payload: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*), struct(order: _*)).as("__w"))
      .select(keys.map(col) ++ payload.map(c => col(s"__w.$c")): _*)

  /** A2 DISCARD: one row per key, the least by `order` (first wins). */
  def firstWins(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.asc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Snapshot diff: classify every id across two corpus versions as
    * added / removed / changed / unchanged by comparing a content
    * fingerprint — the audit a versioned ingest runs before deciding
    * what to re-process (changed + added feed the incremental dedup /
    * re-embed path; removed feeds tombstones). `fpCol` is evaluated
    * against each side's columns (e.g. `md5(col("text"))`).
    *
    * Scale: both sides project to (id, fingerprint) — narrow — and meet
    * in ONE full-outer equi-join on the id; no content moves through the
    * shuffle. Returns (idCol, status).
    *
    * PRECONDITION: `idCol` must be unique within each side (the usual
    * snapshot contract). A duplicated id fans out in the full-outer join
    * (m×n rows for that id) and the diff reports it once per pairing —
    * run [[exactClusters]] (or a count-distinct audit) first if the
    * upstream cannot guarantee uniqueness. */
  def snapshotDiff(old: DataFrame, neu: DataFrame, idCol: String,
      fpCol: Column): DataFrame = {
    // presence markers, not fp nullability: a NULL fingerprint (e.g. md5
    // of NULL content) must not masquerade as an absent row
    val v1 = old.select(col(idCol), fpCol.as("__fp1"), lit(true).as("__in1"))
    val v2 = neu.select(col(idCol), fpCol.as("__fp2"), lit(true).as("__in2"))
    v1.join(v2, Seq(idCol), "full")
      .select(col(idCol),
        when(col("__in1").isNull, lit("added"))
          .when(col("__in2").isNull, lit("removed"))
          .when(!(col("__fp1") <=> col("__fp2")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Exact duplicate clusters by a fingerprint expression: one row per
    * fingerprint with group size and representative (min) id. Rows whose
    * fingerprint is NULL (e.g. md5 of NULL text) are excluded — grouping
    * them would declare all NULL-content docs duplicates of each other,
    * and a keep-one policy would then discard unrelated documents. */
  def exactClusters(df: DataFrame, idCol: String, fingerprint: Column): DataFrame =
    df.select(fingerprint.as("fingerprint"), col(idCol))
      .filter(col("fingerprint").isNotNull)
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** k-wide MinHash signatures: (doc_id, mh0..mh{k-1}) — the signature
    * half of the near-dup projection ([[signatures]]) with the hashed set
    * dropped: one md5 per element, k xor-permutation slots in one pass.
    * NO explode, NO aggregation, NO shuffle: the signature stage is
    * map-only, which is the shape that holds at 100 TB. Docs with empty
    * shingle sets (fewer than `shingleSize` tokens) get all-NULL slots —
    * same as the oracle's list_min over []. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, shingleSize: Int = 3): DataFrame =
    signatures(df.select(col(idCol).as("doc_id"), col(textCol).as("__text")),
      numHashes, shingleSize, shingler = null, carry = Nil).drop("sh")

  /** SimHash (bit-vote) signatures: (id, simhash) over distinct tokens,
    * as a pure compiled projection (SimHashBits — all `bits` votes in one
    * pass per row). NO explode, NO 60-column grouped sum, NO shuffle —
    * the signature stage is map-only at any corpus size. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 16): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.functions.GraftFunctions.simhashBits(
        array_distinct(tokens(col(textCol))), bits).as("simhash"))

  /** Connected components over an undirected near-duplicate pair list
    * ((a, b) rows): returns (id, cluster) where cluster = the minimum id
    * in the component — the canonical representative a keep-one-per-
    * cluster dedup policy retains. Ids without any pair are absent (they
    * are their own cluster trivially).
    *
    * Each round does min-label propagation (every node takes the min of
    * its own and its neighbors' labels) FOLLOWED by a pointer jump
    * (label(v) ← label(label(v))): jumping halves label-chain depth, so
    * convergence is O(log n) rounds even for path-shaped components —
    * plain propagation alone needs O(diameter) rounds and would silently
    * truncate long chains at `maxIter` (now a loud failure instead).
    * Rounds are one equi-join + partial-aggregated min + one self-join —
    * the standard distributed-CC shape at corpus scale. Lineage is cut
    * per round (executor-local by default, RELIABLE when `checkpointDir`
    * is given — see the comment at the cut): iterative plans otherwise
    * grow exponentially in the optimizer. The driver-side loop is the
    * iteration counter only — per-round data never leaves the cluster.
    *
    * Convergence detection rides the round's own materialization: each
    * row carries its previous label through the round, and an `observe`
    * node counts label changes as the eager `localCheckpoint` job runs —
    * no separate probe job (and no probe JOIN) per round, and the whole
    * round stays inside whole-stage codegen (observed metrics are plan
    * nodes, unlike an RDD-level accumulator hop, which would re-encode
    * every row through external `Row` objects once per round). Observed
    * metrics are also aggregated exactly once per successful task, so a
    * task retry cannot inflate the count — `changed == 0` is an exact
    * convergence test.
    *
    * Regime switch: the rounds above pay a plan, a checkpoint job and an
    * AQE stage cycle each, which dominates when the pair list is
    * kilobytes. The edges cut therefore also counts its rows with an
    * `observe` (no extra job), and when `checkpointDir` is None,
    * `autoBroadcastJoinThreshold` > 0, the ids are integral and non-null,
    * and 16 B × edge rows fits that threshold — the bound Spark already
    * uses for what it collects to the driver for a broadcast — the edges
    * are collected as primitive long arrays and one min-root union-find
    * labels them on the driver ([[localClusters]]). The result is a
    * local relation with the same rows and schema the rounds return;
    * `maxIter` does not apply to it (union-find always finishes). Pair
    * lists over the bound, and every run with `checkpointDir` (whose
    * point is surviving executor loss over hours), take the rounds. */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    // Per-round lineage cut. Default `localCheckpoint(eager)` stores the
    // blocks on EXECUTORS — zero extra I/O, but an executor loss mid-CC
    // kills the query (acceptable for minutes-long jobs; Spark retries
    // the whole query). Passing `checkpointDir` switches every cut to a
    // RELIABLE parquet write + read under a per-run subdirectory of that
    // (cluster-visible) path: each round then survives executor loss at
    // the price of one label-table write + read per round — the right
    // trade when a CC run over a 100 TB corpus's pair list occupies the
    // cluster for hours. Deliberately NOT `rdd.checkpoint()`: that
    // mutates global SparkContext state (setCheckpointDir leaks into
    // concurrent jobs) and leaves one undeletable-by-us file per round.
    // Here each round's files are deleted as soon as the next round is
    // on disk, so an hours-long run holds at most two rounds of labels
    // plus the edges table; only the FINAL label table remains (it backs
    // the returned frame — the caller deletes the run dir when done).
    val spark = pairs.sparkSession
    val runDir = checkpointDir.map(d =>
      s"$d/cc-${java.util.UUID.randomUUID().toString.take(8)}")
    def rmTag(tag: String): Unit = runDir.foreach { rd =>
      val p = new org.apache.hadoop.fs.Path(s"$rd/$tag")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    def cut(df: DataFrame, tag: String): DataFrame = runDir match {
      case Some(rd) =>
        df.write.mode("overwrite").parquet(s"$rd/$tag")
        // schema-explicit: an empty round (no pairs at all) writes zero
        // data files, and an inferring read of that dir would throw
        // UNABLE_TO_INFER_SCHEMA — the schema is already in hand here
        spark.read.schema(df.schema).parquet(s"$rd/$tag")
      case None => graft.Pins.pin(df, s"nearDupClusters.$tag")
    }
    val directed = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val gated = runDir.isEmpty && threshold > 0 &&
      LocalIdTypes.contains(directed.schema("src").dataType)
    val edgeObs = Option.when(gated)(
      org.apache.spark.sql.Observation("graft-cc-edges"))
    val edges = cut(edgeObs.fold(directed)(o => directed.observe(o,
        count(lit(1)).as("rows"),
        count(when(col("src").isNull || col("dst").isNull, 1)).as("nulls"))),
      "edges")
    val small = edgeObs.exists { o =>
      val m = o.get
      m("nulls") == 0L && m("rows").asInstanceOf[Long] <= threshold / 16
    }
    if (small) {
      val out = localClusters(edges)
      graft.Pins.release(edges)
      return out
    }
    var labels = cut(edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")), "labels-init")
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(edges("src").as("nid")).agg(min(col("cluster")).as("nbr"))
      val prop = labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nbr"), col("cluster"))).as("cluster"),
          col("cluster").as("__old"))
      // pointer jump: cluster labels are themselves node ids, so follow
      // one hop of the label chain (labels only ever decrease → safe)
      val hop = prop.select(col("id").as("jid"), col("cluster").as("jcluster"))
      val staged = prop.join(hop, prop("cluster") === hop("jid"), "left")
        .select(prop("id"),
          least(prop("cluster"), coalesce(col("jcluster"), prop("cluster")))
            .as("cluster"),
          prop("__old"))
      val obs = org.apache.spark.sql.Observation(s"graft-cc-round-$i")
      val jumped = cut(staged
        .observe(obs, sum(when(col("cluster") =!= col("__old"), 1L)
          .otherwise(0L)).as("changed"))
        .select(col("id"), col("cluster")), s"labels-$i")
      // this round is fully materialized now — the previous round's
      // labels can never be read again; reclaim them immediately
      rmTag(if (i == 0) "labels-init" else s"labels-${i - 1}")
      graft.Pins.release(labels)
      // the eager cut already ran the job, so get() returns
      // immediately; sum over zero rows is NULL → treat as converged.
      // A MISSING key must fail loudly: Option.forall(None) is true, so
      // an alias drift would otherwise silently exit after one round
      // with wrong labels while the require(converged) below still holds.
      val metrics = obs.get
      require(metrics.contains("changed"),
        s"nearDupClusters: observed metrics missing 'changed': $metrics")
      converged = { val v = metrics("changed"); v == null || v == 0L }
      labels = jumped
      i += 1
    }
    require(converged,
      s"nearDupClusters did not converge in $maxIter rounds — component " +
        "structure deeper than 2^maxIter; raise maxIter")
    // the returned frame reads only its own labels — edges are dead
    rmTag("edges")
    graft.Pins.release(edges)
    labels
  }

  /** Id types the driver union-find handles: read as long, written back
    * in the input's own type. */
  private val LocalIdTypes: Set[DataType] =
    Set(LongType, IntegerType, ShortType, ByteType)

  /** Min-root union-find over a pinned, null-free, symmetric edge list
    * (src, dst) that fits the driver bound. Each edge is read once in
    * one orientation (src ≤ dst), straight off the internal rows into
    * one pair of primitive long arrays per partition. Ids are sorted and
    * deduplicated into a dense index, and a union always hangs the
    * larger root under the smaller, so every root is its component's
    * minimum id — the label the rounds converge to. Returns (id,
    * cluster) in id order with the rounds' schema. */
  private def localClusters(edges: DataFrame): DataFrame = {
    val idField = edges.schema("src")
    val parts = edges.filter(col("src") <= col("dst"))
      .select(col("src").cast("long"), col("dst").cast("long"))
      .queryExecution.toRdd.mapPartitions { it =>
        val a = Array.newBuilder[Long]
        val b = Array.newBuilder[Long]
        it.foreach { r => a += r.getLong(0); b += r.getLong(1) }
        Iterator((a.result(), b.result()))
      }.collect()
    val src = parts.flatMap(_._1)
    val dst = parts.flatMap(_._2)
    val all = Array.concat(src, dst)
    java.util.Arrays.sort(all)
    var n = 0
    all.foreach { x => if (n == 0 || all(n - 1) != x) { all(n) = x; n += 1 } }
    val ids = java.util.Arrays.copyOf(all, n)
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    src.indices.foreach { k =>
      val x = find(java.util.Arrays.binarySearch(ids, src(k)))
      val y = find(java.util.Arrays.binarySearch(ids, dst(k)))
      if (x < y) parent(y) = x else if (y < x) parent(x) = y
    }
    val typed: Long => Any = idField.dataType match {
      case IntegerType => _.toInt
      case ShortType => _.toShort
      case ByteType => _.toByte
      case _ => x => x
    }
    val rows = ids.indices.map(i => Row(typed(ids(i)), typed(ids(find(i)))))
    edges.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
      idField.copy(name = "id"),
      idField.copy(name = "cluster", metadata = Metadata.empty))))
  }

  /** Incremental connected-components update: fold a NEW batch of
    * near-duplicate pairs into an EXISTING [[nearDupClusters]] labeling
    * without re-running CC over the full historical pair list. The
    * existing labels are replayed as star edges (member → cluster
    * representative) — a star preserves the old component's connectivity
    * exactly and is already depth-1, so the re-run converges in O(log)
    * rounds of the MERGED structure, and its input is labeled-nodes +
    * new-pairs sized, not all-pairs-ever-seen sized. That is the ingest
    * contract at 100 TB: per-batch CC cost is proportional to the batch
    * (plus one row per already-labeled doc), while a full recompute
    * re-shuffles the entire pair history every ingest.
    *
    * New pairs may link fresh docs to each other, attach fresh docs to
    * old clusters, or MERGE old clusters (all members re-canonicalize to
    * the merged component's min id — so downstream keep-one policies see
    * one survivor, not two). Result is exactly
    * `nearDupClusters(oldPairs ∪ newPairs)` (q113 gates this equality
    * against the q71 oracle).
    *
    * `labels` follows the [[nearDupClusters]] output convention (every
    * cluster has ≥ 2 members, representative included with id == cluster)
    * — clusters are replayed through their members' star edges. A
    * caller-fabricated SINGLETON label row (id == cluster with no other
    * member) has no edge to replay and is dropped, matching
    * nearDupClusters' "no pair → absent" convention. */
  def updateClusters(labels: DataFrame, newPairs: DataFrame,
      maxIter: Int = 25, checkpointDir: Option[String] = None): DataFrame = {
    val starEdges = labels.filter(col("id") =!= col("cluster"))
      .select(col("id").as("a"), col("cluster").as("b"))
    nearDupClusters(starEdges.unionByName(newPairs.select("a", "b")), maxIter,
      checkpointDir)
  }

  /** Keep-one-per-cluster with an explicit keep POLICY: given
    * [[nearDupClusters]] labels `(id, cluster)` and per-id metadata, each
    * cluster's survivor is the member minimizing (priority, id) — e.g.
    * prefer curated sources over crawl when collapsing duplicates, with
    * the id tie-break keeping the choice deterministic and retry-stable.
    * Returns one row per clustered id: (id, cluster, keeper, kept).
    *
    * One metadata equi-join + a window `min_by` per cluster — clusters
    * are pair-list-sized (only docs with near-dups), far below corpus
    * size, and the window needs no sort (unbounded frame).
    *
    * Metadata must cover every clustered id exactly once: a missing row
    * would silently erase that id's verdict (an inner join drops it —
    * a downstream "delete where not kept" then loses the doc without
    * trace) and a duplicate row would multiply output rows, so both fail
    * loudly inside the plan instead. */
  def keepOneByPriority(clusters: DataFrame, meta: DataFrame, idCol: String,
      priority: Column): DataFrame = {
    // validation counts run over the JOINED (cluster-sized) frame, not
    // over meta — windowing the full metadata table would shuffle the
    // corpus and forbid broadcasting the small side
    val m = meta.select(col(idCol).as("id"), priority.as("__prio"),
      lit(true).as("__m"))
    val joined = clusters.join(m, Seq("id"), "left")
      .withColumn("__cnt", count(col("__m")).over(Window.partitionBy("id")))
      .withColumn("__prio",
        when(col("__cnt") === 0, raise_error(concat(
          lit("keepOneByPriority: no metadata row for id "), col("id"))))
        .when(col("__cnt") > 1, raise_error(concat(
          lit("keepOneByPriority: duplicate metadata rows for id "), col("id"))))
        // a metadata row whose priority EXPRESSION is NULL (missed map
        // lookup) is as corrupt as a missing row — and min_by's struct
        // ordering puts NULL first, so it would silently WIN the keeper
        // election over priority 0
        .when(col("__prio").isNull, raise_error(concat(
          lit("keepOneByPriority: NULL priority for id "), col("id"))))
        .otherwise(col("__prio")))
    joined
      .withColumn("keeper", min_by(col("id"), struct(col("__prio"), col("id")))
        .over(Window.partitionBy("cluster")))
      .select(col("id"), col("cluster"), col("keeper"),
        (col("id") === col("keeper")).as("kept"))
  }

  /** MinHash+LSH near-duplicate pairs over a text column.
    *
    * shingle(n) → k-wide MinHash signature → `bands` bands of k/bands rows
    * → self-join on band key → exact shingle-Jaccard ≥ threshold.
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      shingler: Column => Column = null,
      hotBucketCap: Int = DefaultHotBucketCap): DataFrame =
    minhashLshPairsWithSigs(df, idCol, textCol, numHashes, bands, shingleSize,
      threshold, shingler, hotBucketCap)
      .select("a", "b", "jaccard")

  /** [[minhashLshPairs]] plus both rows' signature slots
    * (a_mh0..a_mh{k-1}, b_mh0..) in the output — for estimator-style
    * consumers (q57) that compare signatures on the verified pairs.
    *
    * Plan shape (the part that must hold at 100 TB): one scan → compiled
    * shingling (NgramShingles) → compiled signature (HashedSet →
    * MinHashSlotsFromHashes, [[bandedSignatures]]), all map-only — no
    * explode, no aggregation, no shuffle before the band join. The band
    * explode carries shingle-set + signature alongside the
    * bucket keys, so the self-join's matches already hold both sides'
    * payloads and verification needs NO further joins. A diamond-shaped
    * alternative (signatures here, shingle sets joined back per side)
    * recomputes the scan+shingle subtree per consumer — Catalyst prunes
    * different columns into each branch, so no exchange canonicalizes
    * equal and nothing is reused (measured: 4-6 scans). Deliberately NOT
    * persisted either: a cached corpus-sized shingle frame is material
    * memory pressure and nothing owns the unpersist. The pipeline exists
    * twice on the common path (the two self-join sides) plus a slim
    * bucket-size probe (see [[candidatePairs]]'s hot-bucket bound — the
    * diamond's extra passes run only for over-cap buckets) — and a
    * production deployment staging signatures to a table reduces all of
    * it to one materialization (SCALING.md).
    */
  def minhashLshPairsWithSigs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      shingler: Column => Column = null,
      hotBucketCap: Int = DefaultHotBucketCap): DataFrame = {
    val (banded, textBytes) = bandedSignaturesWithBytes(df, idCol, textCol,
      numHashes, bands, shingleSize, shingler)
    val cand = candidatePairs(banded, textBytes, side =>
      (0 until numHashes).map(i => (s"mh$i", col(s"$side.mh$i"))),
      hotBucketCap, bands, numHashes / bands)
    withJaccard(cand)
      .filter(col("jaccard") >= threshold)
      .drop("sh_a", "sh_b")
  }

  /** Default [[candidatePairs]] hot-bucket cap: a band-bucket above this
    * many rows loses its buffered-side shingle carry (see below). 1024
    * hashed-set rows × ~8–16 KB (a few-KB doc shingled, elements as
    * int64) ≈ 8–16 MB — the sort-merge join's buffered-group ceiling per
    * task, independent of corpus size. On the driver corpus the hottest
    * bucket is 25 rows at EVERY tier (sf0.1 and sf1; measured with
    * tools/BucketProbe, deleted after commit b535018),
    * so the cap only engages on degenerate corpora — exact-dup piles,
    * viral boilerplate (the skew gate's scenario). */
  val DefaultHotBucketCap: Int = 1024

  /** The ONE banded candidate-pair join shared by every verifier
    * ([[minhashLshPairsWithSigs]], [[containmentPairs]]): same-band
    * same-key pairs with a < b, both shingle sets as sh_a/sh_b, plus any
    * extra payload columns (`payload(side)` = (name, column) pairs,
    * emitted as a_name/b_name).
    *
    * Two regimes, mirroring the planner's own join-strategy choice. When
    * the banded frame's size estimate fits `autoBroadcastJoinThreshold`,
    * the self-join is a map-side broadcast hash join — no shuffle, no
    * sort, and no per-key group buffering at all (build-side memory is
    * whole-frame, bounded by the same estimate + conf that made the
    * decision) — so the plain fast path runs untouched. Above the
    * threshold the join is a sort-merge join, and there:
    *
    * HOT-BUCKET GROUP BOUND (the degenerate-corpus control): a
    * band-bucket's rows all meet on ONE shuffle partition — no partition
    * count changes that, and AQE skew splitting cannot split a single
    * join key — and the sort-merge join buffers the RIGHT side's whole
    * same-key group in task memory while the left streams. With shingle
    * sets carried on both sides, a degenerate bucket (exact-dup pile,
    * viral template) makes that buffer bucket_rows × fat_row. The control
    * bounds it BY CONSTRUCTION, with no extra pipeline pass:
    *  1. a window count over the join's OWN (band, bkey) exchange tags
    *     every row with its bucket size (the window's sort is the sort
    *     the merge join needs anyway, and both join sides read the same
    *     reused exchange — bucket detection is plan-free);
    *  2. the BUFFERED (right) side carries its shingle set only for
    *     buckets ≤ `hotBucketCap`: over-cap groups buffer slim rows
    *     (ids + signature), so the buffered group is ≤ cap fat rows or
    *     arbitrarily-many slim ones — never both;
    *  3. over-cap buckets join on doc_id ≠ instead of < — each hot pair
    *     is emitted in BOTH orientations, and since the STREAMED side
    *     always carries its set, orientation (a,·) supplies sh_a and
    *     (b,·) supplies sh_b; the final per-(a,b) aggregate (which
    *     replaces dropDuplicates — the identical Aggregate shape) merges
    *     them with first(ignoreNulls).
    * The pair set and every output value are identical with the cap on
    * or off — HotBucketSpec proves bit-equality on a forced hot-bucket
    * fixture — because a hot pair's sets still come from the same two
    * docs, just via the mirrored row instead of the buffered one. */
  private def candidatePairs(banded: DataFrame, textBytes: Long,
      payload: String => Seq[(String, Column)],
      hotBucketCap: Int = DefaultHotBucketCap,
      bands: Int = 0, rowsPerBand: Int = 0): DataFrame = {
    // Regime decision from the MEASURED text volume, not optimizer
    // stats: the broadcast fast path (map-side hash join — no shuffle,
    // no sort, no buffered same-key groups to bound; the relation is
    // whole-frame-resident per executor) is allowed only while the true
    // carried frame fits MaxBroadcastCarryBytes. The planner, left to
    // its stats, would broadcast far past that (see the constant's doc)
    // — so above the cap the join carries an explicit MERGE hint.
    val conf = banded.sparkSession.sessionState.conf
    val willBroadcast =
      conf.autoBroadcastJoinThreshold > 0 && !overCarryCap(textBytes)

    // FIRST-COLLISION RESIDUAL (r16, the lshTopKMulti trick): a pair
    // colliding in several bands is kept only at its first shared band,
    // decided per joined row from the mh columns BOTH sides already
    // carry (band j's key is the concat of mh[j·rows .. j·rows+rows−1],
    // and long-decimal concat with '_' is injective, so component
    // equality ⇔ bkey equality). `earlierCollision` = x and y also
    // collide at some band j < x.band — i.e. this row is NOT the pair's
    // first shared band. Unrolled over the static band count (HOFs here
    // measured slower in r15 — interpreted per joined row). None when
    // the caller can't vouch for the mh layout (keeps the aggregate).
    val earlierCollision: Option[Column] =
      if (bands > 1 && rowsPerBand > 0)
        Some((0 until bands - 1).map { j =>
          col("x.band") > j && (0 until rowsPerBand).map(r =>
            col(s"x.mh${j * rowsPerBand + r}") ===
              col(s"y.mh${j * rowsPerBand + r}")).reduce(_ && _)
        }.reduce(_ || _))
      else None

    if (willBroadcast) {
      // The residual replaces dropDuplicates(a, b) — an Exchange plus
      // two SortAggregates of the candidate set with its array payloads
      // (arrays defeat hash aggregation) — with a codegen'd filter
      // inside the join; every duplicate carried an identical payload,
      // so keeping the first collision emits the same rows.
      val cond =
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id") &&
          earlierCollision.map(!_).getOrElse(lit(true))
      // the hint makes the PREDICTED regime the PLANNED regime (ADVICE
      // r14): without it, honest stats past a user-lowered
      // autoBroadcastJoinThreshold would fall to a plain SMJ with full
      // shingle carry on both sides and NO hot-bucket bound — the
      // measured textBytes gate above already bounds build-side memory,
      // so forcing the broadcast here is safe by construction
      val joined = banded.as("x").join(broadcast(banded.as("y")), cond)
        .select(col("x.doc_id").as("a") +: col("y.doc_id").as("b") +:
          col("x.sh").as("sh_a") +: col("y.sh").as("sh_b") +:
          (payload("x").map { case (n, c) => c.as(s"a_$n") } ++
           payload("y").map { case (n, c) => c.as(s"b_$n") }): _*)
      // residual active: each pair already emitted exactly once
      if (bands > 1 && rowsPerBand > 0) joined
      else joined.dropDuplicates("a", "b")
    } else {
      val w = Window.partitionBy("band", "bkey")
      val sized = banded.withColumn("__bsz", count(lit(1)).over(w))
      // right side: shingle carry nulled for over-cap buckets. Computed
      // ABOVE the window so both sides' subtrees (and column pruning)
      // stay identical below it — one exchange, reused.
      val rhs = sized.withColumn("sh",
        when(col("__bsz") <= hotBucketCap, col("sh")))
      // the hot flag reads x's bucket size (equal to y's within a
      // bucket) so BOTH sides consume the window — keeping the subtrees
      // under it identical for exchange reuse
      val hot = col("x.__bsz") > hotBucketCap
      // non-hot pairs drop their non-first-collision duplicates INSIDE
      // the join (§2.3 shuffle fewer bytes): each duplicate row carries
      // both shingle sets through the merge aggregate's (a, b) exchange,
      // so a pair colliding in c bands shipped its payload c times — the
      // residual cuts that to once. HOT pairs keep every band × both
      // orientations: their (sh_a, sh_b) reassembly NEEDS the mirrored
      // rows, and which band carries them is orientation-dependent. The
      // merge aggregate itself stays (it is what reassembles hot pairs),
      // it just sees fewer, identical-valued rows — first(ignoreNulls)
      // is unaffected by dropping redundant copies.
      val cond =
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          when(hot, col("x.doc_id") =!= col("y.doc_id"))
            .otherwise(col("x.doc_id") < col("y.doc_id") &&
              earlierCollision.map(!_).getOrElse(lit(true)))
      val swap = col("x.doc_id") > col("y.doc_id") // only true for hot rows
      val zipped = payload("x").zip(payload("y"))
      val payPairs = // all a_* then all b_*: same column order as the
        zipped.map { case ((n, xc), (_, yc)) => // broadcast fast path
          when(swap, yc).otherwise(xc).as(s"a_$n") } ++
        zipped.map { case ((n, xc), (_, yc)) =>
          when(swap, xc).otherwise(yc).as(s"b_$n") }
      val cand = sized.as("x").hint("merge").join(rhs.as("y").hint("merge"), cond)
        .select(Seq(
          least(col("x.doc_id"), col("y.doc_id")).as("a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("b"),
          when(swap, col("y.sh")).otherwise(col("x.sh")).as("sh_a"),
          when(swap, col("x.sh")).otherwise(col("y.sh")).as("sh_b")) ++
          payPairs: _*)
      // a pair collides in up to `bands` bands (×2 orientations when
      // hot); every duplicate carries identical values where non-null, so
      // the first(ignoreNulls) merge is deterministic — and for hot pairs
      // it is what reassembles (sh_a, sh_b) from the two orientations
      val mergeCols = cand.columns.filter(c => c != "a" && c != "b")
        .map(c => first(col(c), ignoreNulls = true).as(c))
      cand.groupBy("a", "b").agg(mergeCols.head, mergeCols.tail: _*)
    }
  }

  /** Exact Jaccard from the carried shingle sets (|A∩B| / |A∪B|). */
  private def withJaccard(cand: DataFrame): DataFrame = {
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    cand.withColumn("jaccard",
      inter.cast("double") / (size(col("sh_a")) + size(col("sh_b")) - inter))
  }

  /** Containment-scored pair detection: the same LSH candidate pipeline
    * as [[minhashLshPairsWithSigs]], but verified with the ASYMMETRIC
    * containment scores |A∩B|/|A| and |A∩B|/|B| next to Jaccard, and
    * admitted when EITHER containment clears `threshold`. Jaccard alone
    * misses partial copies — a short doc quoted wholesale inside a long
    * one has high containment but low Jaccard (the union is dominated by
    * the long side); this is the quotation/excerpt detector of the dedup
    * family (ExactSubstr's set-level cousin).
    *
    * Scale: identical plan shape to the pair pipeline — map-only
    * compiled shingles+signatures, banded self-join, verification on
    * payloads already carried through the band explode (no extra joins).
    * NOTE the LSH bands are tuned for Jaccard similarity: a pair whose
    * containment is high but Jaccard very low may not collide in any
    * band — the union is dominated by the long side, so the short doc's
    * shingles barely move the long doc's minhashes. `segmentTokens > 0`
    * turns on ASYMMETRIC banding for exactly that regime: every doc is
    * additionally banded per overlapping `segmentTokens`-token window
    * (stride = half a window, so any quotation up to half a window long
    * sits fully inside some window), and whole-doc bands join against
    * segment bands. A short doc quoted inside a long one then collides
    * at the SHORT side's scale — the long doc's covering segment is
    * quotation-sized, its Jaccard with the short doc is high, and the
    * Jaccard-tuned bands recover their collision probability ("shingle
    * the short side" realized without knowing pair roles up front).
    * Candidate generation stays linear: segment rows are
    * O(corpus_tokens / stride) map-side, the asym join is the same
    * (band, bkey) bucket join, and the full-set join-back for exact
    * verification is candidate-pair-sized. Verification is unchanged —
    * always the exact containments from the FULL shingle sets — so the
    * option only ADDS recall, never changes a surviving pair's scores.
    * Returns (a, b, jaccard, containment_a, containment_b), a < b. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      shingler: Column => Column = null,
      segmentTokens: Int = 0,
      hotBucketCap: Int = DefaultHotBucketCap): DataFrame = {
    val (banded, textBytes) = bandedSignaturesWithBytes(df, idCol, textCol,
      numHashes, bands, shingleSize, shingler)
    val base = candidatePairs(banded, textBytes, _ => Seq.empty, hotBucketCap,
      bands, numHashes / bands)
    val cand =
      if (segmentTokens <= 0) base
      else {
        require(segmentTokens > shingleSize,
          s"segmentTokens ($segmentTokens) must exceed shingleSize ($shingleSize)")
        val segB = segmentBands(df, idCol, textCol, numHashes, bands,
          shingleSize, segmentTokens, shingler)
        val fullSets = banded.select(col("doc_id"), col("sh"))
          .dropDuplicates("doc_id")
        // the asym whole-doc × segment join shares candidatePairs'
        // relation-blowup hazard (both sides carry sets the planner's
        // stats under-count ~50–100×): pin it to merge above the same cap
        val (bx, by) =
          if (!overCarryCap(textBytes))
            (banded.as("x"), segB.as("y"))
          else (banded.as("x").hint("merge"), segB.as("y").hint("merge"))
        val asym = bx.join(by,
            col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
              col("x.doc_id") =!= col("y.doc_id"))
          .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
            greatest(col("x.doc_id"), col("y.doc_id")).as("b"))
          .dropDuplicates("a", "b")
          .join(fullSets.select(col("doc_id").as("a"), col("sh").as("sh_a")),
            Seq("a"))
          .join(fullSets.select(col("doc_id").as("b"), col("sh").as("sh_b")),
            Seq("b"))
          .select("a", "b", "sh_a", "sh_b")
        base.select("a", "b", "sh_a", "sh_b").unionByName(asym)
          .dropDuplicates("a", "b")
      }
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    withJaccard(cand)
      .withColumn("containment_a", inter.cast("double") / size(col("sh_a")))
      .withColumn("containment_b", inter.cast("double") / size(col("sh_b")))
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .drop("sh_a", "sh_b")
  }

  /** Per-doc SEGMENT band keys for [[containmentPairs]]' asymmetric
    * option: the doc's tokens cut into overlapping `segmentTokens`-token
    * windows (stride = half a window), each window shingled and banded
    * by the SAME signature pipeline as whole docs — identical
    * parameters, so segment band keys and whole-doc band keys live in
    * one key space and the asym join is a plain bucket join. Distinct
    * (doc_id, band, bkey): a doc repeating a window only needs one
    * candidate row. Map-only; rows are O(tokens / stride) per doc. */
  private def segmentBands(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, shingleSize: Int, segmentTokens: Int,
      shingler: Column => Column): DataFrame = {
    val stride = math.max(1, segmentTokens / 2)
    val segs = df
      .select(col(idCol).as("doc_id"), split(trim(col(textCol)), "\\s+").as("w"))
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), greatest(size(col("w")) - 1, lit(0)), lit(stride)),
          s => array_join(slice(col("w"), s + 1, lit(segmentTokens)), " ")))
          .as("seg"))
    bandedSignaturesWithBytes(segs, "doc_id", "seg", numHashes, bands,
      shingleSize, shingler)._1
      .select("doc_id", "band", "bkey")
      .dropDuplicates("doc_id", "band", "bkey")
  }

  /** Target per-task working-set bytes for the shingle-expansion stage
    * (see [[bandedSignaturesWithBytes]]), together with the measured
    * expansion factor from stored text bytes to banded UnsafeRows (~45 B
    * per text byte for char 8-grams hashed ×2 bands at sf1 — the q49
    * expansion stage's peak task memory, `graft.tools.Probe <sf1Dir> 1
    * q49`; 48 is the conservative figure used). ~64 MB / 48 ≈ 1.3 MB of
    * text per task — the budget that pins the expansion stage's
    * shuffle-write buffer at ANY corpus size. */
  val ShingleTaskBytes: Long = 64L * 1024 * 1024
  val ShingleExpansionPerByte: Int = 48

  /** In-memory bytes of the CARRIED banded frame per stored text byte
    * (hashed shingle set × bands + signature + band key as UnsafeRows —
    * measured 17.2 for char 8-grams × 2 bands at sf1 via the broadcast
    * relation's real size; 20 is the conservative figure used), and the
    * largest banded-side hash relation [[candidatePairs]] will let the
    * planner BROADCAST. Parquet size stats under-count the expanded
    * frame by ~50–100× (they reflect compressed source bytes), so left
    * alone the planner broadcasts the whole corpus's shingle sets as an
    * executor-resident HashedRelation — the measured data-proportional,
    * partition-immune, heap-immune, never-spilling task peak that
    * r13 misattributed to bucket groups (59 MB at sf0.1 → 452 MB at sf1
    * with the string carry). Above the cap the join is pinned to
    * sort-merge with an explicit MERGE hint. */
  val CarriedBytesPerTextByte: Int = 20
  val MaxBroadcastCarryBytes: Long = 128L * 1024 * 1024

  /** The carried-frame broadcast gate, overflow-safe: true when
    * `textBytes` priced at [[CarriedBytesPerTextByte]] exceeds
    * [[MaxBroadcastCarryBytes]]. Division, not multiplication — a huge
    * volume (corrupted manifest, accumulated append drift) times 20
    * wraps Long negative, which would OPEN the gate on exactly the
    * corpus the cap exists to deny. Negative volume = unknown =
    * over-cap (never risk the broadcast regime on an unpriced frame). */
  private[graft] def overCarryCap(textBytes: Long): Boolean =
    textBytes < 0L ||
      textBytes > MaxBroadcastCarryBytes / CarriedBytesPerTextByte

  /** The source text volume, `sum(octet_length(textCol))`, feeding
    * [[bandedSignaturesWithBytes]]' re-spread and [[candidatePairs]]'
    * broadcast gate. Parquet sizeInBytes stats reflect COMPRESSED bytes and
    * under-count repetitive text by 10–20×, so the value is real bytes:
    * one column-pruned exact scan per distinct source lineage and file
    * listing per session ([[graft.core.Measured]] — bench reps and the
    * multi-call cluster queries hit the memo; a table overwritten in
    * place is scanned again). Exact, never an estimate: both decisions
    * are safe under over-counting and unsafe under under-counting (a
    * corpus-sized broadcast HashedRelation, the executor-OOM class the
    * gate prevents). */
  private[graft] def textBytes(df: DataFrame, textCol: String): Long = {
    val text = df.select(col(textCol).as("__text"))
    graft.core.Measured.once(text, "textBytes")(
      text.agg(coalesce(sum(octet_length(col("__text"))), lit(0L)))
        .head().getLong(0))
  }

  /** The measured half of the batch banding: [[bandedSignatures]] over
    * `df`'s (idCol, textCol), plus the measured source text bytes — the
    * number [[candidatePairs]]' broadcast-vs-merge decision needs.
    *
    * SCALE CONTROL — bounded expansion-task memory: the banding stage's
    * shuffle write buffers its whole task output in execution memory,
    * and that output is ~40–50× the stored text bytes (shingle set ×
    * bands + the signature — [[ShingleExpansionPerByte]]). Its peak is
    * therefore proportional to PER-TASK INPUT bytes — invisible to
    * shuffle-partition or AQE-advisory tuning (map-side), and at a
    * 128 MB-split 100 TB scan it would be multi-GB per task. The input
    * is re-spread so each expansion task gets ≈
    * [[ShingleTaskBytes]] / expansion of text — sized from an EXACT
    * memoized text-volume probe (see [[textBytes]]; parquet size
    * stats under-count compressed text by 10–20× and cannot drive
    * this) — so one NARROW shuffle of the text buys a task peak that is
    * constant in corpus size, file count and split sizing. Skipped
    * (zero cost) when the source is already fine-grained enough — the
    * sf0.1 bench tier never pays it (Probe's [stage] lines: q49's
    * expansion-task peak 452 MB → ~65 MB at the sf1 soak tier,
    * 59 → 33 MB at sf0.1 from the hashed carry alone). Batch only: a
    * streaming frame cannot run the `textBytes` job. */
  private def bandedSignaturesWithBytes(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      shingleSize: Int,
      shingler: Column => Column): (DataFrame, Long) = {
    val src0 = df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
    val textBytes = this.textBytes(df, textCol)
    val needed = math.min(1 << 18, // runaway guard
      math.ceil(textBytes.toDouble * ShingleExpansionPerByte
        / ShingleTaskBytes)).toInt
    val src =
      if (needed > 1 && needed > math.max(1, src0.rdd.getNumPartitions))
        src0.repartition(needed)
      else src0
    (bandedSignatures(src, numHashes, bands, shingleSize, shingler), textBytes)
  }

  /** The ONE signature-and-band projection every near-dup path shares —
    * batch pairs, staged stores, and the streaming operator
    * ([[graft.streaming.StatefulOps.streamingNearDupBounded]]):
    * (doc_id, __text, carry...) → (doc_id, carry..., sh: ARRAY<BIGINT>,
    * mh0..mh{k-1}, band, bkey). Map-only — no measure, no re-spread, no
    * shuffle, no aggregation — so a streaming frame can run it. The
    * signature half is [[signatures]]; band `b`'s key is
    * `concat_ws("_", mh[b·rows .. b·rows+rows−1])`. Docs with empty
    * shingle sets get NULL slots; concat_ws skips NULLs so their band key
    * is "" — filtered here (they can never verify, and one giant
    * ""-bucket of short docs would be O(m²) candidates). */
  private[graft] def bandedSignatures(
      src: DataFrame,
      numHashes: Int,
      bands: Int,
      shingleSize: Int,
      shingler: Column => Column,
      carry: Seq[String] = Nil): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val sigs = signatures(src, numHashes, shingleSize, shingler, carry)
    val bandKeys = array((0 until bands).map { b =>
      concat_ws("_", (0 until rows).map(r => col(s"mh${b * rows + r}")): _*)
    }: _*)
    sigs.select(sigs.columns.map(col) :+
        posexplode(bandKeys).as(Seq("band", "bkey")): _*)
      .filter(length(col("bkey")) > 0)
  }

  /** The signature half of [[bandedSignatures]]: (doc_id, __text,
    * carry...) → (doc_id, carry..., sh, mh0..mh{k-1}) through the one
    * MinHash kernel pair — compiled shingling (NgramShingles, or
    * `shingler`) → per-element hashing (HashedSet) → compiled signature
    * (MinHashSlotsFromHashes), all map-only. `sh` is the HASHED shingle
    * set (hash60 per element — the derivation the signature uses):
    * every downstream consumer verifies with intersect/size, which only
    * need element identity, and the hashed carry is 2–4× smaller through
    * every shuffle, sort and group buffer this family owns. */
  private def signatures(src: DataFrame, numHashes: Int, shingleSize: Int,
      shingler: Column => Column, carry: Seq[String]): DataFrame = {
    // compiled shingling (NgramShingles) — the interpreted HOF form
    // dominated executor time (see the expression's scaladoc)
    val mkSet: Column => Column =
      if (shingler != null) shingler
      else (graft.functions.GraftFunctions.wordShingles(_: Column, shingleSize))
    val kept = col("doc_id") +: carry.map(col)
    src.select(kept :+
        graft.functions.GraftFunctions.hashedSet(mkSet(col("__text"))).as("sh"): _*)
      .select(kept :+ col("sh") :+
        graft.functions.GraftFunctions.minhashSlotsFromHashes(col("sh"), numHashes)
          .as("__mh"): _*)
      .select((kept :+ col("sh")) ++ (0 until numHashes).map(i =>
        element_at(col("__mh"), i + 1).as(s"mh$i")): _*)
  }

  /** A built Bloom filter: the one-row bitmap frame plus the parameters
    * it was built with. Probing goes through [[bloomFlags]], which reads
    * m/k/seed from here — carrying them structurally makes a build/probe
    * parameter mismatch (which would silently produce false negatives,
    * the one failure mode a Bloom pre-filter must never have)
    * unrepresentable. */
  final case class BloomSketch(bitmap: DataFrame, mBits: Int, numHashes: Int,
      seedBase: Int)

  /** Build a corpus-membership Bloom filter over a fingerprint column:
    * a ONE-row bitmap frame (`mBits` bits packed as longs — see
    * [[graft.functions.BloomFilterAggregator]] for the hash family and
    * the 100 TB sizing rule) bundled with its parameters. The result is
    * sketch-sized however large `df` is; stage it to a table once per
    * corpus snapshot and let every ingest batch probe it. */
  def bloomBitmap(df: DataFrame, fingerprint: Column, mBits: Int = 1 << 17,
      numHashes: Int = 3, seedBase: Int = 101): BloomSketch =
    BloomSketch(
      df.select(fingerprint.cast("string").as("__fp"))
        .agg(udaf(new graft.functions.BloomFilterAggregator(mBits, numHashes, seedBase))
          .apply(col("__fp")).as("__graft_bm")),
      mBits, numHashes, seedBase)

  /** Probe a [[BloomSketch]]: flags each `batch` row whose fingerprint
    * the filter may contain. Adds `n_probe_hits` (how many of the
    * `numHashes` probed bits are set, INT) and `bloom_flagged` (all set —
    * possible member). Guaranteed no false negatives; false positives at
    * the rate the filter was sized for, so the flag is a PRE-filter:
    * route flagged rows to the exact check, drop the (vast) unflagged
    * rest without ever joining them. NULL fingerprints probe to
    * (0, false) — they set nothing at build time either. The probe is
    * map-only — the one-row bitmap is broadcast, each probe is a compiled
    * md5 + two shifts against the in-memory array, and the batch never
    * shuffles. */
  def bloomFlags(batch: DataFrame, sketch: BloomSketch,
      fingerprint: Column): DataFrame = {
    Seq("n_probe_hits", "bloom_flagged", "__graft_bm").foreach(c =>
      require(!batch.columns.contains(c),
        s"bloomFlags writes column '$c' — rename the batch's own '$c' first"))
    val hits = (0 until sketch.numHashes).map { j =>
      val pos = pmod(graft.functions.GraftFunctions.hash64c(
        fingerprint.cast("string"), sketch.seedBase + j), lit(sketch.mBits.toLong))
      call_function("shiftright",
          element_at(col("__graft_bm"), (pos / 64).cast("int") + 1),
          pmod(pos, lit(64L)).cast("int"))
        .bitwiseAND(lit(1L)).cast("int")
    }
    batch.crossJoin(broadcast(sketch.bitmap))
      // NULL fingerprint → NULL probes; the filter holds no bit for it,
      // so it is a definite non-member: (0, false), same as the oracle
      .withColumn("n_probe_hits", coalesce(hits.reduce(_ + _), lit(0)))
      .withColumn("bloom_flagged", col("n_probe_hits") === sketch.numHashes)
      .drop("__graft_bm")
  }

  /** Incremental (cross-batch) near-duplicate detection: which `newDf`
    * docs near-duplicate something already in `oldDf`? The production
    * ingest shape — every fresh crawl batch is deduped against the
    * existing corpus, never by re-running the global self-join. Band keys
    * are shared with [[minhashLshPairs]] (same hash family), so the
    * old×new join compares only same-bucket docs; at scale the old side's
    * signatures are staged once (a signature table) and each new batch
    * joins against them. Id spaces must be disjoint by contract (same-id
    * self-pairs are excluded defensively).
    *
    * Returns one row per flagged new doc: (doc_id, dup_of = lowest-id old
    * partner at jaccard ≥ threshold, best_jaccard = highest such
    * jaccard). */
  def incrementalNearDups(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      shingler: Column => Column = null): DataFrame = {
    val (bo, oldBytes) = bandedSignaturesWithBytes(oldDf, idCol, textCol,
      numHashes, bands, shingleSize, shingler)
    val (bn, newBytes) = bandedSignaturesWithBytes(newDf, idCol, textCol,
      numHashes, bands, shingleSize, shingler)
    // same relation-blowup control as candidatePairs, on BOTH sides:
    // neither side's carried sets may be planner-broadcast past the cap
    crossBatchVerdicts(bn, bo, threshold, newBytes = newBytes, oldBytes = oldBytes)
  }

  /** The new-batch × old-corpus bucket join + exact-Jaccard verification
    * shared by [[incrementalNearDups]] (old side computed inline) and
    * [[incrementalNearDupsStaged]] (old side read from a signature store).
    * Both sides must carry (doc_id, sh, band, bkey).
    *
    * Regime. Both sides are priced by MEASURED text volume — bn and an
    * inline bo by a scan, a staged bo by its manifest's `text_bytes` —
    * never by planner stats, which under-count the banded carry ~50–100×
    * (the candidatePairs discipline). Four regimes:
    *  1. a disabled `autoBroadcastJoinThreshold` vetoes every explicit
    *     broadcast — a session that opted out of broadcasts must not get
    *     one from a hint (the same gate candidatePairs applies);
    *  2. an under-cap old side no larger than the batch (or beside an
    *     over-cap batch) is broadcast explicitly;
    *  3. otherwise an under-cap batch is broadcast explicitly;
    *  4. both sides over the cap pin sort-merge (never trade an OOM for
    *     a maybe-faster plan).
    * The predicted regime is the planned regime. `oldBytes = -1`
    * (unknown persisted volume) is over-cap via [[overCarryCap]]'s
    * negative rule. */
  private def crossBatchVerdicts(bn: DataFrame, bo: DataFrame,
      threshold: Double, newBytes: Long, oldBytes: Long): DataFrame = {
    val vetoed = bn.sparkSession.sessionState.conf.autoBroadcastJoinThreshold <= 0
    val (newOver, oldOver) = (overCarryCap(newBytes), overCarryCap(oldBytes))
    val (jx, jy) =
      if (vetoed || (newOver && oldOver))
        (bn.as("x").hint("merge"), bo.as("y").hint("merge"))
      else if (!oldOver && (newOver || oldBytes <= newBytes))
        (bn.as("x"), broadcast(bo.as("y")))
      else (broadcast(bn.as("x")), bo.as("y"))
    val cand = jx.join(jy,
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("old_id"),
        col("x.sh").as("sh_n"), col("y.sh").as("sh_o"))
      .dropDuplicates("doc_id", "old_id")
    val inter = size(array_intersect(col("sh_n"), col("sh_o")))
    cand
      .withColumn("jaccard",
        inter.cast("double") / (size(col("sh_n")) + size(col("sh_o")) - inter))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("doc_id"))
      .agg(min(col("old_id")).as("dup_of"), max(col("jaccard")).as("best_jaccard"))
  }

  // ---- staged-signature store manifest ------------------------------------

  /* Every [[stageSignatureBuckets]] store carries a
   * [[graft.sources.Layout.Manifest]] for two reasons:
   *
   *  1. FORMAT/PARAMETER GUARD. The signature format changed once
   *     already (v1 carried `sh` as ARRAY<STRING>; v2 carries hashed
   *     ARRAY<BIGINT>), and [[appendSignatureBuckets]] is map-only by
   *     design — without a guard, appending v2 rows into a v1 store
   *     silently creates a mixed-schema parquet table whose readers
   *     fail long after the corrupting write. Parameter drift
   *     (numHashes/bands/shingleSize) is worse: band keys from
   *     different parameters never collide correctly, so a mismatched
   *     probe silently returns ZERO candidates. Append and the staged
   *     probe check kind, version and parameters and fail fast with a
   *     restage message.
   *
   *  2. MEASURED TEXT VOLUME. `text_bytes` persists the corpus-volume
   *     probe the signatures were built from, so the staged probe
   *     prices its broadcast-vs-merge regime without re-scanning
   *     the corpus. Appends ACCUMULATE batch bytes into it. */

  private[graft] val SigVersion = 2
  /** [[stageSignatureBuckets]]' hive `bgrp=` append-able layout. */
  private[graft] val SigsBuckets = "band-buckets"

  private def sigParams(numHashes: Int, bands: Int,
      shingleSize: Int): Map[String, Long] =
    Map("num_hashes" -> numHashes.toLong, "bands" -> bands.toLong,
      "shingle_size" -> shingleSize.toLong)

  /** The manifest of the signature store at `path`, checked for `op`:
    * the bucket kind, this build's version, the given parameters. */
  private def sigStore(spark: org.apache.spark.sql.SparkSession,
      path: String, numHashes: Int, bands: Int,
      shingleSize: Int, op: String): graft.sources.Layout.Manifest =
    graft.sources.Layout.requireManifest(spark, path, op, Set(SigsBuckets),
      SigVersion, sigParams(numHashes, bands, shingleSize),
      s"restage it with stageSignatureBuckets " +
        s"(numHashes=$numHashes, bands=$bands, shingleSize=$shingleSize)")

  /** [[incrementalNearDups]] with the old side read from the
    * [[stageSignatureBuckets]] store at `path`: the plan scans the NEW
    * batch's documents plus the staged signatures — the existing corpus
    * is never re-shingled. Per-batch cost is new-batch-sized; the old
    * side's cost was paid once at staging. The store's manifest (a)
    * fails fast on a kind/format/parameter mismatch, which would
    * otherwise silently return zero candidates, and (b) prices the
    * corpus side's join regime from the PERSISTED measured text volume —
    * the probe never scans the corpus to price it. The store is read
    * with the schema its manifest records. */
  def incrementalNearDupsStaged(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      shingler: Column => Column = null): DataFrame = {
    val m = sigStore(spark, path, numHashes, bands, shingleSize,
      "incrementalNearDupsStaged")
    // the batch side is measured too: a repetitive ~10 MB-compressed
    // batch expands 50–100× past its parquet stats, so an un-gated bn
    // could be planner-broadcast at corpus-carry size
    val (bn, newBytes) = bandedSignaturesWithBytes(newDf, idCol, textCol,
      numHashes, bands, shingleSize, shingler)
    crossBatchVerdicts(bn, graft.sources.Layout.readStaged(spark, path, m)
        .select("doc_id", "sh", "band", "bkey"),
      threshold, newBytes = newBytes, oldBytes = m.measures("text_bytes"))
  }

  /** Stage banded LSH signatures to an append-able parquet store: the
    * corpus's scan→shingle→signature→band pipeline runs ONCE and
    * persists (doc_id, sh, band, bkey), hive-partitioned on a band-group
    * column `bgrp = hash(band, bkey) mod nGroups` so later ingest batches
    * land by `mode=append` ([[appendSignatureBuckets]]) without
    * rewriting the snapshot, and maintenance windows compact them
    * ([[compactSignatureBuckets]]) — the
    * [[graft.operators.Similarity.stageIvfIndex]] lifecycle for the
    * text-dedup family. This is the production ingest shape SCALING.md
    * describes: [[incrementalNearDups]] recomputes the old side per
    * batch, while at 100 TB the corpus side is written once per snapshot
    * here and every later probe ([[incrementalNearDupsStaged]]) reads
    * the store instead of re-shingling the corpus. The store is
    * signature-sized (ids + shingle sets + band keys, no document text),
    * and the shingle sets it carries let exact verification run without
    * a join back to the corpus.
    *
    * Within each dir rows sort on (band, bkey) to tighten row-group
    * stats. `nGroups` bounds dir count (partition dirs must stay
    * low-cardinality; raw bkeys are corpus-sized); `splits` spreads each
    * group over that many writer tasks/files per batch — size it so
    * group_files ≈ group_bytes / 128 MB at scale. A stage/append
    * `nGroups` mismatch costs only placement locality, never correctness
    * — the candidate join keys on (band, bkey), not on the dir column.
    * Signature parameters must match across stage, append and probe:
    * band keys from different parameters never collide. The manifest
    * refuses a numHashes/bands/shingleSize mismatch; a different
    * `shingler` silently yields zero candidates. */
  def stageSignatureBuckets(df: DataFrame, idCol: String, textCol: String,
      path: String, numHashes: Int = 8, bands: Int = 4, shingleSize: Int = 3,
      nGroups: Int = 64, splits: Int = 1, shingler: Column => Column = null): Unit =
    graft.sources.Layout.atomicStagedWrite(df.sparkSession, path) { tmp =>
      val (banded, textBytes) = bandedSignaturesWithBytes(df, idCol, textCol,
        numHashes, bands, shingleSize, shingler)
      val schema = writeBandedBuckets(banded, tmp, nGroups, splits, "overwrite")
      graft.sources.Layout.writeManifest(df.sparkSession, tmp,
        graft.sources.Layout.Manifest(SigsBuckets, SigVersion,
          sigParams(numHashes, bands, shingleSize),
          Map(graft.sources.Layout.Root -> schema.toDDL),
          Map("text_bytes" -> textBytes)))
    }

  /** Append an ingest batch's signatures to a [[stageSignatureBuckets]]
    * store — map-only (band keys depend only on the signature
    * parameters, never on the staged data, so no read of the existing
    * store is needed): per-batch cost is batch-sized, the q113-style
    * ingest contract. Probing after an append is row-identical to
    * probing a restage over the union (spec-proven). */
  def appendSignatureBuckets(df: DataFrame, idCol: String, textCol: String,
      path: String, numHashes: Int = 8, bands: Int = 4, shingleSize: Int = 3,
      nGroups: Int = 64, splits: Int = 1, shingler: Column => Column = null): Unit =
    // serialized vs other appends/compacts/restages of this store —
    // concurrency-safety rationale at Layout.withTableWriteLock
    graft.sources.Layout.withTableWriteLock(df.sparkSession, path) {
      // deliberately duplicated from writeBandedBuckets: parameter
      // validation must fire BEFORE the manifest update below, or an
      // invalid call would bump the accumulated volume with no data
      require(nGroups >= 1, s"nGroups must be >= 1, got $nGroups")
      require(splits >= 1, s"splits must be >= 1, got $splits")
      // fail fast BEFORE the corrupting write: a kind, format or
      // parameter mismatch against the existing store otherwise
      // surfaces only when a reader hits the mixed table much later
      val prior = sigStore(df.sparkSession, path, numHashes, bands,
        shingleSize, "appendSignatureBuckets")
      val (banded, batchBytes) = bandedSignaturesWithBytes(df, idCol,
        textCol, numHashes, bands, shingleSize, shingler)
      // manifest BEFORE the data append: a crash between the two then
      // leaves text_bytes OVER-counting (batch counted, rows absent under
      // the commit protocol) — only a conservative regime choice. The
      // reverse order would leave it UNDER-counting, the direction that
      // can flip the staged probe's broadcast gate open on a frame
      // larger than priced.
      graft.sources.Layout.writeManifest(df.sparkSession, path, prior.copy(
        measures = prior.measures +
          ("text_bytes" -> (prior.measures("text_bytes") + batchBytes))))
      writeBandedBuckets(banded, path, nGroups, splits, "append")
    }

  /** The bucket-store physical write: band-group dirs, (band,bkey)
    * row-group clustering. Returns the written rows' schema. */
  private def writeBandedBuckets(banded: DataFrame, path: String,
      nGroups: Int, splits: Int, mode: String): StructType = {
    require(nGroups >= 1, s"nGroups must be >= 1, got $nGroups")
    require(splits >= 1, s"splits must be >= 1, got $splits")
    val rows = banded
      .select(col("doc_id"), col("sh"), col("band"), col("bkey"))
      .withColumn("bgrp", pmod(hash(col("band"), col("bkey")), lit(nGroups)))
      .repartition(col("bgrp"), pmod(hash(col("doc_id")), lit(splits)))
      // bgrp leads the sort: partitionBy requires the partition column
      // ordered, so without it the file writer would insert its OWN full
      // sort per batch — with it, one sort serves both the writer and
      // the documented (band, bkey) row-group clustering
      .sortWithinPartitions(col("bgrp"), col("band"), col("bkey"))
    rows.write.mode(mode).partitionBy("bgrp").parquet(path)
    rows.schema
  }

  /** Compact over-fragmented band-group dirs of a
    * [[stageSignatureBuckets]] store: [[appendSignatureBuckets]] adds
    * ≥1 file per touched group per batch, so months of ingest shrink
    * files below a row group and per-file open cost dominates the probe
    * scan. Delegates to the shared minor-compaction machinery
    * ([[graft.sources.Layout.compactHiveDirs]] — semantics, crash
    * recovery and the streaming-sink caveat documented there): only
    * dirs over both `maxFiles` and the ~128 MB-per-file ideal are
    * rewritten, cold dirs stay byte-identical, row content is
    * preserved exactly (spec-proven: probes are row-identical
    * before/after). Returns the number of dirs rewritten. */
  def compactSignatureBuckets(spark: org.apache.spark.sql.SparkSession,
      path: String, maxFiles: Int = 8): Int =
    graft.sources.Layout.withTableWriteLock(spark, path) {
      graft.sources.Layout.compactHiveDirs(spark, path, "bgrp=", maxFiles)
    }

  // ---- duplicated-span statistics (ExactSubstr family, q86's operator) ----

  /** Per-doc DISTINCT `span`-token window sets: (doc_id, sh). Docs
    * shorter than `span` tokens get an empty set. */
  private def spanSets(df: DataFrame, idCol: String, textCol: String,
      span: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.functions.GraftFunctions.wordShingles(col(textCol), span).as("sh"))

  /** Exploded hashed spans: (doc_id, h). Spans hash to int64 so every
    * downstream shuffle carries narrow (hash, id) pairs, never span
    * text. Per-doc spans are distinct, so COUNT(*) per hash = document
    * frequency. */
  private def spanHashes(sets: DataFrame, seed: Int): DataFrame =
    sets.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.hash64c(col("s"), seed).as("h"))

  /** ExactSubstr-style duplicated-span statistics (q86's operator form —
    * the query delegates here, so the DuckDB oracle gates this code):
    * per doc, how many of its `span`-token windows also appear in OTHER
    * docs. Output: (doc_id, n_spans, n_dup_spans, dup_span_frac). The
    * span-frequency subtree is recomputed per run — production corpora
    * stage it once with [[stageSpanStats]] and probe with
    * [[dupSpanStatsStaged]]. */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
      span: Int = 8, seed: Int = 11): DataFrame = {
    val sets = spanSets(df, idCol, textCol, span)
    val ex = spanHashes(sets, seed)
    // n_dup without the spans-keyed join back (r16, the q115 identity):
    // a row is duplicated iff its hash's global count exceeds 1, so
    //   n_dup(d) = n_spans(d) − #{rows of d whose hash is globally unique}
    // and a globally-unique hash has exactly ONE row, whose owner is
    // min(doc_id) over its group — even an intra-doc hash collision sits
    // on the duplicated side in both forms. The exploded span frame is
    // derived ONCE (one scan + explode instead of two) and the
    // corpus-spans × common-hashes join plus its shuffle are gone; what
    // remains is the (irreducible) global span groupBy and a docs-sized
    // unique-owner aggregation.
    val uniq = ex.groupBy("h")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("owner"))
      .filter(col("n_docs") === 1)
      .groupBy(col("owner").as("doc_id")).agg(count(lit(1)).as("n_uniq"))
    spanStatsTail(sets, uniq)
  }

  /** Final per-doc assembly from the UNIQUE-span counts:
    * n_dup = n_spans − n_uniq (see [[dupSpanStats]]'s identity). */
  private def spanStatsTail(sets: DataFrame, uniq: DataFrame): DataFrame = {
    val nDup = col("n_spans") - coalesce(col("n_uniq"), lit(0L))
    sets.select(col("doc_id"), size(col("sh")).cast("long").as("n_spans"))
      .join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        nDup.as("n_dup_spans"),
        when(col("n_spans") === 0, lit(0.0))
          .otherwise(nDup.cast("double") / col("n_spans"))
          .as("dup_span_frac"))
  }

  /** Stage the corpus's span-frequency table to parquet — the
    * [[stageSignatureBuckets]] contract for the ExactSubstr family. The global
    * span groupBy (corpus-token-count × 16 bytes of shuffle) is paid
    * ONCE per corpus snapshot; the staged table is (h, n_docs) —
    * span-vocabulary-sized, two int64 columns, no text — hash-range-
    * clustered on `h` so file footers cover disjoint hash slices.
    * Probe-side parameters (span/seed) must match the staging call:
    * hashes from different parameters never collide correctly and a
    * mismatch silently reports zero duplicated spans. */
  def stageSpanStats(df: DataFrame, idCol: String, textCol: String,
      path: String, span: Int = 8, seed: Int = 11, numFiles: Int = 8): Unit =
    graft.sources.Layout.atomicStagedWrite(df.sparkSession, path) { tmp =>
      graft.sources.Layout.clusteredWrite(
        spanHashes(spanSets(df, idCol, textCol, span), seed)
          .groupBy("h").agg(count(lit(1)).as("n_docs")),
        tmp, Seq("h"), numFiles)
    }

  /** Fold an ingest batch INTO a staged span-frequency table — the
    * q113-style incremental update completing the ExactSubstr family's
    * lifecycle (stage once → probe batches → merge accepted batches),
    * mirroring what [[appendSignatureBuckets]] does for signatures.
    * The merged table is bit-for-bit what [[stageSpanStats]] over
    * corpus ∪ batch would write (spec-proven): per-span counts add
    * because batch doc_ids are NEW — merging a batch whose docs are
    * already counted double-counts them, so this is for accepted fresh
    * crawls only.
    *
    * Cost: one batch tokenization + a full-outer join against the
    * staged table — span-vocabulary-sized (two int64 columns), never
    * corpus-text-sized; the corpus is not re-tokenized. The rewrite
    * commits through [[graft.sources.Layout.atomicStagedWrite]], so a
    * crash mid-merge leaves the old snapshot whole (and the merge reads
    * the old table lazily while writing the staging dir — safe by that
    * contract). Parameters must match the staging call. */
  def mergeSpanStats(stagedPath: String, newDf: DataFrame, idCol: String,
      textCol: String, span: Int = 8, seed: Int = 11, numFiles: Int = 8): Unit = {
    val spark = newDf.sparkSession
    graft.sources.Layout.atomicStagedWrite(spark, stagedPath) { tmp =>
      val batch = spanHashes(spanSets(newDf, idCol, textCol, span), seed)
        .groupBy("h").agg(count(lit(1)).as("n_new"))
      val staged = spark.read.parquet(stagedPath).select("h", "n_docs")
      val merged = staged.join(batch, Seq("h"), "full")
        .select(col("h"),
          (coalesce(col("n_docs"), lit(0L)) + coalesce(col("n_new"), lit(0L)))
            .as("n_docs"))
      graft.sources.Layout.clusteredWrite(merged, tmp, Seq("h"), numFiles)
    }
  }

  /** [[dupSpanStats]] for an ingest batch against a [[stageSpanStats]]
    * table: per NEW doc, a span is duplicated when it appears in any
    * other document of corpus ∪ batch — bit-for-bit the rows
    * [[dupSpanStats]] over the union would produce for the batch's
    * doc_ids, but the plan scans only the new batch plus the staged
    * table; the corpus is never re-tokenized. Join shape: the staged
    * side is probed with a semi join against the batch's distinct span
    * hashes — AQE broadcasts that (batch-sized) key set, so the
    * corpus-span-sized staged table is scanned once and never
    * shuffled; every later join is batch-sized. */
  def dupSpanStatsStaged(stagedStats: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String, span: Int = 8, seed: Int = 11): DataFrame = {
    val sets = spanSets(newDf, idCol, textCol, span)
    val ex = spanHashes(sets, seed)
    // same unique-owner identity as [[dupSpanStats]], over corpus ∪
    // batch: a batch row is unique iff its hash appears once in the
    // batch AND never in the staged table — so the batch-spans × common
    // join is gone here too, and the batch's exploded frame is derived
    // once
    val batchDf = ex.groupBy("h")
      .agg(count(lit(1)).as("n_new"), min(col("doc_id")).as("owner"))
    val hits = stagedStats.select(col("h"), col("n_docs"))
      .join(batchDf.select("h"), Seq("h"), "leftsemi")
    val uniq = batchDf.join(hits, Seq("h"), "left")
      .filter(col("n_new") + coalesce(col("n_docs"), lit(0L)) === 1)
      .groupBy(col("owner").as("doc_id")).agg(count(lit(1)).as("n_uniq"))
    spanStatsTail(sets, uniq)
  }
}
