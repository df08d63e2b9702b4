package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Similarity}

class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  test("keepLatest keeps greatest by order, firstWins the least (A2/A3)") {
    val df = Seq(
      (1L, "a", 10L), (1L, "a", 30L), (1L, "a", 20L),
      (2L, "b", 5L)
    ).toDF("user", "typ", "seq")
    val latest = Dedup.keepLatest(df, Seq("user"), Seq(col("seq")))
      .select("user", "seq").as[(Long, Long)].collect().toMap
    assert(latest === Map(1L -> 30L, 2L -> 5L))
    val first = Dedup.firstWins(df, Seq("user"), Seq(col("seq")))
      .select("user", "seq").as[(Long, Long)].collect().toMap
    assert(first === Map(1L -> 10L, 2L -> 5L))
  }

  test("keepLatest is idempotent") {
    val df = Seq((1L, 1L), (1L, 2L), (2L, 9L)).toDF("k", "s")
    val once = Dedup.keepLatest(df, Seq("k"), Seq(col("s")))
    val twice = Dedup.keepLatest(once, Seq("k"), Seq(col("s")))
    assert(once.collect().toSet === twice.collect().toSet)
  }

  test("shingles produce n-grams and empty below n tokens") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(shingles(col("text"), 3).as("sh"))
    val rows = df.as[Seq[String]].collect()
    assert(rows(0) === Seq("a b c", "b c d"))
    assert(rows(1) === Seq.empty)
  }

  test("simhash of near-identical texts is closer than unrelated texts") {
    val df = Seq(
      ("a", "spark query join table scan filter"),
      ("b", "spark query join table scan merge"),
      ("c", "zz yy xx ww vv uu")
    ).toDF("id", "text").select(col("id"), simhash(col("text"), 16).as("sh"))
    val m = df.as[(String, Long)].collect().toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(m("a"), m("b")) < ham(m("a"), m("c")))
  }

  test("minhashLshPairs finds exact duplicates with jaccard 1.0") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different text with other tokens here now")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    assert(pairs.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("minhashLshPairs ignores empty-shingle docs (no giant '' bucket)") {
    // docs with < shingleSize tokens have empty shingle sets → all-NULL
    // signatures; they must not pair with each other via band key ""
    val df = Seq(
      (1L, "a"), (2L, "b"), (3L, "c d"),
      (4L, "the quick brown fox jumps"),
      (5L, "the quick brown fox jumps")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    assert(pairs.toSeq === Seq((4L, 5L, 1.0)))
  }

  test("LSH operators leave no persisted blocks behind (unpersist contract)") {
    // The session is JVM-wide (SparkTestBase), so OTHER suites' queries may
    // have localCheckpoint blocks still awaiting the ContextCleaner — the
    // contract under test is that THESE operators add none, so diff
    // against a pre-snapshot instead of asserting global emptiness.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different text with other tokens here now")
    ).toDF("doc_id", "text")
    Dedup.minhashLshPairs(docs, "doc_id", "text").count()
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    Similarity.nearDupPairs(emb, planes = 2, dim = 2, threshold = 0.9).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persisted RDDs: $leaked")
  }

  test("saltedJoin rejects join types that would replicate unmatched dim rows") {
    val fact = Seq((1, "x")).toDF("k", "v")
    val dim = Seq((1, "d")).toDF("k", "w")
    intercept[IllegalArgumentException] {
      graft.operators.Skew.saltedJoin(fact, dim, "k", salts = 4, joinType = "full_outer")
    }
    // the valid types still work
    assert(graft.operators.Skew.saltedJoin(fact, dim, "k", salts = 4).count() === 1)
  }

  test("asOf joinLatest matches range-join NULL semantics (no stitched rows)") {
    import graft.operators.AsOf
    val right = Seq(
      (Some(1L), Some(1L), Some(10.0), Some(5.0)),   // t=1: price 10, qty 5
      (Some(1L), Some(2L), Some(20.0), None),        // t=2: price 20, qty NULL
      (Some(1L), None, Some(99.0), Some(99.0)),      // NULL time: never matches
      (None, Some(1L), Some(77.0), Some(77.0))       // NULL key: never matches
    ).toDF("k", "t", "price", "qty")
    val left = Seq(
      (Some(1L), 3L),  // as-of match is t=2 -> price 20, qty NULL (not 5!)
      (None, 3L)       // NULL key -> no match at all
    ).toDF("k", "lt")
    val got = AsOf.joinLatest(left, right, "k", "lt", "t", "t",
        Seq("price", "qty"))
      .select("k", "price", "qty").collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)),
         if (r.isNullAt(1)) None else Some(r.getDouble(1)),
         if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(got === Set(
      (Some(1L), Some(20.0), None), // the true t=2 row, its NULL qty intact
      (None, None, None)))          // NULL-key left row gets no carry
  }

  test("nearDupClusters finds components: chain, triangle, pair (min-id canonical)") {
    // chain 1-2-3-4 (diameter 3 — needs multiple propagation rounds),
    // triangle 10-11-12, pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)
    ).toDF("a", "b")
    val got = Dedup.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("nearDupClusters converges on a long chain (pointer jumping, not O(diameter))") {
    // path 0-1-2-...-63: diameter 63 — plain propagation would need 63
    // rounds; jumping converges well within maxIter=25
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.nearDupClusters(chain).as[(Long, Long)].collect()
    assert(got.length === 64)
    assert(got.forall(_._2 === 0L))
  }

  test("nearDupClusters regime switch: the 16 B/edge-row bound, id types, nulls") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    def local(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.logical.isInstanceOf[LocalRelation]
    try {
      // 3 pairs = 6 edge rows = 96 B: over a 80 B bound, within a 96 B one
      val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
      val want = Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      spark.conf.set(key, "80")
      val rounds = Dedup.nearDupClusters(pairs)
      assert(!local(rounds))
      spark.conf.set(key, "96")
      val driver = Dedup.nearDupClusters(pairs)
      assert(local(driver))
      assert(driver.schema === rounds.schema)
      assert(driver.as[(Long, Long)].collect().toSet === want)
      assert(rounds.as[(Long, Long)].collect().toSet === want)
      spark.conf.set(key, prev)
      // int ids come back as ints, nullable inputs keep nullable columns
      val ints = Seq((1, 2), (2, 3)).toDF("a", "b")
      val opt = Seq((Option(1L), Option(2L))).toDF("a", "b")
      for (df <- Seq(ints, opt)) {
        val got = Dedup.nearDupClusters(df)
        assert(local(got))
        spark.conf.set(key, "-1")
        val ref = Dedup.nearDupClusters(df)
        spark.conf.set(key, prev)
        assert(got.schema === ref.schema)
        assert(got.collect().toSet === ref.collect().toSet)
      }
      // a NULL id has no place in the union-find: the rounds label it
      val withNull = Seq((Option(1L), Option(2L)), (Option(3L), None))
        .toDF("a", "b")
      assert(!local(Dedup.nearDupClusters(withNull)))
    } finally spark.conf.set(key, prev)
  }

  test("nearDupClusters rounds release every pin the result no longer reads") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    def cachedRdds(): Set[Int] =
      spark.sparkContext.getRDDStorageInfo.filter(_.isCached).map(_.id).toSet
    try {
      spark.conf.set(key, "-1") // force the distributed rounds
      // a 40-node chain needs several pointer-jumping rounds
      val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
      val before = cachedRdds()
      val labels = Dedup.nearDupClusters(pairs)
      val kept = labels.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }.toSet
      assert(kept.size === 1)
      // edges, labels-init and every superseded round are unpersisted
      // (asynchronously); only the returned labels stay pinned
      eventually(timeout(Span(20, Seconds))) {
        assert(cachedRdds() -- before === kept)
      }
      assert(labels.select("cluster").distinct().count() === 1)
    } finally spark.conf.set(key, prev)
  }

  test("OR-amplified LSH recall dominates single-table recall vs exact top-k") {
    // multi-set candidates are a superset of set 0 (= lshTopK's planes),
    // and an exact-top-k item outranked by at most k-1 vectors globally
    // holds rank <= k in ANY candidate subset — so recall can only rise
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qp = col("vec_id") < 8
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vid").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, qp, k = 3))
    val single = pairs(Similarity.lshTopK(emb, qp, planes = 4, dim = 64, k = 3))
    val multi = pairs(Similarity.lshTopKMulti(emb, qp, planes = 4, dim = 64,
      k = 3, sets = 2))
    assert((multi intersect exact).size >= (single intersect exact).size)
    // every single-table exact hit survives amplification
    assert((single intersect exact).subsetOf(multi))
    // the shuffle-join path (corpus-sized query sets) is the SAME
    // operator under a different join strategy: identical rows, ranks
    // and cosine bits — so the recall guarantees above carry over to it
    def full(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vid", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    val viaB = full(Similarity.lshTopKMulti(emb, qp, planes = 4, dim = 64,
      k = 3, sets = 2, broadcastQueries = Some(true)))
    val viaS = full(Similarity.lshTopKMulti(emb, qp, planes = 4, dim = 64,
      k = 3, sets = 2, broadcastQueries = Some(false)))
    assert(viaS === viaB)
    val viaB1 = full(Similarity.lshTopK(emb, qp, planes = 4, dim = 64, k = 3,
      broadcastQueries = Some(true)))
    val viaS1 = full(Similarity.lshTopK(emb, qp, planes = 4, dim = 64, k = 3,
      broadcastQueries = Some(false)))
    assert(viaS1 === viaB1)
    // auto mode picks broadcast for this 8-query set and matches too
    assert(full(Similarity.lshTopKMulti(emb, qp, planes = 4, dim = 64,
      k = 3, sets = 2)) === viaB)
  }

  test("updateClusters: incremental CC equals full recompute and merges old clusters") {
    // old clustering: {1,2}, {3,4}, {10,11}
    val oldPairs = Seq((1L, 2L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val labels = Dedup.nearDupClusters(oldPairs)
    // new batch: 2-3 MERGES clusters 1 and 3; 20-21 is a brand-new
    // cluster; 11-30 attaches a new node to an old cluster
    val newPairs = Seq((2L, 3L), (20L, 21L), (11L, 30L)).toDF("a", "b")
    val got = Dedup.updateClusters(labels, newPairs)
      .as[(Long, Long)].collect().toMap
    val full = Dedup.nearDupClusters(oldPairs.unionByName(newPairs))
      .as[(Long, Long)].collect().toMap
    assert(got === full)
    assert(got(4L) === 1L)   // merged component re-canonicalizes to min id
    assert(got(30L) === 10L) // new node joined an old cluster
    assert(got(20L) === 20L && got(21L) === 20L) // fresh cluster
  }

  test("adaptiveQualityFloor keeps per-stratum top slice including floor ties") {
    import graft.operators.Curation
    // stratum A: scores 1..10, pct=20 → floor rank ceil(20·10/100)=2 →
    // floor 2.0 → 9 kept / 1 dropped; stratum B: all-equal scores →
    // floor = that value, every tie kept
    val df = ((1 to 10).map(i => ("A", i.toLong, i.toDouble)) ++
      (1 to 4).map(i => ("B", i.toLong, 5.0))).toDF("src", "id", "q")
    val out = graft.operators.Curation.adaptiveQualityFloor(
      df, Seq("src"), col("q"), "id", pct = 20)
    val a = out.filter(col("src") === "A")
    assert(a.filter(col("kept")).count() === 9)
    assert(a.filter(!col("kept")).count() === 1)
    assert(a.select(max("floor")).head().getDouble(0) === 2.0)
    val b = out.filter(col("src") === "B")
    assert(b.filter(col("kept")).count() === 4)
    // fail fast on output-column collisions instead of silently replacing
    intercept[IllegalArgumentException] {
      Curation.adaptiveQualityFloor(df.withColumnRenamed("q", "score"),
        Seq("src"), col("score"), "id")
    }
    // a NULL score ranks NULLS FIRST in Spark (DuckDB defaults last —
    // parity breaks) and can NULL a whole stratum's floor — loud failure
    val nul = df.unionByName(
      Seq(("A", 99L, None: Option[Double])).toDF("src", "id", "q"))
    val e = intercept[Exception] {
      Curation.adaptiveQualityFloor(nul, Seq("src"), col("q"), "id",
        pct = 20).collect()
    }
    val m = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("|")
    assert(m.contains("NULL score"), m)
  }

  test("tokenBudgetSample: budget-prefix monotone, repartition-stable, per-stratum") {
    import graft.operators.Sampling
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(3)
    val df = (1L to 200L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", 10L + rnd.nextInt(90)))
      .toDF("id", "src", "nt")
    def ids(d: org.apache.spark.sql.DataFrame, budget: Long) =
      Sampling.tokenBudgetSample(d, Seq("src"), "id", col("nt"),
        lit(budget), seed = 5).select("id").as[Long].collect().toSet
    val small = ids(df, 500L)
    val large = ids(df, 2000L)
    assert(small.subsetOf(large), "larger budget must extend, not reshuffle")
    assert(ids(df.repartition(13), 500L) === small, "layout must not matter")
    // every stratum respects ITS budget: max cum_tokens <= budget
    val caps = Sampling.tokenBudgetSample(df, Seq("src"), "id", col("nt"),
        lit(500L), seed = 5)
      .groupBy("src").agg(max("cum_tokens").as("m"))
      .select("m").as[Long].collect()
    assert(caps.nonEmpty && caps.forall(_ <= 500L))
  }

  test("tokenBudgetSample bucket prune equals single-window on a giant skewed stratum") {
    import graft.operators.Sampling
    val rnd = new scala.util.Random(7)
    // one giant stratum (3000 rows, ~10x the budget prefix) + one small
    val df = ((1L to 3000L).map(i => (i, "giant", 1L + rnd.nextInt(20))) ++
      (1L to 50L).map(i => (10000L + i, "small", 5L))).toDF("id", "src", "nt")
    def run(bits: Int) =
      Sampling.tokenBudgetSample(df, Seq("src"), "id", col("nt"), lit(300L),
          seed = 9, shardBits = bits)
        .select("id", "cum_tokens").as[(Long, Long)].collect().toSet
    // shardBits = 0 IS the single-window definition; the bucketed prune
    // must reproduce it row-for-row including the audit column
    assert(run(10) === run(0))
    assert(run(10).nonEmpty)
    // a negative token count would break the prune's monotonicity
    // argument — it must fail loudly, never mis-sample
    val bad = Seq((1L, "x", 5L), (2L, "x", -3L)).toDF("id", "src", "nt")
    val e = intercept[Exception] {
      Sampling.tokenBudgetSample(bad, Seq("src"), "id", col("nt"), lit(10L),
        seed = 1).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("|")
    assert(msgs.contains("negative token count"), msgs)
    // NULL token counts: sum() would skip them, keeping the row for free
    val nul = Seq((1L, "x", Some(5L)), (2L, "x", None)).toDF("id", "src", "nt")
    val e2 = intercept[Exception] {
      Sampling.tokenBudgetSample(nul, Seq("src"), "id", col("nt"), lit(10L),
        seed = 1).collect()
    }
    val m2 = Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("|")
    assert(m2.contains("NULL token count"), m2)
  }

  test("Quantiles.exactPercentiles is bit-identical to the percentile aggregate") {
    import graft.operators.Quantiles
    val rnd = new scala.util.Random(11)
    val df = ((1 to 500).map(_ => ("a", rnd.nextDouble() * 1000)) ++
      (1 to 7).map(_ => ("b", 42.0)) ++            // all-equal group
      Seq(("c", 1.0)) ++                           // single-row group
      (1 to 100).map(i => ("d", (i % 5).toDouble)) // heavy ties
    ).toDF("g", "v")
    val ps = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val built = df.groupBy("g")
      .agg(percentile(col("v"), array(ps.map(lit): _*)).as("ps"))
      .select("g", "ps").as[(String, Seq[Double])].collect().toMap
    val two = Quantiles.exactPercentiles(df, "g", "v", ps)
      .select("g", "ps").as[(String, Seq[Double])].collect().toMap
    assert(two === built)
    // a tiny bucket count forces positions to straddle bins — the
    // offset bookkeeping, not bin granularity, must carry exactness
    val coarse = Quantiles.exactPercentiles(df, "g", "v", ps, buckets = 4)
      .select("g", "ps").as[(String, Seq[Double])].collect().toMap
    assert(coarse === built)
    // drop-in parity on degenerates: an all-NULL group emits the
    // built-in's NULL-array row (same stats pass, no extra scan)
    val df2 = df.unionByName(Seq("e", "e").toDF("g")
      .withColumn("v", lit(null).cast("double")))
    val built2 = df2.groupBy("g")
      .agg(percentile(col("v"), array(ps.map(lit): _*)).as("ps"))
      .select("g", "ps").as[(String, Seq[Double])].collect().toMap
    val two2 = Quantiles.exactPercentiles(df2, "g", "v", ps)
      .select("g", "ps").as[(String, Seq[Double])].collect().toMap
    assert(two2 === built2)
    assert(two2.contains("e") && two2("e") == null)
    // NaN poisons the equal-width bin (max=NaN → NaN width): loud fail,
    // never silently wrong bins
    val nan = df.unionByName(Seq(("f", Double.NaN)).toDF("g", "v"))
    val e = intercept[Exception] {
      Quantiles.exactPercentiles(nan, "g", "v", ps).collect()
    }
    val m = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("|")
    assert(m.contains("NaN"), m)
    // a NULL GROUP KEY is a group like any other: groupBy keeps it, so
    // the candidate-bin joins must too (a bare equi-join would silently
    // drop the whole group from the output)
    val df3 = df.unionByName(
      (1 to 40).map(i => (None: Option[String], i.toDouble)).toDF("g", "v"))
    val built3 = df3.groupBy("g")
      .agg(percentile(col("v"), array(ps.map(lit): _*)).as("ps"))
      .select("g", "ps").as[(Option[String], Seq[Double])].collect().toMap
    val two3 = Quantiles.exactPercentiles(df3, "g", "v", ps)
      .select("g", "ps").as[(Option[String], Seq[Double])].collect().toMap
    assert(two3 === built3)
    assert(two3.contains(None), "NULL group must appear in the output")
  }

  test("nearDupClusters/updateClusters reliable-checkpoint option: same labels, data on disk") {
    val dir = tmpDir("cc-ckpt")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val reliable = Dedup.nearDupClusters(pairs, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(reliable === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // the cuts really went to the reliable dir (executor-loss survival)
    def hasFiles(f: java.io.File): Boolean = {
      val k = f.listFiles()
      k != null && (k.exists(_.isFile) || k.exists(hasFiles))
    }
    assert(hasFiles(new java.io.File(dir)), "no reliable checkpoint data written")
    // per-round cleanup: an hours-long CC run must not accumulate one
    // label table per round — after the run only the FINAL labels (the
    // files backing the returned frame) remain; prior rounds and the
    // edges table are reclaimed as the run advances
    val ccDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cc-"))
    assert(ccDirs.length === 1, ccDirs.map(_.getName).mkString(","))
    val tags = ccDirs.head.listFiles().map(_.getName).toSet
    assert(tags.count(_.startsWith("labels-")) === 1, tags.toString)
    assert(!tags.contains("edges"), tags.toString)
    // and no global SparkContext checkpoint dir was hijacked
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      s"reliable CC must not mutate the global checkpoint dir: " +
        s"${spark.sparkContext.getCheckpointDir}")
    // updateClusters threads the option and agrees with the local path
    val upd = Dedup.updateClusters(Dedup.nearDupClusters(pairs),
      newPairs = Seq((3L, 10L)).toDF("a", "b"), maxIter = 25,
      checkpointDir = Some(dir)).as[(Long, Long)].collect().toMap
    assert(upd === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L))
  }

  test("matchedSample equalizes side counts per bucket; one-sided buckets drop") {
    import graft.operators.Sampling
    graft.functions.GraftFunctions.register(spark)
    // bucket 0: 5 pos / 3 neg -> 3+3; bucket 1: 2 pos / 4 neg -> 2+2;
    // bucket 2: pos only -> dropped entirely
    val df = ((1L to 5L).map((_, true, 0L)) ++ (6L to 8L).map((_, false, 0L)) ++
      (9L to 10L).map((_, true, 1L)) ++ (11L to 14L).map((_, false, 1L)) ++
      (15L to 17L).map((_, true, 2L))).toDF("id", "side", "bucket")
    val out = Sampling.matchedSample(df, "side", "bucket", "id",
      nSides = 2, seed = 9)
    val counts = out.groupBy("bucket", "side").count()
      .as[(Long, Boolean, Long)].collect().toSet
    assert(counts === Set((0L, true, 3L), (0L, false, 3L),
      (1L, true, 2L), (1L, false, 2L)))
    // the matched confound has IDENTICAL histograms across sides
    val hist = out.groupBy("bucket").agg(
      sum(when(col("side"), 1).otherwise(0)).as("p"),
      sum(when(!col("side"), 1).otherwise(0)).as("n"))
    assert(hist.filter(col("p") =!= col("n")).count() === 0)
    // a NULL side would form its own window partition: it shrinks every
    // real side's cap via the per-bucket min AND leaks into the output
    // (collect_set drops NULLs so __nsides still matches) — loud failure
    val nulSide = df.unionByName(
      Seq((99L, None: Option[Boolean], 0L)).toDF("id", "side", "bucket"))
    val e = intercept[Exception] {
      Sampling.matchedSample(nulSide, "side", "bucket", "id",
        nSides = 2, seed = 9).collect()
    }
    val m = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("|")
    assert(m.contains("NULL side"), m)
  }

  test("hash sampling is repartition-stable and splits are exhaustive") {
    import graft.operators.Sampling
    graft.functions.GraftFunctions.register(spark)
    val ids = (1L to 1000L).toDF("id")
    val s1 = Sampling.sampleHash(ids, "id", pct = 20, seed = 7)
      .as[Long].collect().toSet
    val s2 = Sampling.sampleHash(ids.repartition(13), "id", pct = 20, seed = 7)
      .as[Long].collect().toSet
    assert(s1 === s2) // same rows regardless of physical layout
    assert(s1.size > 120 && s1.size < 280) // ~20%
    // different seed -> different sample
    val s3 = Sampling.sampleHash(ids, "id", pct = 20, seed = 8).as[Long].collect().toSet
    assert(s1 !== s3)
    // split assignment is exhaustive and ~80/10/10
    val splits = ids.withColumn("sp", Sampling.assignSplit(col("id"), seed = 42))
      .groupBy("sp").count().as[(String, Long)].collect().toMap
    assert(splits.keySet === Set("train", "val", "test"))
    assert(splits("train") > 700 && splits("train") < 900)
  }

  test("rollingFingerprint is order-sensitive") {
    val df = Seq("a b c", "c b a").toDF("text")
      .select(rollingFingerprint(col("text")).as("fp"))
    val fps = df.as[Long].collect()
    assert(fps(0) !== fps(1))
  }

  test("bruteForceTopK ranks an identical vector first") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.9f, 0.1f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(df, col("vec_id") === 0, k = 2)
      .select("vid", "rank").as[(Long, Int)].collect().toMap
    assert(top(1L) === 1) // identical vector ranks first
    assert(top(3L) === 2)
  }

  test("ivfTopK assigns to the nearest centroid cell and finds close vectors") {
    // centroids = vec_id 0 (x-axis) and 1 (y-axis); 10/11 near x, 12 near y
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (10L, Array(0.9f, 0.1f)), (11L, Array(0.95f, 0.05f)),
      (12L, Array(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val res = Similarity.ivfTopK(df, col("vec_id") === 10, kCentroids = 2,
      nprobe = 1, k = 2)
    val rows = res.select("vid", "cell", "rank").as[(Long, Long, Int)].collect()
    // probe cell is the x-axis centroid's (cell 0): finds 11 and 0, never 12
    assert(rows.forall(_._2 === 0L))
    assert(rows.map(_._1).toSet.subsetOf(Set(0L, 11L)))
    assert(rows.find(_._3 == 1).map(_._1) === Some(11L)) // closest first
    // nprobe=2 widens the probe to the y-cell too
    val wide = Similarity.ivfTopK(df, col("vec_id") === 10, kCentroids = 2,
      nprobe = 2, k = 4)
    assert(wide.select("vid").as[Long].collect().toSet === Set(0L, 1L, 11L, 12L))
  }

  test("kmeansCentroids trains deterministic fixed-point means; empty cells persist") {
    // init centroids: vec_id 0 (near x-axis) and 1 (y-axis). All corpus
    // mass sits near x, so after one iteration cell 0's centroid is the
    // mean of {0, 10, 11} and cell 1 keeps only vector 1.
    val df = Seq(
      (0L, Array(0.8f, 0.2f)), (1L, Array(0.0f, 1.0f)),
      (10L, Array(1.0f, 0.0f)), (11L, Array(0.9f, 0.1f))
    ).toDF("vec_id", "embedding")
    def train() = Similarity.kmeansCentroids(df, kCentroids = 2, iters = 2)
      .orderBy("cid").as[(Long, Seq[Double])].collect()
    val c = train()
    assert(c.map(_._1).toSeq === Seq(0L, 1L))
    // cell 0 moved toward the x-heavy mass: mean x of {0.8, 1.0, 0.9} = 0.9
    assert(math.abs(c(0)._2.head - 0.9) < 1e-6)
    // cell 1 kept its lone member exactly (fixed-point mean of one row)
    assert(math.abs(c(1)._2(1) - 1.0) < 1e-6)
    // bit-deterministic across runs (the oracle-parity requirement)
    assert(train().toSeq === c.toSeq)

    // a quantizer whose cell empties out keeps the stale centroid rather
    // than producing NULL/NaN (the COALESCE path)
    val lop = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.01f)),
      (10L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val c2 = Similarity.kmeansCentroids(lop, kCentroids = 2, iters = 2)
      .orderBy("cid").as[(Long, Seq[Double])].collect()
    assert(c2.length === 2 && c2.forall(_._2.forall(v => !v.isNaN)))
  }

  test("kmeansCentroids holds centroids on the driver: no pins, a local relation") {
    val rnd = new scala.util.Random(3)
    val df = (0 until 120).map(i => (i.toLong, Array.fill(4)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val prev = System.getProperty("graft.capturePinPlans")
    System.setProperty("graft.capturePinPlans", "true")
    try {
      graft.Pins.drain()
      val c = Similarity.kmeansCentroids(df, kCentroids = 4, iters = 3)
      assert(graft.Pins.drain().isEmpty, "Lloyd iterations pinned a frame")
      assert(c.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      assert(c.count() === 4)
    } finally {
      if (prev == null) System.clearProperty("graft.capturePinPlans")
      else System.setProperty("graft.capturePinPlans", prev)
    }
  }

  test("semanticDedup drops within-cluster near-identicals, keeps lowest id") {
    // two tight clusters (x-axis, y-axis) + one isolated vector near x
    // but below the cosine threshold
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (10L, Array(0.99f, 0.01f)), (11L, Array(0.98f, 0.02f)),
      (12L, Array(0.01f, 0.99f)),
      (20L, Array(0.6f, 0.8f))
    ).toDF("vec_id", "embedding")
    val res = Similarity.semanticDedup(df, kCentroids = 2, iters = 1,
      threshold = 0.95)
    val rows = res.select("vec_id", "dup_of", "kept")
      .as[(Long, Option[Long], Boolean)].collect().toSeq
    assert(rows.length === 6)                       // one verdict per vector
    val byId = rows.map(r => r._1 -> r).toMap
    // cluster-mates of 0 above 0.95 cosine drop to the lowest id (0)
    assert(byId(10L) === ((10L, Some(0L), false)))
    assert(byId(11L) === ((11L, Some(0L), false)))
    assert(byId(12L) === ((12L, Some(1L), false)))
    // keep-one representatives and the isolated vector survive
    assert(byId(0L)._3 && byId(1L)._3 && byId(20L)._3)
    // dropped rows always point at a lower id in the same cell
    val cells = res.select("vec_id", "cell").as[(Long, Long)].collect().toMap
    rows.filter(!_._3).foreach { case (v, dup, _) =>
      assert(dup.get < v && cells(dup.get) === cells(v))
    }
  }

  test("semanticDedup trains on the id-prefix even when the corpus is " +
      "smaller than the cap (replayed ids past the cap stay out)") {
    // The replay-corpus gate's root cause (round 11 → 12): the training
    // set is DEFINED as `vec_id < max(32k, 20480)`, and an earlier cut
    // skipped that filter whenever COUNT(*) ≤ cap — sound only for dense
    // ids. This corpus is small (50 ≤ cap) but carries 30 replayed
    // copies of vector X under ids ≥ 10⁹: if they leak into training,
    // centroid c0 is dragged from (0.955, 0.045) to (0.651, 0.349),
    // which flips borderline P into X's cell and (cos(X,P) ≈ 0.98 ≥ 0.9)
    // wrongly drops it. Correct training keeps X and P in separate
    // cells and P kept — the DuckDB mirror's tre CTE semantics.
    val anchors0 = (2L to 9L).map(i => (i, Array(1.0f, 0.0f)))
    val anchors1 = (10L to 17L).map(i => (i, Array(0.0f, 1.0f)))
    val replays = (0L until 30L).map(i => (1000000000L + i, Array(0.55f, 0.45f)))
    val df = (Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (18L, Array(0.55f, 0.45f)), (19L, Array(0.45f, 0.55f))
    ) ++ anchors0 ++ anchors1 ++ replays).toDF("vec_id", "embedding")
    val res = Similarity.semanticDedup(df, kCentroids = 2, iters = 1,
      threshold = 0.9, targetCell = Some(256L))
    val rows = res.select("vec_id", "cell", "dup_of", "kept")
      .as[(Long, Long, Option[Long], Boolean)].collect()
    val byId = rows.map(r => r._1 -> r).toMap
    // X and P live in different cells; P has no ≥0.9 cell-mate → kept
    assert(byId(18L)._2 !== byId(19L)._2, "X and P must land in different cells")
    assert(byId(19L)._4 && byId(19L)._3.isEmpty, "borderline P must be kept")
    assert(byId(18L)._4, "X is its replay family's lowest id → kept")
    // every replayed copy of X drops to X, in X's cell
    replays.foreach { case (id, _) =>
      assert(byId(id) === ((id, byId(18L)._2, Some(18L), false)))
    }
    // exact-duplicate anchors collapse onto their seeds
    (2L to 9L).foreach(i => assert(byId(i)._3 === Some(0L)))
    (10L to 17L).foreach(i => assert(byId(i)._3 === Some(1L)))
  }

  test("staged-probe broadcast gate is byte-aware, not row-only") {
    // ADVICE r11: a pure row cap admits ~1 GB at dim 1024 — the gate
    // must bound measured bytes (rows·(8·dim+48) ≤ 64 MB) AND rows
    assert(Similarity.broadcastProbeFits(16L, 64L))        // gate-SF shape
    assert(Similarity.broadcastProbeFits(100000L, 64L))    // 56 MB: fits
    assert(!Similarity.broadcastProbeFits(1L << 17, 1024L)) // ~1 GB: no
    assert(!Similarity.broadcastProbeFits(1L << 17, 64L))  // 70 MB: no
    assert(Similarity.broadcastProbeFits(1L << 17, 0L))    // degenerate dim
    assert(!Similarity.broadcastProbeFits((1L << 17) + 1, 0L)) // row guard
  }

  test("incrementalNearDups flags new docs against the old batch only") {
    val mk = (id: Long, t: String) => (id, t)
    val old_ = Seq(
      mk(1L, "spark query join table scan filter sort merge"),
      mk(2L, "completely different tokens here nothing shared zz yy")
    ).toDF("doc_id", "text")
    val neu = Seq(
      mk(10L, "spark query join table scan filter sort merge"), // dup of 1
      mk(11L, "spark query join table scan filter sort batch"), // near-dup of 1
      mk(12L, "unrelated words qq ww ee rr tt uu ii oo"),       // novel
      // near-dup of 10 but NOT of anything old — must not be flagged
      mk(13L, "unrelated words qq ww ee rr tt uu ii pp")
    ).toDF("doc_id", "text")
    val res = Dedup.incrementalNearDups(old_, neu, "doc_id", "text",
        numHashes = 8, bands = 4, shingleSize = 3, threshold = 0.5)
      .select("doc_id", "dup_of", "best_jaccard")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(res.keySet === Set(10L, 11L))
    assert(res(10L)._1 === 1L && res(10L)._2 === 1.0)
    assert(res(11L)._1 === 1L && res(11L)._2 < 1.0)
  }

  test("stratifiedCap caps every stratum and is layout-stable") {
    val df = (1L to 40L).map(i => (if (i % 2 == 0) "a" else "b", i))
      .toDF("grp", "id")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Sampling.stratifiedCap(d, Seq("grp"), "id", cap = 3,
        seed = 7).select("grp", "id", "rn").as[(String, Long, Int)]
        .collect().toSeq.sorted
    val once = run(df)
    assert(once.count(_._1 == "a") === 3 && once.count(_._1 == "b") === 3)
    assert(once.forall(_._3 <= 3))
    // same draw regardless of physical layout (the q74 determinism rule)
    assert(run(df.repartition(7)) === once)
    // a stratum smaller than the cap keeps everything
    val tiny = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("grp", "id")
    assert(run(tiny).length === 3)
  }

  test("hardNegatives returns only cross-label neighbors, nearest first") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.01f, 0.0f), 0),  // same label — must never appear
      (2L, Array(0.9f, 0.1f, 0.0f), 1),    // closest cross-label
      (3L, Array(0.5f, 0.5f, 0.0f), 1),
      (4L, Array(0.0f, 1.0f, 0.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val res = Similarity.hardNegatives(df, col("vec_id") === 0, k = 2)
      .select("qid", "q_label", "vid", "neg_label", "rank")
      .as[(Long, Int, Long, Int, Int)].collect().sortBy(_._5)
    assert(res.length === 2)
    assert(res.forall { case (qid, ql, _, nl, _) => qid == 0L && ql == 0 && nl != 0 })
    assert(res(0)._3 === 2L && res(0)._5 === 1) // nearest cross-label first
    assert(res(1)._3 === 3L)
  }

  test("labelCentroidOutliers ranks the farthest member of each label first") {
    // label 0: three near x-axis + one far outlier; label 1: two near y
    val df = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.98f, 0.02f), 0),
      (2L, Array(0.99f, 0.01f), 0), (3L, Array(0.0f, 1.0f), 0), // outlier
      (10L, Array(0.0f, 1.0f), 1), (11L, Array(0.02f, 0.98f), 1)
    ).toDF("vec_id", "embedding", "label")
    def run() = Similarity.labelCentroidOutliers(df, topN = 2)
      .select("label", "vec_id", "rank").as[(Int, Long, Int)].collect().toSeq
    val res = run()
    assert(res.count(_._1 == 0) === 2 && res.count(_._1 == 1) === 2)
    // the planted outlier is label 0's rank-1 (farthest from centroid)
    assert(res.find(r => r._1 == 0 && r._3 == 1).map(_._2) === Some(3L))
    // bit-deterministic across runs (fixed-point centroid + exact dist)
    assert(run().sorted === res.sorted)
  }

  test("importanceWeights upweights target-like rows, layout-stable") {
    // target rows share the 'ml data' vocabulary; the generic row shares
    // nothing with the target slice
    val df = Seq(
      (1L, "ml data model train eval ml data", true),
      (2L, "ml data model serve infer ml data", true),
      (3L, "ml data model train serve ml data", false),  // target-like raw doc
      (4L, "cooking recipes pasta sauce oven baking dish", false)
    ).toDF("id", "text", "is_tgt")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Sampling.importanceWeights(d, "id",
          org.apache.spark.sql.functions.split(col("text"), " "),
          col("is_tgt"), seed = 3)
        .select("id", "importance").as[(Long, Double)].collect().toMap
    val w = run(df)
    assert(w.keySet === Set(1L, 2L, 3L, 4L))
    // target-vocabulary doc scores far above the out-of-domain doc
    assert(w(3L) > w(4L))
    // a doc with zero target-feature overlap gets weight 0
    assert(w(4L) === 0.0)
    // deterministic under repartitioning (all-integer until the division)
    assert(run(df.repartition(5)) === w)
  }

  test("covarianceMatrix matches hand-computed moments, layout-stable") {
    // two 3-dim vectors: means (0.5, 1.0, 0.0); cov(0,0) = E[x²]−E[x]²
    val df = Seq(
      (0L, Array(0.0f, 1.0f, 0.0f)),
      (1L, Array(1.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.covarianceMatrix(d, dim = 3)
        .select("i", "j", "cov").as[(Int, Int, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    val m = run(df)
    assert(m.keySet === Set((0,0),(0,1),(0,2),(1,1),(1,2),(2,2))) // upper tri
    assert(math.abs(m((0,0)) - 0.25) < 1e-9)  // var of {0,1}
    assert(math.abs(m((1,1)) - 0.0) < 1e-9)   // constant dim
    assert(math.abs(m((0,1)) - 0.0) < 1e-9)   // x1 constant → no covariance
    assert(math.abs(m((2,2)) - 0.0) < 1e-9)
    // bit-identical under repartitioning (fixed-point integer sums)
    assert(run(df.repartition(4)) === m)
  }

  test("dominantDirection finds a planted principal axis, partition-stable") {
    // 40 mean-zero vectors: ±0.9 along axis 2, ±0.1 along axis 0 (decorrelated
    // from axis 2 by flipping at a different stride) — variance 0.81 vs 0.01
    val df = (0 until 40).map { k =>
      val s2 = if (k % 2 == 0) 0.9f else -0.9f
      val s0 = if ((k / 2) % 2 == 0) 0.1f else -0.1f
      (k.toLong, Array(s0, 0.0f, s2, 0.0f))
    }.toDF("vec_id", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.dominantDirection(d, dim = 4, iters = 3)
        .select("dim_idx", "component", "eig_est")
        .as[(Int, Long, Double)].collect().toSeq
    val r = run(df)
    assert(r.map(_._1) === (0 until 4))
    val comps = r.map(x => math.abs(x._2))
    // the planted axis dominates and is normalized onto the 2^20 grid
    assert(comps(2) === comps.max)
    assert(comps.max <= 1048576L && comps.max >= 1048576L / 2)
    assert(comps(2) > 10 * comps(0) && comps(2) > 10 * comps(1))
    // eigenvalue estimate is near the planted variance 0.81
    assert(math.abs(r.head._3 - 0.81) < 0.05)
    // bit-identical under repartitioning (integer matvec sums)
    assert(run(df.repartition(7)) === r)
  }

  private val dominantDirectionSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("dim_idx", IntegerType, nullable = false),
      StructField("component", LongType, nullable = true),
      StructField("loading", DoubleType, nullable = true),
      StructField("eig_est", DoubleType, nullable = true)))
  }

  test("dominantDirection keeps the exact grid values of the distributed iteration") {
    // values the join+groupBy matvec plan produced for this input: the
    // driver iteration must reproduce them bit for bit
    val df = Seq((1L, Array(0.1f, 0.2f)), (2L, Array(0.3f, -0.1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.dominantDirection(df, dim = 2, iters = 3)
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) === Seq((0, -699052L), (1, 1048568L)))
    assert(got.map(_._3) === got.map(_._2 / 1048576.0))
    assert(got.forall(_._4 == 0.032499074150109664))
  }

  test("dominantDirection on an empty corpus: no rows, the declared schema") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val out = Similarity.dominantDirection(empty, dim = 4, iters = 3)
    assert(out.schema === dominantDirectionSchema)
    assert(out.collect().isEmpty)
  }

  test("dominantDirection on an all-zero covariance fails like ANSI DIV by zero") {
    // identical vectors on exact binary fractions: every covariance cell
    // floors to exactly 0, so the first matvec's max-norm is 0 and the
    // integer normalisation divides by zero — a loud failure, not NULLs
    val df = (0 until 8).map(k => (k.toLong, Array(0.5f, -0.25f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    for (iters <- Seq(1, 3)) {
      val e = intercept[ArithmeticException] {
        Similarity.dominantDirection(df, dim = 4, iters = iters).collect()
      }
      assert(e.getMessage.contains("DIVIDE_BY_ZERO"), e.getMessage)
    }
  }

  test("systematicPps: one pick per step-block, heavy rows always kept, partition-stable") {
    import graft.operators.Sampling
    // two strata of 50 rows; every 10th row is heavy (w=120 >= step)
    val df = (1L to 100L).map(i =>
      (i, if (i <= 50) "a" else "b", if (i % 10 == 0) 120L else 7L))
      .toDF("id", "src", "w")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.systematicPps(d, Seq("src"), "id", col("w"), step = 100L, seed = 3)
        .select("id").as[Long].collect().toSet
    val r = run(df)
    // a row with w >= step always straddles a boundary — never dropped
    assert((10L to 100L by 10L).toSet.subsetOf(r))
    // exact expected set: replay the same integer math (hash order,
    // running sum, boundary straddle — a heavy row spanning TWO
    // boundaries is still picked once, probability capped at 1)
    def h(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:3".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15), 16)
    val expected = (1L to 100L).groupBy(i => if (i <= 50) "a" else "b")
      .values.flatMap { ids =>
        var cum = 0L
        ids.sortBy(i => (h(i), i)).flatMap { i =>
          val w = if (i % 10 == 0) 120L else 7L
          cum += w
          if (cum / 100 > (cum - w) / 100) Some(i) else None
        }
      }.toSet
    assert(r === expected)
    // the draw is a pure function of (id-hash order, integer sums)
    assert(run(df.repartition(13)) === r)
  }

  test("systematicPps: sharded windows equal the single-window draw; bad weights fail loudly") {
    import graft.operators.Sampling
    val rnd = new scala.util.Random(21)
    // one giant stratum + one small — the shape the sharding exists for
    val df = ((1L to 3000L).map(i => (i, "giant", 1L + rnd.nextInt(20))) ++
      (1L to 50L).map(i => (10000L + i, "small", 5L))).toDF("id", "src", "w")
    def run(bits: Int) =
      Sampling.systematicPps(df, Seq("src"), "id", col("w"), step = 100L,
          seed = 3, shardBits = bits)
        .select("id", "cum").as[(Long, Long)].collect().toSet
    // shardBits = 0 IS the single-window definition; bucket-major +
    // in-bucket order must reproduce it row-for-row incl. the audit cum
    assert(run(10) === run(0))
    assert(run(10).nonEmpty)
    def msgs(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("|")
    // a negative weight breaks the straddle predicate and the
    // DIV-vs-floor engine parity — loud failure, never a silent draw
    val neg = Seq((1L, "x", 5L), (2L, "x", -3L)).toDF("id", "src", "w")
    val e1 = intercept[Exception] {
      Sampling.systematicPps(neg, Seq("src"), "id", col("w"), step = 10L,
        seed = 1).collect()
    }
    assert(msgs(e1).contains("negative weight"), msgs(e1))
    // a fractional weight would be silently truncated by the long cast
    val frac = Seq((1L, "x", 2.5), (2L, "x", 3.0)).toDF("id", "src", "w")
    val e2 = intercept[Exception] {
      Sampling.systematicPps(frac, Seq("src"), "id", col("w"), step = 10L,
        seed = 1).collect()
    }
    assert(msgs(e2).contains("non-integral weight"), msgs(e2))
    // a NULL weight slips past both comparisons (NULL < 0 is false) and
    // would be silently summed as 0 — never sampled, no error
    val nul = Seq((1L, "x", Some(5L)), (2L, "x", None)).toDF("id", "src", "w")
    val e3 = intercept[Exception] {
      Sampling.systematicPps(nul, Seq("src"), "id", col("w"), step = 10L,
        seed = 1).collect()
    }
    assert(msgs(e3).contains("NULL weight"), msgs(e3))
  }

  test("containmentPairs flags a contained excerpt that Jaccard misses") {
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq((1L, long), (2L, short), (3L, "totally unrelated words "
      + "here nothing shared at all qq ww ee")).toDF("doc_id", "text")
    val res = Dedup.containmentPairs(df, "doc_id", "text",
        numHashes = 8, bands = 8, shingleSize = 3, threshold = 0.9)
      .select("a", "b", "jaccard", "containment_a", "containment_b")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(res.length === 1)
    val (a, b, jac, ca, cb) = res(0)
    assert((a, b) === ((1L, 2L)))
    assert(cb === 1.0)   // every shingle of the short doc is in the long one
    assert(jac < 0.5)    // the Jaccard gate alone would have missed it
    assert(ca < 0.5)
  }

  test("containmentPairs segmentTokens: asymmetric bands catch a quotation the default bands miss") {
    // a 12-token document quoted verbatim inside a ~120-token document:
    // Jaccard is intersection/union ~ 10/118, so the quote barely moves
    // the long doc's minhashes and the Jaccard-tuned bands never collide
    val quote = "the quick brown fox jumps over the lazy dog near the river"
    val longDoc = ((0 until 48).map(i => s"f$i") ++ quote.split(" ") ++
      (0 until 60).map(i => s"g$i")).mkString(" ")
    val df = Seq((1L, quote), (2L, longDoc),
      (3L, "totally unrelated words here nothing shared at all qq ww ee"))
      .toDF("doc_id", "text")

    def pairs(segTokens: Int) = Dedup.containmentPairs(df, "doc_id", "text",
        numHashes = 8, bands = 4, shingleSize = 3, threshold = 0.9,
        segmentTokens = segTokens)
      .select("a", "b", "jaccard", "containment_a", "containment_b")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq

    assert(pairs(0) === Seq.empty, "default Jaccard-tuned bands must miss")
    // the quote sits at a stride-aligned offset and spans exactly one
    // segment, so the covering window's shingle set EQUALS the short
    // doc's — all bands collide deterministically
    val asym = pairs(12)
    assert(asym.length === 1)
    val (a, b, jac, ca, cb) = asym(0)
    assert((a, b) === ((1L, 2L)))
    assert(ca === 1.0)  // every shingle of the quote is in the long doc
    assert(jac < 0.1 && cb < 0.1)

    // purely additive: on a corpus where the default bands already fire,
    // the option returns the same pairs with identical exact scores
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    def run(st: Int) = Dedup.containmentPairs(base, "doc_id", "text",
        numHashes = 8, bands = 8, shingleSize = 3, threshold = 0.9,
        segmentTokens = st)
      .select("a", "b", "jaccard", "containment_a", "containment_b")
      .as[(Long, Long, Double, Double, Double)].collect().toSet
    assert(run(0).subsetOf(run(12)) && run(0).nonEmpty)
  }

  test("snapshotDiff classifies added/removed/changed and survives NULL fps") {
    val old_ = Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]),
      (4L, "gone")).toDF("id", "text")
    val neu = Seq((1L, "a"), (2L, "B"), (3L, null.asInstanceOf[String]),
      (5L, "new")).toDF("id", "text")
    val res = Dedup.snapshotDiff(old_, neu, "id", md5(col("text")))
      .as[(Long, String)].collect().toMap
    assert(res === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "unchanged",  // NULL fp on both sides is NOT a change or an add
      4L -> "removed", 5L -> "added"))
  }

  test("Curation.curate gates language, quality, dedup and near-dups in one call") {
    val good = "the quick analysis of the data is " +
      ("thorough and careful review of results " * 12).trim
    val df = Seq(
      (1L, good),                         // passes all gates
      (2L, good),                         // exact duplicate of 1 → dropped
      (3L, good + " extended"),           // near-duplicate of 1 → dropped
      (4L, "xyz abc qrs tuv")             // no marker tokens → lang gate drops
    ).toDF("doc_id", "text")
    val kept = graft.operators.Curation.curate(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L))
    // redaction applied to survivors
    val masked = graft.operators.Curation.curate(
        Seq((1L, good + " contact 1234567")).toDF("doc_id", "text"),
        "doc_id", "text")
      .select("text").as[String].head()
    assert(masked.contains("[ID]") && !masked.contains("1234567"))
  }

  test("Curation.curate: pairs-over-redacted equals pairs-over-kept (r16)") {
    // exact-dup PILES interleaved with near-dups — the shape where
    // computing LSH pairs before the exact dedup adds candidates; the
    // survivor set must be byte-identical to the pairs-over-kept form
    // (every dropped exact dup has a kept twin with identical text, so
    // the twin reproduces every near-dup pair the dup carried)
    val base = "the quick analysis of the data is " +
      ("thorough and careful review of results " * 12).trim
    val other = "the complete survey of the corpus is " +
      ("detailed and methodical audit of sources " * 12).trim
    val df = Seq(
      (1L, base), (2L, base), (3L, base),          // exact pile, keeper 1
      (4L, base + " extended tail"),               // near-dup of the pile
      (5L, other), (6L, other),                    // second pile, keeper 5
      (7L, other + " with an appended remark"),    // near-dup of pile 2
      (8L, "the structure of a fully distinct " +
        ("document body with unrelated words " * 12).trim) // independent
    ).toDF("doc_id", "text")
    val got = graft.operators.Curation.curate(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    // reference: the pre-r16 formulation — pairs computed over `kept`
    import graft.operators.{Curation, Dedup}
    import graft.functions.TextFunctions
    val cfg = Curation.Config()
    val gated = df.filter(TextFunctions.langId(col("text")) === cfg.lang &&
      TextFunctions.qualityScore(col("text")) >= cfg.minQuality)
    val redacted = gated.select(col("doc_id"),
      TextFunctions.redact(col("text")).as("text"))
    val kept = Dedup.firstWins(redacted.withColumn("__fp", md5(col("text"))),
      Seq("__fp"), Seq(col("doc_id"))).drop("__fp")
    val refPairs = Dedup.minhashLshPairs(kept, "doc_id", "text",
      numHashes = cfg.numHashes, bands = cfg.bands,
      shingleSize = cfg.shingleSize, threshold = cfg.nearDupThreshold)
    val ref = kept.join(refPairs.select(col("b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti").orderBy("doc_id").collect()
    assert(got.toSeq == ref.toSeq, s"got=${got.toSeq}\nref=${ref.toSeq}")
    assert(got.map(_.getLong(0)).toSet == Set(1L, 5L, 8L))
  }

  test("keepOneByPriority keeps the best-priority member, id breaks ties") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster")
    val meta = Seq((1L, "crawl"), (2L, "curated"), (3L, "curated"),
      (10L, "crawl"), (11L, "crawl")).toDF("doc_id", "src")
    val out = Dedup.keepOneByPriority(clusters, meta, "doc_id",
        when(col("src") === "curated", 0).otherwise(1))
      .select("id", "keeper", "kept").as[(Long, Long, Boolean)]
      .collect().toSet
    // cluster 1: curated 2 beats curated 3 (id tie-break) beats crawl 1
    // cluster 10: all crawl → min id 10
    assert(out === Set((1L, 2L, false), (2L, 2L, true), (3L, 2L, false),
      (10L, 10L, true), (11L, 10L, false)))

    // a clustered id with no metadata row must fail loudly, not vanish
    def msgOf(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    val missing = intercept[Exception] {
      Dedup.keepOneByPriority(clusters, meta.filter(col("doc_id") =!= 1L),
        "doc_id", when(col("src") === "curated", 0).otherwise(1)).collect()
    }
    assert(msgOf(missing).contains("no metadata row"))

    // ...and a duplicated metadata row must fail loudly, not multiply rows
    val dup = intercept[Exception] {
      Dedup.keepOneByPriority(clusters,
        meta.union(Seq((2L, "curated")).toDF("doc_id", "src")),
        "doc_id", when(col("src") === "curated", 0).otherwise(1)).collect()
    }
    assert(msgOf(dup).contains("duplicate metadata rows"))

    // ...and a present row whose priority EXPRESSION is NULL would WIN
    // the min_by election (NULL struct fields compare smallest) — as
    // corrupt as a missing row, so equally loud
    val nulPrio = intercept[Exception] {
      Dedup.keepOneByPriority(clusters, meta, "doc_id",
        when(col("src") === "curated", 0)).collect() // crawl rows → NULL
    }
    assert(msgOf(nulPrio).contains("NULL priority"))
  }

  test("bloomBitmap/bloomFlags: no false negatives, bounded false positives") {
    val corpus = (0 until 200).map(i => s"member-$i").toDF("fp")
    val bloom = Dedup.bloomBitmap(corpus, col("fp"))

    // every member probes to all-set bits — structural no-false-negative
    val members = Dedup.bloomFlags(corpus.select(col("fp")), bloom, col("fp"))
    assert(members.filter(!col("bloom_flagged")).isEmpty)

    // non-members: fp rate for k=3, m=2^17, n=200 is ~0 — allow a sliver
    val outside = (0 until 1000).map(i => s"stranger-$i").toDF("fp")
    val flaggedOut = Dedup.bloomFlags(outside, bloom, col("fp"))
      .filter(col("bloom_flagged")).count()
    assert(flaggedOut <= 2, s"bloom false-positive count $flaggedOut out of 1000")

    // NULL fingerprints set nothing and probe to (0, false), not NULL
    val withNull = spark.sql("SELECT CAST(NULL AS STRING) AS fp")
    val nullSketch = Dedup.bloomBitmap(withNull, col("fp"))
    val nb = nullSketch.bitmap.as[Seq[Long]].head()
    assert(nb.forall(_ == 0L), "NULL fingerprint must not set bits")
    val nullProbe = Dedup.bloomFlags(withNull, bloom, col("fp"))
      .select("n_probe_hits", "bloom_flagged").as[(Int, Boolean)].head()
    assert(nullProbe === ((0, false)))

    // reserved output columns collide loudly, not silently
    intercept[IllegalArgumentException] {
      Dedup.bloomFlags(corpus.withColumn("bloom_flagged", lit(true)),
        bloom, col("fp"))
    }

    // merge is an OR: two half-corpus filters OR'd == the full filter
    val agg = new graft.functions.BloomFilterAggregator(1 << 17, 3, 101)
    val half1 = (0 until 100).map(i => s"member-$i")
      .foldLeft(agg.zero)((b, v) => agg.reduce(b, v))
    val half2 = (100 until 200).map(i => s"member-$i")
      .foldLeft(agg.zero)((b, v) => agg.reduce(b, v))
    val full = (0 until 200).map(i => s"member-$i")
      .foldLeft(agg.zero)((b, v) => agg.reduce(b, v))
    assert(agg.merge(half1, half2).toSeq === full.toSeq)
  }

  test("appendToIvfIndex: probing after an append equals probing a full restage") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = tmpDir("ivf")
    // identical training slice for both stagings, so the quantizers are
    // bit-identical and only assignment COVERAGE differs
    val tp = Some(col("vec_id") < 400)
    Similarity.stageIvfIndex(emb, kCentroids = 4, iters = 1,
      path = s"$base/full", trainPred = tp)
    Similarity.stageIvfIndex(emb.filter(col("vec_id") < 400), kCentroids = 4,
      iters = 1, path = s"$base/inc", trainPred = tp)
    Similarity.appendToIvfIndex(spark, s"$base/inc",
      emb.filter(col("vec_id") >= 400))
    def probe(p: String) = Similarity.ivfProbeStaged(spark, p,
        emb.filter(col("vec_id") < 4), nprobe = 2, k = 3)
      .orderBy("qid", "rank").collect().toSeq
    // cell assignment depends only on the frozen centroids, so ingest
    // by append is bit-identical to restaging the union
    assert(probe(s"$base/inc") === probe(s"$base/full"))
  }

  test("compactIvfCells: probes bit-identical, hot cells rewritten to few files, cold cells untouched") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = tmpDir("ivf-compact")
    val path = s"$base/idx"
    // stage, then fragment the hot cells with many small appended batches
    // (each append adds >=1 file per touched cell — the lifecycle problem)
    Similarity.stageIvfIndex(emb.filter(col("vec_id") < 100), kCentroids = 4,
      iters = 1, path = path, trainPred = Some(col("vec_id") < 100))
    for (b <- 0 until 6)
      Similarity.appendToIvfIndex(spark, path,
        emb.filter(col("vec_id") >= 100 + b * 50 && col("vec_id") < 150 + b * 50))
    def probe() = Similarity.ivfProbeStaged(spark, path,
        emb.filter(col("vec_id") < 4), nprobe = 2, k = 3)
      .orderBy("qid", "rank").collect().toSeq
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def cellFiles(): Map[String, Seq[String]] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/assignment"))
        .filter(e => e.isDirectory && e.getPath.getName.startsWith("cell="))
        .map { d =>
          d.getPath.getName -> fs.listStatus(d.getPath)
            .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
              !f.getPath.getName.startsWith("."))
            .map(_.getPath.getName).toSeq.sorted
        }.toMap
    val before = probe()
    val filesBefore = cellFiles()
    val hot = filesBefore.filter(_._2.length > 3).keys.toSet
    val cold = filesBefore.keySet -- hot
    assert(hot.nonEmpty, "fixture must produce at least one fragmented cell")
    // below-threshold call is a no-op that leaves every file byte-name
    // identical — under-fragmented cells are never rewritten
    assert(Similarity.compactIvfCells(spark, path, maxFiles = 100) === 0)
    assert(cellFiles() === filesBefore)
    val n = Similarity.compactIvfCells(spark, path, maxFiles = 3)
    assert(n === hot.size)
    val filesAfter = cellFiles()
    // hot cells collapse to the byte-sized target (1 file at this scale)
    hot.foreach(c => assert(filesAfter(c).length === 1, s"cell $c"))
    // cold cells keep their exact file set — compaction never touches them
    cold.foreach(c => assert(filesAfter(c) === filesBefore(c), s"cell $c"))
    // compaction moves bytes, never data: probes are bit-identical
    assert(probe() === before)
    // idempotent: a second pass finds nothing over threshold
    assert(Similarity.compactIvfCells(spark, path, maxFiles = 3) === 0)
    // crash recovery: a stranded move-aside dir (died between the two
    // renames) is restored by the next call
    val cname = hot.head
    fs.rename(new org.apache.hadoop.fs.Path(s"$path/assignment/$cname"),
      new org.apache.hadoop.fs.Path(s"$path/assignment/.compact-old-$cname"))
    assert(Similarity.compactIvfCells(spark, path, maxFiles = 3) === 0)
    assert(cellFiles()(cname) === filesAfter(cname))
    assert(probe() === before)
  }

  test("signature bucket store: append equals restage, compaction preserves probes") {
    val corpus = Seq(
      (1L, "spark query join table scan filter sort merge"),
      (2L, "completely different tokens here nothing shared zz yy")
    ).toDF("doc_id", "text")
    // five ingest batches — each append adds >=1 file per touched
    // band-group dir, the fragmentation lifecycle the compactor exists for
    val batches = (0 until 5).map { b =>
      Seq((100L + b, s"spark query join table scan filter sort batch$b"),
          (200L + b, s"novel content island number$b qq ww ee rr tt"))
        .toDF("doc_id", "text")
    }
    val probe = Seq(
      (900L, "spark query join table scan filter sort merge"), // dup of 1
      (901L, "totally unrelated probe text aa bb cc dd ee")    // novel
    ).toDF("doc_id", "text")

    val base = tmpDir("sigbuckets")
    val inc = s"$base/inc"; val full = s"$base/full"
    Dedup.stageSignatureBuckets(corpus, "doc_id", "text", inc, nGroups = 4)
    batches.foreach(b =>
      Dedup.appendSignatureBuckets(b, "doc_id", "text", inc, nGroups = 4))
    Dedup.stageSignatureBuckets(batches.foldLeft(corpus)(_ unionByName _),
      "doc_id", "text", full, nGroups = 4)

    def verdicts(p: String) = Dedup.incrementalNearDupsStaged(
        spark, p, probe, "doc_id", "text", threshold = 0.5)
      .orderBy("doc_id").collect().toSeq
    // band keys depend only on the signature parameters, so ingest by
    // append is row-identical to restaging the union
    val before = verdicts(inc)
    assert(before === verdicts(full))
    val m = before.map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(m.keySet === Set(900L) && m(900L) === ((1L, 1.0)))

    val fs = new org.apache.hadoop.fs.Path(inc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def grpFiles(): Map[String, Seq[String]] =
      fs.listStatus(new org.apache.hadoop.fs.Path(inc))
        .filter(e => e.isDirectory && e.getPath.getName.startsWith("bgrp="))
        .map { d =>
          d.getPath.getName -> fs.listStatus(d.getPath)
            .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
              !f.getPath.getName.startsWith("."))
            .map(_.getPath.getName).toSeq.sorted
        }.toMap
    val filesBefore = grpFiles()
    val hot = filesBefore.filter(_._2.length > 2).keys.toSet
    assert(hot.nonEmpty, "fixture must fragment at least one band-group dir")
    // under-fragmented dirs are never rewritten
    assert(Dedup.compactSignatureBuckets(spark, inc, maxFiles = 100) === 0)
    assert(grpFiles() === filesBefore)
    val n = Dedup.compactSignatureBuckets(spark, inc, maxFiles = 2)
    assert(n === hot.size)
    val filesAfter = grpFiles()
    hot.foreach(g => assert(filesAfter(g).length === 1, s"dir $g"))
    (filesBefore.keySet -- hot).foreach(g =>
      assert(filesAfter(g) === filesBefore(g), s"dir $g"))
    // compaction moves bytes, never data: probe verdicts are row-identical
    assert(verdicts(inc) === before)
    // idempotent
    assert(Dedup.compactSignatureBuckets(spark, inc, maxFiles = 2) === 0)
  }

  test("kmeansCentroids trainPred: all-true equals full training; sample trains a complete quantizer") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // a predicate covering everything must be EXACTLY the default path
    val full = Similarity.kmeansCentroids(emb, kCentroids = 4, iters = 1)
      .orderBy("cid").collect()
    val all = Similarity.kmeansCentroids(emb, kCentroids = 4, iters = 1,
        trainPred = Some(lit(true)))
      .orderBy("cid").collect()
    assert(full.toSeq === all.toSeq)
    // a 50% hash sample still yields k centroids, and the downstream
    // search still returns k ranked neighbors for every query — the
    // training slice bounds training COST, never search coverage
    val sampled = Similarity.kmeansCentroids(emb, kCentroids = 4, iters = 1,
      trainPred = Some(graft.operators.Sampling.hashBucket(col("vec_id"), 7) < 50))
    assert(sampled.count() === 4)
    val hits = Similarity.ivfTrainedTopK(emb, col("vec_id") < 4,
      kCentroids = 4, iters = 1, nprobe = 4, k = 2,
      trainPred = Some(graft.operators.Sampling.hashBucket(col("vec_id"), 7) < 50))
    val perQ = hits.groupBy("qid").count().collect()
    assert(perQ.length === 4 && perQ.forall(_.getLong(1) === 2L))
  }

  test("stageIvfIndex persists the embedding dim; probe reads it without a centroid job") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = tmpDir("ivfdim") + "/idx"
    Similarity.stageIvfIndex(emb, kCentroids = 4, iters = 1, path = path)
    val m = graft.sources.Layout.readManifest(spark, path)
      .getOrElse(fail("stage wrote no manifest"))
    val dim = emb.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    assert(m.kind === Similarity.IvfKind)
    assert(m.measures.get("dim") === Some(dim.toLong))
    assert(m.params === Map("k_centroids" -> 4L, "iters" -> 1L))
    assert(m.schemas.keySet === Set("centroids", "assignment"))
    // the probe's broadcast gate reads the recorded dim
    val hits = Similarity.ivfProbeStaged(spark, path,
      emb.filter(col("vec_id") < 3), nprobe = 2, k = 3)
    assert(hits.groupBy("qid").count().collect().forall(_.getLong(1) === 3L))
    // an index without its manifest is refused, not probed by inference
    assert(new java.io.File(path, graft.sources.Layout.ManifestName).delete())
    val e = intercept[IllegalStateException] {
      Similarity.ivfProbeStaged(spark, path, emb.filter(col("vec_id") < 3),
        nprobe = 2, k = 3)
    }
    assert(e.getMessage.contains("restage"), e.getMessage)
  }

  test("registerAll exposes the pre-spread props frame as events_props (VERDICT r11 item 5)") {
    graft.core.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val n = spark.sql(
      "SELECT count(*) FROM events_props WHERE props IS NOT NULL").head().getLong(0)
    assert(n > 0)
    // same frame as events — the view adds the parse-spread, not a filter
    assert(spark.sql("SELECT count(*) FROM events_props").head().getLong(0) ===
      spark.sql("SELECT count(*) FROM events").head().getLong(0))
  }
}
