package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.streaming._

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:$sec%02d")

  private def newEvents(): MemoryStream[Event] = {
    implicit val ctx = spark.sqlContext
    MemoryStream[Event]
  }

  test("tumbling window agg over a stream with watermark (T3)") {
    val ms = newEvents()
    val q = EventWindows.tumbling(ms.toDF(), "5 minutes", watermark = Some("10 minutes"))
      .writeStream.format("memory").queryName("tumb").outputMode("complete").start()
    try {
      ms.addData(
        Event(1, ts(1), 7, "purchase", 10.0),
        Event(2, ts(2), 7, "purchase", 5.0),
        Event(3, ts(7), 8, "signup", 1.0))
      q.processAllAvailable()
      val rows = spark.table("tumb")
        .select("w_start", "event_type", "n").as[(Timestamp, String, Long)]
        .collect().toSet
      assert(rows === Set(
        (ts(0), "purchase", 2L),
        (ts(5), "signup", 1L)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups across micro-batches (T5/A2)") {
    val ms = newEvents()
    val q = StatefulOps.dedupWithinWatermark(ms.toDF(), "30 minutes", Seq("event_id"))
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      ms.addData(Event(1, ts(1), 7, "purchase", 10.0))
      q.processAllAvailable()
      ms.addData(Event(1, ts(1), 7, "purchase", 10.0), // duplicate id
        Event(2, ts(2), 7, "view", 0.0))
      q.processAllAvailable()
      assert(spark.table("dedup").count() === 2)
    } finally q.stop()
  }

  test("streaming stratified reservoir converges to the batch draw (U6 x T4)") {
    implicit val ctx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    // capture the LATEST emission per stratum explicitly (foreachBatch in
    // batch order) — collect() order over a memory sink is not a
    // guaranteed emission order
    val last = new java.util.concurrent.ConcurrentHashMap[String, Seq[Long]]()
    val q = StatefulOps.streamingStratifiedSample(ms.toDS(), cap = 3, seed = 7)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[(String, Seq[Long])], _: Long) =>
        df.collect().foreach { case (k, ids) => last.put(k, ids) }
      }
      .outputMode("update").start()
    try {
      // two batches, arrival order scrambled across them
      ms.addData(("a", 5L), ("a", 12L), ("b", 3L), ("a", 40L), ("a", 7L))
      q.processAllAvailable()
      ms.addData(("a", 1L), ("a", 33L), ("b", 8L), ("a", 5L)) // 5 re-arrives
      q.processAllAvailable()
      // must equal the batch stratifiedCap over the union of all rows
      val all = Seq(("a", 5L), ("a", 12L), ("b", 3L), ("a", 40L), ("a", 7L),
        ("a", 1L), ("a", 33L), ("b", 8L)).toDF("stratum", "id")
      val batch = graft.operators.Sampling.stratifiedCap(
          all, Seq("stratum"), "id", cap = 3, seed = 7)
        .orderBy("stratum", "rn").select("stratum", "id")
        .as[(String, Long)].collect().toSeq
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      assert(last.get("a") === batch("a") && last.get("b") === batch("b"))
      assert(last.get("a").length === 3 && last.get("b").length === 2)
    } finally q.stop()
  }

  test("streaming ANN probe matches the batch staged-index probe per micro-batch (U6 x T4)") {
    implicit val ctx = spark.sqlContext
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = tmpDir("ivf-stream")
    graft.operators.Similarity.stageIvfIndex(emb, kCentroids = 4, iters = 1,
      path = dir)
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = StatefulOps.streamingIvfProbe(
        ms.toDF().toDF("vec_id", "embedding"), dir, nprobe = 2, k = 3,
        checkpointDir = Some(s"$dir/ckpt")) { out =>
      got.synchronized { got ++= out.orderBy("qid", "rank").collect() }
    }
    try {
      val qvecs = emb.filter(col("vec_id") < 2)
        .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      ms.addData(qvecs.toIndexedSeq)
      q.processAllAvailable()
      val expect = graft.operators.Similarity.ivfProbeStaged(spark, dir,
          emb.filter(col("vec_id") < 2), nprobe = 2, k = 3)
        .orderBy("qid", "rank").collect()
      assert(got.toSeq === expect.toSeq)
    } finally q.stop()
  }

  test("streaming near-dup flags arriving docs against stored signatures (U6 x T4)") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[(Long, Timestamp, String)]
      val fox = "the quick brown fox jumps over the lazy dog"
      val q = StatefulOps.streamingNearDupBounded(ms.toDS()).toDF().writeStream
        .format("memory").queryName("neardup").outputMode("append").start()
      try {
        ms.addData((1L, ts(0), fox),
                   (2L, ts(0), "completely different text with other tokens here now"))
        q.processAllAvailable()
        assert(spark.table("neardup").count() === 0) // first-seen docs: no dups
        // a later micro-batch re-sends doc 1's content under a new id
        ms.addData((3L, ts(0, 30), fox),
                   (4L, ts(0, 30), "yet another unrelated document entirely about nothing"))
        q.processAllAvailable()
        val flagged = spark.table("neardup")
          .select("doc_id", "dup_of", "est").as[(Long, Long, Double)]
          .collect().toSeq
        // doc 3 flags against representative 1 (est = 1.0: identical sigs)
        assert(flagged === Seq((3L, 1L, 1.0)))
      } finally q.stop()
    }
  }

  test("bounded streaming near-dup: emit-once pairs + event-time state eviction") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[(Long, Timestamp, String)]
      val fox = "the quick brown fox jumps over the lazy dog"
      // 1-minute event-time horizon, zero watermark delay: watermark = max ts
      val hits = StatefulOps.streamingNearDupBounded(ms.toDS(),
        watermarkDelay = "0 seconds", horizonMs = 60 * 1000L)
      val q = hits.toDF().writeStream
        .format("memory").queryName("bounded_nd").outputMode("append").start()
      try {
        def rows() = spark.table("bounded_nd")
          .select("doc_id", "dup_of").as[(Long, Long)].collect().toSeq

        ms.addData((1L, ts(0), fox))
        q.processAllAvailable()
        ms.addData((2L, ts(0, 30), fox))
        q.processAllAvailable()
        // identical docs agree in ALL bands, yet exactly one pair emits
        assert(rows() === Seq((2L, 1L)), "emit-once: one row per (doc, dup_of) pair")

        // push the watermark far past doc 1/2's buckets' horizon; the
        // unrelated text shares no bucket with them, then one more batch
        // fires the eviction timers
        ms.addData((3L, ts(10), "completely different text with other tokens here now"))
        q.processAllAvailable()
        ms.addData((4L, ts(11), "yet another unrelated document entirely about nothing"))
        q.processAllAvailable()

        // doc 5 repeats doc 1's content AFTER eviction: representative is
        // gone, so no hit — doc 5 becomes the new representative
        ms.addData((5L, ts(12), fox))
        q.processAllAvailable()
        assert(!rows().exists(_._1 == 5L),
          "evicted representative must not flag post-horizon arrivals")
        // ...and doc 6 now flags against doc 5, not the evicted doc 1
        ms.addData((6L, ts(12, 30), fox))
        q.processAllAvailable()
        assert(rows().filter(_._1 == 6L) === Seq((6L, 5L)),
          "new representative owns the bucket after eviction (exactly one pair)")
      } finally q.stop()
    }
  }

  test("streaming near-dup groups on the batch projection's band keys (one band scheme)") {
    implicit val ctx = spark.sqlContext
    val fox = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (1L, ts(0), fox),
      (2L, ts(0), fox + " today"), // planted near-dup of 1
      (3L, ts(0), fox), // exact dup of 1
      (4L, ts(0), "completely different text with other tokens here now"),
      (5L, ts(0), "two words")) // no 3-shingle: empty set, no band rows
    val ms = MemoryStream[(Long, Timestamp, String)]
    val q = StatefulOps.bandedDocs(ms.toDS(), "10 seconds", numHashes = 8,
        bands = 4, shingleSize = 3)
      .toDF().writeStream.format("memory").queryName("banded_docs")
      .outputMode("append").start()
    try {
      ms.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("banded_docs").select("bkey", "doc_id", "mh")
        .as[(String, Long, Seq[Long])].collect().toSet
      val batch = graft.operators.Dedup.bandedSignatures(
          docs.toDF("doc_id", "ts", "__text"), numHashes = 8, bands = 4,
          shingleSize = 3, shingler = null)
        .select(concat_ws("_", col("band").cast("string"), col("bkey")),
          col("doc_id"), array((0 until 8).map(i => col(s"mh$i")): _*))
        .as[(String, Long, Seq[Long])].collect().toSet
      assert(streamed === batch)
      // the key spelling existing state checkpoints hold: "<band>_<slots>"
      // over the string-set signature, two slots per band
      val sigs = docs.toDF("doc_id", "ts", "text")
        .select(col("doc_id"), GraftFunctions.minhashSlots(
          GraftFunctions.wordShingles(col("text"), 3), 8))
        .as[(Long, Option[Seq[Long]])].collect()
      val keyed = sigs.toSeq.flatMap {
        case (id, Some(mh)) =>
          (0 until 4).map(b => ((b +: mh.slice(2 * b, 2 * b + 2)).mkString("_"), id, mh))
        case (_, None) => Nil
      }.toSet
      assert(streamed === keyed)
      assert(streamed.size === 16 && !streamed.exists(_._2 == 5L))
      assert(streamed.filter(_._2 == 1L).map(_._1) ===
        streamed.filter(_._2 == 3L).map(_._1), "an exact dup shares every bucket")
    } finally q.stop()
  }

  test("streaming corpus ingestion dedups by content fingerprint (U6 x T5)") {
    // documents arriving on a stream, exact-dedup by md5(text): the batch
    // q29 policy applied online — duplicate content never reaches the sink
    implicit val ctx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val docs = ms.toDF().toDF("doc_id", "text")
      .withColumn("fp", md5(col("text")))
      .dropDuplicates("fp")
    val q = docs.writeStream.format("memory").queryName("corpus")
      .outputMode("append").start()
    try {
      ms.addData((1L, "the quick brown fox"), (2L, "other text"))
      q.processAllAvailable()
      ms.addData((3L, "the quick brown fox"), (4L, "third text")) // 3 = dup content
      q.processAllAvailable()
      val kept = spark.table("corpus").select("doc_id").as[Long].collect().toSet
      assert(kept === Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("keepLatestPerUser emits the newest row per user (T4/A3)") {
    withRocksDb {
      val ms = newEvents()
      val q = StatefulOps.keepLatestPerUserTws(ms.toDS())
        .writeStream.format("memory").queryName("latest").outputMode("update").start()
      try {
        ms.addData(Event(1, ts(5), 7, "a", 1.0), Event(2, ts(3), 7, "b", 2.0))
        q.processAllAvailable()
        ms.addData(Event(3, ts(4), 7, "c", 3.0)) // older than current latest
        q.processAllAvailable()
        val emitted = spark.table("latest").as[Event].collect()
        // last emission for user 7 must be event 1 (ts 00:05), never event 3
        assert(emitted.map(_.event_id).toSet === Set(1L))
      } finally q.stop()
    }
  }

  test("streaming bloom dedup drops seen fingerprints across batches, bounded state (T5)") {
    implicit val ctx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val q = StatefulOps.streamingBloomDedup(ms.toDS(), shards = 4)
      .writeStream.format("memory").queryName("bloomdd").outputMode("update").start()
    try {
      ms.addData(("a", "f1"), ("b", "f2"), ("c", "f1")) // c dups a in-batch
      q.processAllAvailable()
      ms.addData(("d", "f2"), ("e", "f3"))              // d dups b cross-batch
      q.processAllAvailable()
      // NULL fingerprints bypass the filter (batch-policy parity): both
      // emitted, neither recorded
      ms.addData(("n1", null), ("n2", null))
      q.processAllAvailable()
      val ids = spark.table("bloomdd").as[(String, String)]
        .collect().map(_._1).toSet
      assert(ids === Set("a", "b", "e", "n1", "n2"))
    } finally q.stop()
  }

  test("remaining bounded-state ops run on the RocksDB state store (100 TB state path)") {
    // streamingNearDupBounded, keepLatestPerUserTws and
    // dedupWithinWatermark already have RocksDB permutations; this
    // covers the rest of the bounded-state family — the point is only
    // that each op's state classes serialize on the disk-backed
    // provider, their semantics have their own tests
    implicit val ctx = spark.sqlContext
    withRocksDb {
      // sharded Bloom bitmap state: cross-batch duplicate still dropped
      val ms1 = MemoryStream[(String, String)]
      val q1 = StatefulOps.streamingBloomDedup(ms1.toDS(), shards = 4)
        .writeStream.format("memory").queryName("rk_bloom")
        .outputMode("update").start()
      try {
        ms1.addData(("a", "f1")); q1.processAllAvailable()
        ms1.addData(("b", "f1"), ("c", "f2")); q1.processAllAvailable()
        assert(spark.table("rk_bloom").as[(String, String)]
          .collect().map(_._1).toSet === Set("a", "c"))
      } finally q1.stop()
      // hash-ranked reservoir state: cap respected across batches
      val ms2 = MemoryStream[(String, Long)]
      val out = new java.util.concurrent.ConcurrentHashMap[String, Seq[Long]]()
      val q2 = StatefulOps.streamingStratifiedSample(ms2.toDS(), cap = 2, seed = 7)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[(String, Seq[Long])], _: Long) =>
          df.collect().foreach { case (k, ids) => out.put(k, ids) }
        }
        .outputMode("update").start()
      try {
        ms2.addData(("s", 1L), ("s", 2L)); q2.processAllAvailable()
        ms2.addData(("s", 3L)); q2.processAllAvailable()
        assert(out.get("s").length === 2)
      } finally q2.stop()
      // complete-mode CMS grid state: merged partials equal batch sketch
      val ms3 = MemoryStream[String]
      val q3 = StatefulOps.streamingTokenSketch(
          ms3.toDS().toDF("token"), width = 64, depth = 3)
        .writeStream.format("memory").queryName("rk_cms")
        .outputMode("complete").start()
      try {
        ms3.addData("x", "y"); q3.processAllAvailable()
        ms3.addData("x"); q3.processAllAvailable()
        val agg = new graft.functions.CountMinAggregator(64, 3, 601)
        assert(spark.table("rk_cms").as[Seq[Long]].head() ===
          Seq("x", "y", "x").foldLeft(agg.zero)((b, t) => agg.reduce(b, t)).toSeq)
      } finally q3.stop()
    }
  }

  test("stream-stream interval join pairs events within the time bound (T3 x J3)") {
    val clicks = newEvents()
    val buys = newEvents()
    val q = StatefulOps.intervalJoin(clicks.toDF(), buys.toDF(),
        key = "user_id", watermark = "30 minutes",
        before = "0 minutes", after = "10 minutes")
      .select("event_id", "r_event_id")
      .writeStream.format("memory").queryName("ivj").outputMode("append").start()
    try {
      clicks.addData(
        Event(1, ts(1), 7, "click", 0.0),
        Event(2, ts(1), 9, "click", 0.0))
      buys.addData(
        Event(101, ts(5), 7, "purchase", 10.0),  // within 10 min of click 1
        Event(102, ts(25), 7, "purchase", 5.0),  // too late for click 1
        Event(103, ts(5), 8, "purchase", 2.0))   // no clicking user
      q.processAllAvailable()
      val rows = spark.table("ivj").as[(Long, Long)].collect().toSet
      assert(rows === Set((1L, 101L)))
    } finally q.stop()
  }

  test("interval join validates spliced arguments eagerly") {
    val df = newEvents().toDF()
    val badDur = intercept[IllegalArgumentException] {
      StatefulOps.intervalJoin(df, df, "user_id", "30 minutes",
        "0 minutes", "10minutes") // missing space
    }
    assert(badDur.getMessage.contains("interval bound"))
    val badKey = intercept[IllegalArgumentException] {
      StatefulOps.intervalJoin(df, df, "user_id; DROP", "30 minutes",
        "0 minutes", "10 minutes")
    }
    assert(badKey.getMessage.contains("identifier"))
    val noCol = intercept[IllegalArgumentException] {
      StatefulOps.intervalJoin(df, df, "nope", "30 minutes",
        "0 minutes", "10 minutes")
    }
    assert(noCol.getMessage.contains("lacks column"))
  }

  test("interval join leftOuter emits unmatched lefts after the watermark") {
    val clicks = newEvents()
    val buys = newEvents()
    val q = StatefulOps.intervalJoin(clicks.toDF(), buys.toDF(),
        key = "user_id", watermark = "5 minutes",
        before = "0 minutes", after = "10 minutes", joinType = "leftOuter")
      .select(col("event_id"), col("r_event_id"))
      .writeStream.format("memory").queryName("ivjo").outputMode("append").start()
    try {
      clicks.addData(
        Event(1, ts(1), 7, "click", 0.0),
        Event(2, ts(10), 9, "click", 0.0)) // will never match anything
      buys.addData(Event(101, ts(5), 7, "purchase", 10.0))
      q.processAllAvailable()
      // click 2's last possible match is ts(20); watermark must pass
      // 20 + 5min delay before its NULL row may emit — advance both
      // streams to ts(50), then run one more batch to flush evictions
      clicks.addData(Event(3, ts(50), 11, "click", 0.0))
      buys.addData(Event(102, ts(50), 8, "purchase", 1.0))
      q.processAllAvailable()
      clicks.addData(Event(4, ts(55), 11, "click", 0.0))
      buys.addData(Event(103, ts(55), 8, "purchase", 1.0))
      q.processAllAvailable()
      val rows = spark.table("ivjo").as[(Long, java.lang.Long)].collect().toSet
      // click 1 matched; click 2's horizon passed with no partner → NULL right
      assert(rows.contains((1L, java.lang.Long.valueOf(101L))))
      assert(rows.contains((2L, null: java.lang.Long)))
    } finally q.stop()
  }

  test("stream-static dimension join enriches events in-flight") {
    val dim = Seq((7L, "gold"), (8L, "silver")).toDF("user_id", "tier")
    val ms = newEvents()
    val enriched = ms.toDF().join(broadcast(dim), Seq("user_id"), "left")
    val q = enriched.writeStream.format("memory").queryName("enrich")
      .outputMode("append").start()
    try {
      ms.addData(Event(1, ts(1), 7, "a", 1.0), Event(2, ts(2), 9, "b", 2.0))
      q.processAllAvailable()
      val rows = spark.table("enrich").select("event_id", "tier")
        .as[(Long, Option[String])].collect().toMap
      assert(rows === Map(1L -> Some("gold"), 2L -> None))
    } finally q.stop()
  }

  test("session windows merge events within gap (T3)") {
    val ms = newEvents()
    val q = EventWindows.sessions(ms.toDF(), "5 minutes", watermark = Some("1 hour"))
      .writeStream.format("memory").queryName("sess").outputMode("complete").start()
    try {
      ms.addData(
        Event(1, ts(0), 7, "a", 1.0), Event(2, ts(3), 7, "a", 1.0), // session 1
        Event(3, ts(20), 7, "a", 1.0)) // gap > 5m → session 2
      q.processAllAvailable()
      val sessions = spark.table("sess")
        .select("user_id", "s_start", "n").as[(Long, Timestamp, Long)].collect().toSet
      assert(sessions === Set((7L, ts(0), 2L), (7L, ts(20), 1L)))
    } finally q.stop()
  }

  test("partitioned parquet sink writes event-date partitions (S9)") {
    val dir = tmpDir("sink")
    val ms = newEvents()
    ms.addData(Event(1, ts(1), 7, "purchase", 10.0))
    val q = Sinks.partitionedParquet(ms.toDF(), s"$dir/data", s"$dir/ckpt")
    q.awaitTermination(60000)
    val back = spark.read.parquet(s"$dir/data")
    assert(back.columns.contains("event_date"))
    assert(back.count() === 1)
  }

  test("upsertParquet keeps exactly the latest row per key across batches (S9 upsert)") {
    val dir = tmpDir("upsert")
    val ms = newEvents()
    def run(): Unit = {
      val q = Sinks.upsertParquet(ms.toDF(), s"$dir/store", s"$dir/ckpt",
        keys = Seq("user_id"), seqCol = "ts")
      q.awaitTermination(60000)
    }
    ms.addData(Event(1, ts(1), 7, "a", 1.0), Event(2, ts(2), 7, "b", 2.0),
      Event(3, ts(1), 8, "c", 3.0))
    run()
    ms.addData(Event(4, ts(9), 7, "d", 4.0), Event(5, ts(0), 8, "e", 5.0)) // 5 older
    run()
    val store = spark.read.parquet(s"$dir/store")
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(store === Map(7L -> 4L, 8L -> 3L)) // newest per user; stale never resurfaces
    // overwrite mode is a per-write option — the session conf must be
    // untouched (a session-global set would leak into concurrent queries)
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode") === "STATIC")
  }

  test("upsertParquet releases the merge it pins once each batch is written") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerUnpersistRDD}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    // RDDs that stored blocks during the run, and RDDs unpersisted
    val stored, released = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val info = e.blockUpdatedInfo
        if (info.storageLevel.isValid) info.blockId.asRDDId.foreach(b => stored.add(b.rddId))
      }
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = released.add(e.rddId)
    }
    val dir = tmpDir("upsert-pins")
    val ms = newEvents()
    spark.sparkContext.addSparkListener(listener)
    try {
      (1 to 4).foreach { i =>
        ms.addData(Event(i, ts(i), 7, "a", 1.0), Event(10 + i, ts(i), 8, "b", 2.0))
        Sinks.upsertParquet(ms.toDF(), s"$dir/store", s"$dir/ckpt",
          keys = Seq("user_id"), seqCol = "ts").awaitTermination(60000)
      }
      // the first batch creates the store; the next three pin their merges
      eventually(timeout(Span(20, Seconds))) {
        assert(stored.size >= 3)
        assert((stored.asScala -- released.asScala).isEmpty,
          s"pinned RDDs never unpersisted: ${stored.asScala -- released.asScala}")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.read.parquet(s"$dir/store").select("user_id", "event_id")
      .as[(Long, Long)].collect().toMap === Map(7L -> 4L, 8L -> 14L))
  }

  test("upsertParquet adopts legacy marker-less stores; marker rewritten per write") {
    val dir = tmpDir("upsert-legacy")
    val ms = newEvents()
    def run(buckets: Int): Unit = {
      val q = Sinks.upsertParquet(ms.toDF(), s"$dir/store", s"$dir/ckpt",
        keys = Seq("user_id"), seqCol = "ts", buckets = buckets)
      q.awaitTermination(60000)
    }
    // legacy store laid out with a DIFFERENT bucket count (4): partition
    // names part_bucket=0..3 also "fit" buckets=16, so name-validation
    // alone cannot prove the layout — adoption must re-bucket everything
    // or user 7's old row would be stranded in its buckets=4 partition
    ms.addData(Event(1, ts(1), 7, "a", 1.0), Event(10, ts(1), 8, "a", 1.0),
      Event(11, ts(1), 9, "a", 1.0))
    run(buckets = 4)
    // simulate a store written before manifests existed
    val marker = java.nio.file.Paths.get(s"$dir/store", graft.sources.Layout.ManifestName)
    assert(java.nio.file.Files.deleteIfExists(marker))
    ms.addData(Event(2, ts(2), 7, "b", 2.0))
    run(buckets = 16) // adopts via a full re-bucketing rewrite
    val store = spark.read.parquet(s"$dir/store")
      .select("user_id", "event_id").as[(Long, Long)].collect()
    // exactly ONE row per key — no stale duplicate of user 7 left behind
    // in the old 4-bucket layout, untouched keys carried over
    assert(store.sorted.toSeq === Seq((7L, 2L), (8L, 10L), (9L, 11L)))
    // the marker is rewritten after every successful write
    assert(java.nio.file.Files.exists(marker))
    // ...and a marker MISMATCH (both markers present, different counts)
    // still refuses rather than remixing
    val ms3 = newEvents()
    ms3.addData(Event(3, ts(3), 7, "c", 3.0))
    val q3 = Sinks.upsertParquet(ms3.toDF(), s"$dir/store", s"$dir/ckpt3",
      keys = Seq("user_id"), seqCol = "ts", buckets = 8)
    val remix = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.awaitTermination(60000)
    }
    assert(remix.getMessage.contains("strands stale keys") ||
      Option(remix.getCause).exists(_.getMessage.contains("strands stale keys")))

    // foreign (non-bucketed) data is NOT adoptable — refuse, don't overwrite
    val foreign = tmpDir("upsert-foreign")
    spark.range(3).withColumn("v", col("id") * 2)
      .write.partitionBy("id").parquet(s"$foreign/store")
    val ms2 = newEvents()
    ms2.addData(Event(9, ts(1), 9, "x", 1.0))
    val q2 = Sinks.upsertParquet(ms2.toDF(), s"$foreign/store", s"$foreign/ckpt",
      keys = Seq("user_id"), seqCol = "ts")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination(60000)
    }
    assert(err.getMessage.contains("not adoptable") ||
      Option(err.getCause).exists(_.getMessage.contains("not adoptable")))
    // the foreign data is untouched
    assert(spark.read.parquet(s"$foreign/store").count() === 3)
  }
  test("upsertParquet: an empty or garbled manifest fails the batch, naming the manifest") {
    // an empty file is what a crash between create and write would have
    // left; a truncated one what a crash mid-write would have left
    Seq("", """{"kind":"upsert-store","version":1,"params":{"buck""").foreach { bad =>
      val dir = tmpDir("upsert-garbled")
      val ms = newEvents()
      def run(): Unit = Sinks.upsertParquet(ms.toDF(), s"$dir/store", s"$dir/ckpt",
        keys = Seq("user_id"), seqCol = "ts").awaitTermination(60000)
      ms.addData(Event(1, ts(1), 7, "a", 1.0))
      run()
      writeFile(s"$dir/store/${graft.sources.Layout.ManifestName}", bad)
      ms.addData(Event(2, ts(2), 7, "b", 2.0))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.toString).toSeq
      assert(chain.exists(_.contains(graft.sources.Layout.ManifestName)), chain)
      assert(!chain.exists(_.contains("NumberFormatException")), chain)
    }
  }

  test("upsertParquet: a leftover temp manifest (crash before the rename) leaves the next batch incremental") {
    val dir = tmpDir("upsert-tmpleft")
    val ms = newEvents()
    def run(): Unit = Sinks.upsertParquet(ms.toDF(), s"$dir/store", s"$dir/ckpt",
      keys = Seq("user_id"), seqCol = "ts", buckets = 4).awaitTermination(60000)
    ms.addData((1 to 8).map(u => Event(u, ts(1), u, "a", 1.0)): _*)
    run()
    writeFile(s"$dir/store/.${graft.sources.Layout.ManifestName}.tmp-crashed",
      """{"kind":"upsert-store","vers""")
    def bucketFiles(): Map[String, Set[String]] =
      new java.io.File(s"$dir/store").listFiles().filter(_.getName.startsWith("part_bucket="))
        .map(d => d.getName -> d.list().filter(_.endsWith(".parquet")).toSet).toMap
    val before = bucketFiles()
    assert(before.size >= 2, s"fixture needs several buckets: $before")
    ms.addData(Event(9, ts(2), 3, "b", 2.0))
    run()
    val after = bucketFiles()
    // incremental: only the touched bucket is rewritten (a re-bucketing
    // rewrite would replace every bucket's files)
    assert(before.keySet === after.keySet)
    assert(before.count { case (b, fs) => after(b) != fs } === 1)
    val store = spark.read.parquet(s"$dir/store")
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(store === (1 to 8).map(u => u.toLong -> u.toLong).toMap + (3L -> 9L))
  }


  test("alert sink delivers matching rows through the Notifier (T6/S10)") {
    Sinks.BufferingNotifier.buffer.clear()
    val dir = tmpDir("alert")
    val ms = newEvents()
    val alerts = ms.toDF().filter(col("event_type") === "error")
    val q = Sinks.alerts(alerts, new Sinks.BufferingNotifier, s"$dir/ckpt")
    try {
      ms.addData(Event(1, ts(1), 7, "error", 1.0), Event(2, ts(2), 7, "view", 0.0))
      q.processAllAvailable()
      val msgs = Sinks.BufferingNotifier.buffer.toArray.map(_.toString)
      assert(msgs.length === 1 && msgs(0).contains("error"))
    } finally q.stop()
  }

  test("stateful dedup runs on the RocksDB state store (100 TB state path)") {
    withRocksDb {
      val ms = newEvents()
      val q = StatefulOps.dedupWithinWatermark(ms.toDF(), "30 minutes", Seq("event_id"))
        .writeStream.format("memory").queryName("rocks").outputMode("append").start()
      try {
        ms.addData(Event(1, ts(1), 7, "a", 1.0), Event(1, ts(1), 7, "a", 1.0))
        q.processAllAvailable()
        ms.addData(Event(1, ts(2), 7, "a", 1.0), Event(2, ts(2), 7, "b", 2.0))
        q.processAllAvailable()
        assert(spark.table("rocks").count() === 2)
      } finally q.stop()
    }
  }

  test("streamingTokenSketch equals the batch CMS of the stream prefix (U3 x T4)") {
    implicit val ctx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val W = 64
    val q = StatefulOps.streamingTokenSketch(
        ms.toDS().toDF("token"), width = W, depth = 3)
      .writeStream.format("memory").queryName("cms").outputMode("complete").start()
    try {
      val b1 = Seq("alpha", "beta", "alpha", "gamma")
      val b2 = Seq("beta", "alpha", "delta")
      val agg = new graft.functions.CountMinAggregator(W, 3, 601)
      ms.addData(b1: _*)
      q.processAllAvailable()
      val s1 = spark.table("cms").as[Seq[Long]].head()
      assert(s1 === b1.foldLeft(agg.zero)((b, t) => agg.reduce(b, t)).toSeq)
      ms.addData(b2: _*)
      q.processAllAvailable()
      // micro-batch partials merged == one batch sketch of the whole prefix
      val s2 = spark.table("cms").as[Seq[Long]].head()
      assert(s2 === (b1 ++ b2).foldLeft(agg.zero)((b, t) => agg.reduce(b, t)).toSeq)
      assert(agg.estimate(s2, "alpha") >= 3L)
    } finally q.stop()
  }

  test("streamingHeavyHitterAlerts: hot watched token alerts once through the Notifier (U3 x T6)") {
    implicit val ctx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    Sinks.BufferingNotifier.buffer.clear()
    val ckpt = tmpDir("hh-ckpt")
    val q = StatefulOps.streamingHeavyHitterAlerts(
      ms.toDS().toDF("token"), watchlist = Seq("hot", "cold"),
      threshold = 5L, notifier = new Sinks.BufferingNotifier, ckpt,
      width = 64, depth = 3)
    try {
      // below threshold: no alert yet
      ms.addData(Seq.fill(3)("hot") ++ Seq("cold", "noise"): _*)
      q.processAllAvailable()
      assert(Sinks.BufferingNotifier.buffer.isEmpty)
      // crosses threshold (3 + 2 = 5): exactly one alert, for "hot" only
      ms.addData("hot", "hot", "noise")
      q.processAllAvailable()
      val msgs = Sinks.BufferingNotifier.buffer.toArray.map(_.toString)
      assert(msgs.length === 1)
      assert(msgs(0).contains("token=hot") && msgs(0).contains("threshold=5"))
      // still hot in later batches: fired set suppresses duplicates
      ms.addData(Seq.fill(4)("hot"): _*)
      q.processAllAvailable()
      assert(Sinks.BufferingNotifier.buffer.size === 1)
    } finally q.stop()
  }

  test("streamingHeavyHitterAlerts: fired ledger survives a checkpoint restart") {
    implicit val ctx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    Sinks.BufferingNotifier.buffer.clear()
    val ckpt = tmpDir("hh-ckpt2")
    val q1 = StatefulOps.streamingHeavyHitterAlerts(
      ms.toDS().toDF("token"), watchlist = Seq("hot"),
      threshold = 3L, notifier = new Sinks.BufferingNotifier, ckpt,
      width = 64, depth = 3)
    try {
      ms.addData("hot", "hot", "hot")
      q1.processAllAvailable()
      assert(Sinks.BufferingNotifier.buffer.size === 1)
    } finally q1.stop()
    // the alert is in the durable ledger, not just driver memory
    assert(new java.io.File(s"$ckpt/fired", "hot").exists)
    // restart from the same checkpoint: the still-hot token must NOT
    // re-alert (round-7 behavior re-alerted once per restart)
    val q2 = StatefulOps.streamingHeavyHitterAlerts(
      ms.toDS().toDF("token"), watchlist = Seq("hot"),
      threshold = 3L, notifier = new Sinks.BufferingNotifier, ckpt,
      width = 64, depth = 3)
    try {
      ms.addData("hot", "hot")
      q2.processAllAvailable()
      assert(Sinks.BufferingNotifier.buffer.size === 1,
        "restart re-alerted a token already in the fired ledger")
    } finally q2.stop()
  }
}
