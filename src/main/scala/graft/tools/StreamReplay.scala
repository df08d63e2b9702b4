package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{Event, EventWindows, StatefulOps}

/** Streaming replay-parity gate (VERDICT r12 item 1) — the streaming twin
  * of DUPCHECK.
  *
  * The twelve corpus gates all exercise the BATCH path; the replay axis
  * (at-least-once redelivery) found a real bug there (q82's
  * training-prefix rule), and the same duplication shapes reach the
  * stateful streaming operators in production: a spool file re-landed
  * after a crashed ingest (the SAME row delivered again, key and all)
  * and a producer retry (same content under a FRESH primary key,
  * original +10⁹ — the dup_check convention). This main drives each
  * bounded-state streaming op through a multi-batch stream where ~1/7 of
  * rows are re-delivered — half same-id, half fresh-id, each landing 1
  * batch after its original, plus a final replay-ONLY batch — and gates
  * the op's full output against its pinned batch semantics computed
  * driver-side from the delivered row set:
  *
  *  - `dedupWithinWatermark`: emits exactly the distinct keys delivered
  *    (same-id replays dropped; fresh-id retries are new keys by the
  *    operator's keyed contract — content-level dedup is the Bloom /
  *    near-dup ops' job), each exactly once.
  *  - `streamingBloomDedup`: content fingerprints — BOTH replay variants
  *    carry a seen fingerprint, so neither may re-emit; no fp twice, no
  *    retry-id ever emitted, emitted count within the documented
  *    false-drop envelope of the distinct-fp count.
  *  - `streamingNearDupBounded`: same-id replays produce NO hits (a
  *    bucket representative never pairs with itself); every fresh-id
  *    retry IS a true near-duplicate of its original (identical text →
  *    identical signature, est 1.0) and must be flagged exactly once as
  *    (retry, original); nothing else may be flagged (texts are unique).
  *  - `streamingTokenSketch`: the complete-mode sketch over the stream
  *    must equal the batch [[graft.functions.CountMinAggregator]] sketch
  *    of the SAME delivered multiset, elementwise — redelivered tokens
  *    count twice on both sides (at-least-once data-level duplication is
  *    a property of the data, not the engine; exactly this is what
  *    DUPCHECK pins for the batch q132 family).
  *  - `streamingStratifiedSample`: the converged per-stratum sample must
  *    equal the hash-ranked draw over the DISTINCT delivered rows —
  *    membership is (seededHash, id)-ranked, so neither replay variant
  *    nor arrival order can flip the draw (same derivation
  *    [[StatefulOps.seededHashJvm]] as the batch operator).
  *  - `keepLatestPerUserTws` (RocksDB transformWithState path): the
  *    final latest row per user must equal argmax(ts, event_id) over the
  *    distinct delivered events — a late redelivery of an OLD event must
  *    neither displace the latest nor re-emit it.
  *
  * All ops run on the RocksDB provider (the production state path, and
  * what transformWithState requires anyway).
  *
  * Usage: runMain graft.tools.StreamReplay
  * Writes STREAMREPLAY.json (atomic rename), prints one JSON line, exits
  * 1 unless every op passes.
  */
object StreamReplay {

  /** Deterministic redelivery schedule over a batch's base ids: ~1/7 of
    * rows are redelivered one batch later — `i % 14 == 3` as the same
    * row (spool replay), `i % 14 == 10` under a fresh key original+10⁹
    * (producer retry). */
  val FRESH_OFFSET = 1000000000L
  def replaySameId(i: Long): Boolean = i % 14 == 3
  def replayFreshId(i: Long): Boolean = i % 14 == 10

  final case class OpVerdict(name: String, pass: Boolean, details: String)

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(8)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    run(spark)
  }

  def run(spark: SparkSession): Unit = {
    val batches = 6
    val perBatch = 1400
    val ndPerBatch = 250
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def ckpt(name: String): String =
      java.nio.file.Files.createTempDirectory(s"graft-sreplay-$name").toString

    /** Base ids of batch b: globally unique, far below FRESH_OFFSET. */
    def baseIds(b: Int, n: Int): Seq[Long] =
      (0 until n).map(i => b.toLong * 10000 + i)

    /** Run a streaming query over batches 1..batches+1, where batch b
      * delivers `base(b)` (empty for the final batch) plus the replays
      * scheduled from batch b-1's base rows. `mk` maps a base id to the
      * op's row; `retry` maps a base id to its fresh-key variant. Returns
      * every delivered row (the at-least-once multiset the oracles are
      * computed from). */
    def drive[T](q: StreamingQuery, ms: MemoryStream[T],
        mk: Long => T, retry: Long => T, n: Int): Seq[T] = {
      val delivered = scala.collection.mutable.ArrayBuffer.empty[T]
      (1 to batches + 1).foreach { b =>
        val fresh = if (b <= batches) baseIds(b, n).map(mk) else Seq.empty
        val replayed = if (b >= 2) {
          val prev = baseIds(b - 1, n)
          prev.filter(replaySameId).map(mk) ++
            prev.filter(replayFreshId).map(retry)
        } else Seq.empty
        val rows = fresh ++ replayed
        if (rows.nonEmpty) { ms.addData(rows); delivered ++= rows }
        q.processAllAvailable()
      }
      q.stop()
      delivered.toSeq
    }

    val verdicts = scala.collection.mutable.ArrayBuffer.empty[OpVerdict]
    def json(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

    // ---- 1. dedupWithinWatermark -------------------------------------
    locally {
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      def ev(id: Long): Event = {
        val i = if (id >= FRESH_OFFSET) id - FRESH_OFFSET else id
        Event(id, new Timestamp(base + i * 1000), i % 50, s"t${i % 5}", i.toDouble)
      }
      val ms = MemoryStream[Event]
      val q = StatefulOps.dedupWithinWatermark(ms.toDF(), "1 hour", Seq("event_id"))
        .writeStream.format("memory").queryName("sr_dedup")
        .outputMode("append").option("checkpointLocation", ckpt("dedup")).start()
      val delivered = drive(q, ms, ev, i => ev(i + FRESH_OFFSET), perBatch)
      val expected = delivered.map(_.event_id).distinct.toSet
      val got = spark.table("sr_dedup").select("event_id").as[Long].collect()
      val dupes = got.groupBy(identity).filter(_._2.length > 1).keys.take(5)
      val pass = got.length == expected.size && got.toSet == expected
      verdicts += OpVerdict("dedup_watermark", pass,
        s""""delivered":${delivered.size},"distinct_keys":${expected.size},""" +
          s""""emitted":${got.length},"dupe_keys":${dupes.size}""")
    }

    // ---- 2. streamingBloomDedup ---------------------------------------
    locally {
      val ms = MemoryStream[(String, String)]
      val q = StatefulOps.streamingBloomDedup(ms.toDS(), shards = 16,
          mBits = 1 << 18)
        .writeStream.format("memory").queryName("sr_bloom")
        .outputMode("update").option("checkpointLocation", ckpt("bloom")).start()
      def row(id: Long): (String, String) = {
        val i = if (id >= FRESH_OFFSET) id - FRESH_OFFSET else id
        (s"id$id", s"fp$i") // fingerprint is CONTENT: retry keeps fp, new id
      }
      val delivered = drive(q, ms, row, i => row(i + FRESH_OFFSET), perBatch)
      val distinctFps = delivered.map(_._2).distinct.size
      val got = spark.table("sr_bloom").as[(String, String)].collect()
      val fpCounts = got.groupBy(_._2)
      val reEmitted = fpCounts.count(_._2.length > 1)
      val retryEmitted = got.count(_._1.stripPrefix("id").toLong >= FRESH_OFFSET)
      val coverage = got.length.toDouble / distinctFps
      val pass = reEmitted == 0 && retryEmitted == 0 && coverage >= 0.99 &&
        got.length <= distinctFps
      verdicts += OpVerdict("bloom_dedup", pass,
        s""""delivered":${delivered.size},"distinct_fps":$distinctFps,""" +
          s""""emitted":${got.length},"re_emitted_fps":$reEmitted,""" +
          s""""retry_ids_emitted":$retryEmitted,"coverage":$coverage""")
    }

    // ---- 3. streamingNearDupBounded ------------------------------------
    locally {
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      def doc(id: Long): (Long, Timestamp, String) = {
        val i = if (id >= FRESH_OFFSET) id - FRESH_OFFSET else id
        // unique text per underlying document; a fresh-id retry repeats
        // the ORIGINAL's text exactly (same content, new key)
        (id, new Timestamp(base + i * 100),
          s"document $i with tokens alpha$i beta$i gamma$i delta$i epsilon$i")
      }
      val ms = MemoryStream[(Long, Timestamp, String)]
      val q = StatefulOps.streamingNearDupBounded(ms.toDS(),
          watermarkDelay = "1 hour", horizonMs = 24 * 3600 * 1000L)
        .toDF().writeStream.format("memory").queryName("sr_neardup")
        .outputMode("append").option("checkpointLocation", ckpt("neardup")).start()
      val delivered = drive(q, ms, doc, i => doc(i + FRESH_OFFSET), ndPerBatch)
      val expectedPairs = (1 to batches).flatMap(b => baseIds(b, ndPerBatch))
        .filter(replayFreshId).map(i => (i + FRESH_OFFSET, i)).toSet
      val got = spark.table("sr_neardup")
        .select("doc_id", "dup_of", "est").as[(Long, Long, Double)].collect()
      val gotPairs = got.map(h => (h._1, h._2))
      val selfPairs = got.count(h => h._1 == h._2)
      val dupEmits = gotPairs.groupBy(identity).count(_._2.length > 1)
      val unexpected = gotPairs.toSet.diff(expectedPairs)
      val missed = expectedPairs.diff(gotPairs.toSet)
      val badEst = got.count(h => expectedPairs((h._1, h._2)) && h._3 < 0.999)
      val pass = selfPairs == 0 && dupEmits == 0 && unexpected.isEmpty &&
        missed.isEmpty && badEst == 0
      verdicts += OpVerdict("neardup_bounded", pass,
        s""""delivered":${delivered.size},"expected_pairs":${expectedPairs.size},""" +
          s""""hits":${got.length},"self_pairs":$selfPairs,""" +
          s""""dup_emits":$dupEmits,"unexpected":${unexpected.size},""" +
          s""""missed":${missed.size},"bad_est":$badEst""")
    }

    // ---- 4. streamingTokenSketch ----------------------------------------
    locally {
      val ms = MemoryStream[String]
      val q = StatefulOps.streamingTokenSketch(ms.toDS().toDF("token"))
        .writeStream.format("memory").queryName("sr_cms")
        .outputMode("complete").option("checkpointLocation", ckpt("cms")).start()
      // a token stream has no key separate from content: BOTH replay
      // variants deliver the same token string again, and the pinned
      // batch semantics (DUPCHECK's q132 analogue) count it twice
      def tok(id: Long): String =
        s"tok${if (id >= FRESH_OFFSET) id - FRESH_OFFSET else id}"
      val delivered = drive(q, ms, tok, i => tok(i + FRESH_OFFSET), perBatch)
      val agg = new graft.functions.CountMinAggregator(1024, 4, 601)
      val oracle = delivered.foldLeft(agg.zero)((b, t) => agg.reduce(b, t)).toSeq
      val rows = spark.table("sr_cms").as[Seq[Long]].collect()
      val pass = rows.length == 1 && rows(0) == oracle
      val diffCells = if (rows.length == 1)
        rows(0).zip(oracle).count { case (a, b) => a != b } else -1
      verdicts += OpVerdict("cms_sketch", pass,
        s""""delivered":${delivered.size},"sketch_rows":${rows.length},""" +
          s""""mismatched_cells":$diffCells""")
    }

    // ---- 5. streamingStratifiedSample ------------------------------------
    locally {
      val cap = 64; val seed = 42
      def row(id: Long): (String, Long) = {
        val i = if (id >= FRESH_OFFSET) id - FRESH_OFFSET else id
        (s"s${i % 8}", id)
      }
      val ms = MemoryStream[(String, Long)]
      val latest = new java.util.concurrent.ConcurrentHashMap[String, Seq[Long]]()
      val q = StatefulOps.streamingStratifiedSample(ms.toDS(), cap, seed)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt("strat"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Seq[Long])],
            _: Long) =>
          b.collect().foreach { case (s, ids) => latest.put(s, ids) }
        }.start()
      val delivered = drive(q, ms, row, i => row(i + FRESH_OFFSET), perBatch)
      // oracle: hash-ranked draw over the DISTINCT delivered rows, via the
      // ONE shared md5→60-bit derivation (Md5Hash60.hash60 — what both
      // StatefulOps.seededHashJvm and batch Sampling.seededHash delegate to)
      val oracle = delivered.distinct.groupBy(_._1).map { case (s, rs) =>
        s -> rs.map(_._2).distinct
          .map(id => (graft.functions.expressions.Md5Hash60.hash60(
            org.apache.spark.unsafe.types.UTF8String.fromString(id.toString),
            s":$seed".getBytes("UTF-8")), id))
          .sorted.take(cap).map(_._2)
      }
      val strata = oracle.keySet ++ scala.jdk.CollectionConverters
        .SetHasAsScala(latest.keySet()).asScala
      val bad = strata.filter(s =>
        oracle.get(s) != Option(latest.get(s)).map(_.toSeq))
      verdicts += OpVerdict("stratified_reservoir", bad.isEmpty,
        s""""delivered":${delivered.size},"strata":${strata.size},""" +
          s""""mismatched_strata":${bad.size}""")
    }

    // ---- 6. keepLatestPerUserTws (RocksDB transformWithState) -----------
    locally {
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      def ev(id: Long): Event = {
        val i = if (id >= FRESH_OFFSET) id - FRESH_OFFSET else id
        // same content under a fresh key: identical ts/user/value, so the
        // (ts, event_id) tie-break decides — deterministically, both sides
        Event(id, new Timestamp(base + (i % 977) * 1000), i % 50,
          s"t${i % 5}", i.toDouble)
      }
      val ms = MemoryStream[Event]
      val latest = new java.util.concurrent.ConcurrentHashMap[Long, Event]()
      val q = StatefulOps.keepLatestPerUserTws(ms.toDS())
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt("latest"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Event], _: Long) =>
          b.collect().foreach(e => latest.put(e.user_id, e))
        }.start()
      val delivered = drive(q, ms, ev, i => ev(i + FRESH_OFFSET), perBatch)
      val oracle = delivered.distinct.groupBy(_.user_id).map { case (u, es) =>
        u -> es.maxBy(e => (e.ts.getTime, e.event_id))
      }
      val users = oracle.keySet ++ scala.jdk.CollectionConverters
        .SetHasAsScala(latest.keySet()).asScala
      val bad = users.filter(u => oracle.get(u) != Option(latest.get(u)))
      verdicts += OpVerdict("keep_latest_tws", bad.isEmpty,
        s""""delivered":${delivered.size},"users":${users.size},""" +
          s""""mismatched_users":${bad.size}""")
    }

    // ---- 7. intervalJoin (stream-stream) ---------------------------------
    // At-least-once duplication is VISIBLE in a join's output — a
    // redelivered row pairs again — so the pin is not "duplicates
    // vanish" but BATCH-STREAM PARITY over the same delivered multiset:
    // the one intervalJoin definition runs in both modes (watermarks
    // no-op on batch), and the streaming output must equal the batch
    // join of the delivered rows, duplicate pairs and all.
    locally {
      val nJoin = 100
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      def ev(id: Long, off: Long): Event = {
        val i = if (id >= FRESH_OFFSET) id - FRESH_OFFSET else id
        Event(id, new Timestamp(base + i * 1000 + off), i % 30, s"t${i % 5}",
          i.toDouble)
      }
      val msL = MemoryStream[Event]
      val msR = MemoryStream[Event]
      val q = StatefulOps.intervalJoin(msL.toDF(), msR.toDF(), "user_id",
          "1 hour", "5 minutes", "5 minutes")
        .writeStream.format("memory").queryName("sr_ijoin")
        .outputMode("append").option("checkpointLocation", ckpt("ijoin")).start()
      val dl = scala.collection.mutable.ArrayBuffer.empty[Event]
      val dr = scala.collection.mutable.ArrayBuffer.empty[Event]
      (1 to batches + 1).foreach { b =>
        def rowsFor(side: Long => Event): Seq[Event] = {
          val fresh = if (b <= batches) baseIds(b, nJoin).map(side) else Seq.empty
          val rep = if (b >= 2) {
            val prev = baseIds(b - 1, nJoin)
            prev.filter(replaySameId).map(side) ++
              prev.filter(replayFreshId).map(i => side(i + FRESH_OFFSET))
          } else Seq.empty
          fresh ++ rep
        }
        val l = rowsFor(ev(_, 0)); val r = rowsFor(ev(_, 30000))
        if (l.nonEmpty) { msL.addData(l); dl ++= l }
        if (r.nonEmpty) { msR.addData(r); dr ++= r }
        q.processAllAvailable()
      }
      q.stop()
      val got = spark.table("sr_ijoin").select("event_id", "r_event_id")
        .as[(Long, Long)].collect().sorted.toSeq
      val oracle = StatefulOps.intervalJoin(
          dl.toSeq.toDS().toDF(), dr.toSeq.toDS().toDF(), "user_id",
          "1 hour", "5 minutes", "5 minutes")
        .select("event_id", "r_event_id")
        .as[(Long, Long)].collect().sorted.toSeq
      val pass = got == oracle
      verdicts += OpVerdict("interval_join", pass,
        s""""delivered_left":${dl.size},"delivered_right":${dr.size},""" +
          s""""joined":${got.size},"oracle_joined":${oracle.size}""")
    }

    // ---- 8. tumbling window agg (T3, one definition batch+stream) --------
    // Same parity pin as the join: redelivered events count twice on
    // both sides, and the fixed-point dsum makes the comparison exact
    // regardless of merge order.
    locally {
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      def ev(id: Long): Event = {
        val i = if (id >= FRESH_OFFSET) id - FRESH_OFFSET else id
        Event(id, new Timestamp(base + (i % 3600) * 1000), i % 50,
          s"t${i % 5}", (i % 97) * 0.25)
      }
      val ms = MemoryStream[Event]
      val latestW = new java.util.concurrent.ConcurrentHashMap[
        (Timestamp, String), (Long, Double)]()
      val q = EventWindows.tumbling(ms.toDF(), "5 minutes", Some("2 hours"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt("tumbling"))
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach { r =>
            latestW.put((r.getTimestamp(0), r.getString(1)),
              (r.getLong(2), r.getDouble(3)))
          }
        }.start()
      val delivered = drive(q, ms, ev, i => ev(i + FRESH_OFFSET), perBatch)
      val oracle = EventWindows.tumbling(delivered.toDS().toDF(), "5 minutes")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      val keys = oracle.keySet ++ scala.jdk.CollectionConverters
        .SetHasAsScala(latestW.keySet()).asScala
      val bad = keys.filter(k => oracle.get(k) != Option(latestW.get(k)))
      verdicts += OpVerdict("tumbling_window", bad.isEmpty,
        s""""delivered":${delivered.size},"windows":${keys.size},""" +
          s""""mismatched_windows":${bad.size}""")
    }

    // ---- 9. bloom dedup, replay ACROSS a checkpoint restart ---------------
    // The composition of the two proven axes: redelivery (this gate) and
    // state recovery (RestartSpec). The query is stopped after batch 3
    // and restarted from the same checkpoint, so batch 3's redeliveries
    // land in the RESTARTED query — a duplicate may only be dropped
    // there if the pre-restart bitmap state actually recovered.
    locally {
      val ckptDir = ckpt("bloomrs")
      val ms = MemoryStream[(String, String)]
      val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      def start() = StatefulOps.streamingBloomDedup(ms.toDS(), shards = 16,
          mBits = 1 << 18)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[(String, String)],
            _: Long) =>
          df.collect().foreach(emitted.add)
        }
        .option("checkpointLocation", ckptDir)
        .outputMode("update").start()
      def row(id: Long): (String, String) = {
        val i = if (id >= FRESH_OFFSET) id - FRESH_OFFSET else id
        (s"id$id", s"fp$i")
      }
      var q = start()
      val delivered = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      (1 to batches + 1).foreach { b =>
        if (b == 4) { q.stop(); q = start() } // restart mid-schedule
        val fresh = if (b <= batches) baseIds(b, perBatch).map(row) else Seq.empty
        val replayed = if (b >= 2) {
          val prev = baseIds(b - 1, perBatch)
          prev.filter(replaySameId).map(row) ++
            prev.filter(replayFreshId).map(i => row(i + FRESH_OFFSET))
        } else Seq.empty
        val rows = fresh ++ replayed
        if (rows.nonEmpty) { ms.addData(rows); delivered ++= rows }
        q.processAllAvailable()
      }
      q.stop()
      val got = scala.jdk.CollectionConverters.CollectionHasAsScala(emitted)
        .asScala.toSeq
      val distinctFps = delivered.map(_._2).distinct.size
      val reEmitted = got.groupBy(_._2).count(_._2.length > 1)
      val retryEmitted = got.count(_._1.stripPrefix("id").toLong >= FRESH_OFFSET)
      val coverage = got.length.toDouble / distinctFps
      val pass = reEmitted == 0 && retryEmitted == 0 && coverage >= 0.99 &&
        got.length <= distinctFps
      verdicts += OpVerdict("bloom_dedup_restart", pass,
        s""""delivered":${delivered.size},"distinct_fps":$distinctFps,""" +
          s""""emitted":${got.length},"re_emitted_fps":$reEmitted,""" +
          s""""retry_ids_emitted":$retryEmitted,"coverage":$coverage,""" +
          s""""restart_before_batch":4""")
    }

    // ---- 10. near-dup, retry delivered AFTER the restart ------------------
    // Sharpest form of the composition: every bucket representative is
    // established BEFORE the restart, every fresh-id retry arrives AFTER
    // it — a hit can only be produced from recovered RocksDB state.
    locally {
      val nDocs = 250
      val ckptDir = ckpt("nearduprs")
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      def doc(id: Long): (Long, Timestamp, String) = {
        val i = if (id >= FRESH_OFFSET) id - FRESH_OFFSET else id
        (id, new Timestamp(base + i * 100),
          s"document $i with tokens alpha$i beta$i gamma$i delta$i epsilon$i")
      }
      val ms = MemoryStream[(Long, Timestamp, String)]
      val hits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]()
      def start() = StatefulOps.streamingNearDupBounded(ms.toDS(),
          watermarkDelay = "1 hour", horizonMs = 24 * 3600 * 1000L)
        .toDF().writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select("doc_id", "dup_of", "est").as[(Long, Long, Double)]
            .collect().foreach(hits.add)
        }
        .option("checkpointLocation", ckptDir)
        .outputMode("append").start()
      var q = start()
      val origs = baseIds(1, nDocs) ++ baseIds(2, nDocs)
      origs.grouped(nDocs).foreach { g =>
        ms.addData(g.map(doc)); q.processAllAvailable()
      }
      q.stop()
      q = start()
      val retries = origs.filter(replayFreshId).map(_ + FRESH_OFFSET)
      ms.addData(retries.map(doc)); q.processAllAvailable()
      q.stop()
      val expected = origs.filter(replayFreshId)
        .map(i => (i + FRESH_OFFSET, i)).toSet
      val got = scala.jdk.CollectionConverters.CollectionHasAsScala(hits)
        .asScala.toSeq
      val gotPairs = got.map(h => (h._1, h._2))
      val pass = gotPairs.toSet == expected &&
        gotPairs.size == expected.size &&
        got.forall(_._3 >= 0.999)
      verdicts += OpVerdict("neardup_restart", pass,
        s""""originals":${origs.size},"retries_after_restart":${retries.size},""" +
          s""""expected_pairs":${expected.size},"hits":${got.size}""")
    }

    // ---- artifact ---------------------------------------------------------
    val allOk = verdicts.forall(_.pass)
    val opsJson = verdicts.map { v =>
      s"""${json(v.name)}:{"pass":${v.pass},${v.details}}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"stream_replay_parity","batches":${batches + 1},""" +
      s""""replay_fraction":"~1/7 (half same-id, half fresh-id +1e9)",""" +
      s""""all_ok":$allOk,"ops":$opsJson}"""
    println(line)
    try {
      val tmp = java.nio.file.Paths.get("STREAMREPLAY.json.tmp")
      java.nio.file.Files.write(tmp, (line + "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get("STREAMREPLAY.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: java.io.IOException =>
      System.err.println(s"[streamreplay] STREAMREPLAY.json not written: $e")
    }
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
