package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{Event, EventWindows, StatefulOps}

/** The streaming gates, one harness. Each gate drives the bounded-state
  * streaming operators through fixed micro-batch schedules and judges
  * their output against driver-side oracles, pinning the watermark and
  * bounded-state contract of Structured Streaming: STREAMREPLAY
  * (at-least-once redelivery parity), STREAMLATE (late-data admission),
  * EVICTCHECK (RocksDB eviction reclaims storage) and STREAMSOAK (state
  * stays bounded). They run in ONE session, under one state-store conf
  * set ([[StateConfs]]).
  *
  * Usage: runMain graft.tools.StreamGates [GATE ...]   (default: all four)
  * Writes each gate's `<GATE>.json` (atomic rename) with `returncode`
  * (0 = passed) and `complete`; a gate that throws is recorded
  * `complete: false` with its message, and the next gate still runs.
  * Prints `[streamgates] <GATE> done in <s> s` once a gate's artifact is
  * written, and exits 1 unless every gate completed and passed. Cores
  * follow `SPARK_GRAFT_CPUS` (default 4), like Verify and Bench.
  */
object StreamGates {

  /** The RocksDB state-store provider: the disk-backed state path, and
    * what transformWithState requires. */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The state-store confs every gate runs under, set once before the
    * first query and restored after [[run]]: Spark schedules state-store
    * maintenance once per JVM, so a per-gate value would not take.
    * Retention is shrunk from the 100-batch default so the recovery
    * window, bounded either way, stays small; compaction at every commit
    * makes RocksDB's SST size track LIVE rows instead of deferred
    * tombstone debt — what EVICTCHECK judges, and the only verdict that
    * reads a byte metric. */
  val StateConfs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider,
    "spark.sql.streaming.minBatchesToRetain" -> "2",
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "5s",
    "spark.sql.streaming.stateStore.rocksdb.compactOnCommit" -> "true")

  /** A gate: its artifact `<name>.json` and the body that runs it. */
  final case class Gate(name: String)(val body: SparkSession => Outcome)

  /** A finished gate's artifact members (JSON) and whether it passed. */
  final case class Outcome(fields: String, pass: Boolean)

  /** One judged operator of a gate; `details` are JSON members. */
  final case class Verdict(name: String, pass: Boolean, details: String)

  def main(args: Array[String]): Unit = {
    val unknown = args.filterNot(a => All.exists(_.name == a))
    require(unknown.isEmpty, s"unknown gate(s) ${unknown.mkString(" ")}; " +
      s"known: ${All.map(_.name).mkString(" ")}")
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val ok = run(spark, All.filter(g => args.isEmpty || args.contains(g.name)),
      Paths.get(""))
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Runs `gates` in order under [[StateConfs]], restoring the session's
    * previous values afterwards, and writes each gate's `<name>.json` into
    * `outDir`. Returns whether every gate completed and passed. */
  def run(spark: SparkSession, gates: Seq[Gate], outDir: Path): Boolean = {
    val prev = StateConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    StateConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try gates.map { g =>
      val t0 = System.nanoTime()
      val (o, complete) = try (g.body(spark), true) catch { case NonFatal(e) =>
        (Outcome(s""""error":${str(e.toString)}""", pass = false), false)
      }
      val line = s"""{${o.fields},"returncode":${if (o.pass) 0 else 1},""" +
        s""""complete":$complete}"""
      println(line)
      // no `done` line without a fresh artifact: the sweep marks the gate
      // incomplete rather than reading a previous run's file
      val written = write(outDir.resolve(s"${g.name}.json"), line)
      if (written) System.err.println(f"[streamgates] ${g.name} done in ${
        (System.nanoTime() - t0) / 1e9}%.1f s")
      o.pass && written
    }.forall(identity)
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def write(path: Path, line: String): Boolean =
    try {
      val tmp = path.resolveSibling(s"${path.getFileName}.tmp")
      Files.write(tmp, (line + "\n").getBytes("UTF-8"))
      Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      true
    } catch { case e: java.io.IOException =>
      System.err.println(s"[streamgates] $path not written: $e")
      false
    }

  /** A JSON string literal. */
  def str(s: String): String = s.map {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** The members of a gate judged op by op: `head`, then `all_ok` and one
    * `{"pass":..,<details>}` object per op. */
  def judged(head: String, verdicts: Seq[Verdict]): Outcome = {
    val allOk = verdicts.forall(_.pass)
    val ops = verdicts.map(v => s"""${str(v.name)}:{"pass":${v.pass},${v.details}}""")
      .mkString("{", ",", "}")
    Outcome(s"""$head,"all_ok":$allOk,"ops":$ops""", allOk)
  }

  def ckpt(name: String): String =
    Files.createTempDirectory(s"graft-stream-$name").toString

  implicit class StartAs(ds: Dataset[_]) {
    /** Starts `ds` as query `name` into sink `format` (a "memory" sink is
      * then table `name`) in output `mode`, from a fresh checkpoint. */
    def startAs(format: String, mode: String, name: String): StreamingQuery =
      ds.writeStream.format(format).outputMode(mode).queryName(name)
        .option("checkpointLocation", ckpt(name)).start()
  }

  /** Feeds each of `batches` to `ms` as one micro-batch (an empty one adds
    * nothing, but still processes), then stops the query; returns the
    * state metrics recorded after every batch. `query` is by-name: with
    * `restartBefore = b` it is stopped and started again, from its
    * checkpoint, before the b-th batch (1-based). */
  def feed[T](query: => StreamingQuery, ms: MemoryStream[T], batches: Seq[Seq[T]],
      restartBefore: Int = 0): StateSeries = {
    val series = new StateSeries
    var q = query
    batches.zipWithIndex.foreach { case (rows, i) =>
      if (i + 1 == restartBefore) { q.stop(); q = query }
      if (rows.nonEmpty) ms.addData(rows)
      q.processAllAvailable()
      series.record(q)
    }
    q.stop()
    series
  }

  /** Per-batch state metrics of a query (`numRowsTotal`,
    * `memoryUsedBytes`, RocksDB's `rocksdbSstFileSize`), summed over its
    * stateful operators. One feed = one data micro-batch
    * (processAllAvailable may also run no-data batches; the LAST progress
    * with state operators reflects the current store size either way). A
    * progress without state operators (metrics missing) records nothing. */
  final class StateSeries {
    val rows, mem, sst = ArrayBuffer.empty[Long]
    def record(q: StreamingQuery): Unit = {
      val ops = Option(q.lastProgress).map(_.stateOperators).getOrElse(Array.empty)
      if (ops.nonEmpty) {
        rows += ops.map(_.numRowsTotal).sum
        mem += ops.map(_.memoryUsedBytes).sum
        sst += ops.map(o => Option(o.customMetrics.get("rocksdbSstFileSize"))
          .map(_.longValue).getOrElse(0L)).sum
      }
    }
  }

  /** An update-mode `foreachBatch` sink keeping the latest value emitted
    * per key; `start` (re)starts `ds` into it from checkpoint `dir`. */
  final class LatestPerKey[R, K, V](ds: Dataset[R], dir: String)(kv: R => (K, V)) {
    private val latest = new ConcurrentHashMap[K, V]()
    def start(): StreamingQuery = ds.writeStream.outputMode("update")
      .option("checkpointLocation", dir)
      .foreachBatch { (b: Dataset[R], _: Long) =>
        b.collect().foreach { r => val (k, v) = kv(r); latest.put(k, v) }
      }.start()
    def result: Map[K, V] = latest.asScala.toMap
  }

  /** A windowed aggregate's row as ((window start, event type), (count, sum)). */
  def windowRow(r: org.apache.spark.sql.Row) =
    (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))

  /** A near-dup doc's text: unique per underlying document `i`. */
  def docText(i: Long): String =
    s"document $i with tokens alpha$i beta$i gamma$i delta$i epsilon$i"

  def arr(xs: Seq[Long]): String = xs.mkString("[", ",", "]")

  /** The keys of `oracle` and `got` together, and how many of them the
    * two disagree on (a key missing on one side disagrees). */
  def mismatches[K, V](oracle: Map[K, V], got: Map[K, V]): (Int, Int) = {
    val keys = oracle.keySet ++ got.keySet
    (keys.size, keys.count(k => oracle.get(k) != got.get(k)))
  }

  /** Streaming replay-parity gate (VERDICT r12 item 1) — the streaming
    * twin of DUPCHECK.
    *
    * The twelve corpus gates all exercise the BATCH path; the replay axis
    * (at-least-once redelivery) found a real bug there (q82's
    * training-prefix rule), and the same duplication shapes reach the
    * stateful streaming operators in production: a spool file re-landed
    * after a crashed ingest (the SAME row delivered again, key and all)
    * and a producer retry (same content under a FRESH primary key,
    * original +10⁹ — the dup_check convention). This gate drives each
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
    */
  val STREAMREPLAY: Gate = Gate("STREAMREPLAY") { spark =>
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batches = 6
    val perBatch = 1400
    val ndPerBatch = 250
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime

    /** Deterministic redelivery schedule over a batch's base ids: ~1/7 of
      * rows are redelivered one batch later — `i % 14 == 3` as the same
      * row (spool replay), `i % 14 == 10` under a fresh key original+10⁹
      * (producer retry). */
    val FRESH_OFFSET = 1000000000L
    def replaySameId(i: Long): Boolean = i % 14 == 3
    def replayFreshId(i: Long): Boolean = i % 14 == 10
    def orig(id: Long): Long = if (id >= FRESH_OFFSET) id - FRESH_OFFSET else id

    /** Base ids of batch b: globally unique, far below FRESH_OFFSET. */
    def baseIds(b: Int, n: Int): Seq[Long] =
      (0 until n).map(i => b.toLong * 10000 + i)

    /** Batches 1..batches+1, where batch b delivers `base(b)` (empty for
      * the final batch) plus the replays scheduled from batch b-1's base
      * rows. `mk` maps a base id to the op's row, and `id + FRESH_OFFSET`
      * to its fresh-key variant. Flattened, the schedule is every
      * delivered row (the at-least-once multiset the oracles are computed
      * from). */
    def schedule[T](n: Int, mk: Long => T): Seq[Seq[T]] =
      (1 to batches + 1).map { b =>
        val fresh = if (b <= batches) baseIds(b, n).map(mk) else Seq.empty
        val replayed = if (b >= 2) {
          val prev = baseIds(b - 1, n)
          prev.filter(replaySameId).map(mk) ++
            prev.filter(replayFreshId).map(i => mk(i + FRESH_OFFSET))
        } else Seq.empty
        fresh ++ replayed
      }

    val verdicts = ArrayBuffer.empty[Verdict]

    // ---- 1. dedupWithinWatermark -------------------------------------
    locally {
      def ev(id: Long): Event = {
        val i = orig(id)
        Event(id, new Timestamp(base + i * 1000), i % 50, s"t${i % 5}", i.toDouble)
      }
      val ms = MemoryStream[Event]
      val sched = schedule(perBatch, ev)
      feed(StatefulOps.dedupWithinWatermark(ms.toDF(), "1 hour", Seq("event_id"))
        .startAs("memory", "append", "sr_dedup"),
        ms, sched)
      val delivered = sched.flatten
      val expected = delivered.map(_.event_id).distinct.toSet
      val got = spark.table("sr_dedup").select("event_id").as[Long].collect()
      val dupes = got.groupBy(identity).filter(_._2.length > 1).keys.take(5)
      val pass = got.length == expected.size && got.toSet == expected
      verdicts += Verdict("dedup_watermark", pass,
        s""""delivered":${delivered.size},"distinct_keys":${expected.size},""" +
          s""""emitted":${got.length},"dupe_keys":${dupes.size}""")
    }

    // fingerprint is CONTENT: a retry keeps the fp under a new id
    def fpRow(id: Long): (String, String) = (s"id$id", s"fp${orig(id)}")

    /** The bloom-dedup pass rule over everything delivered and emitted. */
    def bloomVerdict(name: String, delivered: Seq[(String, String)],
        got: Seq[(String, String)], extra: String): Verdict = {
      val distinctFps = delivered.map(_._2).distinct.size
      val reEmitted = got.groupBy(_._2).count(_._2.length > 1)
      val retryEmitted = got.count(_._1.stripPrefix("id").toLong >= FRESH_OFFSET)
      val coverage = got.length.toDouble / distinctFps
      val pass = reEmitted == 0 && retryEmitted == 0 && coverage >= 0.99 &&
        got.length <= distinctFps
      Verdict(name, pass,
        s""""delivered":${delivered.size},"distinct_fps":$distinctFps,""" +
          s""""emitted":${got.length},"re_emitted_fps":$reEmitted,""" +
          s""""retry_ids_emitted":$retryEmitted,"coverage":$coverage$extra""")
    }

    // ---- 2. streamingBloomDedup ---------------------------------------
    locally {
      val ms = MemoryStream[(String, String)]
      val sched = schedule(perBatch, fpRow)
      feed(StatefulOps.streamingBloomDedup(ms.toDS(), shards = 16,
          mBits = 1 << 18)
        .startAs("memory", "update", "sr_bloom"),
        ms, sched)
      verdicts += bloomVerdict("bloom_dedup", sched.flatten,
        spark.table("sr_bloom").as[(String, String)].collect().toSeq, "")
    }

    // unique text per underlying document; a fresh-id retry repeats the
    // ORIGINAL's text exactly (same content, new key)
    def doc(id: Long): (Long, Timestamp, String) = {
      val i = orig(id)
      (id, new Timestamp(base + i * 100), docText(i))
    }

    // ---- 3. streamingNearDupBounded ------------------------------------
    locally {
      val ms = MemoryStream[(Long, Timestamp, String)]
      val sched = schedule(ndPerBatch, doc)
      feed(StatefulOps.streamingNearDupBounded(ms.toDS(),
          watermarkDelay = "1 hour", horizonMs = 24 * 3600 * 1000L)
        .toDF().startAs("memory", "append", "sr_neardup"),
        ms, sched)
      val delivered = sched.flatten
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
      verdicts += Verdict("neardup_bounded", pass,
        s""""delivered":${delivered.size},"expected_pairs":${expectedPairs.size},""" +
          s""""hits":${got.length},"self_pairs":$selfPairs,""" +
          s""""dup_emits":$dupEmits,"unexpected":${unexpected.size},""" +
          s""""missed":${missed.size},"bad_est":$badEst""")
    }

    // ---- 4. streamingTokenSketch ----------------------------------------
    locally {
      val ms = MemoryStream[String]
      // a token stream has no key separate from content: BOTH replay
      // variants deliver the same token string again, and the pinned
      // batch semantics (DUPCHECK's q132 analogue) count it twice
      val sched = schedule(perBatch, id => s"tok${orig(id)}")
      feed(StatefulOps.streamingTokenSketch(ms.toDS().toDF("token"))
        .startAs("memory", "complete", "sr_cms"),
        ms, sched)
      val delivered = sched.flatten
      val agg = new graft.functions.CountMinAggregator(1024, 4, 601)
      val oracle = delivered.foldLeft(agg.zero)((b, t) => agg.reduce(b, t)).toSeq
      val rows = spark.table("sr_cms").as[Seq[Long]].collect()
      val pass = rows.length == 1 && rows(0) == oracle
      val diffCells = if (rows.length == 1)
        rows(0).zip(oracle).count { case (a, b) => a != b } else -1
      verdicts += Verdict("cms_sketch", pass,
        s""""delivered":${delivered.size},"sketch_rows":${rows.length},""" +
          s""""mismatched_cells":$diffCells""")
    }

    // ---- 5. streamingStratifiedSample ------------------------------------
    locally {
      val cap = 64; val seed = 42
      val ms = MemoryStream[(String, Long)]
      val latest = new LatestPerKey(
          StatefulOps.streamingStratifiedSample(ms.toDS(), cap, seed),
          ckpt("strat"))({ case (s, ids) => s -> ids })
      val sched = schedule(perBatch, id => (s"s${orig(id) % 8}", id))
      feed(latest.start(), ms, sched)
      val delivered = sched.flatten
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
      val (strata, bad) = mismatches(oracle, latest.result)
      verdicts += Verdict("stratified_reservoir", bad == 0,
        s""""delivered":${delivered.size},"strata":$strata,""" +
          s""""mismatched_strata":$bad""")
    }

    // ---- 6. keepLatestPerUserTws (RocksDB transformWithState) -----------
    locally {
      def ev(id: Long): Event = {
        val i = orig(id)
        // same content under a fresh key: identical ts/user/value, so the
        // (ts, event_id) tie-break decides — deterministically, both sides
        Event(id, new Timestamp(base + (i % 977) * 1000), i % 50,
          s"t${i % 5}", i.toDouble)
      }
      val ms = MemoryStream[Event]
      val latest = new LatestPerKey(StatefulOps.keepLatestPerUserTws(ms.toDS()),
          ckpt("latest"))(e => e.user_id -> e)
      val sched = schedule(perBatch, ev)
      feed(latest.start(), ms, sched)
      val delivered = sched.flatten
      val oracle = delivered.distinct.groupBy(_.user_id).map { case (u, es) =>
        u -> es.maxBy(e => (e.ts.getTime, e.event_id))
      }
      val (users, bad) = mismatches(oracle, latest.result)
      verdicts += Verdict("keep_latest_tws", bad == 0,
        s""""delivered":${delivered.size},"users":$users,""" +
          s""""mismatched_users":$bad""")
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
      def ev(id: Long, off: Long): Event = {
        val i = orig(id)
        Event(id, new Timestamp(base + i * 1000 + off), i % 30, s"t${i % 5}",
          i.toDouble)
      }
      val msL = MemoryStream[Event]
      val msR = MemoryStream[Event]
      val q = StatefulOps.intervalJoin(msL.toDF(), msR.toDF(), "user_id",
          "1 hour", "5 minutes", "5 minutes")
        .startAs("memory", "append", "sr_ijoin")
      val ls = schedule(nJoin, ev(_, 0)); val rs = schedule(nJoin, ev(_, 30000))
      ls.lazyZip(rs).foreach { (l, r) =>
        if (l.nonEmpty) msL.addData(l)
        if (r.nonEmpty) msR.addData(r)
        q.processAllAvailable()
      }
      q.stop()
      val (dl, dr) = (ls.flatten, rs.flatten)
      val got = spark.table("sr_ijoin").select("event_id", "r_event_id")
        .as[(Long, Long)].collect().sorted.toSeq
      val oracle = StatefulOps.intervalJoin(
          dl.toDS().toDF(), dr.toDS().toDF(), "user_id",
          "1 hour", "5 minutes", "5 minutes")
        .select("event_id", "r_event_id")
        .as[(Long, Long)].collect().sorted.toSeq
      val pass = got == oracle
      verdicts += Verdict("interval_join", pass,
        s""""delivered_left":${dl.size},"delivered_right":${dr.size},""" +
          s""""joined":${got.size},"oracle_joined":${oracle.size}""")
    }

    // ---- 8. tumbling window agg (T3, one definition batch+stream) --------
    // Same parity pin as the join: redelivered events count twice on
    // both sides, and the fixed-point dsum makes the comparison exact
    // regardless of merge order.
    locally {
      def ev(id: Long): Event = {
        val i = orig(id)
        Event(id, new Timestamp(base + (i % 3600) * 1000), i % 50,
          s"t${i % 5}", (i % 97) * 0.25)
      }
      val ms = MemoryStream[Event]
      val latest = new LatestPerKey(
          EventWindows.tumbling(ms.toDF(), "5 minutes", Some("2 hours")),
          ckpt("tumbling"))(windowRow)
      val sched = schedule(perBatch, ev)
      feed(latest.start(), ms, sched)
      val delivered = sched.flatten
      val oracle = EventWindows.tumbling(delivered.toDS().toDF(), "5 minutes")
        .collect().map(windowRow).toMap
      val (windows, bad) = mismatches(oracle, latest.result)
      verdicts += Verdict("tumbling_window", bad == 0,
        s""""delivered":${delivered.size},"windows":$windows,""" +
          s""""mismatched_windows":$bad""")
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
      val emitted = new ConcurrentLinkedQueue[(String, String)]()
      def start() = StatefulOps.streamingBloomDedup(ms.toDS(), shards = 16,
          mBits = 1 << 18)
        .writeStream
        .foreachBatch { (df: Dataset[(String, String)], _: Long) =>
          df.collect().foreach(emitted.add)
        }
        .option("checkpointLocation", ckptDir)
        .outputMode("update").start()
      val sched = schedule(perBatch, fpRow)
      feed(start(), ms, sched, restartBefore = 4) // restart mid-schedule
      verdicts += bloomVerdict("bloom_dedup_restart", sched.flatten,
        emitted.asScala.toSeq, ""","restart_before_batch":4""")
    }

    // ---- 10. near-dup, retry delivered AFTER the restart ------------------
    // Sharpest form of the composition: every bucket representative is
    // established BEFORE the restart, every fresh-id retry arrives AFTER
    // it — a hit can only be produced from recovered RocksDB state.
    locally {
      val nDocs = 250
      val ckptDir = ckpt("nearduprs")
      val ms = MemoryStream[(Long, Timestamp, String)]
      val hits = new ConcurrentLinkedQueue[(Long, Long, Double)]()
      def start() = StatefulOps.streamingNearDupBounded(ms.toDS(),
          watermarkDelay = "1 hour", horizonMs = 24 * 3600 * 1000L)
        .toDF().writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select("doc_id", "dup_of", "est").as[(Long, Long, Double)]
            .collect().foreach(hits.add)
        }
        .option("checkpointLocation", ckptDir)
        .outputMode("append").start()
      val origs = baseIds(1, nDocs) ++ baseIds(2, nDocs)
      val retries = origs.filter(replayFreshId).map(_ + FRESH_OFFSET)
      feed(start(), ms, origs.grouped(nDocs).toSeq.map(_.map(doc)) :+
        retries.map(doc), restartBefore = 3)
      val expected = retries.map(r => (r, r - FRESH_OFFSET)).toSet
      val got = hits.asScala.toSeq
      val gotPairs = got.map(h => (h._1, h._2))
      val pass = gotPairs.toSet == expected &&
        gotPairs.size == expected.size &&
        got.forall(_._3 >= 0.999)
      verdicts += Verdict("neardup_restart", pass,
        s""""originals":${origs.size},"retries_after_restart":${retries.size},""" +
          s""""expected_pairs":${expected.size},"hits":${got.size}""")
    }

    judged(s""""metric":"stream_replay_parity","batches":${batches + 1},""" +
      s""""replay_fraction":"~1/7 (half same-id, half fresh-id +1e9)"""",
      verdicts.toSeq)
  }

  /** Streaming LATE-DATA gate — the third streaming axis, after replay
    * parity (STREAMREPLAY) and bounded state (STREAMSOAK/EVICTCHECK).
    *
    * Replay delivers duplicates in order; production event time does the
    * opposite too: rows arrive LATE — behind the watermark — from lagging
    * producers, mobile clients flushing hours-old buffers, or a re-landed
    * spool of yesterday's traffic. Structured Streaming's contract is that
    * the watermark bounds both state AND admission: a row behind the
    * eviction horizon is dropped, deterministically, everywhere. This gate
    * drives the watermarked ops with a schedule that mixes on-time rows,
    * allowed-late rows (behind max event time, ahead of the watermark) and
    * too-late rows (behind the watermark in effect for their batch), and
    * gates each op's output against its pinned batch semantics computed
    * over the ADMITTED subset — where admission is modeled driver-side
    * from the documented watermark trajectory:
    *
    *   wm(0) = -inf (Spark's initial watermark is epoch 1970, which
    *   predates every event here);
    *   wm(b) = max(wm(b-1), maxEventTs(batch b) - delay)
    *   (the watermark in effect DURING batch b is wm(b-1))
    *
    *  - tumbling windowed agg, UPDATE mode: a late row is admitted iff its
    *    WINDOW is still live — `window.end > wm` (Spark evicts by window
    *    end, not row timestamp, so an allowed-late row landing in a live
    *    window must still count). Final per-(window,type) values must
    *    equal the batch aggregate of the admitted rows.
    *  - tumbling windowed agg, APPEND mode: additionally, every finalized
    *    window is emitted EXACTLY once, and only after the watermark
    *    passes its end; the emitted set must be exactly the finalized
    *    subset of the update-mode oracle.
    *  - sliding windowed agg: a late row belongs to SEVERAL overlapping
    *    windows; window-liveness admission is per (row, window) pair —
    *    the gate's late band at 430..470 straddles the watermark so each
    *    row is PARTIALLY admitted (counted in its live windows, dropped
    *    from its expired ones), pinned against a driver-side per-pair
    *    oracle.
    *  - session windows (append): an allowed-late row landing within the
    *    gap of a LIVE session merges into it and extends its end; a
    *    too-late row is dropped at admission on its PROVISIONAL window
    *    (`ts + gap <= wm`), even when the session it would have merged
    *    into is still live — admission judges the row, not the
    *    post-merge result.
    *  - dedupWithinWatermark: admission is per ROW — `ts >= wm` — then
    *    first-seen-per-key emits within the live state horizon. Too-late
    *    rows are dropped even for never-seen keys; an admitted redelivery
    *    after its key's state expired re-emits (the documented
    *    at-least-once edge of dropDuplicatesWithinWatermark). Key state
    *    expires at FIRST-SEEN ts + delay — a suppressed duplicate does
    *    NOT extend it (the guarantee is "dedup within delay of the first
    *    occurrence") — and eviction fires on expiry <= wm. Both pinned
    *    here: this gate's first run emitted exactly the 70 keys whose
    *    first-seen expiry had passed despite an in-horizon re-sighting.
    *  - intervalJoin: a left row delivered behind the join's eviction
    *    horizon produces NO pairs, even though matching right rows were
    *    buffered earlier; on-time pairs all survive (batch parity over
    *    admitted rows, with the too-late row excluded). State removal is
    *    prompt — it runs at each batch's END with the batch's ADVANCED
    *    watermark (measured via stateOperators metrics: batch 1's 120
    *    buffered rows show removed=120 at the end of the very next
    *    batch), so by the time a late row can arrive the matchable state
    *    is already gone.
    *
    * All ops run on the RocksDB provider. Assertion boundaries avoid exact
    * watermark-equality edges (event times sit strictly between horizon
    * values), so the gate pins semantics, not `<` vs `<=` trivia.
    */
  val STREAMLATE: Gate = Gate("STREAMLATE") { spark =>
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val verdicts = ArrayBuffer.empty[Verdict]

    val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(offsetSec: Long): Timestamp = new Timestamp(T0 + offsetSec * 1000)

    /** The modeled watermark trajectory over delivered batches. */
    def wmTrajectory(batches: Seq[Seq[Long]], delaySec: Long): Seq[Long] =
      batches.scanLeft(Long.MinValue) { (wm, rows) =>
        if (rows.isEmpty) wm else math.max(wm, rows.max - delaySec)
      }

    // ------------------------------------------------------------------
    // Shared late schedule (offsets in seconds).
    //   batch 1: on-time band   [   0,  600)
    //   batch 2: on-time band   [ 900, 1500) -> wm after = 1500-900 = 600
    //   batch 3: on-time band   [1800, 2400)
    //            + ALLOWED-late rows at 700..740  (wm during b3 = 600)
    //            + TOO-late rows at 100..140      (behind wm 600)
    //            -> wm after = 2400-900 = 1500
    //   batch 4: on-time band   [2700, 3300)
    //            + TOO-late rows at 1000..1040    (behind wm 1500)
    //            -> wm after = 3300-900 = 2400
    //   batch 5: far-future advancer row at 100000 — pushes the
    //            watermark beyond every assertion window so append-mode
    //            output flushes; excluded from every assertion range.
    // ------------------------------------------------------------------
    val delaySec = 900L
    val windowSec = 300L
    val assertBelowSec = 10000L // assertions only below this event time
    def asserted(t: Timestamp): Boolean = t.getTime < T0 + assertBelowSec * 1000

    def band(from: Long, n: Int, step: Long): Seq[Long] =
      (0 until n).map(i => from + i * step)

    val onTime: Seq[Seq[Long]] = Seq(
      band(0, 120, 5), band(900, 120, 5), band(1800, 120, 5),
      band(2700, 120, 5), Seq(100000L))
    val lateRows: Seq[Seq[Long]] = Seq(
      Seq.empty, Seq.empty,
      band(700, 9, 5) ++ band(100, 9, 5),
      band(1000, 9, 5),
      Seq.empty)
    val schedule: Seq[Seq[Long]] = onTime.lazyZip(lateRows).map(_ ++ _)
    val wms = wmTrajectory(schedule, delaySec) // wms(b-1) = wm DURING batch b

    def mkEvent(off: Long): Event =
      Event(off, ts(off), off % 7, s"t${off % 3}", (off % 97) * 0.25)

    // tumbling admission: a row is admitted iff its window was still live
    // during its batch; the oracle is the batch aggregate of those rows
    val tumblingAdmitted = schedule.zipWithIndex.flatMap { case (rows, i) =>
      rows.filter { off =>
        val winEnd = (off / windowSec + 1) * windowSec
        winEnd > wms(i)
      }
    }
    val tumblingOracle = EventWindows.tumbling(
        tumblingAdmitted.map(mkEvent).toDS().toDF(), s"$windowSec seconds")
      .collect().map(windowRow).toMap

    // ---- 1. tumbling agg, UPDATE mode: window-liveness admission -------
    locally {
      val ms = MemoryStream[Event]
      val latest = new LatestPerKey(EventWindows.tumbling(ms.toDF(),
          s"$windowSec seconds", Some(s"$delaySec seconds")),
        ckpt("tumupd"))(windowRow)
      feed(latest.start(), ms, schedule.map(_.map(mkEvent)))
      val nDropped = schedule.flatten.size - tumblingAdmitted.size
      val (windows, bad) = mismatches(tumblingOracle.filter(w => asserted(w._1._1)),
        latest.result.filter(w => asserted(w._1._1)))
      verdicts += Verdict("tumbling_update_late", bad == 0,
        s""""delivered":${schedule.flatten.size},"too_late_dropped":$nDropped,""" +
          s""""windows":$windows,"mismatched_windows":$bad""")
    }

    // ---- 2. tumbling agg, APPEND mode: finalized exactly once ----------
    locally {
      val ms = MemoryStream[Event]
      feed(EventWindows.tumbling(ms.toDF(), s"$windowSec seconds",
          Some(s"$delaySec seconds"))
        .startAs("memory", "append", "sl_tumapp"),
        ms, schedule.map(_.map(mkEvent)))
      val finalWm = wms.last
      val oracle = tumblingOracle
        .filter { case ((ws, _), _) => // finalized: window end <= final wm
          ws.getTime / 1000 - T0 / 1000 + windowSec <= finalWm && asserted(ws)
        }
      val gotRows = spark.table("sl_tumapp").collect().map(windowRow)
        .filter(w => asserted(w._1._1))
      val dupEmits = gotRows.groupBy(_._1).count(_._2.length > 1)
      val (_, bad) = mismatches(oracle, gotRows.toMap)
      verdicts += Verdict("tumbling_append_late",
        bad == 0 && dupEmits == 0,
        s""""finalized_windows":${oracle.size},"emitted":${gotRows.length},""" +
          s""""dup_emits":$dupEmits,"mismatched_windows":$bad""")
    }

    // ---- 3. dedupWithinWatermark: row admission + state expiry ---------
    locally {
      // Distinct schedule: key K1 seen in batch 1, redelivered (same key,
      // fresh admitted ts) in batch 4 AFTER its state expired -> re-emit;
      // key K2 seen in batch 2, redelivered in batch 3 within the horizon
      // -> suppressed; key K3 first seen TOO LATE in batch 3 -> dropped.
      val ms = MemoryStream[Event]
      // per batch: (event_id, tsOffset)
      val dedupSchedule: Seq[Seq[(Long, Long)]] = Seq(
        band(0, 120, 5).map(o => (o, o)),                    // batch 1 fresh
        band(900, 120, 5).map(o => (o - 900, o)) ++          // batch 2: same keys as b1, within horizon -> suppressed
          band(2000, 30, 5).map(o => (o, o)),                // fresh keys
        band(3600, 120, 5).map(o => (o - 3600, o)) ++        // batch 3: b1 keys again — the 70 whose FIRST-seen expiry passed wm re-emit, the rest stay suppressed
          Seq.tabulate(10)(i => (9000L + i, 200L + i * 5)),  // never-seen keys, too late (ts 200.. < wm) -> dropped
        Seq((100000L, 100000L)))                             // advancer
      def dev(id: Long, off: Long): Event =
        Event(id, ts(off), id % 7, s"t${id % 3}", 1.0)
      val wmsD = wmTrajectory(dedupSchedule.map(_.map(_._2)), delaySec)
      feed(StatefulOps.dedupWithinWatermark(ms.toDF(),
          s"$delaySec seconds", Seq("event_id"))
        .startAs("memory", "append", "sl_dedup"),
        ms, dedupSchedule.map(_.map { case (id, off) => dev(id, off) }))
      // driver-side model: state expiry = FIRST-seen ts + delay (never
      // extended by a suppressed duplicate), evicted on expiry <= wm
      val state = scala.collection.mutable.Map.empty[Long, Long] // key -> first admitted ts
      val expectedEmits = ArrayBuffer.empty[(Long, Long)]
      dedupSchedule.zipWithIndex.foreach { case (rows, i) =>
        val wm = wmsD(i)
        state.filterInPlace((_, firstTs) => firstTs + delaySec > wm) // evict
        rows.foreach { case (id, off) =>
          if (off >= wm && !state.contains(id)) { // admitted + first sighting
            expectedEmits += ((id, off))
            state(id) = off
          }
        }
      }
      val expected = expectedEmits.filter(_._2 < assertBelowSec).toSet
      val got = spark.table("sl_dedup").select("event_id", "ts")
        .as[(Long, Timestamp)].collect()
        .map { case (id, t) => (id, (t.getTime - T0) / 1000) }
        .filter(_._2 < assertBelowSec)
      val gotSet = got.toSet
      val dupEmits = got.groupBy(identity).count(_._2.length > 1)
      val missed = expected.diff(gotSet)
      val unexpected = gotSet.diff(expected)
      verdicts += Verdict("dedup_watermark_late",
        dupEmits == 0 && missed.isEmpty && unexpected.isEmpty,
        s""""expected_emits":${expected.size},"emitted":${got.length},""" +
          s""""dup_emits":$dupEmits,"missed":${missed.size},""" +
          s""""unexpected":${unexpected.size}""")
    }

    // ---- 4. intervalJoin: too-late row produces nothing -----------------
    locally {
      val msL = MemoryStream[Event]
      val msR = MemoryStream[Event]
      val q = StatefulOps.intervalJoin(msL.toDF(), msR.toDF(), "user_id",
          s"$delaySec seconds", "60 seconds", "60 seconds")
        .startAs("memory", "append", "sl_ijoin")
      // batch 1: left 0..590 step 10, right = left+30s -> pairs
      // batch 2: both sides 2700..3320 -> wm advances to 2390; batch 1's
      //          buffered rows (max match time 680) are removed at this
      //          batch's end (probe-measured removed=120)
      // batch 3: fresh on-time rows -> pairs
      // batch 4: ONE left row at ts 505 (OFF the step-10 grid, so its id
      //          collides with no on-time row) — right matches EXISTED
      //          at 445..565 in batch 1, but that state is removed: no
      //          pair may emit.
      val b1L = band(0, 60, 10); val b1R = b1L.map(_ + 30)
      val b2 = band(2700, 60, 10)
      val b3L = band(3600, 60, 10); val b3R = b3L.map(_ + 30)
      def lev(off: Long): Event = Event(off, ts(off), off % 5, "l", 0.0)
      def rev(off: Long): Event = Event(off + 500000, ts(off), off % 5, "r", 0.0)
      msL.addData(b1L.map(lev)); msR.addData(b1R.map(rev)); q.processAllAvailable()
      msL.addData(b2.map(lev)); msR.addData(b2.map(_ + 30).map(rev)); q.processAllAvailable()
      msL.addData(b3L.map(lev)); msR.addData(b3R.map(rev)); q.processAllAvailable()
      msL.addData(Seq(lev(505L))); q.processAllAvailable()
      q.stop()
      val admittedL = (b1L ++ b2 ++ b3L).map(lev) // the 505L late row is NOT admitted
      val admittedR = (b1R ++ b2.map(_ + 30) ++ b3R).map(rev)
      val oracle = StatefulOps.intervalJoin(
          admittedL.toDS().toDF(), admittedR.toDS().toDF(), "user_id",
          s"$delaySec seconds", "60 seconds", "60 seconds")
        .select("event_id", "r_event_id").as[(Long, Long)].collect().sorted.toSeq
      val got = spark.table("sl_ijoin").select("event_id", "r_event_id")
        .as[(Long, Long)].collect().sorted.toSeq
      val latePairs = got.count(_._1 == 505L)
      verdicts += Verdict("interval_join_late",
        got == oracle && latePairs == 0,
        s""""joined":${got.size},"oracle_joined":${oracle.size},""" +
          s""""late_row_pairs":$latePairs""")
    }

    // ---- 5. sliding windows: PARTIAL admission of one late row ----------
    // A late row belongs to several overlapping windows at once; window-
    // liveness admission means it must count in the windows still ahead
    // of the watermark and be dropped from the expired ones — one input
    // row, partially admitted. The dedicated late band at 430..470
    // (delivered under wm 600) straddles exactly that line: its
    // 300s/100s windows end at 530..770, some expired, some live.
    locally {
      val slideSec = 100L
      val lateSliding: Seq[Seq[Long]] = Seq(
        Seq.empty, Seq.empty,
        band(700, 9, 5) ++ band(100, 9, 5) ++ band(430, 9, 5),
        band(1000, 9, 5),
        Seq.empty)
      val scheduleS: Seq[Seq[Long]] = onTime.lazyZip(lateSliding).map(_ ++ _)
      val wmsS = wmTrajectory(scheduleS, delaySec)
      val ms = MemoryStream[Event]
      val latest = new LatestPerKey(EventWindows.sliding(ms.toDF(),
          s"$windowSec seconds", s"$slideSec seconds", Some(s"$delaySec seconds")),
        ckpt("sliupd"))(windowRow)
      feed(latest.start(), ms, scheduleS.map(_.map(mkEvent)))
      // driver-side oracle over (row, window-instance) pairs: the row
      // contributes to window [s, s+W) iff s ∈ (off-W, off] on the slide
      // grid AND s+W > wm during the row's batch
      val oracle = scala.collection.mutable.Map.empty[(Long, String), (Long, Double)]
      var partials = 0
      scheduleS.zipWithIndex.foreach { case (rows, i) =>
        rows.foreach { off =>
          val starts = {
            val first = math.floorDiv(off, slideSec) * slideSec
            Iterator.iterate(first)(_ - slideSec)
              .takeWhile(_ > off - windowSec).toSeq
          }
          val admittedStarts = starts.filter(_ + windowSec > wmsS(i))
          if (admittedStarts.nonEmpty && admittedStarts.size < starts.size)
            partials += 1
          admittedStarts.foreach { s =>
            val k = (s, s"t${off % 3}")
            val (n, v) = oracle.getOrElse(k, (0L, 0.0))
            oracle(k) = (n + 1, v + (off % 97) * 0.25)
          }
        }
      }
      val oracleF = oracle.toMap.filter(_._1._1 < assertBelowSec)
        .map { case ((s, t), v) => (new Timestamp(T0 + s * 1000), t) -> v }
      val (windows, bad) = mismatches(oracleF,
        latest.result.filter(w => asserted(w._1._1)))
      verdicts += Verdict("sliding_update_late", bad == 0 && partials > 0,
        s""""windows":$windows,"partially_admitted_rows":$partials,""" +
          s""""mismatched_windows":$bad""")
    }

    // ---- 6. session windows: late merge into a LIVE session only --------
    // Sessions merge, so lateness has two distinct outcomes: an
    // allowed-late row lands 105 s after a live session's last event
    // (gap 120 s) and must MERGE into it, extending its end; a too-late
    // row (provisional window end ts+gap behind the watermark) is
    // dropped at admission even though the session it would have merged
    // into is still live — admission is judged on the ROW's provisional
    // window, not on the post-merge result.
    locally {
      val gapSec = 120L
      val ms = MemoryStream[Event]
      feed(EventWindows.sessions(ms.toDF(), s"$gapSec seconds",
          Some(s"$delaySec seconds"))
        .startAs("memory", "append", "sl_sess"),
        ms, schedule.map(_.map(mkEvent)))
      // admitted iff the row's provisional session window is still live
      val admitted = schedule.zipWithIndex.flatMap { case (rows, i) =>
        rows.filter(off => off + gapSec > wms(i))
      }
      def sessionRow(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)) ->
          (r.getLong(3), r.getDouble(4))
      val oracle = EventWindows.sessions(
          admitted.map(mkEvent).toDS().toDF(), s"$gapSec seconds")
        .collect().map(sessionRow).toMap
        .filter(s => asserted(s._1._2))
      val gotRows = spark.table("sl_sess").collect().map(sessionRow)
        .filter(s => asserted(s._1._2))
      val dupEmits = gotRows.groupBy(_._1).count(_._2.length > 1)
      val (sessions, bad) = mismatches(oracle, gotRows.toMap)
      verdicts += Verdict("session_append_late",
        bad == 0 && dupEmits == 0,
        s""""sessions":$sessions,"emitted":${gotRows.length},""" +
          s""""dup_emits":$dupEmits,"mismatched_sessions":$bad""")
    }

    // ---- 7. streamingNearDupBounded: admission + timer eviction ---------
    // The event-time timer eviction under late arrivals is exactly where
    // a watermark bug would hide (VERDICT r13 item 3). Pinned here:
    //  - a TOO-late doc (behind the batch's watermark) is dropped at
    //    admission — no hit, and it never becomes a representative;
    //  - an ALLOWED-late doc (behind max event time, ahead of the
    //    watermark) matches the live representative and refreshes its
    //    eviction timer;
    //  - a bucket idle past `horizon` of EVENT time is evicted the
    //    moment the watermark passes lastSeen+horizon: the next doc in
    //    that bucket becomes a fresh representative and emits NOTHING,
    //    while a bucket whose timer the watermark has NOT passed still
    //    matches (Z below survives by 2 s of event time);
    //  - a pair agreeing in every band still emits exactly once
    //    (the downstream dropDuplicatesWithinWatermark contract).
    locally {
      val horizonSec = 60L
      val ndDelaySec = 10L
      val ms = MemoryStream[(Long, Timestamp, String)]
      val textX = "the quick brown fox jumps over the lazy dog tonight"
      val textY = "spark engines shuffle partitions across the executor fleet"
      val textZ = "completely different content about gardening and soil"
      val textW = "isolated watermark advancer document concerning charts"
      val textV = "second advancer document that keeps the watermark put"
      // (doc_id, tsOff, text) per batch — wm trajectory (delay 10):
      //   after b0: 92, b1: 122, b2: 190, b3: 190, b4: 190
      val ndSchedule: Seq[Seq[(Long, Long, String)]] = Seq(
        Seq((1L, 100L, textX), (10L, 101L, textY), (20L, 102L, textZ)),
        Seq((2L, 105L, textX),                  // hit 2 -> 1
            (21L, 132L, textZ)),                // hit 21 -> 20 (Z timer -> 192)
        Seq((3L, 125L, textX),                  // ALLOWED late (wm 122): hit 3 -> 1, X timer -> 185
            (4L, 115L, textX),                  // TOO late (wm 122): dropped
            (30L, 200L, textW)),                // advances wm to 190
        Seq((40L, 195L, textV)),                // wm stays 190; X(185)/Y(161) timers fire, Z(192) survives
        Seq((5L, 195L, textX),                  // X evicted -> fresh rep, NO hit
            (11L, 196L, textY),                 // Y evicted -> fresh rep, NO hit
            (22L, 196L, textZ)))                // Z alive -> hit 22 -> 20
      feed(StatefulOps.streamingNearDupBounded(ms.toDS(),
          watermarkDelay = s"$ndDelaySec seconds",
          horizonMs = horizonSec * 1000, threshold = 0.5)
        .startAs("memory", "append", "sl_neardup"),
        ms, ndSchedule.map(_.map { case (id, off, t) => (id, ts(off), t) }))
      val expected = Set((2L, 1L), (21L, 20L), (3L, 1L), (22L, 20L))
      val gotRows = spark.table("sl_neardup")
        .select("doc_id", "dup_of", "est").as[(Long, Long, Double)].collect()
      val gotPairs = gotRows.map(r => (r._1, r._2))
      val dupEmits = gotPairs.groupBy(identity).count(_._2.length > 1)
      val badEst = gotRows.count(_._3 != 1.0) // identical texts -> est exactly 1.0
      val missed = expected.diff(gotPairs.toSet)
      val unexpected = gotPairs.toSet.diff(expected)
      verdicts += Verdict("near_dup_bounded_late",
        dupEmits == 0 && badEst == 0 && missed.isEmpty && unexpected.isEmpty,
        s""""expected_hits":${expected.size},"emitted":${gotRows.length},""" +
          s""""dup_emits":$dupEmits,"missed":${missed.size},""" +
          s""""unexpected":${unexpected.size},"bad_est":$badEst""")
    }

    // ---- 8. keepLatestPerUserTws: late arrivals never displace ----------
    // TimeMode.None is the documented contract: keep-latest is an
    // ORDERING operator, not an event-time one — feeding it from a
    // watermarked source must not drop stragglers (a late row for a
    // never-seen key still registers; a late row NEWER than the key's
    // latest still wins), while a late row OLDER than the latest never
    // displaces it and emits nothing. Ties on ts resolve by event_id
    // (documented in KeepLatestProcessor's maxBy).
    locally {
      val ms = MemoryStream[Event]
      def kev(id: Long, off: Long, user: Long): Event =
        Event(id, ts(off), user, "t", 1.0)
      // (id, tsOff, user) per batch; wm after b3 = 490
      val klSchedule: Seq[Seq[(Long, Long, Long)]] = Seq(
        Seq((100L, 100L, 1L), (200L, 100L, 2L)),  // both emit
        Seq((101L, 90L, 1L), (99L, 100L, 1L)),    // older ts / ts-tie smaller id: no emit
        Seq((102L, 100L, 1L)),                    // ts-tie LARGER id: displaces, emits
        Seq((103L, 150L, 1L), (300L, 500L, 3L)),  // both emit; wm -> 490
        Seq((400L, 50L, 4L),                      // behind wm, never-seen key: still registers + emits
            (104L, 160L, 1L)))                    // behind wm but newer than u1's 150: still wins + emits
      feed(StatefulOps.keepLatestPerUserTws(
          ms.toDS().withWatermark("ts", "10 seconds").as[Event])
        .startAs("memory", "update", "sl_keeplatest"),
        ms, klSchedule.map(_.map((kev _).tupled)))
      val expected = Set(100L, 200L, 102L, 103L, 300L, 400L, 104L)
      val got = spark.table("sl_keeplatest").select("event_id")
        .as[Long].collect()
      val dupEmits = got.groupBy(identity).count(_._2.length > 1)
      val missed = expected.diff(got.toSet)
      val unexpected = got.toSet.diff(expected)
      verdicts += Verdict("keep_latest_tws_late",
        dupEmits == 0 && missed.isEmpty && unexpected.isEmpty,
        s""""expected_emits":${expected.size},"emitted":${got.length},""" +
          s""""dup_emits":$dupEmits,"missed":${missed.size},""" +
          s""""unexpected":${unexpected.size}""")
    }

    judged(s""""metric":"stream_late_data","delay_sec":$delaySec,""" +
      s""""window_sec":$windowSec""", verdicts.toSeq)
  }

  /** RocksDB eviction-reclaim proof (VERDICT r12 item 2).
    *
    * STREAMSOAK already proves the bounded near-dup op's numRowsTotal
    * stays flat, but its `memoryUsedBytes` series climbs monotonically
    * (59 KB → 33 MB over 30 batches): RocksDB's reported memory mixes
    * live state with memtables and block cache, so it cannot show
    * storage being reclaimed. Storage is the SST files, which keep
    * version history and tombstones until compaction reclaims them — and
    * compaction left to its own schedule never runs far enough on a
    * minutes-long run to show the fall. This gate makes the
    * reclaim VISIBLE by removing the asynchronicity: the harness's
    * `rocksdb.compactOnCommit=true` forces a full compaction at every
    * version commit, so the SST-level metric (`rocksdbSstFileSize`)
    * tracks live data, not tombstone debt.
    *
    * Two phases over [[StatefulOps.streamingNearDupBounded]] (the op the
    * open question was about), on the RocksDB provider:
    *
    *  - FILL: 15 batches of 400 fresh unique docs, event time advancing
    *    30 s/batch against a 5-minute horizon — state grows to tens of
    *    thousands of band-bucket representatives.
    *  - DRAIN: 12 batches of ONE doc each, event time jumping 10
    *    minutes/batch — the watermark sweeps past every representative's
    *    horizon, the eviction timers fire, and the state store empties.
    *
    * Verdict (written to EVICTCHECK.json): after the drain,
    * `numRowsTotal` must fall to ≤5% of its fill-phase peak AND
    * `rocksdbSstFileSize` must fall to ≤30% of its fill-phase peak — the
    * committed series demonstrating that evicted rows RECLAIM storage,
    * closing the loop STREAMSOAK's provenance-only `mem` column leaves
    * open. `memoryUsedBytes` is recorded too; it does NOT fall with the
    * SSTs (about 29 MB after the drain, with 4 rows live): it counts
    * memtable and block-cache memory, not live rows.
    */
  val EVICTCHECK: Gate = Gate("EVICTCHECK") { spark =>
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fillBatches = 15
    val drainBatches = 12
    val perBatch = 400

    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def doc(i: Long, tsMs: Long): (Long, Timestamp, String) =
      (i, new Timestamp(tsMs), docText(i))
    // FILL: fresh docs, clock creeping 30 s/batch — nothing evicts yet
    val fill = (1 to fillBatches).map { b =>
      val t = base + b * 30000L
      (0 until perBatch).map(i => doc(b.toLong * 10000 + i, t))
    }
    // DRAIN: one doc per batch, clock leaping 10 min/batch — the
    // watermark hurdles every representative's horizon and timers fire
    val drain = (1 to drainBatches).map { b =>
      Seq(doc(9000000L + b, base + fillBatches * 30000L + b * 600000L))
    }
    val ms = MemoryStream[(Long, Timestamp, String)]
    val s = feed(StatefulOps.streamingNearDupBounded(ms.toDS(),
        watermarkDelay = "0 seconds", horizonMs = 5 * 60 * 1000L)
      .toDF().startAs("noop", "append", "evict"),
      ms, fill ++ drain)

    val peakRows = s.rows.take(fillBatches).max
    val peakSst = s.sst.take(fillBatches).max
    val endRows = s.rows.last
    val endSst = s.sst.last
    val rowsOk = peakRows > 0 && endRows <= math.max(peakRows / 20, 64L)
    val sstOk = peakSst > 0 && endSst <= (peakSst * 3) / 10
    val pass = rowsOk && sstOk

    Outcome(s""""metric":"rocksdb_evict_reclaim","fill_batches":$fillBatches,""" +
      s""""drain_batches":$drainBatches,"rows_per_fill_batch":$perBatch,""" +
      s""""compact_on_commit":true,"pass":$pass,""" +
      s""""peak_rows":$peakRows,"end_rows":$endRows,"rows_ok":$rowsOk,""" +
      s""""peak_sst_bytes":$peakSst,"end_sst_bytes":$endSst,"sst_ok":$sstOk,""" +
      s""""rows":${arr(s.rows.toSeq)},"sst_bytes":${arr(s.sst.toSeq)},""" +
      s""""memory_used_bytes":${arr(s.mem.toSeq)}""", pass)
  }

  /** Bounded-state soak (VERDICT r10 item 2): the fixed-state streaming
    * operators are bounded BY CONSTRUCTION — this gate proves it with
    * numbers. Each op is driven through 30 micro-batches of 4000
    * entirely NEW keys (the worst case for state growth: nothing ever
    * repeats), and after every batch the state-store metrics from
    * StreamingQueryProgress (`stateOperators.numRowsTotal` /
    * `memoryUsedBytes`) are recorded. The four bounded ops must hold
    * numRowsTotal FLAT after warm-up, while the exact-dedup baseline
    * (`dropDuplicates` without a watermark — the operator the bounded
    * ones exist to replace) grows linearly with every distinct key it has
    * ever seen.
    *
    * The verdict rides on numRowsTotal. `memoryUsedBytes` is recorded for
    * provenance, not judged: even with the harness's compaction at every
    * commit it counts RocksDB's memtables and block cache besides live
    * state, so it climbs for EVERY op (the 32-row Bloom op reports more
    * bytes than the 120k-row exact baseline). That eviction DOES reclaim
    * storage is judged on the SST-level metric by EVICTCHECK.
    *
    * All ops run on the RocksDB provider — the disk-backed 100 TB state
    * path, and what transformWithState requires anyway.
    */
  val STREAMSOAK: Gate = Gate("STREAMSOAK") { spark =>
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batches = 30
    val rowsPerBatch = 4000

    // Every op gets globally-unique keys: batch b contributes keys
    // b*rowsPerBatch..b*rowsPerBatch+n-1, so no fingerprint/token/id ever
    // repeats across the run — the adversarial input for state growth.
    def freshIds(b: Int, n: Int): Seq[Long] =
      (0 until n).map(i => b.toLong * rowsPerBatch + i)
    def fresh[T](mk: Long => T): Seq[Seq[T]] =
      (1 to batches).map(b => freshIds(b, rowsPerBatch).map(mk))

    val results = scala.collection.mutable.LinkedHashMap.empty[String, StateSeries]

    // -- baseline: exact streaming dedup, NO watermark → unbounded state
    locally {
      val ms = MemoryStream[(String, String)]
      results("exact_dedup_baseline") = feed(ms.toDS().toDF("id", "fp")
        .dropDuplicates("fp")
        .startAs("noop", "append", "exact"),
        ms, fresh(i => (s"id$i", s"fp$i")))
    }

    // -- bounded 1: sharded Bloom dedup — state = shards fixed bitmaps
    locally {
      val ms = MemoryStream[(String, String)]
      results("bloom_dedup") = feed(
        StatefulOps.streamingBloomDedup(ms.toDS(), shards = 32)
          .startAs("noop", "update", "bloom"),
        ms, fresh(i => (s"id$i", s"fp$i")))
    }

    // -- bounded 2: Count-Min token sketch — state = one grid row
    locally {
      val ms = MemoryStream[String]
      results("cms_sketch") = feed(
        StatefulOps.streamingTokenSketch(ms.toDS().toDF("token"))
          .startAs("noop", "complete", "cms"),
        ms, fresh(i => s"tok$i"))
    }

    // -- bounded 3: stratified reservoir — state = strata × cap hash-ranks
    locally {
      val ms = MemoryStream[(String, Long)]
      results("stratified_reservoir") = feed(
        StatefulOps.streamingStratifiedSample(ms.toDS(), cap = 64, seed = 42)
          .startAs("noop", "update", "strat"),
        ms, fresh(i => (s"s${i % 8}", i)))
    }

    // -- bounded 4: horizon-evicted near-dup — state = reps within horizon
    // Event time advances one minute per batch against a five-minute
    // horizon, so representatives older than ~5 batches expire by timer:
    // steady state holds a bounded window of the stream, however long it
    // runs. Fewer rows per batch — each row explodes into band signatures.
    locally {
      val ndRows = math.max(rowsPerBatch / 10, 50)
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val ms = MemoryStream[(Long, Timestamp, String)]
      results("neardup_bounded") = feed(
        StatefulOps.streamingNearDupBounded(ms.toDS(),
            watermarkDelay = "0 seconds", horizonMs = 5 * 60 * 1000L)
          .toDF().startAs("noop", "append", "neardup"),
        ms, (1 to batches).map(b => freshIds(b, ndRows).map(i =>
          (i, new Timestamp(base + b * 60000L), docText(i)))))
    }

    // -- verdict: steady-state growth ratio per op ------------------------
    // Bounded ops: warm-up = first third of the series (near-dup fills
    // its horizon before eviction starts); flat means the LAST batch's
    // numRowsTotal is within 1.5× of the first post-warm-up batch. The
    // baseline must GROW — end ≥ 2× its first batch (it measures from
    // batch 1: growth is the claim, there is no warm-up to forgive) — or
    // the soak lost its teeth (feed broken, metrics missing).
    // A query that never reported stateOperators leaves its series empty
    // (metrics missing — e.g. a source/sink wiring bug); that is a FAILED
    // verdict with an explicit note, not a NoSuchElementException crash
    // (ADVICE r11).
    val verdicts = results.toSeq.map { case (name, s) =>
      val (r, ok) =
        if (s.rows.isEmpty) (Double.NaN, false)
        else if (name == "exact_dedup_baseline") {
          val r = s.rows.last / math.max(s.rows.head, 1L).toDouble
          (r, r >= 2.0)
        } else {
          val warm = s.rows.length / 3
          val r = s.rows.last / math.max(s.rows(warm), 1L).toDouble
          (r, r <= 1.5)
        }
      val ratio = if (r.isNaN) """null,"note":"no state metrics reported""""
        else f"$r%.3f"
      Verdict(name, ok, s""""rows":${arr(s.rows.toSeq)},"mem":${arr(s.mem.toSeq)},""" +
        s""""steady_ratio":$ratio""")
    }
    judged(s""""metric":"stream_state_soak","batches":$batches,""" +
      s""""rows_per_batch":$rowsPerBatch""", verdicts)
  }

  val All: Seq[Gate] = Seq(STREAMREPLAY, STREAMLATE, EVICTCHECK, STREAMSOAK)
}
