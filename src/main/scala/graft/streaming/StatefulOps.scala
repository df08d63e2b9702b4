package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

/** A typed event row for stateful streaming ops (mirrors the events
  * table; `ts` is a java.sql.Timestamp — Spark's product encoder stores
  * it as micros internally). */
final case class Event(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Double)

/** Stateful stream processing (SURVEY §2.7 T4/T5).
  *
  * Scale notes: all state is keyed (`groupByKey`) so it shards across
  * executors; production deployments enable the RocksDB state store
  * provider (`spark.sql.streaming.stateStore.providerClass`) so state is
  * disk-backed — nothing here assumes state fits in executor heap.
  */
object StatefulOps {

  implicit private val eventEnc: Encoder[Event] = Encoders.product[Event]
  implicit private val longEnc: Encoder[Long] = Encoders.scalaLong

  /** A2 DISCARD policy on a stream: exactly-once keyed dedup within the
    * watermark (state expires with it). */
  def dedupWithinWatermark(events: DataFrame, watermark: String,
      keys: Seq[String]): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)

  /** Watermarked stream-stream interval join (T3 × J3 — the attribution
    * shape): each left event pairs with right events sharing `key` whose
    * event time (`tsCol`, default `ts`, same name both sides) lies in
    * [left.ts - before, left.ts + after]. Right columns come back
    * `r_`-prefixed.
    *
    * Both sides carry the SAME watermark and the join condition bounds
    * event-time distance in both directions, so Spark derives a state
    * eviction horizon for both inputs — buffered rows expire once the
    * watermark passes their last possible match, keeping join state
    * O(traffic × interval), not O(stream). `joinType` may be "leftOuter"
    * (unmatched left rows emit with NULL right columns once the watermark
    * proves no match can arrive); outer emission is watermark-delayed by
    * construction. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      watermark: String, before: String, after: String,
      joinType: String = "inner", tsCol: String = "ts"): DataFrame = {
    // key/tsCol/before/after are spliced into a SQL expression — validate
    // them up front so a typo fails loudly here, not deep in the parser
    val ident = "[A-Za-z_][A-Za-z0-9_]*"
    val dur = "\\d+\\s+(millisecond|second|minute|hour|day)s?"
    require(key.matches(ident), s"key must be a plain identifier, got '$key'")
    require(tsCol.matches(ident), s"tsCol must be a plain identifier, got '$tsCol'")
    Seq(before, after).foreach(b => require(b.trim.matches(dur),
      s"interval bound must look like '10 minutes', got '$b'"))
    Seq(key, tsCol).foreach { c =>
      require(left.columns.contains(c), s"left stream lacks column '$c'")
      require(right.columns.contains(c), s"right stream lacks column '$c'")
    }
    val clash = left.columns.toSet.intersect(right.columns.map("r_" + _).toSet)
    require(clash.isEmpty,
      s"left columns ${clash.mkString(", ")} collide with the r_-prefixed right side")
    val l = left.withWatermark(tsCol, watermark)
    // one aliasing projection — withColumnRenamed in a loop mis-renames
    // when a right column already starts with r_
    val r = right.select(right.columns.map(c =>
        org.apache.spark.sql.functions.col(c).as(s"r_$c")): _*)
      .withWatermark(s"r_$tsCol", watermark)
    l.join(r, org.apache.spark.sql.functions.expr(
      s"$key = r_$key AND r_$tsCol BETWEEN $tsCol - INTERVAL ${before.trim} " +
        s"AND $tsCol + INTERVAL ${after.trim}"), joinType)
  }

  /** JVM twin of Sampling.seededHash — delegates to the ONE md5→60-bit
    * derivation ([[graft.functions.expressions.Md5Hash60.hash60]],
    * thread-local digest, no hex-string detour) so the streaming
    * reservoir's draw can never drift from the batch Column form. */
  private[streaming] def seededHashJvm(id: Long, seed: Int): Long =
    graft.functions.expressions.Md5Hash60.hash60(
      org.apache.spark.unsafe.types.UTF8String.fromString(id.toString),
      s":$seed".getBytes("UTF-8"))

  /** Streaming analogue of Sampling.stratifiedCap: per-stratum bounded
    * reservoir of the `cap` smallest seeded id-hashes, maintained as
    * keyed state. Emits the stratum's full current sample (ids in rank
    * order) whenever it changes — Update-mode semantics; downstream
    * replaces per stratum. Because membership is hash-ranked rather than
    * arrival-ranked, the converged streaming sample is IDENTICAL to the
    * batch [[graft.operators.Sampling.stratifiedCap]] over the same rows:
    * batching, arrival order and retries cannot change the draw. State
    * is O(cap) (hash, id) pairs per stratum — bounded regardless of
    * stream length. */
  def streamingStratifiedSample(rows: Dataset[(String, Long)], cap: Int,
      seed: Int): Dataset[(String, Seq[Long])] = {
    require(cap >= 1)
    val sp = rows.sparkSession
    import sp.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Long)], (String, Seq[Long])](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (stratum: String, it: Iterator[(String, Long)],
            state: GroupState[Seq[(Long, Long)]]) =>
          val prev = state.getOption.getOrElse(Seq.empty)
          val merged = (prev.iterator ++ it.map { case (_, id) =>
              (seededHashJvm(id, seed), id)
            }).toSeq.distinct.sorted.take(cap)
          if (merged == prev) Iterator.empty
          else { state.update(merged); Iterator.single((stratum, merged.map(_._2))) }
      }
  }

  private val shardSuffix: Array[Byte] = ":shard".getBytes("UTF-8")

  /** Approximate streaming dedup with BOUNDED state — the streaming twin
    * of the batch Bloom pre-filter ([[graft.operators.Dedup.bloomFlags]]).
    * Exact streaming dedup (`dropDuplicates` without a watermark) grows
    * state with every distinct key forever; here each of `shards` keyed
    * states holds a fixed `mBits`-bit bitmap, so TOTAL state is
    * shards·mBits/8 bytes however long the stream runs. Same md5-derived
    * hash family as the batch filter.
    *
    * Emits (id, fingerprint) rows the filter has definitely not seen.
    * The trade (documented, inherent): no false re-emission — a seen
    * fingerprint is never emitted again — but a small false-DROP rate for
    * genuinely new rows that grows as inserts approach capacity
    * (≈ (1 − e^(−k·n/m))^k per probe); size mBits for the expected
    * distinct volume or downstream-reconcile periodically. Sharding by
    * fingerprint hash spreads both state and per-batch work across
    * executors. */
  def streamingBloomDedup(rows: Dataset[(String, String)], shards: Int = 32,
      mBits: Int = 1 << 17, numHashes: Int = 3, seedBase: Int = 101):
      Dataset[(String, String)] = {
    require(shards > 0, s"shards must be positive, got $shards")
    val sp = rows.sparkSession
    import sp.implicits._
    val agg = new graft.functions.BloomFilterAggregator(mBits, numHashes, seedBase)
    // NULL fingerprints bypass the filter entirely — emitted, never
    // recorded — matching the batch policy (the aggregator sets nothing
    // for NULL; bloomFlags probes it to (0, false))
    val shardOf = (fp: String) =>
      if (fp == null) 0
      else (graft.functions.expressions.Md5Hash60.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(fp),
        shardSuffix) % shards).toInt
    rows.groupByKey { case (_, fp) => shardOf(fp) }
      .flatMapGroupsWithState[Array[Long], (String, String)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Int, it: Iterator[(String, String)], state: GroupState[Array[Long]]) =>
          val bm = state.getOption.getOrElse(agg.zero)
          val out = it.filter { case (_, fp) =>
            if (fp == null) true
            else {
              // positions computed ONCE, shared by probe and insert — the
              // same derivation the batch build uses (agg.positions)
              val pos = agg.positions(
                org.apache.spark.unsafe.types.UTF8String.fromString(fp))
              val seen = agg.allSet(bm, pos)
              if (!seen) agg.setAll(bm, pos)
              !seen
            }
          }.toVector
          state.update(bm)
          out.iterator
      }
  }

  /** A3 REPLACE-WITH-LATEST as a transformWithState processor — the
    * current (Spark 4) stateful API; state lives in the RocksDB store,
    * which transformWithState requires, giving the disk-backed 100 TB
    * state path by construction. */
  class KeepLatestProcessor extends StatefulProcessor[Long, Event, Event] {
    @transient private var latest: ValueState[Event] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[Event]("latest",
        Encoders.product[Event], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[Event] = {
      val cur = if (latest.exists()) Some(latest.get()) else None
      val newest = (cur.iterator ++ rows).maxBy(e => (e.ts.getTime, e.event_id))
      if (cur.contains(newest)) Iterator.empty
      else { latest.update(newest); Iterator.single(newest) }
    }
  }

  /** A3 REPLACE-WITH-LATEST as continuous keyed state: emits the current
    * latest row per user whenever it changes. Tie-break on (ts, event_id)
    * makes arrival order irrelevant — determinism rule from SURVEY §7.4.
    * Needs the RocksDB state store provider. */
  def keepLatestPerUserTws(events: Dataset[Event]): Dataset[Event] =
    events.groupByKey(_.user_id)
      .transformWithState(new KeepLatestProcessor,
        TimeMode.None(), OutputMode.Update())

  /** Unbiased signature-agreement Jaccard estimator (matching slots / k). */
  private[streaming] def sigEstimate(a: Seq[Long], b: Seq[Long]): Double =
    a.zip(b).count { case (x, y) => x == y }.toDouble / a.length

  /** A banded doc heading into the bounded near-dup processor. */
  final case class BandedDoc(
      bkey: String, doc_id: Long, ts: java.sql.Timestamp, mh: Seq[Long])

  /** One near-duplicate hit; `ts` is the arriving doc's event time (the
    * output watermark column for downstream stateful dedup). */
  final case class DupHit(
      doc_id: Long, dup_of: Long, est: Double, ts: java.sql.Timestamp)

  /** Band-bucket representative state with event-time eviction: the
    * representative is dropped once the bucket has seen no traffic for
    * `horizonMs` of event time (watermark-driven timer). One live timer
    * per bucket — re-registration deletes the previous one. */
  class NearDupProcessor(threshold: Double, horizonMs: Long)
      extends StatefulProcessor[String, BandedDoc, DupHit] {
    @transient private var rep: ValueState[(Long, Long, Seq[Long])] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      rep = getHandle.getValueState[(Long, Long, Seq[Long])]("rep",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()),
        TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[BandedDoc],
        timers: TimerValues): Iterator[DupHit] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[DupHit]
      var cur = if (rep.exists()) Some(rep.get()) else None
      val lastSeen0 = cur.map(_._2).getOrElse(Long.MinValue)
      var lastSeen = lastSeen0
      rows.foreach { r =>
        val tsMs = r.ts.getTime
        cur match {
          case Some((repId, _, repMh)) =>
            if (repId != r.doc_id) {
              val est = sigEstimate(r.mh, repMh)
              if (est >= threshold) out += DupHit(r.doc_id, repId, est, r.ts)
            }
            if (tsMs > lastSeen) lastSeen = tsMs
          case None =>
            cur = Some((r.doc_id, tsMs, r.mh))
            lastSeen = tsMs
        }
      }
      cur.foreach { case (id, _, mh) =>
        if (lastSeen != lastSeen0) {
          rep.update((id, lastSeen, mh))
          if (lastSeen0 != Long.MinValue)
            getHandle.deleteTimer(lastSeen0 + horizonMs)
          getHandle.registerTimer(lastSeen + horizonMs)
        }
      }
      out.iterator
    }

    override def handleExpiredTimer(key: String, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[DupHit] = {
      // stale timers (superseded by later traffic) are deleted on
      // re-registration, so any firing timer is authoritative
      if (rep.exists() && rep.get()._2 + horizonMs <= expired.getExpiryTimeInMs)
        rep.clear()
      Iterator.empty
    }
  }

  /** Streaming near-duplicate detection — the online form of the batch
    * MinHash+LSH pipeline (q31): each arriving document is signed and
    * banded by the batch operator's own projection
    * ([[graft.operators.Dedup.bandedSignatures]]), per-band-bucket
    * state remembers the FIRST doc seen in that bucket (with its full
    * signature), and later arrivals verify with the signature-agreement
    * estimator (matching slots / k). Emits a [[DupHit]] for each doc
    * whose estimate against a bucket's representative meets the
    * threshold. Verification is the unbiased signature estimator, not
    * exact shingle-Jaccard: exact verification online would mean storing
    * every shingle set in state (E[est] = true Jaccard).
    *
    * State is bounded and emission deduplicated (VERDICT r2 item 6):
    *  1. **Eviction**: band-bucket representatives are dropped after
    *     `horizonMs` of event-time inactivity via watermark-driven timers
    *     (`TimeMode.EventTime`), so state is bounded by the active window,
    *     not corpus lifetime.
    *  2. **Emit-once**: a pair agreeing in several bands emits once
    *     per band from the processor; its output carries the doc's
    *     event time as the watermark column (`eventTimeColumnName = "ts"`)
    *     so a downstream `dropDuplicatesWithinWatermark(doc_id, dup_of)`
    *     — itself bounded state — keeps exactly one hit per pair.
    *
    * Semantics note: eviction means "near-dup" is scoped to documents
    * within `horizonMs` of each other — the streaming contract a bounded
    * operator can honestly offer (the batch q31 pipeline remains the
    * whole-corpus form).
    */
  def streamingNearDupBounded(
      docs: Dataset[(Long, java.sql.Timestamp, String)],
      watermarkDelay: String = "10 seconds",
      horizonMs: Long = 30 * 60 * 1000L,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5): Dataset[DupHit] = {
    implicit val hitEnc: Encoder[DupHit] = Encoders.product[DupHit]
    implicit val strEnc: Encoder[String] = Encoders.STRING
    bandedDocs(docs, watermarkDelay, numHashes, bands, shingleSize)
      .groupByKey(_.bkey)
      .transformWithState(new NearDupProcessor(threshold, horizonMs),
        eventTimeColumnName = "ts", outputMode = OutputMode.Append())
      .dropDuplicatesWithinWatermark("doc_id", "dup_of")
  }

  /** The rows [[streamingNearDupBounded]] groups on: the batch q31
    * projection ([[graft.operators.Dedup.bandedSignatures]], which
    * neither measures nor re-spreads) keyed `"<band>_<bkey>"` — the
    * spelling every existing state checkpoint was written under. */
  private[graft] def bandedDocs(
      docs: Dataset[(Long, java.sql.Timestamp, String)],
      watermarkDelay: String, numHashes: Int, bands: Int,
      shingleSize: Int): Dataset[BandedDoc] = {
    import org.apache.spark.sql.functions.{array, col, concat_ws}
    graft.operators.Dedup.bandedSignatures(
        docs.toDF("doc_id", "ts", "__text").withWatermark("ts", watermarkDelay),
        numHashes, bands, shingleSize, shingler = null, carry = Seq("ts"))
      .select(concat_ws("_", col("band").cast("string"), col("bkey")).as("bkey"),
        col("doc_id"), col("ts"),
        array((0 until numHashes).map(i => col(s"mh$i")): _*).as("mh"))
      .as[BandedDoc](Encoders.product[BandedDoc])
  }

  /** Streaming ANN: each micro-batch of query vectors (vec_id,
    * embedding) probes a staged IVF index
    * ([[graft.operators.Similarity.stageIvfIndex]]) and `emit` receives
    * that batch's ranked-neighbor frame (qid, vid, cell, cosine, rank).
    *
    * foreachBatch is the honest engine hook here: per-query ranking is a
    * BATCH-LOCAL window (no watermark semantics to borrow), and the only
    * cross-batch state is the index itself — frozen on disk, shared by
    * every batch and by concurrent [[graft.operators.Similarity
    * .appendToIvfIndex]] ingest (parquet commits whole files, so a probe
    * sees a consistent file set). Per-batch cost is the batch-sized
    * probe with dynamic partition pruning — the streaming twin of q131
    * exactly as streamingNearDupBounded twins q31.
    *
    * `checkpointDir` persists source progress like every sibling entry
    * point — without it a restart forgets which query batches were
    * probed (file sources reprocess everything, offset-based sources
    * resume at latest and drop the gap), so `emit` would see duplicated
    * or missing batches. `None` (dev/ad-hoc only) runs on a
    * Spark-generated temporary checkpoint. */
  def streamingIvfProbe(queries: DataFrame, indexPath: String,
      nprobe: Int, k: Int, checkpointDir: Option[String] = None)
      (emit: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = queries.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        emit(graft.operators.Similarity.ivfProbeStaged(
          batch.sparkSession, indexPath, batch, nprobe, k))
      }
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** Streaming Count-Min sketch over a token column: a complete-mode
    * global aggregate whose ONLY state is the depth×width counter grid
    * (32 KB at the default sizing) no matter how long the stream runs —
    * the bounded-state heavy-hitter monitor for unbounded token streams
    * (the streaming face of the q132/q135 batch sketch; same
    * [[graft.functions.CountMinAggregator]], same md5 bucket family, so
    * a snapshot is probe-compatible with the batch estimators and, being
    * elementwise-add mergeable, micro-batch partials combine exactly —
    * the emitted sketch after any prefix equals the batch sketch of that
    * prefix, spec-verified). Pair with q132's probe columns in a
    * foreachBatch consumer to alert on heavy-hitter drift. */
  def streamingTokenSketch(tokens: DataFrame, tokenCol: String = "token",
      width: Int = 1024, depth: Int = 4, seedBase: Int = 601): DataFrame =
    tokens.agg(
      org.apache.spark.sql.functions.udaf(
          new graft.functions.CountMinAggregator(width, depth, seedBase))
        .apply(org.apache.spark.sql.functions.col(tokenCol)).as("sketch"))

  /** [[streamingTokenSketch]] wired to the T6 alert path: monitor a
    * token stream's cumulative frequencies with the 32 KB CM sketch and
    * notify (via [[Sinks.Notifier]] — SMTP in production, matching the
    * reference's email-alert intent) when a watched token's estimate
    * first reaches `threshold`.
    *
    * The engine owns the only unbounded-input state: the complete-mode
    * sketch aggregate (checkpointed, exactly-once across restarts).
    * Per micro-batch the sink sees ONE sketch-sized row — the sole
    * driver-side materialization, 32 KB regardless of stream length —
    * and probes the watchlist against it with the same
    * [[graft.functions.CountMinAggregator]] bucket family as q132, so
    * batch and streaming estimates agree exactly. CMS only over-counts,
    * so an alert may fire early by the collision margin (≤ 2N/width),
    * but a genuinely hot token is never missed — the safe direction for
    * monitoring. Estimates are monotone (counts only add), so each
    * token alerts ONCE via a fired set (bounded by the watchlist) that
    * is PERSISTED as a ledger under the query's checkpoint dir — one
    * empty marker file per alerted token, loaded on (re)start — so a
    * restarted query does not re-alert still-hot tokens. Ordering is
    * send-then-record: a crash in that window re-sends one alert —
    * at-least-once notification, the delivery class every external
    * alert sink has (the data-side state is still exactly-once), but
    * now bounded to crash-mid-send instead of every restart.
    *
    * The watchlist is the CMS candidate set (a sketch cannot enumerate
    * its members): contamination markers, PII sentinels, known-spam
    * tokens. For OPEN-ended discovery, pair the sketch with per-batch
    * candidates instead (probe each batch's tokens map-side against the
    * broadcast sketch, as q135 does). */
  def streamingHeavyHitterAlerts(tokens: DataFrame, watchlist: Seq[String],
      threshold: Long, notifier: Sinks.Notifier, checkpointDir: String,
      tokenCol: String = "token", width: Int = 1024, depth: Int = 4,
      seedBase: Int = 601): org.apache.spark.sql.streaming.StreamingQuery = {
    require(watchlist.nonEmpty, "streamingHeavyHitterAlerts needs a watchlist")
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    val agg = new graft.functions.CountMinAggregator(width, depth, seedBase)
    // durable fired ledger: <checkpointDir>/fired/<urlencoded-token>.
    // Lives on the same filesystem as the checkpoint (hadoop FS API, so
    // HDFS/object stores work like local disk) and shares its lifecycle:
    // wiping the checkpoint resets both the sketch and the alert dedup.
    val ledgerDir = new org.apache.hadoop.fs.Path(checkpointDir, "fired")
    val fs = ledgerDir.getFileSystem(
      tokens.sparkSession.sparkContext.hadoopConfiguration)
    val fired = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    if (fs.exists(ledgerDir))
      fs.listStatus(ledgerDir).foreach(st => fired.add(
        java.net.URLDecoder.decode(st.getPath.getName, "UTF-8")))
    else fs.mkdirs(ledgerDir)
    def record(token: String): Unit =
      try fs.create(new org.apache.hadoop.fs.Path(ledgerDir,
        java.net.URLEncoder.encode(token, "UTF-8")), false).close()
      catch { case _: java.io.IOException => () } // concurrent restart won
    streamingTokenSketch(tokens, tokenCol, width, depth, seedBase)
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        // one row × depth·width longs — bounded regardless of stream size
        val rows = batch.collect()
        if (rows.nonEmpty) {
          val sk = rows(0).getSeq[Long](0)
          watchlist.foreach { t =>
            if (!fired.contains(t)) {
              val est = agg.estimate(sk, t)
              if (est >= threshold) {
                fired.add(t)
                notifier.send("graft-heavy-hitter",
                  s"token=$t estimate=$est threshold=$threshold epoch=$epoch")
                record(t) // send-then-record: see scaladoc delivery note
              }
            }
          }
        }
      }
      .start()
  }
}
