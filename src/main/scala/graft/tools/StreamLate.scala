package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{Event, EventWindows, StatefulOps}

/** Streaming LATE-DATA gate — the third streaming axis, after replay
  * parity (`StreamReplay`) and bounded state (`StreamSoak`/`EvictProof`).
  *
  * Replay delivers duplicates in order; production event time does the
  * opposite too: rows arrive LATE — behind the watermark — from lagging
  * producers, mobile clients flushing hours-old buffers, or a re-landed
  * spool of yesterday's traffic. Structured Streaming's contract is that
  * the watermark bounds both state AND admission: a row behind the
  * eviction horizon is dropped, deterministically, everywhere. This main
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
  *
  * Usage: runMain graft.tools.StreamLate
  * Writes STREAMLATE.json (atomic rename), prints one JSON line, exits 1
  * unless every op passes.
  */
object StreamLate {

  final case class OpVerdict(name: String, pass: Boolean, details: String)

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(8)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    run(spark)
  }

  def run(spark: SparkSession): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def ckpt(name: String): String =
      java.nio.file.Files.createTempDirectory(s"graft-slate-$name").toString

    val verdicts = scala.collection.mutable.ArrayBuffer.empty[OpVerdict]
    def json(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

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

    // ---- 1. tumbling agg, UPDATE mode: window-liveness admission -------
    locally {
      val ms = MemoryStream[Event]
      val latestW = new java.util.concurrent.ConcurrentHashMap[
        (Timestamp, String), (Long, Double)]()
      val q = EventWindows.tumbling(ms.toDF(), s"$windowSec seconds",
          Some(s"$delaySec seconds"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt("tumupd"))
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach { r =>
            latestW.put((r.getTimestamp(0), r.getString(1)),
              (r.getLong(2), r.getDouble(3)))
          }
        }.start()
      schedule.foreach { rows =>
        if (rows.nonEmpty) ms.addData(rows.map(mkEvent))
        q.processAllAvailable()
      }
      q.stop()
      // admitted iff the row's window was still live during its batch
      val admitted = schedule.zipWithIndex.flatMap { case (rows, i) =>
        rows.filter { off =>
          val winEnd = (off / windowSec + 1) * windowSec
          winEnd > wms(i)
        }
      }
      val nDropped = schedule.flatten.size - admitted.size
      val oracle = EventWindows.tumbling(
          admitted.map(mkEvent).toDS().toDF(), s"$windowSec seconds")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
        .filter(_._1._1.getTime < T0 + assertBelowSec * 1000)
      val got = scala.jdk.CollectionConverters.MapHasAsScala(latestW).asScala
        .filter(_._1._1.getTime < T0 + assertBelowSec * 1000)
      val keys = oracle.keySet ++ got.keySet
      val bad = keys.filter(k => oracle.get(k) != got.get(k))
      verdicts += OpVerdict("tumbling_update_late", bad.isEmpty,
        s""""delivered":${schedule.flatten.size},"too_late_dropped":$nDropped,""" +
          s""""windows":${keys.size},"mismatched_windows":${bad.size}""")
    }

    // ---- 2. tumbling agg, APPEND mode: finalized exactly once ----------
    locally {
      val ms = MemoryStream[Event]
      val q = EventWindows.tumbling(ms.toDF(), s"$windowSec seconds",
          Some(s"$delaySec seconds"))
        .writeStream.format("memory").queryName("sl_tumapp")
        .outputMode("append")
        .option("checkpointLocation", ckpt("tumapp")).start()
      schedule.foreach { rows =>
        if (rows.nonEmpty) ms.addData(rows.map(mkEvent))
        q.processAllAvailable()
      }
      q.stop()
      val admitted = schedule.zipWithIndex.flatMap { case (rows, i) =>
        rows.filter { off =>
          val winEnd = (off / windowSec + 1) * windowSec
          winEnd > wms(i)
        }
      }
      val finalWm = wms.last
      val oracle = EventWindows.tumbling(
          admitted.map(mkEvent).toDS().toDF(), s"$windowSec seconds")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
        .filter { case ((ws, _), _) => // finalized: window end <= final wm
          ws.getTime / 1000 - T0 / 1000 + windowSec <= finalWm &&
            ws.getTime < T0 + assertBelowSec * 1000
        }
      val gotRows = spark.table("sl_tumapp")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3)))
        .filter(_._1._1.getTime < T0 + assertBelowSec * 1000)
      val dupEmits = gotRows.groupBy(_._1).count(_._2.length > 1)
      val got = gotRows.toMap
      val keys = oracle.keySet ++ got.keySet
      val bad = keys.filter(k => oracle.get(k) != got.get(k))
      verdicts += OpVerdict("tumbling_append_late",
        bad.isEmpty && dupEmits == 0,
        s""""finalized_windows":${oracle.size},"emitted":${gotRows.length},""" +
          s""""dup_emits":$dupEmits,"mismatched_windows":${bad.size}""")
    }

    // ---- 3. dedupWithinWatermark: row admission + state expiry ---------
    locally {
      // Distinct schedule: key K1 seen in batch 1, redelivered (same key,
      // fresh admitted ts) in batch 4 AFTER its state expired -> re-emit;
      // key K2 seen in batch 2, redelivered in batch 3 within the horizon
      // -> suppressed; key K3 first seen TOO LATE in batch 3 -> dropped.
      val ms = MemoryStream[Event]
      val q = StatefulOps.dedupWithinWatermark(ms.toDF(),
          s"$delaySec seconds", Seq("event_id"))
        .writeStream.format("memory").queryName("sl_dedup")
        .outputMode("append")
        .option("checkpointLocation", ckpt("latededup")).start()
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
      dedupSchedule.foreach { rows =>
        if (rows.nonEmpty) ms.addData(rows.map { case (id, off) => dev(id, off) })
        q.processAllAvailable()
      }
      q.stop()
      // driver-side model: state expiry = FIRST-seen ts + delay (never
      // extended by a suppressed duplicate), evicted on expiry <= wm
      val state = scala.collection.mutable.Map.empty[Long, Long] // key -> first admitted ts
      val expectedEmits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
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
      verdicts += OpVerdict("dedup_watermark_late",
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
        .writeStream.format("memory").queryName("sl_ijoin")
        .outputMode("append").option("checkpointLocation", ckpt("lateij")).start()
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
      verdicts += OpVerdict("interval_join_late",
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
      val latestW = new java.util.concurrent.ConcurrentHashMap[
        (Timestamp, String), (Long, Double)]()
      val q = EventWindows.sliding(ms.toDF(), s"$windowSec seconds",
          s"$slideSec seconds", Some(s"$delaySec seconds"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt("sliupd"))
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach { r =>
            latestW.put((r.getTimestamp(0), r.getString(1)),
              (r.getLong(2), r.getDouble(3)))
          }
        }.start()
      scheduleS.foreach { rows =>
        if (rows.nonEmpty) ms.addData(rows.map(mkEvent))
        q.processAllAvailable()
      }
      q.stop()
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
          val admittedStarts = starts.filter(_ + windowSec > wms(i))
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
      val got = scala.jdk.CollectionConverters.MapHasAsScala(latestW).asScala
        .filter(_._1._1.getTime < T0 + assertBelowSec * 1000)
      val keys = oracleF.keySet ++ got.keySet
      val bad = keys.filter(k => oracleF.get(k) != got.get(k))
      verdicts += OpVerdict("sliding_update_late", bad.isEmpty && partials > 0,
        s""""windows":${keys.size},"partially_admitted_rows":$partials,""" +
          s""""mismatched_windows":${bad.size}""")
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
      val q = EventWindows.sessions(ms.toDF(), s"$gapSec seconds",
          Some(s"$delaySec seconds"))
        .writeStream.format("memory").queryName("sl_sess")
        .outputMode("append")
        .option("checkpointLocation", ckpt("sess")).start()
      schedule.foreach { rows =>
        if (rows.nonEmpty) ms.addData(rows.map(mkEvent))
        q.processAllAvailable()
      }
      q.stop()
      // admitted iff the row's provisional session window is still live
      val admitted = schedule.zipWithIndex.flatMap { case (rows, i) =>
        rows.filter(off => off + gapSec > wms(i))
      }
      val oracle = EventWindows.sessions(
          admitted.map(mkEvent).toDS().toDF(), s"$gapSec seconds")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)) ->
          (r.getLong(3), r.getDouble(4))).toMap
        .filter(_._1._2.getTime < T0 + assertBelowSec * 1000)
      val gotRows = spark.table("sl_sess")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)) ->
          (r.getLong(3), r.getDouble(4)))
        .filter(_._1._2.getTime < T0 + assertBelowSec * 1000)
      val dupEmits = gotRows.groupBy(_._1).count(_._2.length > 1)
      val got = gotRows.toMap
      val keys = oracle.keySet ++ got.keySet
      val bad = keys.filter(k => oracle.get(k) != got.get(k))
      verdicts += OpVerdict("session_append_late",
        bad.isEmpty && dupEmits == 0,
        s""""sessions":${keys.size},"emitted":${gotRows.length},""" +
          s""""dup_emits":$dupEmits,"mismatched_sessions":${bad.size}""")
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
      val q = StatefulOps.streamingNearDupBounded(ms.toDS(),
          watermarkDelay = s"$ndDelaySec seconds",
          horizonMs = horizonSec * 1000, threshold = 0.5)
        .writeStream.format("memory").queryName("sl_neardup")
        .outputMode("append")
        .option("checkpointLocation", ckpt("neardup")).start()
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
      ndSchedule.foreach { rows =>
        if (rows.nonEmpty) ms.addData(rows.map { case (id, off, t) =>
          (id, ts(off), t) })
        q.processAllAvailable()
      }
      q.stop()
      val expected = Set((2L, 1L), (21L, 20L), (3L, 1L), (22L, 20L))
      val gotRows = spark.table("sl_neardup")
        .select("doc_id", "dup_of", "est").as[(Long, Long, Double)].collect()
      val gotPairs = gotRows.map(r => (r._1, r._2))
      val dupEmits = gotPairs.groupBy(identity).count(_._2.length > 1)
      val badEst = gotRows.count(_._3 != 1.0) // identical texts -> est exactly 1.0
      val missed = expected.diff(gotPairs.toSet)
      val unexpected = gotPairs.toSet.diff(expected)
      verdicts += OpVerdict("near_dup_bounded_late",
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
      val q = StatefulOps.keepLatestPerUserTws(
          ms.toDS().withWatermark("ts", "10 seconds").as[Event])
        .writeStream.format("memory").queryName("sl_keeplatest")
        .outputMode("update")
        .option("checkpointLocation", ckpt("keeplatest")).start()
      // (id, tsOff, user) per batch; wm after b3 = 490
      val klSchedule: Seq[Seq[(Long, Long, Long)]] = Seq(
        Seq((100L, 100L, 1L), (200L, 100L, 2L)),  // both emit
        Seq((101L, 90L, 1L), (99L, 100L, 1L)),    // older ts / ts-tie smaller id: no emit
        Seq((102L, 100L, 1L)),                    // ts-tie LARGER id: displaces, emits
        Seq((103L, 150L, 1L), (300L, 500L, 3L)),  // both emit; wm -> 490
        Seq((400L, 50L, 4L),                      // behind wm, never-seen key: still registers + emits
            (104L, 160L, 1L)))                    // behind wm but newer than u1's 150: still wins + emits
      klSchedule.foreach { rows =>
        if (rows.nonEmpty) ms.addData(rows.map((kev _).tupled))
        q.processAllAvailable()
      }
      q.stop()
      val expected = Set(100L, 200L, 102L, 103L, 300L, 400L, 104L)
      val got = spark.table("sl_keeplatest").select("event_id")
        .as[Long].collect()
      val dupEmits = got.groupBy(identity).count(_._2.length > 1)
      val missed = expected.diff(got.toSet)
      val unexpected = got.toSet.diff(expected)
      verdicts += OpVerdict("keep_latest_tws_late",
        dupEmits == 0 && missed.isEmpty && unexpected.isEmpty,
        s""""expected_emits":${expected.size},"emitted":${got.length},""" +
          s""""dup_emits":$dupEmits,"missed":${missed.size},""" +
          s""""unexpected":${unexpected.size}""")
    }

    // ---- artifact --------------------------------------------------------
    val allOk = verdicts.forall(_.pass)
    val opsJson = verdicts.map { v =>
      s"""${json(v.name)}:{"pass":${v.pass},${v.details}}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"stream_late_data","delay_sec":$delaySec,""" +
      s""""window_sec":$windowSec,"all_ok":$allOk,"ops":$opsJson}"""
    println(line)
    try {
      val tmp = java.nio.file.Paths.get("STREAMLATE.json.tmp")
      java.nio.file.Files.write(tmp, (line + "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get("STREAMLATE.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: java.io.IOException =>
      System.err.println(s"[streamlate] STREAMLATE.json not written: $e")
    }
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
