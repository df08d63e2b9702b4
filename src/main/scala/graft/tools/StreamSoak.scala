package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StatefulOps

/** Bounded-state soak (VERDICT r10 item 2): the fixed-state streaming
  * operators are bounded BY CONSTRUCTION — this main proves it with
  * numbers. Each op is driven through `batches` micro-batches of entirely
  * NEW keys (the worst case for state growth: nothing ever repeats), and
  * after every batch the state-store metrics from StreamingQueryProgress
  * (`stateOperators.numRowsTotal` / `memoryUsedBytes`) are recorded. The
  * four bounded ops must hold numRowsTotal FLAT after warm-up, while the
  * exact-dedup baseline (`dropDuplicates` without a watermark — the
  * operator the bounded ones exist to replace) grows linearly with every
  * distinct key it has ever seen.
  *
  * All ops run on the RocksDB provider — the disk-backed 100 TB state
  * path, and what transformWithState requires anyway.
  *
  * Usage: runMain graft.tools.StreamSoak [batches] [rowsPerBatch]
  * Writes STREAMSOAK.json (atomic rename) and prints one JSON line.
  */
object StreamSoak {
  final case class Series(rows: Vector[Long], mem: Vector[Long]) {
    def add(r: Long, m: Long): Series = Series(rows :+ r, mem :+ m)
  }

  def main(args: Array[String]): Unit = {
    val batches = if (args.nonEmpty) args(0).toInt else 30
    val rowsPerBatch = if (args.length > 1) args(1).toInt else 4000
    require(batches >= 9, s"need >= 9 batches for a warmup/steady split, got $batches")

    val spark = graft.core.GraftSession.local(8)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // The verdict rides on numRowsTotal: RocksDB's memoryUsedBytes
    // mixes live state with retained version history / SST bookkeeping
    // whose cleanup is an asynchronous maintenance thread — on a
    // minutes-long soak it accumulates near-linearly for EVERY op
    // (measured: the 32-row Bloom op reports more bytes than the
    // 120k-row exact baseline), so it is recorded for provenance, not
    // judged. That eviction DOES reclaim storage is proven separately:
    // [[EvictProof]] forces compaction per commit and shows the
    // SST-level metric falling 3.4 MB → 6 KB when the near-dup op's
    // timers fire (EVICTCHECK.json). Retention is still shrunk from
    // the 100-batch default so the recovery window, bounded either
    // way, stays small.
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "5s")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    /** Drive `q` through `batches` feed/process cycles, recording the
      * summed state metrics after each. One feed = one data micro-batch
      * (processAllAvailable may also run no-data batches; the LAST
      * progress with state operators reflects the current store size
      * either way). */
    def soak(q: StreamingQuery, feed: Int => Unit): Series = {
      var s = Series(Vector.empty, Vector.empty)
      (1 to batches).foreach { b =>
        feed(b)
        q.processAllAvailable()
        val ops = Option(q.lastProgress).map(_.stateOperators).getOrElse(Array.empty)
        if (ops.nonEmpty)
          s = s.add(ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
      }
      q.stop()
      s
    }

    def ckpt(name: String): String =
      java.nio.file.Files.createTempDirectory(s"graft-ssoak-$name").toString

    // Every op gets globally-unique keys: batch b contributes keys
    // b*rowsPerBatch..b*rowsPerBatch+n-1, so no fingerprint/token/id ever
    // repeats across the run — the adversarial input for state growth.
    def freshIds(b: Int, n: Int): Seq[Long] =
      (0 until n).map(i => b.toLong * rowsPerBatch + i)

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Series]

    // -- baseline: exact streaming dedup, NO watermark → unbounded state
    locally {
      val ms = MemoryStream[(String, String)]
      val q = ms.toDS().toDF("id", "fp").dropDuplicates("fp")
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ckpt("exact")).start()
      results("exact_dedup_baseline") = soak(q,
        b => ms.addData(freshIds(b, rowsPerBatch).map(i => (s"id$i", s"fp$i"))))
    }

    // -- bounded 1: sharded Bloom dedup — state = shards fixed bitmaps
    locally {
      val ms = MemoryStream[(String, String)]
      val q = StatefulOps.streamingBloomDedup(ms.toDS(), shards = 32)
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ckpt("bloom")).start()
      results("bloom_dedup") = soak(q,
        b => ms.addData(freshIds(b, rowsPerBatch).map(i => (s"id$i", s"fp$i"))))
    }

    // -- bounded 2: Count-Min token sketch — state = one grid row
    locally {
      val ms = MemoryStream[String]
      val q = StatefulOps.streamingTokenSketch(ms.toDS().toDF("token"))
        .writeStream.format("noop").outputMode("complete")
        .option("checkpointLocation", ckpt("cms")).start()
      results("cms_sketch") = soak(q,
        b => ms.addData(freshIds(b, rowsPerBatch).map(i => s"tok$i")))
    }

    // -- bounded 3: stratified reservoir — state = strata × cap hash-ranks
    locally {
      val ms = MemoryStream[(String, Long)]
      val q = StatefulOps.streamingStratifiedSample(ms.toDS(), cap = 64, seed = 42)
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ckpt("strat")).start()
      results("stratified_reservoir") = soak(q,
        b => ms.addData(freshIds(b, rowsPerBatch).map(i => (s"s${i % 8}", i))))
    }

    // -- bounded 4: horizon-evicted near-dup — state = reps within horizon
    // Event time advances one minute per batch against a five-minute
    // horizon, so representatives older than ~5 batches expire by timer:
    // steady state holds a bounded window of the stream, however long it
    // runs. Fewer rows per batch — each row explodes into band signatures.
    locally {
      val ndRows = math.max(rowsPerBatch / 10, 50)
      val ms = MemoryStream[(Long, Timestamp, String)]
      val q = StatefulOps.streamingNearDupBounded(ms.toDS(),
          watermarkDelay = "0 seconds", horizonMs = 5 * 60 * 1000L)
        .toDF().writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ckpt("neardup")).start()
      results("neardup_bounded") = soak(q, { b =>
        val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
        ms.addData(freshIds(b, ndRows).map { i =>
          (i, new Timestamp(base + b * 60000L),
            s"document $i with tokens alpha$i beta$i gamma$i delta$i epsilon$i")
        })
      })
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
    val verdicts = results.map { case (name, s) =>
      if (s.rows.isEmpty) {
        (name, s, Double.NaN, false)
      } else if (name == "exact_dedup_baseline") {
        val r = s.rows.last / math.max(s.rows.head, 1L).toDouble
        (name, s, r, r >= 2.0)
      } else {
        val warm = s.rows.length / 3
        val r = s.rows.last / math.max(s.rows(warm), 1L).toDouble
        (name, s, r, r <= 1.5)
      }
    }

    def arr(xs: Seq[Long]) = xs.mkString("[", ",", "]")
    val opsJson = verdicts.map { case (name, s, r, ok) =>
      val ratio = if (r.isNaN) """null,"note":"no state metrics reported""""
        else f"$r%.3f"
      s""""$name":{"rows":${arr(s.rows)},"mem":${arr(s.mem)},""" +
        s""""steady_ratio":$ratio,"ok":$ok}"""
    }.mkString("{", ",", "}")
    val allOk = verdicts.forall(_._4)
    val line = s"""{"metric":"stream_state_soak","batches":$batches,""" +
      s""""rows_per_batch":$rowsPerBatch,"all_ok":$allOk,"ops":$opsJson}"""
    println(line)
    try {
      val tmp = java.nio.file.Paths.get("STREAMSOAK.json.tmp")
      java.nio.file.Files.write(tmp, (line + "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get("STREAMSOAK.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: java.io.IOException =>
      System.err.println(s"[streamsoak] STREAMSOAK.json not written: $e")
    }
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
