package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StatefulOps

/** RocksDB eviction-reclaim proof (VERDICT r12 item 2).
  *
  * STREAMSOAK already proves the bounded near-dup op's numRowsTotal
  * stays flat, but its `memoryUsedBytes` series climbs monotonically
  * (97 KB → 43 MB over 30 batches) — RocksDB's reported bytes mix live
  * state with version history and SST files whose space is only
  * reclaimed by compaction, which on a minutes-long soak never runs
  * far enough to show the fall. This main makes the reclaim VISIBLE by
  * removing the asynchronicity: `rocksdb.compactOnCommit=true` forces a
  * full compaction at every version commit, so the SST-level metric
  * (`rocksdbSstFileSize`) tracks live data, not tombstone debt.
  *
  * Two phases over [[StatefulOps.streamingNearDupBounded]] (the op the
  * open question was about), on the RocksDB provider:
  *
  *  - FILL: `fillBatches` batches of fresh unique docs, event time
  *    advancing 30 s/batch against a 5-minute horizon — state grows to
  *    tens of thousands of band-bucket representatives.
  *  - DRAIN: `drainBatches` batches of ONE doc each, event time jumping
  *    10 minutes/batch — the watermark sweeps past every representative's
  *    horizon, the eviction timers fire, and the state store empties.
  *
  * Verdict (written to EVICTCHECK.json): after the drain,
  * `numRowsTotal` must fall to ≤5% of its fill-phase peak AND
  * `rocksdbSstFileSize` must fall to ≤30% of its fill-phase peak — the
  * committed series demonstrating that evicted rows RECLAIM storage,
  * closing the loop STREAMSOAK's provenance-only `mem` column leaves
  * open. `memoryUsedBytes` is recorded too: under compact-on-commit it
  * should fall with the SSTs (block-cache / memtable overhead noted in
  * the artifact stays).
  *
  * Usage: runMain graft.tools.EvictProof [fillBatches] [drainBatches]
  */
object EvictProof {
  def main(args: Array[String]): Unit = {
    val fillBatches = if (args.nonEmpty) args(0).toInt else 15
    val drainBatches = if (args.length > 1) args(1).toInt else 12
    val perBatch = 400

    val spark = graft.core.GraftSession.local(8)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // the whole point: compaction at every commit, so SST size tracks
    // LIVE rows instead of deferred tombstone debt
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.compactOnCommit", "true")
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    run(spark, fillBatches, drainBatches, perBatch)
  }

  def run(spark: SparkSession, fillBatches: Int, drainBatches: Int,
      perBatch: Int): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val ckpt = java.nio.file.Files.createTempDirectory("graft-evict").toString
    val ms = MemoryStream[(Long, Timestamp, String)]
    val q = StatefulOps.streamingNearDupBounded(ms.toDS(),
        watermarkDelay = "0 seconds", horizonMs = 5 * 60 * 1000L)
      .toDF().writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", ckpt).start()

    val rows = Vector.newBuilder[Long]
    val mem = Vector.newBuilder[Long]
    val sst = Vector.newBuilder[Long]
    def record(): Unit = {
      val ops = Option(q.lastProgress).map(_.stateOperators).getOrElse(Array.empty)
      if (ops.nonEmpty) {
        rows += ops.map(_.numRowsTotal).sum
        mem += ops.map(_.memoryUsedBytes).sum
        sst += ops.map(o => Option(o.customMetrics.get("rocksdbSstFileSize"))
          .map(_.longValue).getOrElse(0L)).sum
      }
    }

    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def doc(i: Long, tsMs: Long): (Long, Timestamp, String) =
      (i, new Timestamp(tsMs),
        s"document $i with tokens alpha$i beta$i gamma$i delta$i epsilon$i")

    // FILL: fresh docs, clock creeping 30 s/batch — nothing evicts yet
    (1 to fillBatches).foreach { b =>
      val t = base + b * 30000L
      ms.addData((0 until perBatch).map(i => doc(b.toLong * 10000 + i, t)))
      q.processAllAvailable()
      record()
    }
    val fillRows = rows.result(); val fillSst = sst.result()

    // DRAIN: one doc per batch, clock leaping 10 min/batch — the
    // watermark hurdles every representative's horizon and timers fire
    (1 to drainBatches).foreach { b =>
      val t = base + fillBatches * 30000L + b * 600000L
      ms.addData(Seq(doc(9000000L + b, t)))
      q.processAllAvailable()
      record()
    }
    q.stop()

    val allRows = rows.result(); val allMem = mem.result(); val allSst = sst.result()
    val peakRows = fillRows.max
    val peakSst = fillSst.max
    val endRows = allRows.last
    val endSst = allSst.last
    val rowsOk = peakRows > 0 && endRows <= math.max(peakRows / 20, 64L)
    val sstOk = peakSst > 0 && endSst <= (peakSst * 3) / 10
    val pass = rowsOk && sstOk

    def arr(xs: Seq[Long]) = xs.mkString("[", ",", "]")
    val line = s"""{"metric":"rocksdb_evict_reclaim","fill_batches":$fillBatches,""" +
      s""""drain_batches":$drainBatches,"rows_per_fill_batch":$perBatch,""" +
      s""""compact_on_commit":true,"pass":$pass,""" +
      s""""peak_rows":$peakRows,"end_rows":$endRows,"rows_ok":$rowsOk,""" +
      s""""peak_sst_bytes":$peakSst,"end_sst_bytes":$endSst,"sst_ok":$sstOk,""" +
      s""""rows":${arr(allRows)},"sst_bytes":${arr(allSst)},""" +
      s""""memory_used_bytes":${arr(allMem)}}"""
    println(line)
    try {
      val tmp = java.nio.file.Paths.get("EVICTCHECK.json.tmp")
      java.nio.file.Files.write(tmp, (line + "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get("EVICTCHECK.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: java.io.IOException =>
      System.err.println(s"[evictproof] EVICTCHECK.json not written: $e")
    }
    spark.stop()
    if (!pass) sys.exit(1)
  }
}
