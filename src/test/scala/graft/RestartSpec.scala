package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StatefulOps

/** Kill/restart soaks for the bounded-state streaming operators, all on
  * the RocksDB provider (the disk-backed 100 TB state path). Each test
  * stops the query mid-stream, restarts it from the same checkpoint, and
  * asserts the output equals an uninterrupted run — i.e. the operator's
  * state (Bloom bitmaps, hash-ranked reservoirs, near-dup bucket
  * representatives) actually round-trips through the state store, not
  * just through driver memory. streamingHeavyHitterAlerts has the same
  * soak in StreamingSpec (fired-ledger restart). */
class RestartSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:$sec%02d")

  test("streamingBloomDedup: bitmap state survives a checkpoint restart") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      val ckpt = tmpDir("bloom-rs")
      val ms = MemoryStream[(String, String)]
      val emitted = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      def start() = StatefulOps.streamingBloomDedup(ms.toDS(), shards = 4)
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[(String, String)], _: Long) =>
            df.collect().foreach { case (id, _) => emitted.add(id) }
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()

      val q1 = start()
      ms.addData(("a", "f1"), ("b", "f2"))
      q1.processAllAvailable(); q1.stop()

      // restart from the same checkpoint: f1 must still be "seen"
      val q2 = start()
      ms.addData(("c", "f1"), ("d", "f3"))
      q2.processAllAvailable(); q2.stop()

      import scala.jdk.CollectionConverters._
      assert(emitted.asScala.toSet === Set("a", "b", "d"),
        "cross-restart duplicate leaked (bitmap state lost) or new row dropped")
    }
  }

  test("streamingStratifiedSample: reservoir survives a restart, converges to the batch draw") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      val ckpt = tmpDir("strat-rs")
      val ms = MemoryStream[(String, Long)]
      val last = new java.util.concurrent.ConcurrentHashMap[String, Seq[Long]]()
      def start() = StatefulOps.streamingStratifiedSample(ms.toDS(), cap = 3, seed = 7)
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[(String, Seq[Long])], _: Long) =>
            df.collect().foreach { case (k, ids) => last.put(k, ids) }
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()

      val q1 = start()
      ms.addData(("a", 5L), ("a", 12L), ("a", 40L), ("b", 3L))
      q1.processAllAvailable(); q1.stop()

      val q2 = start()
      ms.addData(("a", 1L), ("a", 7L), ("a", 33L), ("b", 8L))
      q2.processAllAvailable(); q2.stop()

      // the post-restart sample must equal the batch draw over the UNION
      // of both runs' rows — only possible if the pre-restart reservoir
      // was recovered from the state store
      val all = Seq(("a", 5L), ("a", 12L), ("a", 40L), ("b", 3L),
        ("a", 1L), ("a", 7L), ("a", 33L), ("b", 8L)).toDF("stratum", "id")
      val batch = graft.operators.Sampling.stratifiedCap(
          all, Seq("stratum"), "id", cap = 3, seed = 7)
        .orderBy("stratum", "rn").select("stratum", "id")
        .as[(String, Long)].collect().toSeq
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      assert(last.get("a") === batch("a"),
        "stratum a sample diverged from the batch draw after restart")
      assert(last.get("b") === batch("b"),
        "stratum b sample diverged from the batch draw after restart")
    }
  }

  test("streamingNearDupBounded: bucket representatives survive a restart") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      val dir = tmpDir("nd-rs")
      val ms = MemoryStream[(Long, Timestamp, String)]
      val fox = "the quick brown fox jumps over the lazy dog"
      def start() = StatefulOps.streamingNearDupBounded(ms.toDS(),
          watermarkDelay = "0 seconds", horizonMs = 60 * 60 * 1000L)
        .toDF().writeStream.format("parquet")
        .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append").start()

      val q1 = start()
      ms.addData((1L, ts(0), fox))
      q1.processAllAvailable(); q1.stop()

      // restart: doc 2 repeats doc 1's content — it must flag against
      // doc 1, which is only possible if doc 1's bucket-representative
      // state was recovered from RocksDB
      val q2 = start()
      ms.addData((2L, ts(1), fox))
      q2.processAllAvailable()
      // one more watermark-advancing batch so Append mode releases the
      // (2,1) hit through dropDuplicatesWithinWatermark
      ms.addData((3L, ts(30), "completely unrelated text about other things"))
      q2.processAllAvailable()
      ms.addData((4L, ts(55), "yet another unrelated document about nothing"))
      q2.processAllAvailable(); q2.stop()

      val hits = spark.read.parquet(s"$dir/out")
        .select("doc_id", "dup_of").as[(Long, Long)].collect().toSeq
      assert(hits.contains((2L, 1L)),
        s"post-restart duplicate not flagged against pre-restart representative: $hits")
      assert(!hits.exists(h => h._1 == 3L || h._1 == 4L),
        s"unrelated docs flagged: $hits")
    }
  }

  test("streamingHeavyHitterAlerts: CMS state AND fired ledger survive a RocksDB restart") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[String]
      graft.streaming.Sinks.BufferingNotifier.buffer.clear()
      val ckpt = tmpDir("hh-rocks")
      def start() = StatefulOps.streamingHeavyHitterAlerts(
        ms.toDS().toDF("token"), watchlist = Seq("hot", "warm"),
        threshold = 5L, notifier = new graft.streaming.Sinks.BufferingNotifier,
        ckpt, width = 64, depth = 3)

      val q1 = start()
      ms.addData(Seq.fill(5)("hot") ++ Seq.fill(3)("warm"): _*)
      q1.processAllAvailable(); q1.stop()
      assert(graft.streaming.Sinks.BufferingNotifier.buffer.size === 1)

      val q2 = start()
      // "warm" crosses threshold only as 3 (pre-restart) + 2 — the alert
      // fires iff the complete-mode CMS aggregation state round-tripped
      // through RocksDB; "hot" stays hot but is in the fired ledger, so
      // exactly-once holds across the restart
      ms.addData("warm", "warm", "hot", "hot")
      q2.processAllAvailable(); q2.stop()
      val msgs = graft.streaming.Sinks.BufferingNotifier.buffer.toArray
        .map(_.toString)
      assert(msgs.length === 2,
        s"expected [hot pre-restart, warm post-restart], got: ${msgs.toSeq}")
      assert(msgs(0).contains("token=hot") && msgs(1).contains("token=warm"),
        s"wrong alert set: ${msgs.toSeq}")
    }
  }

  test("keepLatestPerUserTws: transformWithState latest-value survives a RocksDB restart") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[graft.streaming.Event]
      val ckpt = tmpDir("kl-rocks")
      val emitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      def start() = StatefulOps.keepLatestPerUserTws(ms.toDS())
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[graft.streaming.Event], _: Long) =>
            df.collect().foreach(e => emitted.add(e.event_id))
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()

      def ev(id: Long, minute: Int): graft.streaming.Event =
        graft.streaming.Event(id, ts(minute), user_id = 1L, "click", 1.0)

      val q1 = start()
      ms.addData(ev(1, 2)); q1.processAllAvailable()
      ms.addData(ev(2, 5)); q1.processAllAvailable()
      q1.stop()

      // restart: an event OLDER than the pre-restart latest must be
      // suppressed — only possible if the ValueState recovered from
      // RocksDB (state loss would make it the fresh "latest" and emit)
      val q2 = start()
      ms.addData(ev(3, 3)); q2.processAllAvailable()
      ms.addData(ev(4, 9)); q2.processAllAvailable()
      q2.stop()

      import scala.jdk.CollectionConverters._
      assert(emitted.asScala.toSet === Set(1L, 2L, 4L),
        "stale event leaked (state lost) or fresh event dropped after restart")
    }
  }
}
