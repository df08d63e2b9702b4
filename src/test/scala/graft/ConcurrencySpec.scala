package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Concurrent append / compact / probe interleavings for the staged
  * lifecycles (VERDICT r9 item 5). FaultSpec proves single-writer kill
  * states and the two-writer restage lockout; here multiple THREADS
  * drive the lifecycle ops of one store at once, asserting:
  *
  *  - no lost updates: after racing appends (and appends racing
  *    compactions) the store is row-identical to a restage over the
  *    union — the Layout.withTableWriteLock serialization is what makes
  *    this hold (unlocked concurrent appends share the committer's
  *    `_temporary` tree, and a compact can delete a racing append's
  *    fresh files with the moved-aside dir);
  *  - no torn snapshots for readers: a probe racing appends sees only
  *    whole committed files, so its verdicts are DOMINATED by the final
  *    verdicts (every probed doc_id also resolves at the end, with
  *    final best_jaccard ≥ the racing one — a torn row/file would break
  *    dominance with a phantom or inflated verdict); a probe racing a
  *    compaction swap may transiently fail on a moved file (the
  *    documented once-or-none read contract) but must never return
  *    wrong rows.
  */
class ConcurrencySpec extends SparkTestBase {
  import spark.implicits._

  // ---- harness -----------------------------------------------------------

  private def inThreads(n: Int)(f: Int => Unit): Seq[Throwable] = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = (0 until n).map { i =>
      val t = new Thread(() =>
        try f(i) catch { case t: Throwable => errs.add(t) })
      t.start(); t
    }
    ts.foreach(_.join())
    errs.asScala.toSeq
  }

  /** A reader racing a compaction swap may observe a just-moved file —
    * the documented transient. Anything else is a real failure. */
  private def isTransientRead(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists { c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        // parquet's vectored-IO path reopens the file through an NIO
        // async channel, so the same deleted-by-compaction race
        // surfaces as NoSuchFileException whose message is the bare
        // path (no "does not exist" text)
        c.isInstanceOf[java.nio.file.NoSuchFileException] ||
        Option(c.getMessage).exists(m =>
          m.contains("FileNotFoundException") || m.contains("does not exist"))
    }

  // ---- fixtures ----------------------------------------------------------

  /** Deterministic token text with cross-doc shingle overlap. */
  private def tokens(i: Long): String =
    (0 until 12).map(j => s"w${(i * 7 + j) % 30}").mkString(" ")

  private lazy val base =
    (1L to 10L).map(i => (i, tokens(i))).toDF("doc_id", "text")

  /** Ingest batch `b`: five docs, each a near-duplicate of a base doc
    * (same text + one batch-specific token → high-but-<1 jaccard). */
  private def ingestBatch(b: Int): DataFrame =
    (0 until 5).map { j =>
      (1000L * (b + 1) + j, tokens(j % 10 + 1) + s" b$b")
    }.toDF("doc_id", "text")

  /** Probe batch: four exact copies of base docs + one novel doc. */
  private lazy val probeBatch =
    ((1 to 4).map(i => (9000L + i, tokens(i))) :+
      ((9005L, "novel probe text nothing shared qq rr ss tt uu vv ww xx")))
      .toDF("doc_id", "text")

  private def probeSigs(path: String): Seq[Row] =
    Dedup.incrementalNearDupsStaged(spark, path, probeBatch,
        "doc_id", "text", threshold = 0.3)
      .orderBy("doc_id").collect().toSeq

  /** Dominance: every racing verdict resolves at the end too, and never
    * with an INFLATED jaccard — the no-torn-read invariant (a partial
    * file would manufacture rows or scores the final table lacks). */
  private def assertDominated(racing: Seq[Row], fin: Seq[Row]): Unit = {
    val finBest = fin.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    racing.foreach { r =>
      val d = r.getLong(0)
      assert(finBest.contains(d), s"racing probe saw doc $d missing from final")
      assert(r.getDouble(2) <= finBest(d) + 1e-12,
        s"racing probe jaccard ${r.getDouble(2)} exceeds final ${finBest(d)} for doc $d")
    }
  }

  // ---- signature-bucket store -------------------------------------------

  test("racing appends + concurrent probes: no lost batches, probes dominated") {
    val dir = tmpDir("conc-sig")
    val path = s"$dir/buckets"
    Dedup.stageSignatureBuckets(base, "doc_id", "text", path, nGroups = 4)

    val nBatches = 6
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probeResults = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Row]]
    val probeErrs = inThreadsCollect {
      while (!done.get()) probeResults.add(probeSigs(path))
    }
    val appendErrs = inThreads(3) { t =>
      (0 until nBatches).filter(_ % 3 == t).foreach { b =>
        Dedup.appendSignatureBuckets(ingestBatch(b), "doc_id", "text", path,
          nGroups = 4)
      }
    }
    done.set(true)
    val perr = probeErrs()
    assert(appendErrs.isEmpty, s"append failures: $appendErrs")
    assert(perr.isEmpty, s"probe failures racing appends-only: $perr")

    // no lost updates: the store now equals a restage over the union
    val refPath = s"$dir/ref"
    val union = base.unionAll(
      (0 until nBatches).map(ingestBatch).reduce(_ unionAll _))
    Dedup.stageSignatureBuckets(union, "doc_id", "text", refPath, nGroups = 4)
    val fin = probeSigs(path)
    assert(fin === probeSigs(refPath))
    assert(fin.nonEmpty)
    // no torn reads: every racing probe is dominated by the final state
    probeResults.asScala.foreach(assertDominated(_, fin))
    assert(probeResults.size >= 1)
  }

  test("appends racing compactions: serialized by the table lock, zero rows lost") {
    val dir = tmpDir("conc-cmp")
    val path = s"$dir/buckets"
    Dedup.stageSignatureBuckets(base, "doc_id", "text", path, nGroups = 4)

    val nBatches = 4
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    var compactions = 0
    val compactErrs = inThreadsCollect {
      while (!done.get())
        compactions += Dedup.compactSignatureBuckets(spark, path, maxFiles = 1)
    }
    val probeOk = new java.util.concurrent.atomic.AtomicInteger(0)
    val probeErrs = inThreadsCollect {
      while (!done.get()) {
        try { probeSigs(path); probeOk.incrementAndGet() }
        catch { case t: Throwable if isTransientRead(t) => () } // documented
      }
    }
    val appendErrs = inThreads(2) { t =>
      (0 until nBatches).filter(_ % 2 == t).foreach { b =>
        Dedup.appendSignatureBuckets(ingestBatch(b), "doc_id", "text", path,
          nGroups = 4)
      }
    }
    done.set(true)
    val cerr = compactErrs(); val perr = probeErrs()
    assert(appendErrs.isEmpty, s"append failures: $appendErrs")
    assert(cerr.isEmpty, s"compaction failures: $cerr")
    assert(perr.isEmpty, s"non-transient probe failures: $perr")

    // a final compact, then: row-identical to a restage over the union
    Dedup.compactSignatureBuckets(spark, path, maxFiles = 1)
    val refPath = s"$dir/ref"
    val union = base.unionAll(
      (0 until nBatches).map(ingestBatch).reduce(_ unionAll _))
    Dedup.stageSignatureBuckets(union, "doc_id", "text", refPath, nGroups = 4)
    assert(probeSigs(path) === probeSigs(refPath))
  }

  /** One background worker whose failures are collected and returned by
    * the thunk this yields (start now, join at call time). */
  private def inThreadsCollect(body: => Unit): () => Seq[Throwable] = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val t = new Thread(() =>
      try body catch { case e: Throwable => errs.add(e) })
    t.start()
    () => { t.join(); errs.asScala.toSeq }
  }

  // ---- IVF store ---------------------------------------------------------

  test("IVF append/compact/probe interleaving: frozen-quantizer equality holds under races") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = tmpDir("conc-ivf")
    val path = s"$dir/idx"
    val trainPred = col("vec_id") < 100
    Similarity.stageIvfIndex(emb.filter(col("vec_id") < 100), kCentroids = 4,
      iters = 1, path = path, trainPred = Some(trainPred))

    def probe(p: String): Seq[Row] =
      Similarity.ivfProbeStaged(spark, p, emb.filter(col("vec_id") < 4),
        nprobe = 2, k = 3).orderBy("qid", "rank").collect().toSeq

    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val racing = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Row]]
    val probeErrs = inThreadsCollect {
      while (!done.get()) {
        try racing.add(probe(path))
        catch { case t: Throwable if isTransientRead(t) => () } // documented
      }
    }
    val compactErrs = inThreadsCollect {
      while (!done.get()) Similarity.compactIvfCells(spark, path, maxFiles = 1)
    }
    val appendErrs = inThreads(3) { b =>
      Similarity.appendToIvfIndex(spark, path,
        emb.filter(col("vec_id") >= 100 + b * 50 && col("vec_id") < 150 + b * 50))
    }
    done.set(true)
    val cerr = compactErrs(); val perr = probeErrs()
    assert(appendErrs.isEmpty, s"append failures: $appendErrs")
    assert(cerr.isEmpty, s"compaction failures: $cerr")
    assert(perr.isEmpty, s"non-transient probe failures: $perr")

    // frozen-quantizer contract survives the races: probing now is
    // bit-identical to probing an index restaged over the union with the
    // same training sample
    val refPath = s"$dir/ref"
    Similarity.stageIvfIndex(emb.filter(col("vec_id") < 250), kCentroids = 4,
      iters = 1, path = refPath, trainPred = Some(trainPred))
    val fin = probe(path)
    assert(fin === probe(refPath))
    assert(fin.nonEmpty)
    // racing probes: any (qid,vid) they returned must carry the exact
    // cosine the final index reports (scores are per-row, so a torn row
    // would surface here); membership/rank may lag behind appends
    val finCos = fin.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    racing.asScala.flatten.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      finCos.get(key).foreach(c => assert(r.getDouble(3) === c,
        s"cosine drift for $key: racing ${r.getDouble(3)} vs final $c"))
    }
  }
}
