package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Postings, Similarity}

/** Crash-fault injection for every atomic-commit staging lifecycle.
  *
  * [[graft.sources.Layout.atomicStagedWrite]] commits by two directory
  * renames (old aside, new in); [[graft.sources.Layout.compactHiveDirs]]
  * commits each rewritten partition dir the same way. A kill can strand
  * the table in exactly three intermediate states per commit:
  *
  *   1. died while WRITING the staging dir — live table untouched, an
  *      abandoned `.staging-<name>` remains;
  *   2. died BETWEEN the two renames — `.old-<name>` holds the snapshot,
  *      `<name>` is missing (readers fail loudly, never read torn data);
  *   3. died after the commit rename, before deleting `.old-<name>` —
  *      new table live, stale `.old-<name>` remains.
  *
  * These specs manufacture each state on disk (the states are exact:
  * every kill point inside the commit sequence lands in one of them),
  * then assert the recovery pass at the start of the NEXT call restores
  * a readable whole snapshot and that probes over the table stay
  * bit-identical. Every staged table family is covered: LSH signatures
  * (q112), span stats (q86/q115), postings (q129), IVF (q131).
  *
  * `recoverOnly(path)` drives the recovery pass alone by entering
  * atomicStagedWrite with a write fn that aborts immediately — what a
  * restage job does first, before touching any data.
  */
class FaultSpec extends SparkTestBase {
  import spark.implicits._

  private def fs = new Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private object Abort extends RuntimeException("abort-after-recovery")

  /** Run ONLY atomicStagedWrite's recovery pass (the write fn aborts
    * before producing anything). */
  private def recoverOnly(path: String): Unit =
    intercept[RuntimeException] {
      graft.sources.Layout.atomicStagedWrite(spark, path)(_ => throw Abort)
    }

  private def stagingOf(path: String) = {
    val p = new Path(path)
    new Path(p.getParent, s".staging-${p.getName}")
  }
  private def oldOf(path: String) = {
    val p = new Path(path)
    new Path(p.getParent, s".old-${p.getName}")
  }

  /** Manufacture crash state 1: an abandoned staging dir with garbage. */
  private def strandStaging(path: String): Unit = {
    fs.mkdirs(stagingOf(path))
    val out = fs.create(new Path(stagingOf(path), "part-garbage.parquet"))
    out.write("not parquet".getBytes("UTF-8")); out.close()
  }

  /** Manufacture crash state 2: the move-aside rename ran, the commit
    * rename did not. */
  private def strandBetweenRenames(path: String): Unit = {
    strandStaging(path)
    assert(fs.rename(new Path(path), oldOf(path)))
  }

  // ---- fixtures ----------------------------------------------------------

  private lazy val corpus = Seq(
    (1L, "spark query join table scan filter sort merge"),
    (2L, "completely different tokens here nothing shared zz yy"),
    (3L, "alpha beta gamma delta epsilon zeta eta theta")
  ).toDF("doc_id", "text")

  // 900 duplicates doc 1; 901 shares doc 3's leading span; 902 is novel
  private lazy val batch = Seq(
    (900L, "spark query join table scan filter sort merge"),
    (901L, "alpha beta gamma delta unrelated tail words now"),
    (902L, "totally unrelated probe text aa bb cc dd ee")
  ).toDF("doc_id", "text")

  private lazy val emb =
    graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")

  /** One staged-table lifecycle: a (re)stager and a scalar-only probe
    * whose collected rows gate bit-identity across crash + recovery. */
  private case class Lifecycle(name: String, stage: String => Unit,
      probe: String => Seq[Row])

  private lazy val lifecycles = Seq(
    Lifecycle("signatures",
      p => Dedup.stageSignatureBuckets(corpus, "doc_id", "text", p, nGroups = 2),
      p => Dedup.incrementalNearDupsStaged(spark, p, batch,
          "doc_id", "text", threshold = 0.5)
        .orderBy("doc_id").collect().toSeq),
    Lifecycle("span-stats",
      p => Dedup.stageSpanStats(corpus, "doc_id", "text", p, span = 3,
        numFiles = 2),
      p => Dedup.dupSpanStatsStaged(spark.read.parquet(p), batch,
          "doc_id", "text", span = 3)
        .orderBy("doc_id").collect().toSeq),
    Lifecycle("postings",
      p => Postings.stagePostings(corpus, "doc_id", "text", p, numFiles = 2),
      p => Postings.searchStaged(spark, p, Seq("spark", "query", "alpha"),
        k = 5).collect().toSeq),
    Lifecycle("ivf",
      p => Similarity.stageIvfIndex(emb, kCentroids = 4, iters = 1, path = p,
        trainPred = Some(col("vec_id") < 100)),
      p => Similarity.ivfProbeStaged(spark, p,
          emb.filter(col("vec_id") < 4), nprobe = 2, k = 3)
        .orderBy("qid", "rank").collect().toSeq))

  // ---- atomicStagedWrite crash states, per staged table ------------------

  test("kill while writing the staging dir: live table untouched; next call clears the wreck") {
    lifecycles.foreach { lc =>
      val base = tmpDir("fault-w")
      val path = s"$base/${lc.name}"
      lc.stage(path)
      val ref = lc.probe(path)
      assert(ref.nonEmpty, s"${lc.name}: probe fixture must return rows")
      strandStaging(path)
      // readers never see the staging dir — the live snapshot is whole
      assert(lc.probe(path) === ref, s"${lc.name}: read during wreck")
      // the next restage clears the wreck and commits normally
      lc.stage(path)
      assert(lc.probe(path) === ref, s"${lc.name}: probe after restage")
      assert(!fs.exists(stagingOf(path)), s"${lc.name}: staging leftover")
      assert(!fs.exists(oldOf(path)), s"${lc.name}: old leftover")
    }
  }

  test("kill between the two commit renames: next call's recovery restores the whole snapshot") {
    lifecycles.foreach { lc =>
      val base = tmpDir("fault-r")
      val path = s"$base/${lc.name}"
      lc.stage(path)
      val ref = lc.probe(path)
      strandBetweenRenames(path)
      // in this window the table is ABSENT (readers fail loudly — the
      // contract is whole-old or whole-new, never torn)
      assert(!fs.exists(new Path(path)), s"${lc.name}: strand precondition")
      intercept[Exception] { lc.probe(path) }
      // recovery alone (no data written) must restore the old snapshot
      recoverOnly(path)
      assert(lc.probe(path) === ref, s"${lc.name}: probe after recovery")
      assert(!fs.exists(oldOf(path)), s"${lc.name}: old leftover")
      // and a full restage over the recovered table works
      lc.stage(path)
      assert(lc.probe(path) === ref, s"${lc.name}: probe after restage")
    }
  }

  test("kill after commit, before old-snapshot cleanup: next call discards the stale .old") {
    lifecycles.foreach { lc =>
      val base = tmpDir("fault-c")
      val path = s"$base/${lc.name}"
      // v1 staged elsewhere becomes the stale `.old-<name>`; v2 is live
      val v1 = s"$base/v1-${lc.name}"
      lc.stage(v1)
      lc.stage(path)
      val ref = lc.probe(path)
      assert(fs.rename(new Path(v1), oldOf(path)))
      // the live (new) snapshot answers probes even before cleanup
      assert(lc.probe(path) === ref, s"${lc.name}: read before cleanup")
      recoverOnly(path)
      assert(!fs.exists(oldOf(path)), s"${lc.name}: stale old not deleted")
      assert(lc.probe(path) === ref, s"${lc.name}: probe after cleanup")
    }
  }

  test("restage whose WRITE fails leaves the old snapshot live and recoverable") {
    val base = tmpDir("fault-f")
    val path = s"$base/sigs"
    Dedup.stageSignatureBuckets(corpus, "doc_id", "text", path, nGroups = 2)
    def probe() = Dedup.incrementalNearDupsStaged(spark, path,
      batch, "doc_id", "text", threshold = 0.5).orderBy("doc_id").collect().toSeq
    val ref = probe()
    // a restage that dies mid-write (worker lost, OOM, bad input...)
    // must not touch the live table — here the failure strikes INSIDE
    // the write fn after partial output has landed in the staging dir
    intercept[RuntimeException] {
      graft.sources.Layout.atomicStagedWrite(spark, path) { tmp =>
        corpus.limit(1).write.parquet(s"$tmp/partial")
        throw new RuntimeException("executor lost")
      }
    }
    assert(probe() === ref)
    // the wreck is cleared and the table restages cleanly afterwards
    Dedup.stageSignatureBuckets(corpus, "doc_id", "text", path, nGroups = 2)
    assert(probe() === ref)
    assert(!fs.exists(stagingOf(path)) && !fs.exists(oldOf(path)))
  }

  test("mergeSpanStats crash mid-merge leaves the staged table whole; the retry lands the batch") {
    val base = tmpDir("fault-m")
    val path = s"$base/spanstats"
    Dedup.stageSpanStats(corpus, "doc_id", "text", path, span = 3, numFiles = 2)
    def probe() = Dedup.dupSpanStatsStaged(spark.read.parquet(path), batch,
      "doc_id", "text", span = 3).orderBy("doc_id").collect().toSeq
    val ref = probe()
    // a batch whose EXECUTION fails (bad rows surface mid-job, after the
    // merge has started writing) — udf throws at runtime, not at plan time
    val boom = org.apache.spark.sql.functions.udf { (s: String) =>
      if (s != null) throw new RuntimeException("poison row"); s
    }
    val poisoned = batch.withColumn("text", boom(col("text")))
    intercept[Exception] {
      Dedup.mergeSpanStats(path, poisoned, "doc_id", "text", span = 3)
    }
    assert(probe() === ref, "failed merge must not change the staged table")
    // the retry with the good batch merges; result equals a fresh stage
    // over corpus ∪ batch (the mergeSpanStats contract)
    Dedup.mergeSpanStats(path, batch, "doc_id", "text", span = 3)
    val full = s"$base/full"
    Dedup.stageSpanStats(corpus.unionByName(batch), "doc_id", "text", full,
      span = 3, numFiles = 2)
    val merged = spark.read.parquet(path).orderBy("h").collect().toSeq
    val staged = spark.read.parquet(full).orderBy("h").collect().toSeq
    assert(merged === staged)
  }

  test("concurrent restage of one path fails loudly and releases the single-writer lock") {
    val base = tmpDir("fault-l")
    val path = s"$base/t"
    Postings.stagePostings(corpus, "doc_id", "text", path, numFiles = 2)
    def probe() = Postings.searchStaged(spark, path, Seq("spark"), k = 5)
      .collect().toSeq
    val ref = probe()
    // second writer entering while the first holds the path: loud
    // failure, NOT silent corruption of the first writer's staging dir
    intercept[java.util.ConcurrentModificationException] {
      graft.sources.Layout.atomicStagedWrite(spark, path) { _ =>
        graft.sources.Layout.atomicStagedWrite(spark, path)(_ => ())
      }
    }
    // the loud failure released the lock (finally) and left the table
    // live — the next writer proceeds normally
    assert(probe() === ref)
    Postings.stagePostings(corpus, "doc_id", "text", path, numFiles = 2)
    assert(probe() === ref)
  }

  // ---- compactHiveDirs crash states, per append-able store ---------------

  /** Drive a hive-partitioned store's compactor through its two crash
    * states: a stranded `.compact-old-<dir>` (died between renames) must
    * be restored, and a leftover `.compact-new-<dir>` (died mid-write)
    * must be discarded — probes bit-identical throughout. */
  private def compactCrashCheck(tableDir: String, prefix: String,
      compact: () => Int, probe: () => Seq[Row]): Unit = {
    val root = new Path(tableDir)
    val ref = probe()
    val dirs = fs.listStatus(root).filter(e =>
      e.isDirectory && e.getPath.getName.startsWith(prefix)).map(_.getPath)
    assert(dirs.length >= 2, "fixture needs at least two partition dirs")
    // state: died between the two renames — dir moved aside, new never in
    val d0 = dirs(0)
    assert(fs.rename(d0, new Path(root, s".compact-old-${d0.getName}")))
    // state: died mid-write — garbage .compact-new for another dir
    val d1 = dirs(1)
    fs.mkdirs(new Path(root, s".compact-new-${d1.getName}"))
    val out = fs.create(new Path(root,
      s".compact-new-${d1.getName}/part-garbage.parquet"))
    out.write("junk".getBytes("UTF-8")); out.close()
    // the next compaction call recovers both before compacting
    compact()
    assert(fs.exists(d0), "stranded dir not restored")
    assert(!fs.exists(new Path(root, s".compact-old-${d0.getName}")))
    assert(!fs.exists(new Path(root, s".compact-new-${d1.getName}")))
    assert(probe() === ref, "probe changed across crash + recovery")
  }

  test("compactSignatureBuckets: kill mid-compact recovers to bit-identical probes") {
    val base = tmpDir("fault-cb")
    val path = s"$base/buckets"
    Dedup.stageSignatureBuckets(corpus, "doc_id", "text", path, nGroups = 4)
    (0 until 3).foreach { b =>
      Dedup.appendSignatureBuckets(
        Seq((100L + b, s"spark query join table scan filter sort batch$b"))
          .toDF("doc_id", "text"),
        "doc_id", "text", path, nGroups = 4)
    }
    compactCrashCheck(path, "bgrp=",
      () => Dedup.compactSignatureBuckets(spark, path, maxFiles = 1),
      () => Dedup.incrementalNearDupsStaged(spark, path, batch,
          "doc_id", "text", threshold = 0.5)
        .orderBy("doc_id").collect().toSeq)
  }

  test("compactIvfCells: kill mid-compact recovers to bit-identical probes") {
    val base = tmpDir("fault-ci")
    val path = s"$base/idx"
    Similarity.stageIvfIndex(emb.filter(col("vec_id") < 100), kCentroids = 4,
      iters = 1, path = path, trainPred = Some(col("vec_id") < 100))
    (0 until 3).foreach { b =>
      Similarity.appendToIvfIndex(spark, path,
        emb.filter(col("vec_id") >= 100 + b * 50 && col("vec_id") < 150 + b * 50))
    }
    compactCrashCheck(s"$path/assignment", "cell=",
      () => Similarity.compactIvfCells(spark, path, maxFiles = 1),
      () => Similarity.ivfProbeStaged(spark, path,
          emb.filter(col("vec_id") < 4), nprobe = 2, k = 3)
        .orderBy("qid", "rank").collect().toSeq)
  }

  test("staging an IVF index over an EMPTY corpus yields a readable, appendable snapshot") {
    // the empty-partition production edge (a date-scoped snapshot that
    // matched nothing): a partitionBy write of an empty frame emits zero
    // data files, so without the schema its manifest records the first probe
    // used to die with UNABLE_TO_INFER_SCHEMA (caught by
    // EMPTYCHECK; pinned here)
    val base = tmpDir("fault-empty")
    val path = s"$base/idx"
    val none = emb.filter(col("vec_id") < 0)
    Similarity.stageIvfIndex(none, kCentroids = 4, iters = 1, path = path)
    // probe of the empty snapshot: empty result, not a crash
    assert(Similarity.ivfProbeStaged(spark, path,
      emb.filter(col("vec_id") < 4), nprobe = 2, k = 3).count() === 0)
    // empty -> append lifecycle: ingest into the empty snapshot works…
    Similarity.appendToIvfIndex(spark, path, emb.filter(col("vec_id") < 100))
    // …but with ZERO trained centroids there are no cells to probe, so
    // the appended rows are unreachable — the honest contract is that
    // probes stay empty until a retrain restages the quantizer
    assert(Similarity.ivfProbeStaged(spark, path,
      emb.filter(col("vec_id") < 4), nprobe = 2, k = 3).count() === 0)
    Similarity.stageIvfIndex(emb.filter(col("vec_id") < 100), kCentroids = 4,
      iters = 1, path = path)
    assert(Similarity.ivfProbeStaged(spark, path,
      emb.filter(col("vec_id") < 4), nprobe = 2, k = 3).count() > 0)
  }

  test("nearDupClusters reliable-checkpoint path handles an empty pair list") {
    val ckpt = tmpDir("cc-empty")
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.nearDupClusters(pairs, checkpointDir = Some(ckpt)).count() === 0)
  }
}
