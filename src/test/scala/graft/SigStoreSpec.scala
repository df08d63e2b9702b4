package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.operators.{Dedup, Similarity}
import graft.sources.Layout

/** Pins of the LSH family's text volume and the staged-signature store
  * manifest.
  *
  *  - the text volume is one exact `sum(octet_length)` scan, memoized per
  *    session, lineage and file listing ([[graft.core.Measured]]): a
  *    re-read of an unchanged table runs no Spark job, and a table
  *    overwritten in place is measured again (a stale volume could open
  *    the broadcast gate on a corpus-sized frame);
  *  - the manifest must fail-fast a mixed-format or mixed-parameter
  *    append/probe BEFORE any corrupting write, and must carry the
  *    measured text volume through stage → append accumulation so the
  *    path-based staged probe prices its join regime without scanning.
  */
class SigStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def docs(n: Int, repeatEvery: Int = 0): DataFrame =
    (0 until n).map { i =>
      val body =
        if (repeatEvery > 0) s"shared body text ${i % repeatEvery} common tail"
        else s"unique document $i with its own words ${i * 37} and tail $i"
      (i.toLong, body)
    }.toDF("doc_id", "text")

  private def exactBytes(df: DataFrame): Long =
    df.agg(coalesce(sum(octet_length(col("text"))), lit(0L)))
      .head().getLong(0)

  // ---- measured volume and count -----------------------------------------

  test("a table overwritten in place is measured again (same path, schema and file count)") {
    val path = tmpDir("overwrite") + "/t.parquet"
    docs(300).repartition(2).write.parquet(path)
    val before = spark.read.parquet(path)
    assert(Similarity.corpusCount(before) == 300)
    assert(Dedup.textBytes(before, "text") == exactBytes(docs(300)))
    docs(120, repeatEvery = 7).repartition(2).write.mode("overwrite").parquet(path)
    val after = spark.read.parquet(path)
    assert(after.inputFiles.length == 2 && after.schema == before.schema)
    assert(Similarity.corpusCount(after) == 120, "stale corpus count")
    assert(Dedup.textBytes(after, "text") == exactBytes(docs(120, repeatEvery = 7)),
      "stale text volume")
  }

  test("a re-read of an unchanged table is measured from the memo: no Spark job") {
    val path = tmpDir("memo") + "/t.parquet"
    docs(200).repartition(2).write.parquet(path)
    val first = spark.read.parquet(path)
    val measured = (Similarity.corpusCount(first), Dedup.textBytes(first, "text"))
    assert(measured == ((200L, exactBytes(docs(200)))))
    // a fresh index over the same listing (the schema given, so the read
    // itself runs no inference job)
    val again = spark.read.schema(first.schema).parquet(path)
    // only jobs of this group count: events of the jobs above may still be
    // queued when the listener is added
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties.getProperty("spark.jobGroup.id") == "remeasure") jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup("remeasure", "re-measure an unchanged table")
    try {
      val remeasured = (Similarity.corpusCount(again), Dedup.textBytes(again, "text"))
      // listener delivery is async; a job started by the calls above is
      // delivered well within this bound
      Thread.sleep(500)
      assert(remeasured == measured)
      assert(jobs == 0, s"re-measuring an unchanged table ran $jobs Spark jobs")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  // ---- staged-signature manifest -----------------------------------------

  private def manifest(path: String): Layout.Manifest =
    Layout.readManifest(spark, path).getOrElse(fail(s"no manifest at $path"))

  private def textBytesOf(path: String): Long = manifest(path).measures("text_bytes")

  /** Every file under `path`, with its length and mtime. */
  private def files(path: String): Set[(String, Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(walk)
    }
    walk(new java.io.File(path)).map(f => (f.getPath, f.length, f.lastModified)).toSet
  }

  test("stage writes the format sidecar; append accumulates measured textBytes") {
    val path = tmpDir("sidecar") + "/sigs"
    val base = docs(200)
    val batch = docs(60).withColumn("doc_id", col("doc_id") + 1000L)
    Dedup.stageSignatureBuckets(base, "doc_id", "text", path, nGroups = 4)
    val f0 = manifest(path)
    assert(f0.kind == Dedup.SigsBuckets && f0.version == Dedup.SigVersion)
    assert(f0.params == Map("num_hashes" -> 8L, "bands" -> 4L, "shingle_size" -> 3L))
    assert(f0.measures("text_bytes") == exactBytes(base),
      "staged textBytes must equal the measured corpus volume")
    Dedup.appendSignatureBuckets(batch, "doc_id", "text", path, nGroups = 4)
    assert(textBytesOf(path) == exactBytes(base) + exactBytes(batch),
      "append must accumulate the batch's measured volume")
  }

  test("append fails fast on parameter mismatch, BEFORE writing") {
    val path = tmpDir("mismatch") + "/sigs"
    Dedup.stageSignatureBuckets(docs(50), "doc_id", "text", path, nGroups = 4)
    val before = files(path)
    val e = intercept[IllegalStateException] {
      Dedup.appendSignatureBuckets(docs(10), "doc_id", "text", path,
        numHashes = 16, bands = 8, nGroups = 4)
    }
    assert(e.getMessage.contains("restage"), s"not actionable: ${e.getMessage}")
    assert(files(path) == before, "mismatched append mutated the store")
  }

  test("append and probe fail fast on a v1 (string-shingle) store") {
    val path = tmpDir("v1") + "/sigs"
    // fake a v1 store: sh as ARRAY<STRING>, no manifest, bucket layout —
    // append and probe both refuse a store without a manifest
    Seq((1L, Seq("a b c"), 0, "k", 0))
      .toDF("doc_id", "sh", "band", "bkey", "bgrp")
      .write.partitionBy("bgrp").parquet(path)
    val eApp = intercept[IllegalStateException] {
      Dedup.appendSignatureBuckets(docs(5), "doc_id", "text", path)
    }
    assert(eApp.getMessage.contains("restage"))
    val eProbe = intercept[IllegalStateException] {
      Dedup.incrementalNearDupsStaged(spark, path, docs(5), "doc_id", "text")
    }
    assert(eProbe.getMessage.contains("restage"))
  }

  test("append crash between sidecar and data write over-counts (never under-counts); retry converges") {
    // appendSignatureBuckets writes the accumulated-volume manifest BEFORE
    // the bucket append by design: a crash between the two must leave
    // textBytes OVER-counting (batch priced, rows absent — a conservative
    // regime choice), never under-counting (which could flip the staged
    // probe's broadcast gate open on a frame larger than priced).
    val path = tmpDir("crash") + "/sigs"
    val base = docs(80)
    val batch = docs(30).withColumn("doc_id", col("doc_id") + 1000L)
    Dedup.stageSignatureBuckets(base, "doc_id", "text", path, nGroups = 4)
    val stagedRows = spark.read.parquet(path).count()

    // a shingler that passes analysis but throws on every row at
    // execution time — textBytes is measured on the raw text (no
    // shingler), so the failure lands exactly between the manifest
    // write and the data append
    val bomb: Column => Column =
      c => split(assert_true(length(c) < 0).cast("string"), " ")
    intercept[Exception] {
      Dedup.appendSignatureBuckets(batch, "doc_id", "text", path,
        nGroups = 4, shingler = bomb)
    }

    val f = manifest(path)
    assert(f.measures("text_bytes") == exactBytes(base) + exactBytes(batch),
      "crashed append must leave the manifest counting the batch (over-count)")
    assert(spark.read.parquet(path).count() == stagedRows,
      "crashed append committed data rows")

    // an invalid-parameter append must fail BEFORE touching the manifest
    intercept[IllegalArgumentException] {
      Dedup.appendSignatureBuckets(batch, "doc_id", "text", path, nGroups = 0)
    }
    assert(manifest(path) == f,
      "invalid-parameter append mutated the manifest")

    // retry with a working shingler: data lands, volume accumulates again
    // (the documented over-count drift — still the conservative direction)
    Dedup.appendSignatureBuckets(batch, "doc_id", "text", path, nGroups = 4)
    assert(textBytesOf(path) == exactBytes(base) + 2 * exactBytes(batch))
    assert(spark.read.parquet(path).count() > stagedRows,
      "retried append wrote no rows")

    // the over-counted store still probes correctly (volume is regime
    // input, never a correctness input)
    val hits = Dedup.incrementalNearDupsStaged(spark, path,
      docs(5).withColumn("doc_id", col("doc_id") + 5000L), // base text, new ids
      "doc_id", "text", numHashes = 8, bands = 4,
      shingleSize = 3, threshold = 0.5, shingler = null).collect()
    assert(hits.nonEmpty, "staged store no longer probes after crash+retry")
  }

  test("path-based staged probe: sidecar-verified, regime from persisted volume, verdict parity") {
    val all = docs(120, repeatEvery = 30) // repeats → real near-dups
    val corpus = all.filter(col("doc_id") < 90)
    val batch = all.filter(col("doc_id") >= 90)
    val path = tmpDir("probe-parity") + "/sigs"
    Dedup.stageSignatureBuckets(corpus, "doc_id", "text", path, nGroups = 2)

    // parameter mismatch fails fast instead of silently zero candidates
    intercept[IllegalStateException] {
      Dedup.incrementalNearDupsStaged(spark, path, batch, "doc_id", "text",
        numHashes = 16, bands = 8, shingleSize = 3, threshold = 0.5,
        shingler = null).collect()
    }

    val viaPath = Dedup.incrementalNearDupsStaged(spark, path, batch,
      "doc_id", "text", numHashes = 8, bands = 4, shingleSize = 3,
      threshold = 0.5, shingler = null).orderBy("doc_id").collect()
    val inline = Dedup.incrementalNearDups(corpus, batch, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(viaPath.nonEmpty, "fixture produced no near-dups")
    assert(viaPath.toSeq == inline.toSeq,
      "path-based staged probe diverged from the inline probe")

    // an over-cap persisted volume must deny the corpus side the
    // broadcast — but a MEASURED under-cap batch beside it is broadcast
    // explicitly (the big-corpus/small-batch ingest shape): the
    // BroadcastExchange must sit on the batch (left/x) side
    Layout.writeManifest(spark, path, manifest(path).copy(
      measures = Map("text_bytes" -> Long.MaxValue / 64)))
    val big = Dedup.incrementalNearDupsStaged(spark, path, batch,
      "doc_id", "text", numHashes = 8, bands = 4, shingleSize = 3,
      threshold = 0.5, shingler = null)
    big.collect()
    val plan = big.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("BuildLeft"),
      s"under-cap batch beside an over-cap corpus should broadcast the " +
        s"batch side:\n$plan")

    // the gate arithmetic must be overflow-safe: Long.MaxValue/10 × 20
    // wraps to -16, so a product-form gate would return UNDER-cap and
    // open the corpus broadcast on a corrupted-volume manifest
    assert(Dedup.overCarryCap(Long.MaxValue / 10), "overflow opened the gate")
    assert((Long.MaxValue / 10) * Dedup.CarriedBytesPerTextByte < 0,
      "fixture no longer overflows — pick a volume whose ×20 wraps negative")
    assert(Dedup.overCarryCap(-1L), "unknown volume must be over-cap")
    assert(!Dedup.overCarryCap(1024L))
  }

  test("both sides over-cap pins sort-merge (batch measured, corpus from sidecar)") {
    // ~9 MB of batch text > MaxBroadcastCarryBytes/CarriedBytesPerTextByte
    // (6.7 MB): the batch's MEASURED volume must deny the planner the
    // batch-side broadcast its lying stats would otherwise allow
    val corpus = docs(60)
    val path = tmpDir("bothover") + "/sigs"
    Dedup.stageSignatureBuckets(corpus, "doc_id", "text", path, nGroups = 2)
    Layout.writeManifest(spark, path, manifest(path).copy(
      measures = Map("text_bytes" -> Long.MaxValue / 64)))
    val filler = (0 until 600).map(j => s"word$j token${j * 13}").mkString(" ")
    val bigBatch = (0 until 1200).map(i => (i + 9000L, s"doc $i $filler"))
      .toDF("doc_id", "text")
      // corpus-duplicate rows keep the result non-empty so AQE cannot
      // collapse the join out of the final plan
      .unionByName(docs(5).withColumn("doc_id", col("doc_id") + 90000L))
    val res = Dedup.incrementalNearDupsStaged(spark, path, bigBatch,
      "doc_id", "text", numHashes = 8, bands = 4, shingleSize = 3,
      threshold = 0.5, shingler = null)
    res.collect()
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      s"a side was broadcast with BOTH sides over-cap:\n$plan")
    assert(plan.contains("SortMergeJoin"), s"expected pinned SMJ:\n$plan")
  }

  test("a disabled broadcast threshold vetoes every broadcast of the staged probe") {
    val all = docs(120, repeatEvery = 30)
    val corpus = all.filter(col("doc_id") < 90)
    val batch = all.filter(col("doc_id") >= 90)
    val path = tmpDir("veto") + "/sigs"
    Dedup.stageSignatureBuckets(corpus, "doc_id", "text", path, nGroups = 2)
    val inline = Dedup.incrementalNearDups(corpus, batch, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(inline.nonEmpty, "fixture produced no near-dups")
    // both sides are far under the carry cap: only the conf can deny them
    // the explicit broadcast
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val staged = Dedup.incrementalNearDupsStaged(spark, path, batch,
        "doc_id", "text").orderBy("doc_id")
      assert(staged.collect().toSeq === inline)
      val plan = staged.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"a broadcast planned with broadcasts disabled:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge:\n$plan")
    } finally spark.conf.set(key, prev)
  }

  test("a store with data but no manifest fails fast with restage on append and path probe, writing nothing") {
    val path = tmpDir("nomanifest-bkt") + "/sigs"
    Dedup.stageSignatureBuckets(docs(40), "doc_id", "text", path, nGroups = 2)
    assert(new java.io.File(path, Layout.ManifestName).delete())
    val before = files(path)
    val eApp = intercept[IllegalStateException] {
      Dedup.appendSignatureBuckets(docs(5), "doc_id", "text", path, nGroups = 2)
    }
    assert(eApp.getMessage.contains("restage"), eApp.getMessage)
    val eProbe = intercept[IllegalStateException] {
      Dedup.incrementalNearDupsStaged(spark, path, docs(5), "doc_id", "text")
    }
    assert(eProbe.getMessage.contains("restage"), eProbe.getMessage)
    assert(files(path) == before, s"a refused call wrote into $path")
  }

  test("a kind, version, parameter or layout mismatch fails fast before any write") {
    val path = tmpDir("mismatch-all") + "/sigs"
    Dedup.stageSignatureBuckets(docs(40), "doc_id", "text", path, nGroups = 2)
    val good = manifest(path)
    Seq(
      good.copy(kind = Similarity.IvfKind),
      good.copy(version = good.version + 1),
      good.copy(params = good.params + ("bands" -> 8L)),
      good.copy(params = good.params - "shingle_size")
    ).foreach { bad =>
      Layout.writeManifest(spark, path, bad)
      val before = files(path)
      val e = intercept[IllegalStateException] {
        Dedup.appendSignatureBuckets(docs(5), "doc_id", "text", path, nGroups = 2)
      }
      assert(e.getMessage.contains("restage"), e.getMessage)
      assert(files(path) == before, s"append wrote past $bad")
      assert(intercept[IllegalStateException] {
        Dedup.incrementalNearDupsStaged(spark, path, docs(5), "doc_id", "text")
      }.getMessage.contains("restage"))
    }
  }

  test("a truncated, empty or trailing-garbage manifest is refused, never read in part") {
    val path = tmpDir("truncated") + "/sigs"
    Dedup.stageSignatureBuckets(docs(30), "doc_id", "text", path, nGroups = 2)
    val whole = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, Layout.ManifestName)), "UTF-8")
    // a cut inside the volume would be a silent under-count if any
    // prefix were accepted
    val cut = whole.take(whole.indexOf("\"text_bytes\":") + 14)
    Seq(cut, "", whole + "}").foreach { bad =>
      writeFile(s"$path/${Layout.ManifestName}", bad)
      val e = intercept[IllegalStateException](Layout.readManifest(spark, path))
      assert(e.getMessage.contains(Layout.ManifestName) &&
        e.getMessage.contains("restage"), e.getMessage)
    }
  }

  test("staging an empty corpus yields a readable signature store") {
    val none = docs(10).filter(col("doc_id") < 0)
    val path = tmpDir("empty-bkt") + "/sigs"
    Dedup.stageSignatureBuckets(none, "doc_id", "text", path, nGroups = 4)
    assert(textBytesOf(path) == 0L)
    assert(Dedup.incrementalNearDupsStaged(spark, path, docs(5), "doc_id",
      "text").count() == 0)
    // and the empty store takes appends
    Dedup.appendSignatureBuckets(docs(20), "doc_id", "text", path, nGroups = 4)
    assert(Dedup.incrementalNearDupsStaged(spark, path,
      docs(5).withColumn("doc_id", col("doc_id") + 5000L), "doc_id",
      "text").count() == 5)
  }
}
