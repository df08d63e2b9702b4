package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.operators.{Dedup, Postings, Similarity}

/** NUMERIC I/O pins for the staged-probe plans (VERDICT r9 item 4).
  * TailPlanSpec/ScaleSpec pin plan SHAPES (operator names, pruned read
  * schemas); a pruning regression that keeps the operator names intact
  * would still pass those string pins while silently reading the whole
  * table. These tests read the FileSourceScanExec METRICS off the final
  * adaptive plan and assert the actual file/row counts:
  *
  *  - IVF staged probe (q131's machinery): dynamic partition pruning
  *    must read ONLY the probed cells' files — numFiles is bounded by
  *    nprobe·|queries| cells and strictly below the table's file count;
  *  - postings probe (q129's machinery): parquet footer min/max skip on
  *    the token-range-clustered files must hold rows-read at or below
  *    the matching files' rows, strictly below the table total;
  *  - staged-signature probe (q112's machinery): the batch plan scans
  *    documents EXACTLY once and the staged table whole-but-bounded
  *    (it is signature-sized by construction; the corpus is never
  *    re-shingled).
  */
class ProbeIOSpec extends SparkTestBase {
  import spark.implicits._

  /** All file scans in the FINAL adaptive plan (query stages and reused
    * exchanges unwrapped), paired with their data-path. */
  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other =>
      (other.children ++ other.subqueries).flatMap(fileScans)
  }

  private def scansUnder(df: org.apache.spark.sql.DataFrame,
      pathPart: String): Seq[FileSourceScanExec] =
    fileScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains(pathPart)))

  private def dataFiles(dir: java.io.File): Seq[java.io.File] = {
    val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    kids.filter(_.isDirectory).flatMap(dataFiles) ++
      kids.filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }

  test("IVF staged probe reads ONLY the probed cells' files (numeric DPP pin)") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = tmpDir("io-ivf")
    val path = s"$dir/idx"
    Similarity.stageIvfIndex(emb, kCentroids = 16, iters = 1, path = path,
      trainPred = Some(col("vec_id") < 200))

    val nQueries = 4
    val nprobe = 2
    val probe = Similarity.ivfProbeStaged(spark, path,
      emb.filter(col("vec_id") < nQueries), nprobe = nprobe, k = 3)
    val rows = probe.collect() // finalize AQE so metrics are real reads
    assert(rows.nonEmpty)

    val total = dataFiles(new java.io.File(s"$path/assignment")).size
    assert(total >= 10, s"fixture too small to prove pruning: $total files")
    val scans = scansUnder(probe, "assignment")
    assert(scans.nonEmpty, "no assignment scan in the final plan")
    val read = scans.map(_.metrics("numFiles").value).sum
    val outputCells = rows.map(_.getLong(2)).distinct.length
    // the numeric pin: a DPP regression reads all `total` files and
    // trips BOTH bounds; healthy probes read at most one file per
    // probed cell (splits=1) and at least the cells that produced rows
    assert(read <= nQueries.toLong * nprobe,
      s"assignment scan read $read files — DPP bound is ${nQueries * nprobe}")
    assert(read < total, s"assignment scan read ALL $total files (no pruning)")
    assert(read >= outputCells,
      s"scan claims $read files but output spans $outputCells cells")
  }

  test("postings probe rows-read bounded by the query terms' file ranges (footer-skip pin)") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
    val dir = tmpDir("io-post")
    val path = s"$dir/postings"
    Postings.stagePostings(docs, "doc_id", "text", path, numFiles = 8)

    // pick terms clustered at one end of the token range so several
    // token-range files cannot match
    val terms = Seq("a", "agg", "batch")
    val probe = Postings.searchStaged(spark, path, terms, k = 10)
    assert(probe.collect().nonEmpty)

    // expected ceiling: rows of the files whose [min,max] token range
    // intersects a term (footer granularity — page-index skipping may
    // read even less)
    val files = dataFiles(new java.io.File(s"$path/postings"))
    assert(files.size >= 4, s"fixture too small: ${files.size} postings files")
    val perFile = files.map { f =>
      val r = spark.read.parquet(f.getPath)
        .agg(min("tok"), max("tok"), count(lit(1))).head()
      (r.getString(0), r.getString(1), r.getLong(2))
    }
    val totalRows = perFile.map(_._3).sum
    val matchRows = perFile.collect {
      case (lo, hi, n) if terms.exists(t => lo <= t && t <= hi) => n
    }.sum
    assert(matchRows < totalRows,
      "term choice matches every file range; pick narrower terms")

    val scans = scansUnder(probe, "/postings/postings")
    assert(scans.nonEmpty, "no postings scan in the final plan")
    val rowsRead = scans.map(_.metrics("numOutputRows").value).sum
    assert(rowsRead <= matchRows,
      s"postings scan surfaced $rowsRead rows > matching-file ceiling $matchRows")
    assert(rowsRead < totalRows,
      s"postings scan surfaced ALL $totalRows rows (footer-skip dead)")
  }

  test("q131 itself: the static cell IN filter is wired into the query's assignment scan") {
    // the operator-level pin above proves pruning numerically on a
    // fixture where few cells are probed; q131's own query set is HALF
    // the corpus, so all k=8 cells are legitimately probed and equality
    // is the correct read count. What must hold on the real query is
    // the WIRING: the scan carries the driver-resolved IN partition
    // filter (so narrow query batches prune), and reads exactly the
    // probed cells' files — never more.
    val df = SparkEntry.queries("q131_ann_ivf_staged")(spark, "/root/testdata/sf0.01")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val scans = scansUnder(df, "graft_staged_ivf_")
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("assignment")))
    assert(scans.nonEmpty, "no staged-assignment scan in q131's final plan")
    assert(scans.exists(_.partitionFilters.exists(_.toString.contains(" IN "))),
      s"driver-resolved cell IN filter missing from the scan: " +
        scans.map(_.partitionFilters).mkString(" | "))
    val read = scans.map(_.metrics("numFiles").value).sum
    val root = scans.head.relation.location.rootPaths.head.toString
      .stripPrefix("file:")
    val total = dataFiles(new java.io.File(root)).size
    val probedCells = rows.map(_.getLong(2)).distinct.length // (qid, vid, cell, …)
    assert(read <= total)
    assert(read >= probedCells.toLong,
      s"scan claims $read files but output spans $probedCells cells")
  }

  test("S9 event-date store: time-range scan reads ONLY matching partitions' files (numeric pin)") {
    // ScaleSpec proves this store's pruning by plan string + row counts;
    // the DPP lesson (r10: dynamicpruningexpression(true) passed every
    // string pin) says to also pin the actual file reads. Write a store
    // spanning 6 event dates through the real streaming sink, scan a
    // 2-date range, and assert numFiles == the matching partition dirs'
    // data files — not one more.
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmpDir("io-s9")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    ms.addData((0 until 600).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${1 + i % 6}%02d 10:00:${i % 60}%02d"))
    })
    val q = graft.streaming.Sinks.partitionedParquet(
      ms.toDS().toDF("event_id", "ts"), s"$dir/store", s"$dir/ckpt")
    q.awaitTermination() // AvailableNow: drains the feed, then stops

    val store = spark.read.parquet(s"$dir/store")
      .filter(col("event_date").between(lit("2024-01-02"), lit("2024-01-03")))
    assert(store.collect().length === 200) // executes THIS plan (metrics live on it)

    def partFiles(dates: Seq[String]): Long = dates.map { d =>
      dataFiles(new java.io.File(s"$dir/store/event_date=$d")).size.toLong
    }.sum
    val matching = partFiles(Seq("2024-01-02", "2024-01-03"))
    val total = partFiles((1 to 6).map(d => f"2024-01-$d%02d"))
    assert(total > matching, s"fixture degenerate: $total total vs $matching matching")
    val scans = scansUnder(store, "/store")
    assert(scans.nonEmpty, "no store scan in the final plan")
    val read = scans.map(_.metrics("numFiles").value).sum
    assert(read === matching,
      s"event-date pruning read $read files, expected exactly $matching of $total")
  }

  test("clustered table: range predicate rows-read bounded by matching files (footer-skip pin)") {
    // Layout.clusteredWrite promises disjoint per-file ranges of the
    // leading cluster column, so a range predicate must skip whole files
    // from footer stats. Pin it numerically the way the postings probe
    // is pinned: rows surfaced by the scan ≤ the rows of the files whose
    // [min,max] intersect the predicate, strictly below the table total.
    val dir = tmpDir("io-clust")
    val li = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    graft.sources.Layout.clusteredWrite(li, s"$dir/tbl",
      Seq("l_orderkey"), numFiles = 8)

    val bounds = spark.read.parquet(s"$dir/tbl")
      .agg(min("l_orderkey"), max("l_orderkey")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val cutHi = lo + (hi - lo) / 8 // ~1 of 8 disjoint range slices
    val probe = spark.read.parquet(s"$dir/tbl")
      .filter(col("l_orderkey") <= cutHi)
      .agg(sum("l_extendedprice").as("s"))
    probe.collect()

    val files = dataFiles(new java.io.File(s"$dir/tbl"))
    assert(files.size === 8, s"expected 8 clustered files, got ${files.size}")
    val perFile = files.map { f =>
      val r = spark.read.parquet(f.getPath)
        .agg(min("l_orderkey"), max("l_orderkey"), count(lit(1))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val totalRows = perFile.map(_._3).sum
    val matchRows = perFile.collect { case (flo, _, n) if flo <= cutHi => n }.sum
    assert(matchRows < totalRows,
      "predicate matches every file range; fixture degenerate")

    val scans = scansUnder(probe, "/tbl")
    assert(scans.nonEmpty, "no clustered-table scan in the final plan")
    val rowsRead = scans.map(_.metrics("numOutputRows").value).sum
    assert(rowsRead <= matchRows,
      s"clustered scan surfaced $rowsRead rows > matching-file ceiling $matchRows")
    assert(rowsRead < totalRows,
      s"clustered scan surfaced ALL $totalRows rows (footer-skip dead)")
  }

  test("staged-signature probe: documents scanned once (batch only); staged table bounded") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
    val dir = tmpDir("io-sig")
    val path = s"$dir/sigs"
    Dedup.stageSignatureBuckets(docs.filter(col("doc_id") < 250), "doc_id",
      "text", path, nGroups = 4)

    val probe = Dedup.incrementalNearDupsStaged(spark, path,
      docs.filter(col("doc_id") >= 250), "doc_id", "text", threshold = 0.5)
    probe.collect()

    // corpus is never re-shingled: exactly ONE documents scan (the new
    // batch), and the staged side reads its own band-group files — a
    // probe whose cost became corpus-shaped would add documents scans
    val docScans = scansUnder(probe, "documents.parquet")
    assert(docScans.size === 1,
      s"expected exactly 1 documents scan, got ${docScans.size}")
    val sigScans = scansUnder(probe, "/sigs")
    assert(sigScans.map(_.metrics("numFiles").value).sum ===
      dataFiles(new java.io.File(path)).size.toLong)
    // the one documents scan must carry the pushed batch predicate, so
    // its read is batch-bounded at row-group granularity
    assert(docScans.head.toString.contains("doc_id"),
      "batch filter not pushed into the documents scan")
  }
}
