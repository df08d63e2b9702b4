package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * `Verify sfDir outDir [sfDir outDir ...]` dumps every pair in one
  * session; the corpus gates verify all their drifted corpora this way. */
object Verify {
  /** The engine's one local session: the oracle checks the plans (join
    * regimes, the CC driver bound) that Bench and the tests run. */
  private[graft] def session(cpus: Int): SparkSession =
    graft.core.GraftSession.local(cpus)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length % 2 == 0,
      "usage: Verify sfDir outDir [sfDir outDir ...]")
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // coalesce(1) is a DUMP convenience (one parquet file per query
    // for the driver's compare) — on corpus-sized outputs it funnels
    // the whole result through one task, which at sf10 needs GBs of
    // sort/write memory that has nothing to do with the operators
    // under test. The memory soak sets GRAFT_VERIFY_NO_COALESCE=1 to
    // measure the engine, not the dump; the driver leaves it unset.
    run(spark, args.grouped(2).map { case Array(sf, out) => (sf, out) }.toSeq,
      SparkEntry.queries, coalesce = !sys.env.contains("GRAFT_VERIFY_NO_COALESCE"))
    spark.stop()
  }

  /** Dump `queries` over each (sfDir, outDir) pair in turn. Every outDir
    * gets its own oracle_sql.json, errors.json and metrics.json (the
    * spill/peak counters restart per pair); metrics.json is written last,
    * so its presence marks a finished corpus. */
  def run(spark: SparkSession, pairs: Seq[(String, String)],
      queries: Iterable[(String, (SparkSession, String) => DataFrame)],
      coalesce: Boolean = true): Unit = {
    // Execution-memory telemetry for the memory soaks (MEMSOAK and
    // MEMSOAK_sf10f in scripts/soak.py): spill and peak-execution-memory
    // totals across every task in the run, dumped to metrics.json.
    // Always on — one listener, counters only.
    val memSpilled = new java.util.concurrent.atomic.AtomicLong
    val diskSpilled = new java.util.concurrent.atomic.AtomicLong
    val peakExec = new java.util.concurrent.atomic.AtomicLong
    val taskCount = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          memSpilled.addAndGet(m.memoryBytesSpilled)
          diskSpilled.addAndGet(m.diskBytesSpilled)
          peakExec.getAndAccumulate(m.peakExecutionMemory, math.max)
          taskCount.incrementAndGet()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try pairs.foreach { case (sfDir, outDir) =>
      val t0 = System.nanoTime
      Seq(memSpilled, diskSpilled, peakExec, taskCount).foreach(_.set(0))
      new java.io.File(outDir).mkdirs()
      // Per-query failure record (ADVICE r9): the raised class + message
      // chain goes to errors.json so the gate can assert an EXPECTED
      // contract raise actually raised the contract error (raise_error →
      // USER_RAISED_EXCEPTION with the operator's message), not an OOM /
      // NPE / analysis error that happens to also produce no output.
      val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
      // Per-query attribution of the same counters (queries run
      // sequentially and each write blocks, so snapshot deltas attribute
      // cleanly up to listener-bus lag — a few stragglers may land on the
      // next query; fine for identifying the heavy operators).
      val perQuery = scala.collection.mutable.LinkedHashMap.empty[String, String]
      queries.foreach { case (name, fn) =>
        val (m0, d0, p0) = (memSpilled.get, diskSpilled.get, peakExec.get)
        peakExec.set(0)
        // stderr breadcrumb: a JVM-level death (Spark halts with exit 52
        // on an executor-thread OOM before the catch below can run) is
        // attributable to a query only if we said which one was running
        System.err.println(s"[verify] running $name")
        try {
          val out = fn(spark, sfDir)
          (if (coalesce) out.coalesce(1) else out)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        }
        catch { case e: Throwable =>
          val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .take(8).map(t => s"${t.getClass.getName}: ${t.getMessage}")
            .mkString(" <- ")
          errors(name) = chain
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        perQuery(name) = s"""{"spill":${memSpilled.get - m0},""" +
          s""""disk_spill":${diskSpilled.get - d0},"peak_task_mem":${peakExec.get}}"""
        peakExec.getAndAccumulate(p0, math.max) // restore the global max
      }
      val json = SparkEntry.oracleSql
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
      Files.writeString(Paths.get(s"$outDir/errors.json"),
        errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
      Files.writeString(Paths.get(s"$outDir/metrics.json"),
        s"""{"heap_max_bytes":${Runtime.getRuntime.maxMemory},""" +
          s""""memory_bytes_spilled":${memSpilled.get},""" +
          s""""disk_bytes_spilled":${diskSpilled.get},""" +
          s""""peak_execution_memory_per_task":${peakExec.get},""" +
          s""""tasks":${taskCount.get},""" +
          s""""per_query":${perQuery.map { case (k, v) => s"${q(k)}:$v" }
            .mkString("{", ",", "}")}}""")
      System.err.println(f"[verify] corpus $sfDir done in ${
        (System.nanoTime - t0) / 1e9}%.1f s")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
