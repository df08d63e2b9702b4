package e2ebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Batch workloads: one closed-loop client runs a seed-shuffled slate of
  * inventory queries, pass after pass, through [[DigestSink]].
  *
  * A run is: a cold set-up (JVM start to session, function registry and the
  * slate's tables resolved through `graft.core.Tables`), `--warmup-passes` unmeasured
  * passes, then at least three whole measured passes, ending at the pass
  * boundary nearest to `--seconds`. Only whole passes are measured, so every
  * measured window holds each slate query equally often. Each execution
  * is timed from the call into `SparkEntry.queries` to the sink returning,
  * split at the end of query build (which includes any eager `Pins.pin`
  * jobs).
  */
object Batch {

  /** Tables each query family reads; resolved during set-up. */
  def resolveTables(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    import graft.core.Tables
    names.foreach { n =>
      val df = n match {
        case "events" => Tables.events(spark, dir)
        case "documents" => Tables.documents(spark, dir)
        case "embeddings" => Tables.embeddings(spark, dir)
        case other => Tables.load(spark, dir, other)
      }
      df.schema
    }
  }

  def main(o: Opts): Unit = {
    val corpus = o.str("corpus")
    val slate = o.list("slate")
    val seed = o.int("seed", 1)
    val seconds = o.dbl("seconds", 10)
    val warmupPasses = o.int("warmup-passes", 2)
    val trace = o.flag("trace")
    val cores = o.int("cores", Runtime.getRuntime.availableProcessors())
    val tables = o.list("tables")

    val spark = Common.session(cores)
    resolveTables(spark, corpus, tables)
    val readyMs = Clock.nowMs
    val rec = Common.ordered("mode" -> "batch", "jvm_start_ms" -> Clock.jvmStartMs,
      "ready_ms" -> readyMs, "setup_s" -> (readyMs - Clock.jvmStartMs) / 1000.0,
      "confs" -> Common.sqlConfs(spark))

    val probe = if (trace) Some(new Probe(spark).install()) else None
    val spans = new Spans
    val queries = graft.SparkEntry.queries
    require(slate.forall(queries.contains), s"unknown query in slate: $slate")
    // java.util.Random's first draws are correlated across nearby seeds
    val rng = new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
    val sc = spark.sparkContext
    val execs = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    val execSpans = mutable.Map.empty[String, (Long, Long, Long)] // exec -> (root, build, sink)
    var execId = 0

    def runOne(q: String, pass: Int, measured: Boolean): Unit = {
      execId += 1
      val req = s"e$execId"
      val token = s"$req-${System.nanoTime()}"
      var buildEnd = Double.NaN
      var digest: Option[String] = None
      var error: Option[String] = None
      sc.setJobGroup(s"$req:build", q)
      val t0 = Clock.nowMs
      try {
        val df = queries(q)(spark, corpus)
        buildEnd = Clock.nowMs
        sc.setJobGroup(s"$req:sink", q)
        df.write.format(classOf[DigestSink].getName).option("token", token)
          .mode("overwrite").save()
        digest = DigestSink.take(token)
      } catch {
        case e: Throwable => error = Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
      }
      val t2 = Clock.nowMs
      sc.clearJobGroup()
      // Pinned (locally checkpointed) blocks are dropped after every
      // execution, outside the timed region, so each execution starts from
      // the same storage state instead of whatever the context cleaner
      // has not yet reclaimed. What is dropped is recorded, so a change to
      // how long the engine holds its pins still shows.
      val held = sc.getRDDStorageInfo
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      if (buildEnd.isNaN) buildEnd = t2
      if (trace && measured) {
        val root = spans.add("exec", t0, t2, 0L, req)
        val b = spans.add("queries.build", t0, buildEnd, root, req)
        val s = spans.add("sink.write", buildEnd, t2, root, req)
        execSpans(req) = (root, b, s)
      }
      execs += Common.ordered("exec" -> req, "q" -> q, "pass" -> pass, "measured" -> measured,
        "start_ms" -> t0, "build_ms" -> (buildEnd - t0), "total_ms" -> (t2 - t0),
        "held_blocks" -> held.map(_.numCachedPartitions).sum,
        "held_bytes" -> held.map(r => r.memSize + r.diskSize).sum,
        "digest" -> digest, "error" -> error)
    }

    var pass = 0
    while (pass < warmupPasses) {
      rng.shuffle(slate).foreach(q => runOne(q, pass, measured = false))
      pass += 1
    }
    System.gc()
    val before = ProcMeters.snap()
    // at least three whole passes (one JVM stall then moves a third of the
    // window, not half), then stop at the pass boundary nearest to `seconds`
    val winStart = Clock.nowMs
    val firstMeasured = pass
    var passMs = 0.0
    while (pass - firstMeasured < 3 || Clock.nowMs - winStart + passMs / 2 < seconds * 1000) {
      val t = Clock.nowMs
      rng.shuffle(slate).foreach(q => runOne(q, pass, measured = true))
      passMs = Clock.nowMs - t
      pass += 1
    }
    val winEnd = Clock.nowMs
    val after = ProcMeters.snap()
    rec ++= Seq("window_start_ms" -> winStart, "window_end_ms" -> winEnd,
      "meters" -> ProcMeters.between(before, after), "execs" -> execs)

    probe.foreach { p =>
      p.drain()
      Probe.jobSpans(spans, p.jobs.values.asScala, j => {
        val req = j.group.takeWhile(_ != ':')
        execSpans.get(req).map { case (_, b, s) => (if (j.group.endsWith(":build")) b else s, req) }
      })
      Probe.phaseSpans(spans, p)
      rec ++= Seq("jobs" -> p.jobRecords, "stages" -> p.stageRecords,
        "spans" -> spans.all.map(_.toMap))
    }
    spark.stop()
    Common.writeRecord(o.str("out"), rec)
  }
}
