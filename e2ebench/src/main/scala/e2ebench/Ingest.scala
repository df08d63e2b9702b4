package e2ebench

import java.io.{BufferedReader, InputStreamReader}
import java.net.{HttpURLConnection, URI}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._

import graft.streaming.{HttpIngest, StatefulOps, TopicRegistry}

/** Ingest workload, server side: the engine's HTTP ingest pipeline.
  *
  * `HttpIngest` spools each POST as one file; `Sources.jsonEventStream`
  * reads the spool; `StatefulOps.dedupWithinWatermark(event_id)` drops
  * redeliveries and late events; a `TopicRegistry` subscription's
  * `foreachBatch` appends each micro-batch to a parquet store partitioned
  * by event date, tagging rows with their batch id.
  *
  * The client process drives the run over stdin/stdout: this JVM prints
  * `READY <port> <ready_ms>` once set-up is done (server bound, first
  * trigger committed), then `PROGRESS <batch> <input_rows> <commit_ms>`
  * after every trigger, and on `STOP` writes its run record and exits.
  */
object Ingest {

  val schema: StructType = new StructType()
    .add("event_id", LongType).add("ts", TimestampType).add("user_id", LongType)
    .add("event_type", StringType).add("value", DoubleType).add("props", StringType)
    .add("post_id", LongType).add("due_ms", LongType)

  /** Late events are an hour behind the stream, far beyond this delay. */
  val watermark = "10 minutes"

  /** Everything set-up builds, so it can be torn down again. */
  final class Pipeline(val spark: SparkSession, val server: HttpIngest.Server,
      val registry: TopicRegistry, val query: StreamingQuery,
      val commits: ConcurrentHashMap[Long, (Double, Double)],
      val listener: StreamingQueryListener) {
    def stop(): Unit = {
      registry.stopAll()
      server.stop()
      spark.streams.removeListener(listener)
    }
  }

  final class Listener(commits: ConcurrentHashMap[Long, (Double, Double)])
      extends StreamingQueryListener {
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[mutable.LinkedHashMap[String, Any]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.headOption
      val commit = Option(commits.get(p.batchId)).map(_._2).getOrElse(Double.NaN)
      progress.add(Common.ordered(
        "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "input_rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
        "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
        "state_mem_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
        "state_dropped_late" -> st.map(_.numRowsDroppedByWatermark).getOrElse(0L),
        "state_updated" -> st.map(_.numRowsUpdated).getOrElse(0L),
        "watermark" -> Option(p.eventTime.get("watermark")).orNull,
        "sink_start_ms" -> Option(commits.get(p.batchId)).map(_._1).getOrElse(Double.NaN),
        "commit_ms" -> commit))
      if (p.numInputRows > 0) {
        println(s"PROGRESS ${p.batchId} ${p.numInputRows} $commit")
        System.out.flush()
      }
    }
  }

  /** Post one NDJSON body to the server from inside this JVM (set-up's
    * priming event). */
  private def post(port: Int, body: String): Int = {
    val c = URI.create(s"http://127.0.0.1:$port/ingest").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.getOutputStream.write(body.getBytes("UTF-8"))
    val code = c.getResponseCode
    c.disconnect()
    code
  }

  /** One full set-up: session, function registry, server bound, the
    * subscription started and its first trigger committed. */
  def setup(cores: Int, run: String, trace: Boolean): (Pipeline, Listener, Option[Probe]) = {
    val spark = Common.session(cores)
    // installed before the subscription starts: the stream runs on a clone
    // of this session, which copies the listeners registered so far
    val probe = if (trace) Some(new Probe(spark).install()) else None
    val spool = s"$run/spool"
    val server = HttpIngest.start(spool, 0)
    val stream = graft.sources.Sources.jsonEventStream(spark, spool, schema,
      cleanSource = Some("delete"))
    val deduped = StatefulOps.dedupWithinWatermark(stream, watermark, Seq("event_id"))
    val commits = new ConcurrentHashMap[Long, (Double, Double)]()
    val listener = new Listener(commits)
    spark.streams.addListener(listener)
    val registry = new TopicRegistry
    val store = s"$run/store"
    val query = registry.subscribe("bench", "events", deduped, s"$run/ckpt") {
      (batch: DataFrame, id: Long) =>
        val t0 = Clock.nowMs
        batch.withColumn("event_date", to_date(col("ts")))
          .withColumn("batch_id", lit(id))
          .write.mode("append").partitionBy("event_date").parquet(store)
        commits.put(id, (t0, Clock.nowMs))
    }
    // prime: one event through the whole pipeline, so the first trigger
    // has committed before the client starts posting
    val now = System.currentTimeMillis()
    val ts = java.time.Instant.ofEpochMilli(now).toString
    val code = post(server.port,
      s"""{"event_id":-1,"ts":"$ts","user_id":0,"event_type":"prime","value":0.0,"props":"{}","post_id":-1,"due_ms":$now}""" + "\n")
    require(code == 202, s"priming post refused: $code")
    val deadline = System.currentTimeMillis() + 120000
    while (commits.isEmpty && System.currentTimeMillis() < deadline) {
      query.exception.foreach(e => throw e)
      Thread.sleep(5)
    }
    require(!commits.isEmpty, "first trigger did not commit")
    (new Pipeline(spark, server, registry, query, commits, listener), listener, probe)
  }

  def main(o: Opts): Unit = {
    val run = o.str("run-dir")
    val cores = o.int("cores", Runtime.getRuntime.availableProcessors())
    val trace = o.flag("trace")

    val (pipe, listener, probe) = setup(cores, run, trace)
    val readyMs = Clock.nowMs
    val spark = pipe.spark
    val rec = Common.ordered("mode" -> "ingest", "jvm_start_ms" -> Clock.jvmStartMs,
      "ready_ms" -> readyMs, "setup_s" -> (readyMs - Clock.jvmStartMs) / 1000.0,
      "confs" -> Common.sqlConfs(spark))
    println(s"READY ${pipe.server.port} $readyMs")
    System.out.flush()

    // the client speaks first; meters bracket whatever it marks as measured
    val in = new BufferedReader(new InputStreamReader(System.in))
    val meters = mutable.LinkedHashMap.empty[String, Any]
    var snap = ProcMeters.snap()
    var line = in.readLine()
    while (line != null && line != "STOP") {
      line.split(" ") match {
        case Array("MARK", name) => snap = ProcMeters.snap(); meters(name + "_start_ms") = snap.wallMs
        case Array("METER", name) =>
          val s = ProcMeters.snap(); meters(name) = ProcMeters.between(snap, s)
        case _ => ()
      }
      pipe.query.exception.foreach(e => throw e)
      line = in.readLine()
    }
    val progress = listener.progress.asScala.toSeq.sortBy(_("batch").asInstanceOf[Long])
    rec ++= Seq("meters" -> meters, "progress" -> progress,
      "query_error" -> pipe.query.exception.map(_.toString))

    probe.foreach { p =>
      p.drain()
      val spans = new Spans
      // triggers and their phases, laid out in the order a micro-batch
      // runs them: plan the batch (latestOffset, walCommit), run it
      // (getBatch, queryPlanning, addBatch) and commit it (commitOffsets)
      val sinkSpan = mutable.Map.empty[String, Long]
      progress.foreach { pr =>
        val b = pr("batch").asInstanceOf[Long]
        val req = s"b$b"
        val start = pr("start_ms").asInstanceOf[Double]
        val d = pr("durations").asInstanceOf[mutable.Map[String, Long]]
        val root = spans.add("trigger", start, start + d.getOrElse("triggerExecution", 0L), 0L, req)
        var t = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .foreach { ph =>
            val ms = d.getOrElse(ph, 0L).toDouble
            val id = spans.add(s"trigger.$ph", t, t + ms, root, req)
            if (ph == "addBatch") {
              val (s0, s1) = Option(pipe.commits.get(b)).getOrElse((t, t))
              sinkSpan(b.toString) = spans.add("sink.write", s0, s1, id, req)
            }
            t += ms
          }
      }
      Probe.jobSpans(spans, p.jobs.values.asScala, j => sinkSpan.get(j.batchId).map((_, s"b${j.batchId}")))
      Probe.phaseSpans(spans, p)
      rec ++= Seq("jobs" -> p.jobRecords, "stages" -> p.stageRecords,
        "spans" -> spans.all.map(_.toMap))
    }
    pipe.stop()
    spark.stop()
    Common.writeRecord(o.str("out"), rec)
  }
}
