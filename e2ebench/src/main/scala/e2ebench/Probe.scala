package e2ebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. `req` is the request it served:
  * an execution id (`e12`), a trigger (`b7`) or a post (`p301`). */
final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
    parent: Long, req: String) {
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name, "start_ms" -> startMs,
    "end_ms" -> endMs, "parent" -> parent, "req" -> req)
}

/** Span store for the traced run: spans are kept in memory and written
  * once, when the run ends. */
final class Spans {
  private val next = new AtomicLong(1)
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def newId(): Long = next.getAndIncrement()
  def add(id: Long, name: String, start: Double, end: Double, parent: Long, req: String): Long = {
    buf.add(Span(id, name, start, end, parent, req)); id
  }
  def add(name: String, start: Double, end: Double, parent: Long, req: String): Long =
    add(newId(), name, start, end, parent, req)
  def all: Seq[Span] = buf.asScala.toSeq
}

/** Per-stage task-metric sums, keyed to the job that submitted the stage. */
final class StageAgg(val stageId: Int, val jobId: Int) {
  var tasks, runMs, cpuNs, gcMs, schedMs, durMs = 0L
  var shuffleRead, shuffleWrite, spill, inBytes, inRows = 0L
  def toMap: Map[String, Any] = Map("stage" -> stageId, "job" -> jobId, "tasks" -> tasks,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "sched_delay_ms" -> schedMs,
    "task_ms" -> durMs, "shuffle_read_bytes" -> shuffleRead,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "input_bytes" -> inBytes, "input_rows" -> inRows)
}

final case class JobRec(jobId: Int, group: String, batchId: String, pin: Boolean,
    startMs: Double, var endMs: Double = Double.NaN) {
  def toMap: Map[String, Any] = Map("job" -> jobId, "group" -> group, "batch" -> batchId,
    "pin" -> pin, "start_ms" -> startMs, "end_ms" -> endMs)
}

/** Traced-run probe: a SparkListener for jobs, stages and tasks and a
  * QueryExecutionListener for Catalyst's phase tracker. Registered only
  * when tracing, so untraced runs carry no listener of the benchmark's. */
final class Probe(spark: SparkSession) extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** Catalyst phases of each completed SQL action: (start, end) per phase. */
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, (Double, Double)]]()

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases.add(qe.tracker.phases.map { case (k, p) =>
        k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) })
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    this
  }

  /** Wait until the listener bus has delivered everything posted so far. */
  def drain(): Unit = {
    // the bus has no public flush; an empty job round-trips through it
    val marker = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = marker.countDown()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup("probe-drain", "probe drain")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    marker.await(30, java.util.concurrent.TimeUnit.SECONDS)
    spark.sparkContext.removeSparkListener(l)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val pin = e.stageInfos.exists(s => s.name.contains("Pins.scala") || s.details.contains("Pins.scala"))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    jobs.put(e.jobId, JobRec(e.jobId, prop("spark.jobGroup.id"),
      prop("streaming.sql.batchId"), pin, e.time.toDouble))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m == null || info == null) return
    val agg = stages.computeIfAbsent(e.stageId,
      (s: Int) => new StageAgg(s, Option(stageJob.get(s)).map(_.intValue).getOrElse(-1)))
    agg.synchronized {
      agg.tasks += 1
      agg.runMs += m.executorRunTime
      agg.cpuNs += m.executorCpuTime
      agg.gcMs += m.jvmGCTime
      agg.durMs += info.duration
      agg.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      agg.inBytes += m.inputMetrics.bytesRead
      agg.inRows += m.inputMetrics.recordsRead
    }
  }

  def jobRecords: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.jobId).map(_.toMap)
  def stageRecords: Seq[Map[String, Any]] = stages.values.asScala.toSeq.sortBy(_.stageId).map(_.toMap)
}

object Probe {
  /** Fold job records into spans under their owner: `owner(job)` returns
    * the parent span id and request id, or None to skip the job. */
  def jobSpans(spans: Spans, jobs: Iterable[JobRec],
      owner: JobRec => Option[(Long, String)]): Unit =
    jobs.foreach { j =>
      owner(j).foreach { case (parent, req) =>
        if (!j.endMs.isNaN)
          spans.add(if (j.pin) "pins.job" else "exec.job", j.startMs, j.endMs, parent, req)
      }
    }

  /** Catalyst phases of each SQL action, attached by time to the
    * `sink.write` span they ran inside. */
  def phaseSpans(spans: Spans, p: Probe): Unit = {
    val sinks = spans.all.filter(_.name == "sink.write")
    p.phases.asScala.foreach { ph =>
      ph.values.headOption.foreach { case (st, _) =>
        sinks.find(s => st >= s.startMs - 1 && st <= s.endMs + 1).foreach { s =>
          ph.foreach { case (k, (a, b)) => spans.add(s"catalyst.$k", a, b, s.id, s.req) }
        }
      }
    }
  }
}
