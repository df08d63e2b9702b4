package graft.tools

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Ad-hoc plan/perf probe on the engine's session
  * (`GraftSession.local($SPARK_GRAFT_CPUS)`, like Bench and Verify): runs
  * named queries N times through the noop sink and prints, per rep, the
  * wall time with GC, spill and peak task memory, then the top stages of
  * the last rep by executor run time with their tasks, peak task memory,
  * spill, shuffle read and shuffle write.
  *
  * PROBE_EXPLAIN=1 also prints each query's final adaptive plan, the one
  * that ran (`PlansFull.executedPlan`). PROBE_CONF="key=value;key=value"
  * overrides session confs for hypothesis probes: SQL confs (optimizer
  * rule exclusions, broadcast threshold, AQE advisory size) are set on
  * the session, core confs (`spark.buffer.pageSize`) are read when the
  * context starts.
  *
  * Usage: runMain graft.tools.Probe <sfDir> <n> <q>... */
object Probe {
  private final case class StageStats(
      name: String = "", runMs: Long = 0, gcMs: Long = 0, tasks: Long = 0,
      peak: Long = 0, spill: Long = 0, shufRead: Long = 0, shufWrite: Long = 0)

  private def mb(bytes: Long): Double = bytes / 1024.0 / 1024.0

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val n = args(1).toInt
    val names = args.drop(2)
    val extra = sys.env.get("PROBE_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    extra.foreach { case (k, v) => sys.props(k) = v }
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // last, so a probe can override any conf the factory sets
    extra.foreach { case (k, v) => if (spark.conf.isModifiable(k)) spark.conf.set(k, v) }
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    val stages = TrieMap.empty[Int, StageStats]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Option(t.taskMetrics).foreach { m =>
        stages.updateWith(t.stageId) { s =>
          val o = s.getOrElse(StageStats())
          Some(o.copy(runMs = o.runMs + m.executorRunTime, gcMs = o.gcMs + m.jvmGCTime,
            tasks = o.tasks + 1, peak = math.max(o.peak, m.peakExecutionMemory),
            spill = o.spill + m.memoryBytesSpilled,
            shufRead = o.shufRead + m.shuffleReadMetrics.totalBytesRead,
            shufWrite = o.shufWrite + m.shuffleWriteMetrics.bytesWritten))
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.updateWith(sc.stageInfo.stageId)(s =>
          Some(s.getOrElse(StageStats()).copy(name = sc.stageInfo.name.take(120))))
    })

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to n).foreach { i =>
        stages.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(400) // listener bus drain so the rep's totals are complete
        val all = stages.values.toSeq
        println(f"[probe] $name run$i $dt%.2f s gc=${all.map(_.gcMs).sum}ms " +
          f"spill=${mb(all.map(_.spill).sum)}%.0fMB " +
          f"peakTaskMem=${mb(all.map(_.peak).maxOption.getOrElse(0L))}%.0fMB")
      }
      stages.toSeq.sortBy(-_._2.runMs).take(6).foreach { case (id, s) =>
        println(f"[stage] id=$id run=${s.runMs}ms tasks=${s.tasks} " +
          f"peakTask=${mb(s.peak)}%.1fMB spill=${mb(s.spill)}%.1fMB " +
          f"shufRead=${mb(s.shufRead)}%.1fMB shufWrite=${mb(s.shufWrite)}%.1fMB ${s.name}")
      }
      if (sys.env.contains("PROBE_EXPLAIN")) println(PlansFull.executedPlan(fn(spark, sfDir)))
    }
    spark.stop()
  }
}
