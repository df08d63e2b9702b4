package graft.tools

import org.apache.spark.sql.functions._
import graft.streaming.EventWindows

/** Streaming throughput smoke: drives the full micro-batch pipeline
  * (file-stream source → watermarked tumbling window agg → memory sink)
  * over the events table split into N files, and reports events/sec.
  * Usage: runMain graft.tools.StreamBench [sfDir] [nFiles] [filesPerTrigger]
  * Cores follow `SPARK_GRAFT_CPUS` (default 4), like Verify and Bench.
  * The staging directory is deleted when the run ends.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val nFiles = if (args.length > 1) args(1).toInt else 16
    val perTrigger = if (args.length > 2) args(2).toInt else math.max(nFiles / 8, 1)
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    // stage input as nFiles parquet files (micro-batch feed); ts is cast
    // to TIMESTAMP_LTZ — Tables.events' ns->us conversion yields NTZ,
    // which watermarking rejects (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE);
    // the session TZ is pinned UTC so the cast is value-preserving
    val stage = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val batch = graft.core.Tables.events(spark, sfDir)
      .withColumn("ts", col("ts").cast(
        org.apache.spark.sql.types.TimestampType))
    val total = batch.count()
    batch.repartition(nFiles).write.mode("overwrite").parquet(s"$stage/in")

    val schema = spark.read.parquet(s"$stage/in").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", perTrigger.toString)
      .parquet(s"$stage/in")

    val t0 = System.nanoTime()
    val q = EventWindows.tumbling(stream, "5 minutes", watermark = Some("10 minutes"))
      .writeStream.format("memory").queryName("sb").outputMode("append")
      .option("checkpointLocation", s"$stage/ckpt")
      .start()
    q.processAllAvailable()
    val secs = (System.nanoTime() - t0) / 1e9
    val nBatches = q.recentProgress.length
    q.stop()
    println(f"""{"metric":"stream_events_per_sec","value":${total / secs}%.0f,"events":$total,"sec":$secs%.2f,"microbatches":$nBatches}""")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
    spark.stop()
  }
}
