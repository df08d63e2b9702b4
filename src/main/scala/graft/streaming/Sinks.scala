package graft.streaming

import org.apache.spark.sql.{DataFrame, ForeachWriter, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Stream sinks (SURVEY §2.1 S2/S9/S10, §2.7 T6).
  *
  * - [[partitionedParquet]] is the reference's "main DB + timestamp
  *   secondary index" (src/main.c:57-58) re-expressed as an event-date
  *   partitioned table: time-range scans become partition pruning.
  * - [[alerts]] is the email/notification sink (utils/email-sender*) as a
  *   `ForeachWriter`: the engine owns the operator; delivery transport is
  *   a pluggable [[Notifier]].
  */
object Sinks {

  /** Append stream to parquet partitioned by event date. */
  def partitionedParquet(events: DataFrame, path: String,
      checkpointDir: String): StreamingQuery =
    events.withColumn("event_date", to_date(col("ts")))
      .writeStream
      .partitionBy("event_date")
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming keep-latest upsert into a keyed parquet store (the
    * reference's "main DB" S9 write path). The store is partitioned by a
    * hash bucket of the key, so every key lives in exactly one partition;
    * each micro-batch keeps its newest row per key, merges with only the
    * buckets it touches, and dynamically overwrites those buckets. Work
    * per batch is bounded by the batch's key spread × bucket size — not
    * the store size. */
  def upsertParquet(events: DataFrame, path: String, checkpointDir: String,
      keys: Seq[String], seqCol: String, buckets: Int = 16): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val bucket = pmod(hash(keys.map(col): _*), lit(buckets))
        // Equal-seq ties break on the remaining columns (sorted by name)
        // so the winning row is a function of row CONTENT, not execution
        // order — a bare orderBy(seqCol) window picks an arbitrary winner
        // per run, and store content would differ across batch retries.
        val tieBreak = (batch.columns.toSet -- keys - seqCol).toSeq.sorted
        val order = col(seqCol) +: tieBreak.map(col)
        val latest = graft.operators.Dedup.keepLatest(batch, keys, order)
          .withColumn("part_bucket", bucket)
        // "Store not created yet" must be distinguished from real read
        // failures (those FAIL the batch so the checkpoint retries —
        // swallowing them would overwrite touched buckets with batch-only
        // rows). A bare directory-exists check is not enough: a crash
        // before the first commit can leave an empty/staging-only dir
        // that would wedge every retry on schema inference. The bucket
        // count is recorded in the store's manifest and checked —
        // remixing keys with a different count would strand stale rows
        // in old buckets.
        val fsPath = new org.apache.hadoop.fs.Path(path)
        val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // one LIST serves both the data probe and layout validation —
        // on object stores this is a billable per-batch RPC
        val dataDirs = (if (fs.exists(fsPath)) fs.listStatus(fsPath)
          else Array.empty[org.apache.hadoop.fs.FileStatus]).filter { st =>
          val n = st.getPath.getName
          st.isDirectory && !n.startsWith("_") && !n.startsWith(".")
        }
        val recorded =
          if (dataDirs.isEmpty) None
          else graft.sources.Layout.readManifest(spark, path).map(m =>
            graft.sources.Layout.checkManifest(m, path, "upsertParquet",
              Set(UpsertKind), UpsertVersion, Map("buckets" -> buckets.toLong),
              "a different count strands stale keys in unvisited buckets"))
        val (merged, overwriteMode) =
          if (recorded.isDefined) {
            // Manifest matches → incremental path: merge with only the
            // touched buckets, dynamically overwrite those partitions.
            val cur = graft.sources.Layout.readStaged(spark, path, recorded.get)
              .join(latest.select("part_bucket").distinct(), Seq("part_bucket"),
                "left_semi")
            // Materialize the merge (bounded by touched buckets) BEFORE
            // overwriting: this cuts the lineage that reads the same path
            // the write replaces — a failure up to this point leaves the
            // store untouched, and the write job never scans files it is
            // deleting. (A transactional table format would subsume this;
            // out of scope with parquet-only deps.)
            (graft.operators.Dedup.keepLatest(cur.unionByName(latest), keys, order)
              .localCheckpoint(true), "dynamic")
          } else if (dataDirs.nonEmpty) {
            // Manifest absent: a crash between the first data commit and
            // its manifest, or a store written before manifests. The
            // partition names alone cannot prove WHICH bucket count laid
            // the store out (part_bucket=0..3 fits buckets=4 and
            // buckets=16, and adopting the wrong count strands stale keys
            // in buckets the incremental merge never visits), so adoption
            // = one full re-bucketing rewrite: merge the WHOLE store,
            // recompute every row's bucket under the current count,
            // statically overwrite. One-time migration cost; the
            // rewritten manifest makes every later batch incremental.
            dataDirs.foreach { st =>
              val n = st.getPath.getName
              require(n.startsWith("part_bucket=") &&
                n.stripPrefix("part_bucket=").toIntOption.exists(_ >= 0),
                s"$path has data but no manifest and " +
                  s"partition '$n' is not a part_bucket layout — " +
                  "not adoptable, refusing to overwrite")
            }
            val cur = spark.read.parquet(path).drop("part_bucket")
            val all = cur.unionByName(latest.drop("part_bucket"))
            (graft.operators.Dedup.keepLatest(all, keys, order)
              .withColumn("part_bucket", bucket)
              .localCheckpoint(true), "static")
          } else (latest, "static")
        merged.write.mode("overwrite")
          // per-write option — scoping this via session conf would leak
          // dynamic-overwrite semantics into concurrent queries
          .option("partitionOverwriteMode", overwriteMode)
          .partitionBy("part_bucket").parquet(path)
        // (re)written after EVERY successful write: the manifest
        // describes the data just committed, so a stale one left beside
        // an emptied/adopted store can never wedge the next batch
        graft.sources.Layout.writeManifest(spark, path,
          graft.sources.Layout.Manifest(UpsertKind, UpsertVersion,
            params = Map("buckets" -> buckets.toLong),
            schemas = Map(graft.sources.Layout.Root -> merged.schema.toDDL)))
      }
      .trigger(Trigger.AvailableNow())
      .start()

  private val UpsertKind = "upsert-store"
  private val UpsertVersion = 1

  /** Alert delivery contract (SMTP in the reference; any transport here). */
  trait Notifier extends Serializable {
    def send(subject: String, body: String): Unit
  }

  /** Test/dev notifier that accumulates messages in a static buffer
    * (executor-side in local mode). */
  class BufferingNotifier extends Notifier {
    override def send(subject: String, body: String): Unit =
      BufferingNotifier.buffer.add(subject + "\n" + body)
  }
  object BufferingNotifier {
    val buffer = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  }

  /** Per-row alert sink: one notification per matching row. */
  def alerts(matches: DataFrame, notifier: Notifier,
      checkpointDir: String): StreamingQuery =
    matches.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreach(new ForeachWriter[Row] {
        override def open(partitionId: Long, epochId: Long): Boolean = true
        override def process(row: Row): Unit =
          notifier.send(s"graft-alert", row.mkString(", "))
        override def close(errorOrNull: Throwable): Unit = ()
      })
      .start()
}
