package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}

/** One memo for the numbers operators measure off a frame before they
  * plan (a corpus row count, a text volume): each is computed once per
  * (session, canonicalized plan, file listing), so repeated queries over
  * one corpus — bench reps, the q71/q113 family, q48/q82/q97/q125 — pay
  * the measuring scan once.
  *
  * The listing is what makes the key safe. A file relation's plan
  * compares equal for any two reads of the same root path (Spark's
  * `InMemoryFileIndex.equals` compares only root paths), so a plan key
  * alone serves the old value after a table is overwritten in place.
  * Each file relation's index already holds its listing — path, length
  * and modification time of every file — so reading it starts no job and
  * makes no filesystem call. An overwrite changes file names, lengths or
  * times, and the next measure re-runs.
  *
  * Entries pin their session and plan, so every lookup first drops the
  * entries of stopped sessions, and past [[Cap]] entries the memo is
  * cleared: a re-measure is a correctness no-op. */
object Measured {
  private val Cap = 256

  private final case class Key(session: SparkSession, what: String,
      plan: LogicalPlan, listing: Seq[(String, Long, Long)])

  private val memo = new ConcurrentHashMap[Key, Any]()

  /** `measure`'s value for `df`, computed at most once per session, plan
    * and listing; `what` names the measure, so two measures of one frame
    * never share an entry. */
  def once[T](df: DataFrame, what: String)(measure: => T): T = {
    memo.keySet.removeIf(_.session.sparkContext.isStopped)
    if (memo.size >= Cap) memo.clear()
    val plan = df.queryExecution.analyzed
    memo.computeIfAbsent(
      Key(df.sparkSession, what, plan.canonicalized, listing(plan)),
      _ => measure).asInstanceOf[T]
  }

  /** The sessions that hold entries. */
  private[graft] def sessions: Set[SparkSession] =
    memo.keySet.asScala.map(_.session).toSet

  /** Path, length and mtime of every file `plan` reads, from the file
    * indexes' own listings: no job, no filesystem call. */
  private[graft] def listing(plan: LogicalPlan): Seq[(String, Long, Long)] =
    plan.collectWithSubqueries { case r: LogicalRelation => r.relation }
      .collect { case fs: HadoopFsRelation => fs.location }
      .collect { case index: PartitioningAwareFileIndex => index.allFiles() }
      .flatten.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
}
