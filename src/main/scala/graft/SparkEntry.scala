package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query inventory is assembled from per-area modules; every entry has a
  * matching DuckDB oracle unless the op is not SQL-expressible (then the
  * driver records a rows-only check).
  */
object SparkEntry {

  private def modules: Seq[QueryModule] =
    Seq(Relational, Text, Vector, Windows, Coverage, Pipeline, Analytic, Extras)

  private lazy val qs: Seq[Q] = modules.flatMap(_.all)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * SURVEY §7.2 slice: scan → JSON projection → regex filter → 5-minute
    * tumbling window agg per event type.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    graft.core.Tables.events(spark, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
      .filter(col("event_type").rlike("^(purchase|signup|click|view|error)$"))
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_k"))
      .orderBy("w_start", "event_type")
  }

  /** One entry per implemented operator from SURVEY.md §2; a build runs
    * on any session (the graft_* Column wrappers need no registration). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    qs.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    qs.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap
}
