package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch sources (SURVEY §2.1 S6–S8) and the ingest spool stream (S5).
  *
  * The reference's whole-file reader (utils/utils.c:67-136) and recursive
  * directory walker (utils/utils.c:138-232) map to Spark's `binaryFile`
  * source and `recursiveFileLookup` — the listing itself is distributed
  * (InMemoryFileIndex), no driver-side walk.
  */
object Sources {

  /** S6: whole-document JSON (one JSON object per file). */
  def jsonDocument(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", true).json(path)

  /** S7: whole-file byte scan with metadata (path, modificationTime,
    * length, content). */
  def binaryFiles(spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(path)

  /** S8: recursive listing, hidden files excluded (reference skips
    * dot-files: utils/utils.c:183-189). Returns (path, length, mtime).
    * The dot-segment filter applies only BELOW the base path — a base
    * like `/home/u/.local/corpus` must not hide its own contents because
    * an ancestor directory is dotted. Note one delta from the reference:
    * Spark's file index also skips `_`-prefixed entries (its own metadata
    * convention); the reference skips only dot-files. */
  def listFilesRecursive(spark: SparkSession, path: String): DataFrame = {
    // normalize through hadoop Path so the base renders EXACTLY like the
    // listing's path column does (e.g. "file:///x" and the column's
    // "file:/x" are the same location in two spellings — a raw string
    // prefix-match between them fails)
    val base = new org.apache.hadoop.fs.Path(path.stripSuffix("/")).toString
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", true)
      .load(path)
      .withColumn("__rel",
        // RFC 3986 scheme grammar — schemes with digits/dots/uppercase
        // (s3, s3a, o3fs, WASB) must strip too, or the dot-filter would
        // regress to full-path matching on those filesystems. The whole
        // scheme+authority group is OPTIONAL: a scheme-qualified base
        // (the only way to address an object store) already carries it,
        // and a mandatory prefix would never match — every file would be
        // silently filtered by its dotted ancestors
        regexp_replace(col("path"), "^([A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?)?" + java.util.regex.Pattern.quote(base), ""))
      .filter(!col("__rel").rlike("/\\.[^/]*$") && !col("__rel").rlike("/\\.[^/]*/"))
      .select(col("path"), col("length"), col("modificationTime"))
  }

  /** Apply the file-source retention policy: `cleanSource = "delete"`
    * reclaims each input file after the micro-batch that read it
    * commits; `"archive"` moves it under `archiveDir` instead (audit /
    * replay trail). Without one of these a spool or drop directory
    * grows forever AND every trigger's listing slows with it — file
    * retention is part of the source contract at production scale, not
    * an ops afterthought. Cleaning runs on the engine's background
    * cleaner threads, so reclamation lags the commit by a beat;
    * exactly-once is unaffected either way (the processed-files log,
    * not the directory, is the source of truth). */
  private def withCleanup(
      r: org.apache.spark.sql.streaming.DataStreamReader,
      cleanSource: Option[String], archiveDir: Option[String]) = {
    cleanSource.foreach { mode =>
      require(Set("delete", "archive", "off")(mode),
        s"cleanSource must be delete|archive|off, got $mode")
      require(mode != "archive" || archiveDir.nonEmpty,
        "cleanSource=archive needs an archiveDir")
      r.option("cleanSource", mode)
      archiveDir.foreach(d => r.option("sourceArchiveDir", d))
    }
    r
  }

  /** S5 spool consumer: NDJSON file-stream over a
    * [[graft.streaming.HttpIngest]] spool directory — one JSON event per
    * line, schema supplied (never inferred: streaming inference re-lists
    * the dir and an ingest endpoint's schema is a contract, not a
    * guess). Hidden `.tmp-*` spool files are skipped by Spark's lister;
    * only atomically-renamed batches are visible.
    *
    * `cleanSource = Some("delete")` reclaims each spool batch once the
    * micro-batch that read it commits — the retention policy an
    * always-on ingest edge needs (otherwise the spool grows without
    * bound and each trigger's directory listing slows with it);
    * `Some("archive")` + `archiveDir` moves batches aside instead,
    * keeping a replayable ingest audit trail. */
  def jsonEventStream(spark: SparkSession, dir: String,
      schema: StructType, cleanSource: Option[String] = None,
      archiveDir: Option[String] = None): DataFrame =
    withCleanup(spark.readStream.schema(schema), cleanSource, archiveDir)
      .json(dir)
}
