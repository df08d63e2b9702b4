package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Data-layout writers (SURVEY §2.1 S9 adjunct): how a 100 TB table gets
  * WRITTEN decides what every later scan costs.
  */
object Layout {

  /** Range-clustered parquet layout for scan pruning: one range shuffle
    * (`repartitionByRange`) assigns each output file a narrow slice of
    * the cluster-column order, and the within-file sort tightens parquet
    * row-group min/max stats. Files then cover pairwise-disjoint ranges
    * of the leading cluster column (equal keys never split across
    * files), so a range predicate skips non-matching files wholesale from
    * footer stats alone — no data read. This composes with (and differs
    * from) directory partitioning: partition dirs prune on LOW-cardinality
    * columns; range clustering orders WITHIN them for high-cardinality
    * ones (the Z-order/liquid-clustering use case, one sort cheaper).
    *
    * `numFiles` sizes output files: target ~128 MB–1 GB each at scale —
    * row-group stats only help when files are big enough to be worth
    * skipping. The range shuffle samples the cluster columns to pick
    * balanced boundaries — but only up to per-key mass: equal keys never
    * split, so one value holding a large share of rows produces one
    * correspondingly oversized file. For such hot keys add a finer
    * trailing cluster column (or a hash-salt column) to subdivide. */
  def clusteredWrite(df: DataFrame, path: String, clusterCols: Seq[String],
      numFiles: Int): Unit = {
    require(clusterCols.nonEmpty, "clusteredWrite needs at least one cluster column")
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    df.repartitionByRange(numFiles, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Overwrite a staged table (or a directory of interdependent tables)
    * ATOMICALLY: `write` produces the new content under a hidden
    * staging dir, then the commit is two directory renames — old aside,
    * new in — so readers observe either the whole old snapshot or the
    * whole new one, never a torn mix (the failure mode that silently
    * corrupts multi-table indexes like postings+weights). A crash
    * stranded between the two renames leaves `.old-<name>` and no
    * `<name>`; the recovery pass at the start of the next call restores
    * it. A crash earlier leaves the old snapshot untouched plus an
    * abandoned staging dir that the next call deletes. Renames are
    * atomic per-directory on HDFS-like stores (same caveat set as
    * [[compactHiveDirs]]).
    *
    * `write` may lazily READ the current table at `path` while
    * producing the staging dir (merge-style updates): the old dir stays
    * in place until `write` returns.
    *
    * SINGLE-WRITER ONLY. Two concurrent callers targeting the same
    * `path` share the same `.staging-<name>`/`.old-<name>` names: the
    * second caller's cleanup deletes the first's in-flight staging dir,
    * and their interleaved renames can drop the live snapshot entirely.
    * Within one JVM this is enforced — a second concurrent call on the
    * same path throws `ConcurrentModificationException` instead of
    * corrupting the other writer. ACROSS processes it is the caller's
    * contract: restage jobs for one staged table must be serialized by
    * the scheduler that owns them (the usual arrangement for table
    * maintenance — compaction/optimize jobs in lakehouse stacks carry
    * the same single-writer-per-table requirement unless a commit
    * coordinator exists). */
  def atomicStagedWrite(spark: org.apache.spark.sql.SparkSession,
      path: String)(write: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lockKey = fs.makeQualified(root).toString
    if (!activeWrites.add(lockKey))
      throw new java.util.ConcurrentModificationException(
        s"atomicStagedWrite: concurrent restage of $lockKey (single-writer only)")
    try withTableWriteLock(spark, path) { atomicStagedWriteLocked(fs, root)(write) }
    finally activeWrites.remove(lockKey)
  }

  /** In-process single-writer enforcement for [[atomicStagedWrite]]. */
  private val activeWrites =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Per-table BLOCKING write lock serializing the mutating lifecycle
    * ops of one staged table — append batches, minor compactions, and
    * restages — in-process. Mutual exclusion here is a correctness
    * requirement, not politeness:
    *  - two concurrent append jobs share the committer's
    *    `<path>/_temporary` staging tree, so one job's commit/cleanup
    *    can delete the other's pending task files — silently LOSING the
    *    slower batch;
    *  - an append landing a file into a partition dir between
    *    compaction's file listing and its move-aside rename gets
    *    deleted with the old dir — silently losing the batch;
    *  - an append into a root being restaged lands in the snapshot that
    *    is about to be moved aside and deleted.
    * Appends commute, so waiting (never throwing) is the right
    * semantic — unlike concurrent RESTAGE, which stays a programming
    * error ([[atomicStagedWrite]] throws). Reentrant so a restage
    * already holding the lock can nest. READERS take no lock: they keep
    * the documented read-committed-ish contract (whole parquet files,
    * once-or-none per compaction swap). In-process scope only — across
    * processes the scheduler serializes table maintenance, the same
    * caller contract [[atomicStagedWrite]] documents. */
  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantLock]()
  private[graft] def withTableWriteLock[T](
      spark: org.apache.spark.sql.SparkSession, path: String)(body: => T): T = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = tableLocks.computeIfAbsent(fs.makeQualified(p).toString,
      _ => new java.util.concurrent.locks.ReentrantLock)
    lock.lock()
    try body finally lock.unlock()
  }

  // ---- the staged-table manifest -----------------------------------------

  /** The one metadata file of every table the engine stages and reads
    * back by path (signature stores, IVF indexes, the upsert store).
    * `_`-prefixed, so Spark's file index never lists it. */
  private[graft] val ManifestName = "_graft_manifest.json"

  /** What a staged table records about itself: its `kind` and format
    * `version`, the staging `params` a reader must match, each
    * sub-table's schema as DDL (keyed by its path under the table root,
    * [[Root]] for the root itself), and the `measures` a reader needs
    * without scanning (`text_bytes`, `dim`). */
  final case class Manifest(kind: String, version: Int,
      params: Map[String, Long] = Map.empty,
      schemas: Map[String, String] = Map.empty,
      measures: Map[String, Long] = Map.empty)

  /** The sub-table key of a table's root directory. */
  val Root = "."

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .enable(com.fasterxml.jackson.databind.DeserializationFeature
      .FAIL_ON_TRAILING_TOKENS)

  /** Write `m` as `dir`'s manifest. It participates in whatever
    * atomic-commit scope the caller writes under.
    *
    * ATOMIC REPLACE: manifests are also REWRITTEN in place on live
    * tables (the signature append accumulates text_bytes, the upsert
    * rewrites its manifest after every batch), and readers are
    * lock-free by contract — so the update is write-temp +
    * rename-overwrite, never create-truncate: a truncate window would
    * show concurrent readers an empty or partial file, and a crash
    * mid-write would leave one behind. The temp is dot-prefixed —
    * invisible to the file index and to [[readManifest]] — so a crash
    * before the rename leaves the old manifest intact. */
  def writeManifest(spark: org.apache.spark.sql.SparkSession, dir: String,
      m: Manifest): Unit = {
    def sorted(kv: Map[String, Any]) = new java.util.TreeMap[String, Any](kv.asJava)
    val content = json.writeValueAsString(sorted(Map("kind" -> m.kind,
      "version" -> m.version, "params" -> sorted(m.params),
      "schemas" -> sorted(m.schemas), "measures" -> sorted(m.measures))))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    // qualify BOTH paths through the FileSystem so the FileContext
    // rename below cannot resolve a relative dir against a different
    // working directory than the create did
    val p = fs.makeQualified(new org.apache.hadoop.fs.Path(dir, ManifestName))
    val tmp = fs.makeQualified(new org.apache.hadoop.fs.Path(dir,
      s".$ManifestName.tmp-${java.util.UUID.randomUUID()}"))
    var renamed = false
    try {
      val out = fs.create(tmp, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      try
        org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
          .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      catch { case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        // scheme has a FileSystem but no AbstractFileSystem binding
        // (e.g. a bare gs:// connector): fall back to delete+rename —
        // not one atomic op, but the full-content temp still closes the
        // truncation window a create-truncate would have
        fs.delete(p, false)
        if (!fs.rename(tmp, p))
          throw new java.io.IOException(s"manifest rename failed: $tmp -> $p")
      }
      renamed = true
    } finally if (!renamed) fs.delete(tmp, false)
  }

  /** `dir`'s manifest; None when it has none. A manifest that does not
    * parse as one whole JSON object — empty, truncated, garbled — is
    * refused with a restage message, never read in part. */
  def readManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[Manifest] = {
    val p = new org.apache.hadoop.fs.Path(dir, ManifestName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
      def unreadable(why: String) = new IllegalStateException(
        s"$ManifestName in $dir is unreadable ($why) — restage the table")
      val node = try json.readTree(txt)
      catch { case e: com.fasterxml.jackson.core.JacksonException =>
        throw unreadable(e.getOriginalMessage) }
      if (node == null || !node.isObject) throw unreadable(s"not a JSON object: '$txt'")
      def field(k: String) = Option(node.get(k)).filterNot(_.isNull)
        .getOrElse(throw unreadable(s"no '$k'"))
      def long(k: String, v: com.fasterxml.jackson.databind.JsonNode) =
        if (v.isIntegralNumber && v.canConvertToLong) v.asLong
        else throw unreadable(s"'$k' is not a whole number: $v")
      def fields(k: String) = field(k).properties().asScala
        .map(e => e.getKey -> e.getValue).toMap
      Some(Manifest(field("kind").asText, long("version", field("version")).toInt,
        fields("params").map { case (k, v) => k -> long(k, v) },
        fields("schemas").map { case (k, v) => k -> v.asText },
        fields("measures").map { case (k, v) => k -> long(k, v) }))
    }
  }

  /** The one compatibility check: `m` (read from `dir`) must be one of
    * `kinds`, at `version`, staged with `params` (keys `m` lacks or
    * records differently fail alike). Fails with `op`, the mismatch and
    * `restage`, the caller's remedy. */
  private[graft] def checkManifest(m: Manifest, dir: String, op: String, kinds: Set[String],
      version: Int, params: Map[String, Long], restage: String): Manifest = {
    def fail(what: String) =
      throw new IllegalStateException(s"$op: $dir $what — $restage")
    if (!kinds(m.kind))
      fail(s"is a '${m.kind}' table; $op reads ${kinds.toSeq.sorted.mkString("'", "' or '", "'")}")
    if (m.version != version)
      fail(s"is '${m.kind}' format v${m.version}, this build reads v$version")
    val differ = params.filter { case (k, v) => !m.params.get(k).contains(v) }
    if (differ.nonEmpty) {
      def show(kv: Map[String, Any]) =
        kv.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(", ")
      fail(s"was staged with ${show(differ.keySet.map(k =>
        k -> m.params.getOrElse(k, "none")).toMap)}, $op got ${show(differ)}")
    }
    m
  }

  /** `dir`'s manifest, checked by [[checkManifest]]; a table without one
    * (not staged, or staged before manifests) fails fast. */
  private[graft] def requireManifest(spark: org.apache.spark.sql.SparkSession, dir: String,
      op: String, kinds: Set[String], version: Int, params: Map[String, Long],
      restage: String): Manifest =
    checkManifest(readManifest(spark, dir).getOrElse(throw
        new IllegalStateException(s"$op: $dir has no $ManifestName — $restage")),
      dir, op, kinds, version, params, restage)

  /** Sub-table `table` of the staged table at `dir`, read with the schema
    * its manifest records: no inference job, and an empty snapshot (a
    * partitioned write of zero rows leaves no data file) reads as empty. */
  private[graft] def readStaged(spark: org.apache.spark.sql.SparkSession, dir: String,
      m: Manifest, table: String = Root): DataFrame = {
    val ddl = m.schemas.getOrElse(table, throw new IllegalStateException(
      s"$ManifestName in $dir records no schema for '$table' — restage the table"))
    spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .parquet(if (table == Root) dir else s"$dir/$table")
  }

  /** A snapshot staged once per source content: `stage` writes the table
    * for `source`, manifest included, into a fresh directory, which is
    * renamed to a path under [[snapshotRoot]] keyed by `salt` (the staged
    * format and its parameters) and the source frame's file listing —
    * the (path, length, mtime) key [[graft.core.Measured]] trusts. A
    * later call in this JVM over the same files finds the keyed path's
    * manifest and stages nothing; a source rewritten in place changes the
    * listing, so it gets a new key and is restaged. The rename is the
    * commit: the keyed path exists only whole, and of two concurrent
    * first calls the loser's rename fails and its copy is discarded.
    * Returns the keyed path.
    *
    * Same trust model as rsync's quick-check: a file rewritten in place
    * to the same length within one mtime tick keeps its key. Spark's
    * writers never do that (every job writes fresh part-file names). */
  private[graft] def stagedSnapshot(source: DataFrame, name: String, salt: String)(
      stage: String => Unit): String = {
    val files = graft.core.Measured.listing(source.queryExecution.analyzed)
    require(files.nonEmpty, s"stagedSnapshot($name): the source reads no files")
    val listing = files.map { case (p, len, mtime) => s"$p|$len|$mtime" }
      .sorted.mkString("\n")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$salt|$listing".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val staged = s"${snapshotRoot.getPath}/graft_staged_${name}_$key"
    if (!new java.io.File(staged, ManifestName).exists()) {
      val tmp = s"$staged.tmp-${java.util.UUID.randomUUID()}"
      stage(tmp)
      try
        java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
          java.nio.file.Paths.get(staged),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileSystemException =>
          // a concurrent call committed first — use its table
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    }
    staged
  }

  /** The parent of every [[stagedSnapshot]] this JVM stages: one dir in
    * java.io.tmpdir, made on the first stage. A snapshot is therefore
    * reused only within one JVM, and no JVM deletes a snapshot another
    * is reading. A shutdown hook runs [[dropSnapshots]]; a JVM killed
    * without running its hooks (SIGKILL) leaves the dir behind. */
  private[graft] lazy val snapshotRoot: java.io.File = {
    val root = java.nio.file.Files.createTempDirectory("graft_staged_jvm").toFile
    sys.addShutdownHook(dropSnapshots())
    root
  }

  /** Delete [[snapshotRoot]] and every snapshot under it: the shutdown
    * hook's body. A later [[stagedSnapshot]] in this JVM restages. */
  private[graft] def dropSnapshots(): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(snapshotRoot)

  private def atomicStagedWriteLocked(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)(write: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val parent = root.getParent
    val tmp = new Path(parent, s".staging-${root.getName}")
    val old = new Path(parent, s".old-${root.getName}")
    if (fs.exists(old)) {
      if (!fs.exists(root)) fs.rename(old, root) else fs.delete(old, true)
    }
    fs.delete(tmp, true)
    write(tmp.toString)
    if (fs.exists(root) && !fs.rename(root, old))
      throw new java.io.IOException(s"atomicStagedWrite: cannot move aside $root")
    if (!fs.rename(tmp, root)) {
      fs.rename(old, root) // roll back; leave the old snapshot in place
      throw new java.io.IOException(s"atomicStagedWrite: cannot commit $root")
    }
    fs.delete(old, true)
  }

  /** Minor compaction for append-written hive-partitioned parquet dirs —
    * the shared machinery behind `Similarity.compactIvfCells` and
    * `Dedup.compactSignatureBuckets`. Every append-based layout needs
    * this operation (LSM stores and lakehouse table formats ship the
    * same): batch appends add ≥1 file per touched partition dir, so
    * months of ingest turn hot dirs into thousands of small files, and
    * per-file open/footer cost dominates once files shrink below a row
    * group.
    *
    * Rewrites ONLY the dirs under `tableDir` (matching `prefix`, e.g.
    * `"cell="` / `"bgrp="`) whose file count exceeds both `maxFiles` and
    * the ~[[CompactTargetBytes]]-per-file ideal; cold dirs' files stay
    * byte-identical — cost is proportional to the fragmented fraction,
    * never a full-table rewrite. Each selected dir is rewritten to
    * `ceil(bytes / CompactTargetBytes)` files and committed by directory
    * rename: new files land in a hidden sibling dir, the old dir is
    * moved aside, the new one renamed in, then the old files are
    * deleted. Renames are atomic per-directory on HDFS-like stores; a
    * crash mid-swap is repaired by the recovery pass at the start of the
    * next call (a missing dir with its trash present is moved back).
    * Readers racing a swap can observe a dir's rows once-or-none for the
    * swap instant — the same read-committed-ish contract concurrent
    * appends already have (parquet commits whole files); run compaction
    * in the ingest maintenance window it belongs to. Returns the number
    * of dirs rewritten. Row content is preserved exactly — compaction
    * changes file boundaries, never data.
    *
    * Scope: BATCH-written hive-partitioned layouts only. Do NOT point it
    * at a streaming file-sink output (e.g.
    * `graft.streaming.Sinks.partitionedParquet`'s event store): the file
    * sink's `_spark_metadata` transaction log is the reader's source of
    * truth there, and rewriting data files underneath it breaks every
    * log-honoring read — that table needs a log-aware rewrite (a
    * lakehouse table format's job, out of scope with parquet-only
    * deps). */
  private[graft] def compactHiveDirs(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, prefix: String, maxFiles: Int): Int = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    import org.apache.hadoop.fs.Path
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(root)
    // crash recovery: a previous run that died between "move old aside"
    // and "rename new in" left `.compact-old-<dir>` with no `<dir>` —
    // restore the original; any other leftover temp dir is garbage
    entries.filter(e => e.isDirectory &&
        e.getPath.getName.startsWith(".compact-old-")).foreach { t =>
      val orig = new Path(root, t.getPath.getName.stripPrefix(".compact-old-"))
      if (!fs.exists(orig)) fs.rename(t.getPath, orig)
      else fs.delete(t.getPath, true)
    }
    entries.filter(e => e.isDirectory &&
        e.getPath.getName.startsWith(".compact-new-"))
      .foreach(t => fs.delete(t.getPath, true))
    val dirs = fs.listStatus(root).filter(e =>
      e.isDirectory && e.getPath.getName.startsWith(prefix))
    var compacted = 0
    dirs.foreach { cd =>
      val parts = fs.listStatus(cd.getPath).filter(f => f.isFile &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      val bytes = parts.map(_.getLen).sum
      val want = math.max(1L,
        (bytes + CompactTargetBytes - 1) / CompactTargetBytes).toInt
      if (parts.length > math.max(maxFiles, want)) {
        val name = cd.getPath.getName
        val newDir = new Path(root, s".compact-new-$name")
        val oldDir = new Path(root, s".compact-old-$name")
        // read THIS dir's files only; schema is the partition-stripped
        // row schema — written back as-is
        spark.read.parquet(cd.getPath.toString)
          .repartition(want)
          .write.mode("overwrite").parquet(newDir.toString)
        if (!fs.rename(cd.getPath, oldDir))
          throw new java.io.IOException(s"compactHiveDirs: cannot move aside $name")
        if (!fs.rename(newDir, cd.getPath)) {
          fs.rename(oldDir, cd.getPath) // roll back; leave dir untouched
          throw new java.io.IOException(s"compactHiveDirs: cannot commit $name")
        }
        fs.delete(oldDir, true)
        compacted += 1
      }
    }
    compacted
  }

  /** The file size [[compactHiveDirs]] rewrites a fragmented dir to. */
  private val CompactTargetBytes = 128L << 20
}
