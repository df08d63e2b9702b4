package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus scaler for out-of-band scale soaks (the driver
  * ships sf0.001/0.01/0.1; the sf1 soak needs 10× the largest tier).
  * Replicates a source tier N× with key-space offsets, preserving every
  * join relationship (each replica's lineitem rows point at that
  * replica's orders/parts/suppliers; fixed-size dimensions region/nation
  * are shared, as in TPC-H where they are SF-independent).
  *
  * Two per-replica perturbations keep the soak's ≥N× criterion honest —
  * without them, exact text/vector copies across replicas would inflate
  * near-dup cluster sizes N× and PAIR counts N², so pair-producing
  * queries (LSH, SemDeDup, CC) would blow past any linear budget from
  * DATA skew rather than engine regressions:
  *  - documents: replica r > 0 hash-renames every token (md5 of
  *    token:replica, truncated to the token's length) — the rename is
  *    deterministic per (token, replica), so WITHIN a replica the
  *    word-level dup/near-dup structure is preserved exactly, while
  *    across replicas both word-level AND character-n-gram overlap
  *    collapse to noise (a plain `_r<r>` suffix kills word Jaccard but
  *    leaves char 8-gram Jaccard high — it flagged q49 as quadratic in
  *    the first soak run purely from data). A corpus growing 10× by
  *    growing its vocabulary is also the realistic shape;
  *  - embeddings: replica r > 0 draws a fresh deterministic vector from
  *    xxhash64(vec_id', dim) — pairwise cosine between replicas is
  *    noise, so semantic-dedup/ANN candidate sets scale linearly;
  *  - events: replica r > 0 offsets user_id — 10× the data means 10×
  *    the USERS at the same per-user activity, so per-key range-join
  *    fan-out (q43) and per-user windows stay constant-sized; keeping
  *    the ids would instead 10× every user's density in the same time
  *    range, a quadratic data artifact no engine plan can absorb.
  * Replica 0 is byte-identical to the source tier, so id-pinned query
  * sets (doc_id < 5, vec_id < 8) select the same rows at every scale.
  *
  * Output layout: each fact table is a DIRECTORY of range-clustered
  * part files at `<dest>/<table>.parquet` (Spark reads a directory by
  * that name transparently; nothing runs the DuckDB oracle on soak
  * tiers). Multi-file matters: the driver's testdata ships each table
  * as ONE file with ONE row group, which parquet cannot split — every
  * scan stage runs on one core regardless of cluster size. At sf0.1
  * that serial stage is milliseconds; at soak tiers it grows linearly
  * with the data and the r10 sf1 refresh charged it to the parse-heavy
  * cells (q60/q66 "12× for 10× data" — a LAYOUT artifact, not an
  * engine regression; in isolation the same plans are scan-bound
  * serial on both tiers). A real 100 TB corpus is thousands of
  * splittable files, so the soak corpora now carry that shape: file
  * count grows with the replica factor (≈4 per replica, floor 32),
  * range-clustered on the table's primary key so files also carry
  * disjoint min/max stats (id-pinned probes prune to one file, as a
  * production layout would).
  *
  * Usage: runMain graft.tools.GenCorpus <srcDir> <destDir> [replicas=10]
  *          [tables] — tables is an optional comma list restricting which
  *        fact tables are generated (e.g. "documents,embeddings" for the
  *        sf3/sf10 self-join/ANN soaks, whose family reads only those);
  *        region/nation are always copied. Default: all tables.
  */
object GenCorpus {

  /** Files per fact table: grows with the replica factor like a real
    * ingest (one landing batch per replica would be the natural shape),
    * floored at 32 so even the reps=1 base tier offers every core a
    * split. */
  private def partsFor(n: Int): Int = math.max(32, 4 * n)

  /** Write df as a directory of `parts` range-clustered parquet files
    * at dest, clustered+sorted on key (disjoint per-file key ranges →
    * min/max footer pruning works, mirroring Layout.clusteredWrite). */
  private def writeMany(df: DataFrame, dest: String, key: Column,
      parts: Int): Unit =
    df.repartitionByRange(parts, key).sortWithinPartitions(key)
      .write.mode("overwrite").parquet(dest)

  /** Cross the source with replica ids 0..n-1 (broadcast nested-loop on
    * an n-row side — map-side fan-out, no shuffle). */
  private def fanOut(df: DataFrame, n: Int): DataFrame =
    df.crossJoin(broadcast(
      df.sparkSession.range(n).toDF("rep").select(col("rep").cast("long"))))

  private def off(key: String, stride: Long): Column =
    col(key) + col("rep") * stride

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: GenCorpus <srcDir> <destDir> [replicas] [tables]")
    val (src, dest) = (args(0), args(1))
    val n = if (args.length > 2) args(2).toInt else 10
    val want: String => Boolean =
      if (args.length > 3)
        args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else _ => true

    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // fixed-size dimensions: shared across replicas, copied byte-for-byte
    Files.createDirectories(Paths.get(dest))
    Seq("region", "nation").foreach { t =>
      Files.copy(Paths.get(s"$src/$t.parquet"), Paths.get(s"$dest/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }

    def table(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def stride(t: String, key: String): Long =
      table(t).agg(max(col(key))).first().getLong(0) + 1

    // lazy: a subset run must not pay stride scans of skipped tables
    lazy val custS = stride("customer", "c_custkey")
    lazy val suppS = stride("supplier", "s_suppkey")
    lazy val partS = stride("part", "p_partkey")
    lazy val ordS  = stride("orders", "o_orderkey")

    val parts = partsFor(n)

    if (want("customer")) writeMany(fanOut(table("customer"), n)
      .select(off("c_custkey", custS).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      s"$dest/customer.parquet", col("c_custkey"), parts)

    if (want("supplier")) writeMany(fanOut(table("supplier"), n)
      .select(off("s_suppkey", suppS).as("s_suppkey"),
        col("s_name"), col("s_nationkey"), col("s_acctbal")),
      s"$dest/supplier.parquet", col("s_suppkey"), parts)

    if (want("part")) writeMany(fanOut(table("part"), n)
      .select(off("p_partkey", partS).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice")),
      s"$dest/part.parquet", col("p_partkey"), parts)

    if (want("orders")) writeMany(fanOut(table("orders"), n)
      .select(off("o_orderkey", ordS).as("o_orderkey"),
        off("o_custkey", custS).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")),
      s"$dest/orders.parquet", col("o_orderkey"), parts)

    if (want("lineitem")) writeMany(fanOut(table("lineitem"), n)
      .select(off("l_orderkey", ordS).as("l_orderkey"),
        off("l_partkey", partS).as("l_partkey"),
        off("l_suppkey", suppS).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate")),
      s"$dest/lineitem.parquet", col("l_orderkey"), parts)

    // events: replicate with offset ids; same users/time range (a stream
    // carrying 10× the traffic over the same window)
    if (want("events")) {
    val ev = graft.core.Tables.events(spark, src) // ns→µs once at the source
    val evS = ev.agg(max(col("event_id"))).first().getLong(0) + 1
    val userS = ev.agg(max(col("user_id"))).first().getLong(0) + 1
    writeMany(fanOut(ev, n)
      .select(off("event_id", evS).as("event_id"),
        col("ts"), off("user_id", userS).as("user_id"),
        col("event_type"), col("value"), col("props")),
      s"$dest/events.parquet", col("event_id"), parts)
    }

    // documents: replica-local vocabulary (see scaladoc)
    if (want("documents")) {
    val docs = table("documents")
    val docS = docs.agg(max(col("doc_id"))).first().getLong(0) + 1
    // length-preserving deterministic token rename (see scaladoc); empty
    // tokens (consecutive spaces) pass through so whitespace structure
    // is byte-identical across replicas
    def rename(t: Column): Column = when(length(t) === 0, t)
      .otherwise(md5(concat(t, lit(":"), col("rep").cast("string")))
        .substr(lit(1), least(length(t), lit(32))))
    val text2 = when(col("rep") === 0, col("text"))
      .otherwise(array_join(
        transform(split(col("text"), " "), t => rename(t)), " "))
    writeMany(fanOut(docs, n)
      .select(off("doc_id", docS).as("doc_id"), text2.as("text"),
        col("lang"), col("source"),
        length(text2).cast("long").as("n_chars")),
      s"$dest/documents.parquet", col("doc_id"), parts)
    }

    // embeddings: fresh deterministic vectors per replica (see scaladoc)
    if (want("embeddings")) {
    val emb = table("embeddings")
    val embS = emb.agg(max(col("vec_id"))).first().getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val vid = off("vec_id", embS)
    val fresh = transform(sequence(lit(0), lit(dim - 1)),
      j => (pmod(xxhash64(vid, j), lit(2000001L)).cast("double") / 1000000.0
        - 1.0).cast("float"))
    writeMany(fanOut(emb, n)
      .select(vid.as("vec_id"),
        when(col("rep") === 0, col("embedding")).otherwise(fresh).as("embedding"),
        col("label")),
      s"$dest/embeddings.parquet", col("vec_id"), parts)
    }

    graft.core.Tables.names
      .filter(t => new java.io.File(s"$dest/$t.parquet").exists)
      .foreach { t =>
        val c = spark.read.parquet(s"$dest/$t.parquet").count()
        println(s"[gen] $t: $c rows")
      }
    spark.stop()
  }
}
