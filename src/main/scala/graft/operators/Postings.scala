package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inverted-index staging for keyword search (q129's production form;
  * reference behavior: full-scan keyword scoring, re-expressed as a
  * stage-once/probe-many layout — the same contract as
  * [[Dedup.stageSignatureBuckets]] (q112) and [[Dedup.stageSpanStats]]).
  *
  * The inline search (q129) pays a full corpus scan + token explode per
  * query. [[stagePostings]] pays that once per corpus snapshot, writing
  * two tables:
  *
  *  - `postings`: (tok, doc_id, tf) — one row per distinct (token, doc)
  *    pair, token-range-clustered ([[graft.sources.Layout.clusteredWrite]])
  *    so each parquet file covers a disjoint token range and a probe's
  *    `tok IN (...)` predicate skips non-matching files from footer
  *    min/max stats alone;
  *  - `weights`: (tok, df, w) — document frequency and the integer
  *    idf-weight w = (10^6 · n_docs) DIV df, same clustering.
  *
  * [[searchStaged]] then answers a query by reading ONLY the query
  * terms' posting slices — the documents table is not in the plan at
  * all. Scale: the postings table is corpus-token-pair-sized (two
  * int64s + a token string per row, no text bodies) but a k-term probe
  * reads O(matching files), not O(corpus); the weight lookup is
  * query-term-sized and broadcast into the score join.
  */
object Postings {

  /** Stage the inverted index: postings + per-token weights. Tokens are
    * whitespace-split, matching the inline q129 tokenizer; the weight
    * uses the corpus document count at staging time, so probes against
    * a stale index score against the snapshot — re-stage (or append and
    * re-derive weights) when the corpus advances, exactly the
    * [[Dedup.stageSignatureBuckets]] snapshot contract.
    *
    * The two tables are INTERDEPENDENT (weights derive from postings),
    * so the restage commits through
    * [[graft.sources.Layout.atomicStagedWrite]] — a crash mid-restage
    * leaves either the old index whole or no index (readers fail
    * loudly), never new postings paired with old weights, which would
    * score wrong silently. */
  def stagePostings(docs: DataFrame, idCol: String, textCol: String,
      path: String, numFiles: Int = 8): Unit = {
    val spark = docs.sparkSession
    graft.sources.Layout.atomicStagedWrite(spark, path) { tmp =>
      val toks = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
      val postings = toks.groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
      graft.sources.Layout.clusteredWrite(postings, s"$tmp/postings",
        Seq("tok"), numFiles)
      // (tok, doc_id) is unique in postings, so COUNT(*) per tok = df —
      // derive weights FROM the staged postings (one narrow re-read)
      // instead of re-exploding the corpus
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val dfr = spark.read.parquet(s"$tmp/postings")
        .groupBy("tok").agg(count(lit(1)).as("df"))
      graft.sources.Layout.clusteredWrite(
        dfr.crossJoin(nd)
          .select(col("tok"), col("df"),
            expr("(1000000L * n_docs) DIV df").as("w")),
        s"$tmp/weights", Seq("tok"), math.max(numFiles / 4, 1))
    }
  }

  /** Top-k TF-IDF retrieval against a [[stagePostings]] index:
    * bit-identical rows to the inline q129 scoring (score(doc) = Σ_term
    * tf · w, all-integer), but the plan scans only the index tables —
    * and of those only the files whose token range covers a query term
    * (footer-skip on the cluster column). The weight side is
    * query-term-sized after its pushed `IN` filter, so it broadcasts
    * into the score join; the global top-k is TakeOrderedAndProject
    * (per-partition heaps, no global sort). */
  def searchStaged(spark: SparkSession, path: String, terms: Seq[String],
      k: Int = 10): DataFrame = {
    require(terms.nonEmpty, "searchStaged needs at least one query term")
    val tf = spark.read.parquet(s"$path/postings")
      .filter(col("tok").isInCollection(terms))
    val w = spark.read.parquet(s"$path/weights")
      .filter(col("tok").isInCollection(terms))
      .select("tok", "w")
    tf.join(broadcast(w), Seq("tok"))
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("w")).as("score"), count(lit(1)).as("n_terms"))
      .orderBy(desc("score"), asc("doc_id")).limit(k)
  }
}
