package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.classic.ColumnConversions.expression
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.ExpressionColumns
import graft.functions.expressions.{CentroidTable, Centroids, FixedPointDot, FixedPointVectorSum, HammingDistance, HashedSet, Md5Hash60, MinHashSlotsFromHashes, NearestCell, NgramShingles, RollingFingerprint, ShingleRepetition, SimHashBits, TokenStats}

/** Engine function registry: exposes custom Catalyst expressions to both
  * the SQL surface (`SELECT graft_hamming(a, b)`) and the Column API
  * ([[hamming]]). The wrappers build their expression directly and work
  * on any session; only SQL text needs the names ([[register]]). */
object GraftFunctions {

  private def foldedInt(e: Expression): Int = {
    require(e.foldable,
      s"graft function width/seed argument must be a literal, got: ${e.sql}")
    e.eval(null) match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case other => throw new IllegalArgumentException(
        s"graft function width/seed argument must be integral, got: $other")
    }
  }

  private def foldedString(e: Expression): String = {
    require(e.foldable,
      s"graft function word-list argument must be a literal, got: ${e.sql}")
    e.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"graft function word-list argument must be a string, got: $other")
    }
  }

  private def checked(name: String, arity: Int)(
      f: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == arity,
        s"$name expects $arity arguments, got ${exprs.length}")
      f(exprs)
    }

  /** The single (name → builder) table every path consumes — the Column
    * wrappers below, in-process [[register]] and config-injected
    * [[graft.core.GraftExtensions]]. Adding an expression here makes it
    * available on all three; maintaining two lists would silently drop
    * new functions from extensions-only deployments. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_hamming" -> checked("graft_hamming", 2)(e => HammingDistance(e(0), e(1))),
    "graft_fixed_dot" -> checked("graft_fixed_dot", 2)(e => FixedPointDot(e(0), e(1))),
    "graft_word_shingles" -> checked("graft_word_shingles", 2)(e =>
      NgramShingles(e(0), foldedInt(e(1)), word = true)),
    "graft_char_ngrams" -> checked("graft_char_ngrams", 2)(e =>
      NgramShingles(e(0), foldedInt(e(1)), word = false)),
    "graft_word_ngrams_all" -> checked("graft_word_ngrams_all", 2)(e =>
      NgramShingles(e(0), foldedInt(e(1)), word = true, distinct = false)),
    "graft_hash64" -> checked("graft_hash64", 2)(e => Md5Hash60(e(0), foldedInt(e(1)))),
    // one MinHash kernel pair: a string-set signature hashes each element
    // once (HashedSet), then takes the k slot minima over the hashes
    "graft_minhash_slots" -> checked("graft_minhash_slots", 2)(e =>
      MinHashSlotsFromHashes(HashedSet(e(0)), foldedInt(e(1)))),
    "graft_hashed_set" -> checked("graft_hashed_set", 1)(e => HashedSet(e(0))),
    "graft_minhash_from_hashes" -> checked("graft_minhash_from_hashes", 2)(e =>
      MinHashSlotsFromHashes(e(0), foldedInt(e(1)))),
    "graft_simhash" -> checked("graft_simhash", 2)(e =>
      SimHashBits(e(0), foldedInt(e(1)))),
    "graft_fpvec_sum" -> checked("graft_fpvec_sum", 1)(e => FixedPointVectorSum(e(0))),
    // list args arrive U+001F-joined (see tokenStats below): a comma
    // delimiter corrupted comma-bearing stopwords, and "".split gave
    // Seq("") — the empty token, counted as a stopword — where an empty
    // LIST was meant
    "graft_token_stats" -> checked("graft_token_stats", 4)(e =>
      TokenStats(e(0), foldedInt(e(1)),
        foldedString(e(2)).split('\u001F').toSeq.filter(_.nonEmpty),
        foldedString(e(3)).split('\u001F').toSeq.filter(_.nonEmpty))),
    "graft_rolling_fp" -> checked("graft_rolling_fp", 1)(e => RollingFingerprint(e(0))),
    "graft_shingle_rep" -> checked("graft_shingle_rep", 2)(e =>
      ShingleRepetition(e(0), foldedInt(e(1)))))

  private val byName = builders.toMap

  /** The expression the SQL name `name` resolves to, built from `args`
    * with the same checks but no registry lookup, so it is valid in any
    * session; an aggregate is wrapped as the analyzer wraps one. */
  private def compiled(name: String, args: Column*): Column =
    column(byName(name)(args.map(expression)))

  private def column(e: Expression): Column = ExpressionColumns.column(e match {
    case agg: AggregateFunction => agg.toAggregateExpression()
    case other => other
  })

  /** SQL names + [[graft.plans.CompileHashRewrite]]; called only by
    * [[graft.core.GraftSession.local]] (idempotent). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "built-in")
    }
    // post-session twin of GraftExtensions' injectOptimizerRule (idempotent)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.CompileHashRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.CompileHashRewrite
  }

  /** Fixed-point (2^58) scaled dot product of two double-array columns
    * (codegen'd; same values as the HOF formulation). */
  def fixedDot(a: Column, b: Column): Column =
    compiled("graft_fixed_dot", a, b)

  /** Hamming distance of two int64 signature columns (codegen'd). */
  def hamming(a: Column, b: Column): Column =
    compiled("graft_hamming", a, b)

  /** Distinct space-joined n-token shingles (compiled; same semantics as
    * TextFunctions.shingles). */
  def wordShingles(text: Column, n: Int): Column =
    compiled("graft_word_shingles", text, lit(n))

  /** Distinct sliding character n-grams (compiled; same semantics as
    * TextFunctions.charNgrams). */
  def charNgrams(text: Column, n: Int): Column =
    compiled("graft_char_ngrams", text, lit(n))

  /** ALL space-joined n-token shingles in order, duplicates kept
    * (compiled) — for frequency analysis, not set hashing. */
  def wordShinglesAll(text: Column, n: Int): Column =
    compiled("graft_word_ngrams_all", text, lit(n))

  /** Portable 60-bit md5-derived hash (compiled; same values as
    * TextFunctions.hash64 and the DuckDB mirror). */
  def hash64c(v: Column, seed: Int): Column =
    compiled("graft_hash64", v, lit(seed))

  /** k-wide MinHash signature of a string-set column as ARRAY<BIGINT>:
    * [[minhashSlotsFromHashes]] over [[hashedSet]] (compiled; NULL for
    * empty sets — same family/values as the HOF `TextFunctions.minhashSig`). */
  def minhashSlots(set: Column, k: Int): Column =
    compiled("graft_minhash_slots", set, lit(k))

  /** Per-element hash60 of a string set — the shuffle-compact carry form
    * and the input of every MinHash signature (compiled). */
  def hashedSet(set: Column): Column =
    compiled("graft_hashed_set", set)

  /** MinHash signature from a [[hashedSet]] column (compiled; identical
    * values to [[minhashSlots]] over the original strings). */
  def minhashSlotsFromHashes(set: Column, k: Int): Column =
    compiled("graft_minhash_from_hashes", set, lit(k))

  /** SimHash of a token-set column (compiled one-pass; same values as the
    * vote-sum form). */
  def simhashBits(set: Column, bits: Int): Column =
    compiled("graft_simhash", set, lit(bits))

  /** Elementwise Σ floor(x_j·2^40) aggregate over array columns — the
    * centroid partial sums without a dimension-explode (see
    * FixedPointVectorSum). */
  def fpVecSum(arr: Column): Column =
    compiled("graft_fpvec_sum", arr)

  /** One-pass compiled token statistics:
    * struct(n_tokens, n_distinct, n_shingles, n_stop, n_marker) — the
    * values of the five HOF stats in TextFunctions, one tokenization. */
  def tokenStats(text: Column, shingleN: Int,
      stopwords: Seq[String], markers: Seq[String]): Column = {
    // U+001F (unit separator) cannot appear in a whitespace-delimited
    // token, so the list round-trip is lossless — including the empty
    // list and comma-bearing entries like "1,000"
    require(stopwords.forall(_.nonEmpty) && markers.forall(_.nonEmpty),
      "tokenStats: empty-string stopwords/markers are not representable")
    compiled("graft_token_stats", text, lit(shingleN),
      lit(stopwords.mkString("\u001F")), lit(markers.mkString("\u001F")))
  }

  /** Order-sensitive rolling-hash document fingerprint (compiled; same
    * values as TextFunctions.rollingFingerprint). */
  def rollingFp(text: Column): Column =
    compiled("graft_rolling_fp", text)

  /** Per-doc n-token-shingle repetition stats struct(top_c, total_c) —
    * the most-frequent-n-gram share signal computed row-local (compiled;
    * same counts as explode(wordShinglesAll) + groupBy). */
  def shingleRep(text: Column, n: Int): Column =
    compiled("graft_shingle_rep", text, lit(n))

  /** Nearest-centroid cell of each row's (embedding, n2) over a
    * broadcast centroid table (see NearestCell). Column API only: the
    * table is built on the driver, so there is no SQL form. */
  def nearestCell(embedding: Column, n2: Column, centroids: Centroids): Column =
    column(NearestCell(expression(embedding), expression(n2), centroids))

  /** Broadcast a driver-built centroid table for [[nearestCell]]. */
  def broadcastCentroids(spark: SparkSession, t: CentroidTable): Centroids =
    Centroids(spark.sparkContext.broadcast(t), t.size, t.dim)
}
