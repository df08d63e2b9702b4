package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-data-pipeline surface
  * (SURVEY §2.8 U6): tokenization, shingling, portable 64-bit hashing,
  * MinHash signatures, SimHash, rolling-hash fingerprints, quality
  * scoring and language-ID heuristics.
  *
  * Everything here is pure `org.apache.spark.sql.functions` composition —
  * no UDFs — so Catalyst sees through every expression and the whole text
  * pipeline stays inside whole-stage codegen-friendly plans and never
  * shuffles on its own. All hashes are md5-derived, which makes every
  * function reproducible in any engine (the DuckDB oracle mirrors them
  * exactly).
  */
object TextFunctions {

  /** Whitespace tokens (corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  /** Distinct n-token shingles joined with a space; empty array when the
    * document has fewer than n tokens. */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct character n-grams; empty array for texts shorter than n. */
  def charNgrams(text: Column, n: Int): Column =
    when(length(text) >= n,
      array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Portable 60-bit hash: first 15 hex chars of md5("<v>:<seed>").
    * DuckDB mirror: CAST(('0x'||substr(md5(v||':<seed>'),1,15)) AS BIGINT).
    */
  def hash64(v: Column, seed: Int): Column =
    conv(substring(md5(concat(v, lit(s":$seed"))), 1, 15), 16, 10).cast("long")

  /** xor-mix constant for minhash slot i (md5-derived; one shared family
    * across the HOF variant here and the compiled kernel
    * (`MinHashSlotsFromHashes`) — DuckDB mirror:
    * CAST(('0x'||substr(md5('mix:i'),1,15)) AS BIGINT)). */
  def mixConstant(i: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"mix:$i".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** MinHash slot `i` over a set (array) column: min over elements of
    * hash64(t, 0) XOR mixConstant(i). HOF form — convenient in a single
    * projection; for bulk signature computation prefer the compiled
    * [[graft.operators.Dedup.minhashSignatures]] (one hash per element,
    * all k slots in one pass). */
  def minhash(set: Column, i: Int): Column =
    array_min(transform(set, t => hash64(t, 0).bitwiseXOR(lit(mixConstant(i)))))

  /** k-wide MinHash signature as k separate columns (mh0..mh{k-1}). */
  def minhashSig(set: Column, k: Int): Seq[Column] =
    (0 until k).map(s => minhash(set, s).as(s"mh$s"))

  /** SimHash over the distinct tokens: for each bit, sum +1/-1 votes from
    * token hashes; bit set iff the vote is positive. `bits` is a compile
    * time constant so the per-bit aggregates unroll into the plan. */
  def simhash(text: Column, bits: Int): Column = {
    val hs = transform(distinctTokens(text), t => hash64(t, 0))
    (0 until bits).map { b =>
      val vote = aggregate(hs, lit(0L),
        (acc, h) => acc + (shiftright(h, b).bitwiseAND(lit(1L)) * 2 - 1))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Order-sensitive rolling (polynomial) fingerprint of the token stream:
    * fold h -> (h*31 + tokenHash) mod (2^31-1), seeded with 7. Compiled
    * ([[graft.functions.expressions.RollingFingerprint]]) — the
    * transform+aggregate HOF pair this replaces ran two interpreted
    * lambda walks per token (kept bit-identical; parity is spec-tested). */
  def rollingFingerprint(text: Column): Column =
    GraftFunctions.rollingFp(text)

  /** The HOF formulation of [[rollingFingerprint]] — retained as the
    * readable reference semantics and as the parity oracle for the
    * compiled expression (FunctionsSpec). */
  private[graft] def rollingFingerprintHof(text: Column): Column = {
    val M = 2147483647L
    val hs = transform(tokens(text), t => pmod(hash64(t, 0), lit(M)))
    aggregate(hs, lit(7L), (acc, h) => pmod(acc * 31 + h, lit(M)))
  }

  /** Mean token length assuming single-space joining. */
  def avgTokenLen(text: Column): Column = {
    val n = tokenCount(text)
    (length(text) - (n - 1)).cast("double") / n
  }

  val defaultStopwords: Seq[String] = Seq("the", "a")

  /** English marker tokens for the language-ID heuristic. */
  val markerWords: Seq[String] = Seq("the", "a", "of", "and", "is")

  /** One-pass compiled token statistics
    * ([[graft.functions.expressions.TokenStats]]): every stat below
    * derives from this struct, and identical calls within one projection
    * share a single tokenization via subexpression elimination — the
    * interpreted `filter`/`transform` HOFs they replace walked the token
    * array once per stat per row. Values are bit-identical to the HOF
    * forms (spec-tested). */
  def tokenStatsOf(text: Column,
      stopwords: Seq[String] = defaultStopwords): Column =
    GraftFunctions.tokenStats(text, 3, stopwords, markerWords)

  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val st = tokenStatsOf(text, stopwords)
    st.getField("n_stop").cast("double") / st.getField("n_tokens")
  }

  /** Heuristic quality score in [0,1]: length, non-stopword density and
    * token-length components (deterministic double arithmetic). */
  def qualityScore(text: Column): Column =
    least(lit(1.0), tokenStatsOf(text).getField("n_tokens").cast("double") / 100.0) * 0.5 +
      (lit(1.0) - stopwordRatio(text)) * 0.3 +
      least(lit(1.0), avgTokenLen(text) / 8.0) * 0.2

  /** n-gram/stopword language-ID heuristic: 'en' when English marker
    * tokens appear, else 'und' (undetermined). */
  def langId(text: Column): Column =
    when(tokenStatsOf(text).getField("n_marker") > 0, lit("en"))
      .otherwise(lit("und"))

  /** Token-window chunking for training pipelines: split a document into
    * windows of `size` tokens advancing by `size - overlap` (so
    * consecutive chunks share `overlap` tokens). Returns an array of
    * space-joined chunk strings; a doc shorter than `size` yields one
    * chunk (itself). Pure built-ins — the per-doc chunk count is small,
    * so the interpreted HOF cost is immaterial (unlike per-shingle work).
    */
  def chunks(text: Column, chunkSize: Int, overlap: Int): Column = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    val toks = tokens(text)
    val n = size(toks)
    val nChunks = greatest(lit(1L),
      ceil((n - lit(overlap)).cast("double") / stride).cast("long"))
    transform(sequence(lit(0L), nChunks - 1),
      i => array_join(slice(toks, (i * stride + 1).cast("int"), lit(chunkSize)), " "))
  }

  /** PII-style redaction for training-data pipelines: email-shaped spans →
    * `[EMAIL]`, then 6+-digit runs (account/ID-like) → `[ID]`. Order
    * matters — emails are masked first so their digit runs don't get
    * double-masked. Pure per-row codegen'd `regexp_replace` (global
    * replace in both Spark and the DuckDB mirror with flag 'g'); patterns
    * kept to the regex subset with identical semantics in both engines. */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[A-Za-z0-9#._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
      "[0-9]{6,}", "[ID]")
}
