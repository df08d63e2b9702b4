package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector ops over `ARRAY<FLOAT>` embedding columns (SURVEY §2.8 U6).
  *
  * Implemented with built-in higher-order functions (`zip_with` +
  * `aggregate`) per SURVEY §7.3 — no UDFs, no collect. Dot products and
  * norms accumulate in exact DECIMAL(38,18) so results are
  * order-independent and bit-identical to the DuckDB oracle; the final
  * value is a double.
  */
object VectorFunctions {

  /** Fixed-point scale 2^58. Products of float32 pairs are exact doubles
    * (48-bit mantissa); multiplying by a power of two is exact; floor is
    * deterministic — so floor(x*y*2^58) is the same integer in every IEEE
    * engine, and the int64 sum is exact (|sum| ≤ 64·0.25·2^58 < 2^63).
    * Decimal casts are NOT portable (DuckDB converts via double
    * arithmetic, Spark via BigDecimal — last-ulp drift), hence fixed
    * point. DuckDB mirror:
    * SUM(CAST(floor(x*y*2^58) AS BIGINT))/2^58. */
  private val Scale = 2.88230376151711744e17 // 2^58

  private def scaledSum(products: Column): Column =
    aggregate(
      transform(products, v => floor(v * Scale).cast("long")),
      lit(0L), (acc, v) => acc + v)
      .cast("double") / Scale

  /** HOF formulation (interpreted) — reference implementation; the
    * codegen'd [[dotExact]] must produce identical values (tested). */
  def dotExactHof(a: Column, b: Column): Column =
    scaledSum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  /** Exact (fixed-point) dot product of two float/double-array columns —
    * codegen'd custom expression; float elements widen per-element
    * INSIDE the loop (exact, so values equal the HOF form bit-for-bit)
    * rather than through a per-row `cast(array<double>)` that would
    * materialize a fresh array per side per row (see FixedPointDot's
    * scaladoc for the at-scale cost). */
  def dotExact(a: Column, b: Column): Column =
    GraftFunctions.fixedDot(a, b).cast("double") / Scale

  /** Exact squared L2 norm. */
  def norm2Exact(a: Column): Column = dotExact(a, a)

  /** Cosine from a precomputed dot and squared norms.
    *
    * CONTRACT (VECCHECK gate): cosine with a zero-norm side is NULL —
    * the similarity is undefined, not 0 and not NaN. `try_divide`
    * returns NULL exactly when the divisor is 0, which is also what
    * DuckDB's plain `/` does on doubles, so every `dot/(sqrt(a.n2)*
    * sqrt(b.n2))` mirror agrees with no mirror-side change; a plain `/`
    * here would THROW under ANSI mode the first time a zero vector (or
    * one whose components all floor to 0 at the fixed-point scale)
    * reaches a cosine. NULL cosines then rank LAST in the
    * (cosine DESC, id) top-k windows in both engines (Spark DESC =
    * NULLS LAST = DuckDB's default), and fail `cosine >= t` thresholds
    * in both. */
  def cosineFrom(dot: Column, n2a: Column, n2b: Column): Column =
    try_divide(dot, sqrt(n2a) * sqrt(n2b))

  /** Deterministic pseudo-random hyperplane weights in [-1, 1), derived
    * from md5 so the DuckDB oracle can reproduce them exactly:
    * w(p, j) = hex15(md5("plane:p:j")) / 2^60 * 2 - 1.
    */
  def planeWeights(p: Int, dim: Int): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (1 to dim).map { j =>
      val hex = md.digest(s"plane:$p:$j".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16).toDouble / 1.152921504606846976e18 * 2.0 - 1.0
    }
  }

  /** Random-hyperplane LSH bucket id (signature of `planes` sign bits),
    * over global plane indices [offset, offset + planes) — `offset`
    * selects an INDEPENDENT plane set from the same md5-derived family
    * (set s of width w uses offset = s·w), which is what OR-amplified
    * multi-table LSH needs: distinct tables, one reproducible weight
    * source. */
  def lshBucket(emb: Column, planes: Int, dim: Int, offset: Int = 0): Column =
    (0 until planes).map { i =>
      val d = dotExact(emb, typedlit(planeWeights(offset + i, dim)))
      when(d > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
}
