package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{ImplicitCastInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared md5-60 element hashing for the signature expressions (seed 0):
  * the value of `CAST(('0x'||substr(md5(v||':0'),1,15)) AS BIGINT)` per
  * element — one shared derivation with [[Md5Hash60]]. */
private[expressions] object SigHash {
  private val suffix = ":0".getBytes("UTF-8")
  def hash60(s: UTF8String): Long = Md5Hash60.hash60(s, suffix)
}

/** SimHash of a token-set column in ONE compiled pass: per element, +1/−1
  * votes on each of `bits` bit positions of hash60(t); bit set iff its
  * vote sum is positive. Identical values to the explode + 60-column
  * grouped-sum form (and its DuckDB mirror) for non-empty, non-null
  * token sets — the contract of `array_distinct(split(...))`, which
  * always yields ≥ 1 element — but as a pure projection: no explode, no
  * shuffle, no wide aggregation buffers. Outside that contract: NULL
  * input → NULL; NULL elements are skipped; an empty/all-NULL set yields
  * signature 0 (the explode form emits no row at all for such docs). */
case class SimHashBits(child: Expression, bits: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(bits >= 1 && bits <= 60, s"bits must be in [1,60], got $bits")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  def compute(arr: ArrayData): Long = {
    val votes = new Array[Int](bits)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = SigHash.hash60(arr.getUTF8String(i))
        var b = 0
        while (b < bits) {
          votes(b) += (((h >>> b) & 1L).toInt * 2) - 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash", this, classOf[SimHashBits].getName)
    nullSafeCodeGen(ctx, ev, input => s"${ev.value} = $ref.compute($input);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashBits =
    copy(child = newChild)
}

/** Per-element 60-bit hash of a string-set column: element i →
  * hash60(element) — [[SigHash]]'s md5-60 family (seed 0). The first half
  * of the engine's one MinHash kernel pair: a signature is always
  * [[MinHashSlotsFromHashes]] over this output (`graft_minhash_slots`
  * builds exactly that composition), so every element is hashed once,
  * not once per slot. The hashed set is also the CARRY form: shipping
  * shingle sets through a shuffle as strings costs 2–4× the bytes of
  * their hashes, and every set-verification consumer (exact Jaccard /
  * containment) only needs element IDENTITY, never content — intersect
  * and size over the hashed set give identical cardinalities up to 60-bit
  * collisions (P ≈ |set|²/2⁶¹ per doc — negligible at any corpus size,
  * and strictly smaller than the MinHash banding's own false-negative
  * probability). Distinctness is preserved (distinct strings → distinct
  * hashes, same caveat). NULL input → NULL; NULL elements are skipped
  * ("not in the set"), so an all-NULL set hashes to the empty set. */
case class HashedSet(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hashed_set"

  def compute(arr: ArrayData): ArrayData = {
    if (arr == null) return null
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    var m = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        out(m) = SigHash.hash60(arr.getUTF8String(i))
        m += 1
      }
      i += 1
    }
    new GenericArrayData(if (m == n) out else java.util.Arrays.copyOf(out, m))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hashedset", this, classOf[HashedSet].getName)
    nullSafeCodeGen(ctx, ev, input => s"${ev.value} = $ref.compute($input);")
  }

  override protected def withNewChildInternal(newChild: Expression): HashedSet =
    copy(child = newChild)
}

/** k-wide MinHash signature over a PRE-HASHED set ([[HashedSet]]
  * output), in one compiled pass: slot i = min over elements of
  * h XOR mixConstant(i) — the same md5-derived family as the HOF mirror
  * [[graft.functions.TextFunctions.minhash]] and the DuckDB oracle.
  * Returns ARRAY<BIGINT>(k); NULL for a NULL or empty input set
  * (matching the oracle's list_min over [] → all-NULL slots), so an
  * all-NULL string set, which [[HashedSet]] empties, also gives NULL. A
  * pure per-row projection — no explode and no grouped aggregation. */
case class MinHashSlotsFromHashes(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(k >= 1, s"signature width must be >= 1, got $k")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_from_hashes"

  private val mix: Array[Long] =
    Array.tabulate(k)(graft.functions.TextFunctions.mixConstant)

  def compute(arr: ArrayData): ArrayData = {
    if (arr == null || arr.numElements() == 0) return null
    val slots = Array.fill(k)(Long.MaxValue)
    var i = 0
    var seen = false
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen = true
        val h = arr.getLong(i)
        var j = 0
        while (j < k) {
          val v = h ^ mix(j)
          if (v < slots(j)) slots(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!seen) return null
    new GenericArrayData(slots)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mhfh", this, classOf[MinHashSlotsFromHashes].getName)
    nullSafeCodeGen(ctx, ev, input => s"""
      ${ev.value} = $ref.compute($input);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSlotsFromHashes =
    copy(child = newChild)
}
