package graft.functions.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** A coarse quantizer held on the driver: k centroids (cid, c_emb,
  * c_n2) in ascending cid order. A NULL `c_emb` is a null array, a
  * NULL element is flagged in `elemNull` (null when the row has none),
  * and a NULL `c_n2` is flagged in `n2Null`. */
final class CentroidTable(
    val cids: Array[Long],
    val embs: Array[Array[Double]],
    val elemNull: Array[Array[Boolean]],
    val n2: Array[Double],
    val n2Null: Array[Boolean]) extends Serializable {

  def size: Int = cids.length
  def dim: Int = embs.find(_ != null).fold(0)(_.length)

  /** Index of the nearest centroid to `v` (with squared norm `vn2`),
    * or -1 when the table is empty. The distance is the one the SQL
    * form `(n2 + c_n2) − 2.0 · (fixedDot / 2^58)` computes, the same
    * IEEE operations in the same order; any NULL input makes it NULL.
    * The winner is the minimum of (dist, cid) under Catalyst's
    * ordering: NULL dist first, −0.0 = +0.0, NaN greatest and NaN =
    * NaN, ties to the smaller cid. This one method serves both the
    * interpreted and the generated path of [[NearestCell]]. */
  def nearest(v: ArrayData, floatElems: Boolean, vn2Null: Boolean,
      vn2: Double): Int = {
    var best = -1
    var bestNull = false
    var bestDist = 0.0
    var j = 0
    while (j < cids.length) {
      val c = embs(j)
      val isNull = v == null || vn2Null || c == null || n2Null(j)
      val d = if (isNull) 0.0
        else (vn2 + n2(j)) -
          2.0 * (CentroidTable.fixedDot(v, floatElems, c, elemNull(j)).toDouble /
            CentroidTable.Scale)
      // rows arrive in cid order, so only a strictly smaller distance
      // displaces the incumbent: an equal one loses the cid tie-break
      if (best < 0 || (isNull && !bestNull) ||
          (!isNull && !bestNull && CentroidTable.less(d, bestDist))) {
        best = j; bestNull = isNull; bestDist = d
      }
      j += 1
    }
    best
  }
}

object CentroidTable {
  /** 2^58, the [[FixedPointDot]] scale. */
  val Scale = 2.88230376151711744e17

  /** Σ floor(v[i]·c[i]·2^58) over the shorter length, skipping NULL
    * elements on either side — [[FixedPointDot]]'s loop with `v` as its
    * left side. */
  def fixedDot(v: ArrayData, floatElems: Boolean, c: Array[Double],
      cNull: Array[Boolean]): Long = {
    val n = math.min(v.numElements(), c.length)
    var s = 0L
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i) && (cNull == null || !cNull(i))) {
        val x = if (floatElems) v.getFloat(i).toDouble else v.getDouble(i)
        s += math.floor(x * c(i) * Scale).toLong
      }
      i += 1
    }
    s
  }

  /** a < b under Catalyst's double ordering (NaN greatest, NaN = NaN,
    * −0.0 = +0.0). */
  def less(a: Double, b: Double): Boolean =
    if (a.isNaN) false else b.isNaN || a < b

  /** Build a table from (cid, c_emb, c_n2) rows in any order; a NULL
    * c_emb is a null array, a NULL element or c_n2 a null box. */
  def apply(rows: Seq[(Long, Array[java.lang.Double], java.lang.Double)])
      : CentroidTable = {
    val sorted = rows.sortBy(_._1)
    new CentroidTable(
      sorted.map(_._1).toArray,
      sorted.map(r => Option(r._2).map(_.map(x =>
        if (x == null) 0.0 else x.doubleValue)).orNull).toArray,
      sorted.map(r => Option(r._2).filter(_.contains(null))
        .map(_.map(_ == null)).orNull).toArray,
      sorted.map(r => if (r._3 == null) 0.0 else r._3.doubleValue).toArray,
      sorted.map(_._3 == null).toArray)
  }

  /** The squared norm `norm2Exact` gives a centroid: its fixed-point
    * dot with itself over 2^58, NULL elements skipped; NULL for a NULL
    * vector. */
  def norm2(c: Array[java.lang.Double]): java.lang.Double =
    if (c == null) null
    else {
      var s = 0L
      c.foreach { x =>
        if (x != null) s += math.floor(x * x * Scale).toLong
      }
      s.toDouble / Scale
    }
}

/** Handle to a broadcast [[CentroidTable]]: what a plan carries in
  * place of the k·dim centroid values, and what it prints. */
final case class Centroids(bc: Broadcast[CentroidTable], k: Int, dim: Int) {
  def table: CentroidTable = bc.value
  override def toString: String = s"<$k×$dim centroids>"
}

/** Nearest-centroid cell of one vector: the cid minimizing the squared
  * L2 distance from `embedding` (with squared norm `n2`) over a
  * driver-built centroid table — the per-row form of the cross join
  * with k centroids followed by an argmin per vector, without the join
  * or the aggregate (no corpus × k rows, no shuffle). The table reaches
  * executors as one Spark broadcast; the plan holds only its handle.
  * Distance and ordering are [[CentroidTable.nearest]]'s. NULL when the
  * table is empty; a NULL embedding or `n2` goes to the smallest cid
  * (every distance is NULL and ties break on cid).
  *
  * `embedding` is read as `array<float>` or `array<double>` natively
  * (float elements widen exactly inside the loop, as in
  * [[FixedPointDot]]); other element types implicit-cast to
  * array<double>. */
case class NearestCell(embedding: Expression, n2: Expression,
    centroids: Centroids) extends BinaryExpression with ImplicitCastInputTypes {

  override def left: Expression = embedding
  override def right: Expression = n2

  private def floatElems: Boolean =
    embedding.resolved && (embedding.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })

  override def inputTypes: Seq[DataType] =
    Seq(if (floatElems) ArrayType(FloatType) else ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_cell"

  override def eval(input: InternalRow): Any = {
    val v = embedding.eval(input).asInstanceOf[ArrayData]
    val vn2 = n2.eval(input)
    val t = centroids.table
    val i = t.nearest(v, floatElems, vn2 == null,
      if (vn2 == null) 0.0 else vn2.asInstanceOf[Double])
    if (i < 0) null else t.cids(i)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableClass = classOf[CentroidTable].getName
    val ref = ctx.addReferenceObj("centroids", centroids)
    val table = ctx.addMutableState(tableClass, "centroidTable",
      v => s"$v = $ref.table();", forceInline = true)
    val e = embedding.genCode(ctx)
    val n = n2.genCode(ctx)
    val i = ctx.freshName("nearest")
    ev.copy(code = code"""
      ${e.code}
      ${n.code}
      int $i = $table.nearest(${e.isNull} ? null : ${e.value}, $floatElems,
        ${n.isNull}, ${n.value});
      boolean ${ev.isNull} = $i < 0;
      long ${ev.value} = ${ev.isNull} ? -1L : $table.cids()[$i];
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCell =
    copy(embedding = newLeft, n2 = newRight)
}
