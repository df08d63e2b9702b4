package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GraftFunctions
import graft.functions.VectorFunctions.dotExact
import graft.functions.expressions.CentroidTable
import graft.operators.Similarity

/** Parity spec for the nearest-centroid kernel (`graft_nearest_cell`,
  * reached through Similarity.assignCells) against the relational form
  * it replaces, computed here: cross join every row with every centroid,
  * dist = n2 + c_n2 − 2.0·dotExact(embedding, c_emb), and take
  * `min_by(cid, struct(dist, cid))` per row. Engineered edges: exact
  * distance ties (cid tie-break), −0.0 vs +0.0 (equal under SQL
  * ordering, so the tie-break engages), NaN (greatest; NaN = NaN),
  * NULL embedding or n2 (every distance NULL → smallest cid), a NULL
  * centroid (NULL distance sorts FIRST, so it wins every row), NULL
  * elements, int32 ids, float vs double arrays, an empty table and
  * random data. */
class NearestCellSpec extends SparkTestBase {

  private val embT = ArrayType(DoubleType)

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  /** (rid, cell) from the kernel and from the cross-join reference. */
  private def both(e: DataFrame, cents: DataFrame)
      : (Seq[(Long, Option[Long])], Seq[(Long, Option[Long])]) = {
    def rows(df: DataFrame) = df.orderBy("rid").collect().toSeq.map(r =>
      (r.getAs[Number](0).longValue,
        Option(r.get(1)).map(_.asInstanceOf[Number].longValue)))
    val kernel = Similarity.assignCells(e, Similarity.collectCentroids(cents))
      .select(col("rid"), col("cell"))
    val reference = e.crossJoin(cents)
      .withColumn("dist", col("n2") + col("c_n2") -
        lit(2.0) * dotExact(col("embedding"), col("c_emb")))
      .groupBy(col("rid"))
      .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("cell"))
    (rows(kernel), rows(reference))
  }

  private val eSchema = StructType(Seq(StructField("rid", LongType),
    StructField("embedding", embT), StructField("n2", DoubleType)))
  private val cSchema = StructType(Seq(StructField("cid", LongType),
    StructField("c_emb", embT), StructField("c_n2", DoubleType)))

  private val nz = java.lang.Double.valueOf(-0.0)
  private val nan = java.lang.Double.valueOf(Double.NaN)

  // centroids 2 and 3 are exact duplicates (tie → 2); 9 and 4 reach
  // −0.0 and +0.0 from a zero vector with n2 = −0.0 (tie → 4); 6's
  // NaN norm makes its distance NaN; 8 has a NULL element and 7 a NaN
  // element (floor(NaN) contributes 0 to the fixed-point dot)
  private val cents = Seq(
    Row(2L, Seq(1.0, 0.0), 1.0), Row(3L, Seq(1.0, 0.0), 1.0),
    Row(9L, Seq(0.0, 0.0), nz), Row(4L, Seq(0.0, 0.0), 0.0),
    Row(6L, Seq(0.5, 0.5), nan), Row(8L, Seq(null, 2.0), 4.0),
    Row(7L, Seq(Double.NaN, 3.0), 9.0))
  private val rows = Seq(
    Row(1L, Seq(1.0, 0.0), 1.0),     // on 2 and 3
    Row(2L, Seq(0.0, 0.0), nz),      // −0.0 (cid 9) vs +0.0 (cid 4)
    Row(3L, Seq(0.0, 2.0), 4.0),     // on 8 (NULL element skipped)
    Row(4L, Seq(0.0, 3.0), 9.0),     // on 7 (NaN element → 0)
    Row(5L, null, null),             // NULL embedding → smallest cid
    Row(6L, Seq(1.0, 0.0), null),    // NULL n2 → smallest cid
    Row(7L, Seq(Double.NaN, 0.0), 0.0), // NaN component
    Row(8L, Seq(0.5, 0.5), nan),     // every distance NaN → smallest cid
    Row(9L, Seq(0.0), 0.0),          // short vector: truncated dots
    Row(10L, Seq(5.0, -5.0, 7.0), 50.0))

  test("kernel matches the cross-join argmin on ties, signed zero, NaN, NULL") {
    val (k, r) = both(frame(eSchema, rows), frame(cSchema, cents))
    assert(k == r, s"kernel=$k reference=$r")
    val byRid = k.toMap
    assert(byRid(1L) == Some(2L)); assert(byRid(2L) == Some(4L))
    assert(byRid(3L) == Some(8L)); assert(byRid(4L) == Some(7L))
    assert(byRid(5L) == Some(2L)); assert(byRid(6L) == Some(2L))
    assert(byRid(8L) == Some(2L))
  }

  test("a NULL centroid sorts first: its NULL distance wins every row") {
    val withNull = cents :+ Row(5L, null, null)
    val (k, r) = both(frame(eSchema, rows), frame(cSchema, withNull))
    assert(k == r, s"kernel=$k reference=$r")
    // rows whose own distances are all NULL still tie-break to cid 2
    assert(k.forall { case (rid, cell) =>
      cell == Some(if (rid == 5L || rid == 6L) 2L else 5L) }, k)
  }

  test("int32 ids and float arrays (schema drift) assign like the reference") {
    val rnd = new scala.util.Random(7)
    def vec(n: Int) = Seq.fill(n)((rnd.nextInt(7) - 3) / 2.0f)
    val eF = frame(StructType(Seq(StructField("rid", IntegerType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("n2", DoubleType))),
      (1 to 300).map(i => Row(i, vec(4), null)))
      .withColumn("n2", dotExact(col("embedding"), col("embedding")))
    val cF = frame(StructType(Seq(StructField("cid", IntegerType),
      StructField("c_emb", ArrayType(FloatType)),
      StructField("c_n2", DoubleType))),
      (1 to 6).map(i => Row(i * 3, vec(4), null)))
      .withColumn("c_n2", dotExact(col("c_emb"), col("c_emb")))
    val (k, r) = both(eF, cF)
    assert(k == r)
    // the float corpus against a double-typed copy of the same table
    val cD = cF.withColumn("c_emb", col("c_emb").cast("array<double>"))
    assert(both(eF, cD)._1 == k)
    // the assignment keeps every input column and adds a long cell
    val out = Similarity.assignCells(eF, Similarity.collectCentroids(cF))
    assert(out.columns.toSeq == Seq("rid", "embedding", "n2", "cell"))
    assert(out.schema("cell").dataType == LongType)
  }

  test("an empty centroid table: the kernel gives NULL, assignCells no rows") {
    val e = frame(eSchema, rows)
    val none = CentroidTable(Seq.empty)
    val cells = e.select(GraftFunctions.nearestCell(col("embedding"), col("n2"),
      GraftFunctions.broadcastCentroids(spark, none))).collect()
    assert(cells.length == rows.length && cells.forall(_.isNullAt(0)))
    val (k, r) = both(e, frame(cSchema, Seq.empty))
    assert(k.isEmpty && r.isEmpty)
  }

  test("kernel matches the cross-join argmin on random data") {
    val rnd = new scala.util.Random(42)
    // coarse components force frequent exact distance ties
    def vec() = Seq.fill(5)(java.lang.Double.valueOf((rnd.nextInt(5) - 2) / 2.0))
    val e = frame(eSchema, (1 to 2000).map(i => Row(i.toLong, vec(), null)))
      .withColumn("n2", dotExact(col("embedding"), col("embedding")))
    val c = frame(cSchema, rnd.shuffle((1 to 12).toList).map(i =>
        Row(i.toLong, vec(), null)))
      .withColumn("c_n2", dotExact(col("c_emb"), col("c_emb")))
    val (k, r) = both(e, c)
    assert(k.size == 2000 && k == r)
  }

  test("the kernel runs inside whole-stage codegen; the plan holds only a handle") {
    val conf = spark.conf
    conf.set("spark.sql.codegen.fallback", "false")
    try {
      val e = frame(eSchema, rows)
      val out = Similarity.assignCells(e, Similarity.collectCentroids(
        frame(cSchema, cents)))
      val plan = out.queryExecution.executedPlan
      val fused = plan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.filter(_.child.find(_.expressions.exists(_.exists(
        _.isInstanceOf[graft.functions.expressions.NearestCell]))).isDefined)
      assert(fused.nonEmpty, plan.toString)
      val text = out.queryExecution.explainString(
        org.apache.spark.sql.execution.ExtendedMode)
      assert(text.contains("<7×2 centroids>"), text)
      // generated and interpreted paths agree
      def cells(df: DataFrame) = df.select("rid", "cell").orderBy("rid")
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
      val gen = cells(out)
      conf.set("spark.sql.codegen.wholeStage", "false")
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interp = cells(Similarity.assignCells(e, Similarity.collectCentroids(
        frame(cSchema, cents))))
      assert(gen == interp && gen.size == rows.size)
    } finally {
      conf.unset("spark.sql.codegen.fallback")
      conf.unset("spark.sql.codegen.wholeStage")
      conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
