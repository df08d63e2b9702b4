package e2ebench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A `noop`-style batch sink that also fingerprints what it consumes.
  *
  * Like Spark's `noop` format it drives the full physical plan through the
  * DataSource V2 write path and keeps nothing; unlike it, every writer
  * folds its rows into an order-independent digest (row count plus two
  * 64-bit sums of per-row hashes), and the driver-side commit combines
  * the partitions' digests under the `token` option, where the caller
  * collects it with [[DigestSink.take]].
  *
  * Row hashes are taken over typed values, not row bytes: doubles are
  * rounded to 9 significant digits and floats to 6, so a result that
  * differs only in the last bits of a floating-point reduction (whose
  * order follows task scheduling) keeps its digest, while any changed
  * key, count or value beyond that precision does not.
  */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new DigestSink.DigestTable(properties.getOrDefault("token", "default"))
}

object DigestSink {
  private val results = new ConcurrentHashMap[String, String]()

  /** The digest committed under `token`, removed on read. */
  def take(token: String): Option[String] = Option(results.remove(token))

  final case class Part(rows: Long, s1: Long, s2: Long) extends WriterCommitMessage

  private class DigestTable(token: String) extends Table with SupportsWrite {
    override def name(): String = "digest"
    override def schema(): StructType = new StructType()
    override def capabilities(): java.util.Set[TableCapability] = {
      val s = new java.util.HashSet[TableCapability]()
      s.add(TableCapability.BATCH_WRITE)
      s.add(TableCapability.TRUNCATE)
      s.add(TableCapability.ACCEPT_ANY_SCHEMA)
      s
    }
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new DigestBatch(token, info.schema())
        }
      }
  }

  private class DigestBatch(token: String, schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new WriterFactory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: Part => p }
      val rows = parts.map(_.rows).sum
      val s1 = parts.foldLeft(schemaHash(schema))(_ + _.s1)
      val s2 = parts.foldLeft(0L)(_ + _.s2)
      results.put(token, f"$rows:$s1%016x$s2%016x")
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private class WriterFactory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private var rows, s1, s2 = 0L
        override def write(r: InternalRow): Unit = {
          val h = hashRow(r, schema)
          rows += 1; s1 += h; s2 += mix(h ^ 0x5bd1e995L)
        }
        override def commit(): WriterCommitMessage = Part(rows, s1, s2)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }

  private def schemaHash(schema: StructType): Long =
    schema.fields.foldLeft(17L)((h, f) => combine(h, str(f.name)))

  /** splitmix64 finalizer. */
  private def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  private def combine(h: Long, x: Long): Long = mix(h * 31 + x + 0x9e3779b97f4a7c15L)
  private def str(s: String): Long = {
    val u = UTF8String.fromString(s)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
  }

  private def roundSig(d: Double, digits: Int): Long =
    if (d == 0.0) 0L
    else if (d.isNaN || d.isInfinite) java.lang.Double.doubleToLongBits(d)
    else {
      val e = math.floor(math.log10(math.abs(d))).toInt
      combine(math.round(d / math.pow(10, e - digits + 1)), e)
    }

  private def hashRow(r: InternalRow, st: StructType): Long = {
    var h = 1L
    var i = 0
    while (i < st.length) {
      h = combine(h, hashAt(r, i, st.fields(i).dataType))
      i += 1
    }
    h
  }

  private def hashAt(r: InternalRow, i: Int, dt: DataType): Long =
    if (r.isNullAt(i)) 0x6e756c6cL else dt match {
      case BooleanType => if (r.getBoolean(i)) 1L else 2L
      case ByteType => r.getByte(i).toLong
      case ShortType => r.getShort(i).toLong
      case IntegerType | DateType => r.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType => r.getLong(i)
      case FloatType => roundSig(r.getFloat(i).toDouble, 6)
      case DoubleType => roundSig(r.getDouble(i), 9)
      case _: StringType =>
        val u = r.getUTF8String(i)
        XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
      case BinaryType =>
        val b = r.getBinary(i)
        XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      case d: DecimalType =>
        str(r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.stripTrailingZeros.toPlainString)
      case s: StructType => hashRow(r.getStruct(i, s.length), s)
      case a: ArrayType => hashArray(r.getArray(i), a.elementType)
      case m: MapType => hashMap(r.getMap(i), m)
      case other => str(r.get(i, other).toString)
    }

  private def hashArray(a: ArrayData, et: DataType): Long = {
    var h = 3L
    var i = 0
    while (i < a.numElements()) {
      h = combine(h, hashArrayAt(a, i, et))
      i += 1
    }
    h
  }

  private def hashArrayAt(a: ArrayData, i: Int, et: DataType): Long =
    if (a.isNullAt(i)) 0x6e756c6cL else et match {
      case BooleanType => if (a.getBoolean(i)) 1L else 2L
      case ByteType => a.getByte(i).toLong
      case ShortType => a.getShort(i).toLong
      case IntegerType | DateType => a.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType => a.getLong(i)
      case FloatType => roundSig(a.getFloat(i).toDouble, 6)
      case DoubleType => roundSig(a.getDouble(i), 9)
      case _: StringType =>
        val u = a.getUTF8String(i)
        XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
      case s: StructType => hashRow(a.getStruct(i, s.length), s)
      case t: ArrayType => hashArray(a.getArray(i), t.elementType)
      case m: MapType => hashMap(a.getMap(i), m)
      case other => str(a.get(i, other).toString)
    }

  /** Maps are unordered: sum of per-entry hashes. */
  private def hashMap(m: MapData, mt: MapType): Long = {
    val ks = m.keyArray(); val vs = m.valueArray()
    var h = 5L
    var i = 0
    while (i < m.numElements()) {
      h += combine(hashArrayAt(ks, i, mt.keyType), hashArrayAt(vs, i, mt.valueType))
      i += 1
    }
    h
  }
}
