package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Row count and an order-insensitive hash of the rows a frame's final
  * physical plan produces. It runs through `queryExecution.toRdd`, so
  * Catalyst cannot prune the final sort or projection the way it can
  * under `count()`. Rows combine by addition (a multiset hash); within a
  * row, fields and array elements combine in order. Doubles round to
  * their 32 highest mantissa bits, which absorbs summation-order jitter
  * in the last places without hiding a wrong value. Rounding, not
  * truncation: a value with a short mantissa, such as a whole number,
  * sits on a truncation boundary, where one ulp of jitter downwards
  * would change its hash, but in the middle of a rounding interval. A
  * value within a few ulps of a rounding midpoint (odds about 2^-18 for
  * a few ulps of jitter) can still round either way and fail the check. */
object RowHash {

  private def fmix(x: Long): Long = {
    var h = x
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  private def bytes(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)

  private def double(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else (java.lang.Double.doubleToLongBits(d + 0.0) + 0x80000L) & ~0xfffffL

  def value(v: Any, dt: DataType): Long =
    if (v == null) 0x5bd1e995L
    else dt match {
      case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
      case ByteType => v.asInstanceOf[Byte].toLong
      case ShortType => v.asInstanceOf[Short].toLong
      case IntegerType | DateType | _: YearMonthIntervalType =>
        v.asInstanceOf[Int].toLong
      case LongType | TimestampType | TimestampNTZType |
          _: DayTimeIntervalType => v.asInstanceOf[Long]
      case FloatType => double(v.asInstanceOf[Float].toDouble)
      case DoubleType => double(v.asInstanceOf[Double])
      case _: StringType =>
        val s = v.asInstanceOf[UTF8String]
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      case BinaryType => bytes(v.asInstanceOf[Array[Byte]])
      case _: DecimalType =>
        bytes(v.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal.stripTrailingZeros.toString.getBytes("UTF-8"))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        var h = 17L
        var i = 0
        while (i < a.numElements()) {
          h = fmix(h * 31 + value(if (a.isNullAt(i)) null else a.get(i, et), et))
          i += 1
        }
        h
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val (ks, vs) = (m.keyArray(), m.valueArray())
        var h = 19L
        var i = 0
        while (i < m.numElements()) {
          val vv = if (vs.isNullAt(i)) null else vs.get(i, vt)
          h += fmix(value(ks.get(i, kt), kt) * 31 + value(vv, vt))
          i += 1
        }
        h
      case st: StructType => row(v.asInstanceOf[InternalRow], st)
      case other => bytes(String.valueOf(v).getBytes("UTF-8")) ^ other.hashCode
    }

  def row(r: InternalRow, st: StructType): Long = {
    var h = 23L
    var i = 0
    while (i < st.length) {
      val dt = st(i).dataType
      h = fmix(h * 31 + value(if (r.isNullAt(i)) null else r.get(i, dt), dt))
      i += 1
    }
    h
  }

  /** (rows, hash) of the frame's final plan; executes it once. */
  def of(df: DataFrame): (Long, Long) = {
    val st = df.schema
    df.queryExecution.toRdd
      .mapPartitions { it =>
        var n = 0L
        var h = 0L
        it.foreach { r => n += 1; h += fmix(row(r, st)) }
        Iterator((n, h))
      }
      .collect()
      .foldLeft((0L, 0L)) { case ((n, h), (pn, ph)) => (n + pn, h + ph) }
  }
}
