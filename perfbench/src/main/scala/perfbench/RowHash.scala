package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Reduces a query result to (row count, order-insensitive hash) in one
  * distributed pass over the executed plan.
  *
  * The plan runs in full: every output column is read and the final sort
  * executes, unlike `count()`, which lets Catalyst prune projections and
  * drop the sort. Each row hashes its columns in name order (column order
  * is presentation, as in the oracle compare); row hashes are summed, so
  * the result ignores row order but counts duplicates. Doubles are
  * rounded to 10 significant digits so that last-bit noise from a
  * different summation order does not read as a wrong answer. */
object RowHash {

  def of(df: DataFrame): (Long, Long) = {
    val fields = df.schema.fields
    val order = fields.indices.sortBy(i => fields(i).name).toArray
    val types = fields.map(_.dataType)
    df.queryExecution.toRdd
      .mapPartitions { rows =>
        var n = 0L
        var sum = 0L
        rows.foreach { r => n += 1; sum += row(r, order, types) }
        Iterator.single((n, sum))
      }
      .collect()
      .foldLeft((0L, 0L)) { case ((n, h), (pn, ph)) => (n + pn, h + ph) }
  }

  def row(r: InternalRow, order: Array[Int], types: Array[DataType]): Long = {
    val h = new Fnv
    order.foreach(i => value(h, r, i, types(i)))
    mix(h.h)
  }

  /** splitmix64 finalizer: spreads FNV's low-entropy high bits so that a
    * sum of row hashes stays sensitive to every row. */
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  final class Fnv {
    var h: Long = 0xcbf29ce484222325L
    def byte(b: Int): Unit = { h ^= (b & 0xff); h *= 0x100000001b3L }
    def long(v: Long): Unit = {
      var i = 0
      while (i < 8) { byte((v >>> (8 * i)).toInt); i += 1 }
    }
    def bytes(a: Array[Byte]): Unit = { long(a.length.toLong); a.foreach(b => byte(b)) }
  }

  def roundSig(d: Double): Double =
    if (d == 0.0 || d.isNaN || d.isInfinite) d
    else {
      val scale = math.pow(10, 9 - math.floor(math.log10(math.abs(d))))
      math.rint(d * scale) / scale
    }

  private def dbl(h: Fnv, d: Double): Unit = {
    h.byte(3)
    val r = roundSig(d)
    // one bit pattern for NaN and for both zeros
    h.long(if (r.isNaN) 0x7ff8000000000000L
      else java.lang.Double.doubleToLongBits(if (r == 0.0) 0.0 else r))
  }

  /** Ordinal `i` of a row, struct or array, hashed by its Spark type. */
  private def value(h: Fnv, g: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      i: Int, dt: DataType): Unit =
    if (g.isNullAt(i)) h.byte(0)
    else dt match {
      case BooleanType => h.byte(1); h.byte(if (g.getBoolean(i)) 1 else 0)
      case ByteType => h.byte(2); h.long(g.getByte(i).toLong)
      case ShortType => h.byte(2); h.long(g.getShort(i).toLong)
      case IntegerType => h.byte(2); h.long(g.getInt(i).toLong)
      case LongType => h.byte(2); h.long(g.getLong(i))
      case FloatType => dbl(h, g.getFloat(i).toDouble)
      case DoubleType => dbl(h, g.getDouble(i))
      case t: DecimalType =>
        h.byte(4)
        h.bytes(g.getDecimal(i, t.precision, t.scale).toJavaBigDecimal
          .stripTrailingZeros.toPlainString.getBytes("UTF-8"))
      case _: StringType => h.byte(5); h.bytes(g.getUTF8String(i).getBytes)
      case BinaryType => h.byte(6); h.bytes(g.getBinary(i))
      case DateType => h.byte(7); h.long(g.getInt(i).toLong)
      case TimestampType | TimestampNTZType => h.byte(8); h.long(g.getLong(i))
      case ArrayType(et, _) =>
        val a: ArrayData = g.getArray(i)
        h.byte(9); h.long(a.numElements().toLong)
        var j = 0
        while (j < a.numElements()) { value(h, a, j, et); j += 1 }
      case MapType(kt, vt, _) =>
        // entry order is construction order, not content: sum entries
        val m: MapData = g.getMap(i)
        val (ks, vs) = (m.keyArray(), m.valueArray())
        var acc = 0L
        var j = 0
        while (j < m.numElements()) {
          val e = new Fnv
          value(e, ks, j, kt); value(e, vs, j, vt)
          acc += mix(e.h); j += 1
        }
        h.byte(10); h.long(acc)
      case st: StructType =>
        val s = g.getStruct(i, st.size)
        h.byte(11)
        st.fields.indices.foreach(j => value(h, s, j, st.fields(j).dataType))
      case other =>
        h.byte(12); h.bytes(String.valueOf(g.get(i, other)).getBytes("UTF-8"))
    }
}
