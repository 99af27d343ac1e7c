package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, XXH64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Order-insensitive fingerprint of a query's full result: the row count
  * plus the wrapping sum of one 64-bit hash per row over every column.
  *
  * The action executes the query's own final physical plan
  * (`queryExecution.toRdd`), so the final sort, every projected column and
  * every join run exactly as a user writing the result would pay for them;
  * only the two numbers per partition reach the driver.
  */
final case class Fp(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
  override def toString: String = s"$rows:$hex"
}

object Fp {
  def parse(s: String): Fp = {
    val Array(r, h) = s.split(":")
    Fp(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }
}

object Fingerprint {

  def of(df: DataFrame): Fp = {
    val qe = df.queryExecution
    val types = qe.analyzed.output.map(_.dataType).toArray
    qe.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      while (it.hasNext) { h += ordered(it.next(), types); n += 1 }
      Iterator.single(Fp(n, h))
    }.fold(Fp(0L, 0L))((a, b) => Fp(a.rows + b.rows, a.hash + b.hash))
  }

  private def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  private def bytes(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)

  /** Normalised double bits: -0.0 folds into 0.0, every NaN into one. */
  private def dbl(d: Double): Long =
    java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)

  private def ordered(g: SpecializedGetters, types: Array[DataType]): Long = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < types.length) { h = mix(h * 31 + value(g, i, types(i))); i += 1 }
    h
  }

  private def value(g: SpecializedGetters, i: Int, dt: DataType): Long =
    if (g.isNullAt(i)) 0x5bd1e995L else dt match {
      case BooleanType => if (g.getBoolean(i)) 1L else 2L
      case ByteType => g.getByte(i).toLong
      case ShortType => g.getShort(i).toLong
      case IntegerType | DateType | _: YearMonthIntervalType => g.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
        g.getLong(i)
      case FloatType => dbl(g.getFloat(i).toDouble)
      case DoubleType => dbl(g.getDouble(i))
      case d: DecimalType =>
        bytes(g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
          .unscaledValue.toByteArray)
      case _: StringType => bytes(g.getUTF8String(i).getBytes)
      case BinaryType => bytes(g.getBinary(i))
      case s: StructType => ordered(g.getStruct(i, s.size), s.fields.map(_.dataType))
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        mix(ordered(a, Array.fill(a.numElements())(et)) + a.numElements())
      case MapType(kt, vt, _) =>
        // map entries carry no order: sum the per-entry hashes
        val m = g.getMap(i)
        val (ks, vs) = (m.keyArray(), m.valueArray())
        var h = m.numElements().toLong
        var j = 0
        while (j < m.numElements()) {
          h += mix(value(ks, j, kt) * 31 + value(vs, j, vt)); j += 1
        }
        h
      case u: UserDefinedType[_] => value(g, i, u.sqlType)
      case CalendarIntervalType =>
        val c = g.getInterval(i)
        mix(mix(c.months.toLong) * 31 + c.days) * 31 + c.microseconds
      case NullType => 0L
      case other => bytes(String.valueOf(g.get(i, other)).getBytes("UTF-8"))
    }
}
