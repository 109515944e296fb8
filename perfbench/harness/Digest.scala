package perfbench

import java.math.{BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Order-independent digest of a query result. Each row hashes its
  * columns in name order, with floats cut to 10 significant digits and
  * decimals stripped of trailing zeros (the normalization of
  * tools/check_oracle.py); the 64-bit row hashes are summed, so equal
  * multisets of rows give equal digests whatever the partitioning.
  */
object Digest {
  private def mix(h: Long): Long = { // splitmix64 finalizer
    var z = h + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def bytes(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)

  /** (mantissa, exponent) of `d` at 10 significant digits, hashed. */
  private def double(d: Double): Long =
    if (d == 0.0) 0L
    else if (d.isNaN || d.isInfinite) java.lang.Double.doubleToLongBits(d)
    else {
      var e = math.floor(math.log10(math.abs(d))).toInt
      var m = math.round(d / math.pow(10, e - 9))
      if (math.abs(m) >= 10000000000L) { m = math.round(m / 10.0); e += 1 }
      mix(m) ^ e
    }

  private def decimal(b: JBigDecimal): Long = {
    val s = b.stripTrailingZeros
    mix(s.unscaledValue.hashCode.toLong) ^ s.scale
  }

  /** Hash of a value converted to its Scala form (nested types). */
  private def value(v: Any): Long = v match {
    case null => 0x5bd1e995L
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: JBigDecimal => decimal(b)
    case b: scala.math.BigDecimal => decimal(b.bigDecimal)
    case a: Array[Byte] => bytes(a)
    case r: Row => r.toSeq.foldLeft(17L)((h, x) => mix(h ^ value(x)))
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => mix(value(k) ^ (value(x) * 31)) }.sum
    case s: scala.collection.Seq[_] => s.foldLeft(19L)((h, x) => mix(h ^ value(x)))
    case x => bytes(x.toString.getBytes(UTF_8))
  }

  private def field(row: InternalRow, i: Int, t: DataType): Long =
    if (row.isNullAt(i)) 0x5bd1e995L
    else t match {
      case DoubleType => double(row.getDouble(i))
      case FloatType => double(row.getFloat(i).toDouble)
      case LongType | TimestampType | TimestampNTZType => mix(row.getLong(i))
      case IntegerType | DateType => mix(row.getInt(i).toLong)
      case ShortType => mix(row.getShort(i).toLong)
      case ByteType => mix(row.getByte(i).toLong)
      case BooleanType => if (row.getBoolean(i)) 1L else 2L
      case _: StringType => bytes(row.getUTF8String(i).getBytes)
      case d: DecimalType => decimal(row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal)
      case BinaryType => bytes(row.getBinary(i))
      case other => value(CatalystTypeConverters.createToScalaConverter(other)(row.get(i, other)))
    }

  /** (row count, digest) of the rows `plan` produces for `df`. */
  def of(df: DataFrame, plan: SparkPlan): (Long, String) = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
      .map { case (f, i) => (i, f.dataType) }
    val parts = df.sparkSession.sparkContext.runJob(plan.execute(),
      (it: Iterator[InternalRow]) => {
        var n = 0L
        var sum = 0L
        while (it.hasNext) {
          val row = it.next()
          var h = 23L
          var j = 0
          while (j < fields.length) {
            h = mix(h ^ field(row, fields(j)._1, fields(j)._2))
            j += 1
          }
          sum += h
          n += 1
        }
        (n, sum)
      })
    (parts.map(_._1).sum, f"${parts.map(_._2).sum}%016x")
  }
}

/** Minimal JSON writer for the harness's result map. */
object Json {
  private def esc(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => esc(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => esc(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case (a, b) => apply(Seq(a, b))
    case x => esc(x.toString)
  }
}
