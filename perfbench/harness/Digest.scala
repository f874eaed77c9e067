package graft.perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Order-insensitive digest of a frame's rows: `<rows>:<sum>`, where
  * `sum` is the sum mod 2^64 of the first 8 bytes (big-endian) of each
  * row's MD5. A row is its values in sorted-column-name order, each in a
  * canonical text form, joined by U+0001. Floating values are rounded to
  * 9 significant digits so the digest survives last-bit differences in
  * summation order. Timestamps and dates are microseconds since the
  * epoch (a date is its midnight), so a DATE on one engine and a
  * midnight TIMESTAMP on another agree. `perfbench/digest.py` computes
  * the same digest over DuckDB results.
  */
object Digest {
  private val Sig = new MathContext(9, RoundingMode.HALF_EVEN)
  private val MicrosPerDay = 86400000000L

  def of(df: DataFrame): String = of(df.schema, df.collect())

  def of(schema: StructType, rows: Array[Row]): String = {
    val fields = schema.fields.zipWithIndex.sortBy(_._1.name)
    val md5 = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val text = fields.map { case (f, i) => value(r.get(i), f.dataType) }
        .mkString("\u0001")
      val h = md5.digest(text.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    f"${rows.length}:$sum%016x"
  }

  def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else decimal(new JBigDecimal(d).round(Sig))

  private def decimal(b: JBigDecimal): String =
    if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString

  def value(v: Any, t: DataType): String = if (v == null) "\\N" else t match {
    case DoubleType => double(v.asInstanceOf[Double])
    case FloatType => double(v.asInstanceOf[Float].toDouble)
    case _: DecimalType => decimal(v.asInstanceOf[JBigDecimal])
    case TimestampType | TimestampNTZType | DateType => temporal(v)
    case BinaryType => v.asInstanceOf[Array[Byte]].map(b => f"$b%02x").mkString
    case ArrayType(et, _) =>
      v.asInstanceOf[scala.collection.Seq[Any]].map(value(_, et)).mkString("[", ",", "]")
    case MapType(kt, vt, _) =>
      v.asInstanceOf[scala.collection.Map[Any, Any]].toSeq
        .map { case (k, x) => value(k, kt) + "=" + value(x, vt) }.sorted
        .mkString("{", ",", "}")
    case st: StructType =>
      val r = v.asInstanceOf[Row]
      st.fields.indices.map(i => value(r.get(i), st.fields(i).dataType))
        .mkString("(", ",", ")")
    case _ => v.toString
  }

  private def temporal(v: Any): String = v match {
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case d: java.sql.Date => (d.toLocalDate.toEpochDay * MicrosPerDay).toString
    case d: java.time.LocalDate => (d.toEpochDay * MicrosPerDay).toString
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
}
