package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result, computed identically by
  * `oracle.py` on the DuckDB side: columns sorted by name, each value
  * rendered canonically, each row hashed (first 8 bytes of its MD5), row
  * hashes summed modulo 2^64.
  *
  * Numbers compare by value across engines. An integer below 2^53 renders
  * exactly. Any other number is taken as a double (a float is widened
  * exactly first) and rounded to [[SigDigits]] significant digits, half to
  * even, so a sum of doubles compares equal whatever order the engine
  * added its terms in; a value whose rounding is integral renders as that
  * integer, any other as its digits and decimal exponent.
  * Timestamps and dates render as epoch microseconds (a date as its
  * midnight, so a date and a midnight timestamp compare equal). */
object Canon {

  val SigDigits = 12
  private val sig = new java.math.MathContext(SigDigits, java.math.RoundingMode.HALF_EVEN)

  private def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else {
      val b = new java.math.BigDecimal(d).round(sig).stripTrailingZeros()
      if (b.signum == 0 || b.scale <= 0) b.toBigIntegerExact.toString
      else "d" + b.unscaledValue + "e" + (-b.scale)
    }

  private def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case i: Byte => i.toString
    case i: Short => i.toString
    case i: Int => i.toString
    case i: Long => if (math.abs(i) < (1L << 53)) i.toString else num(i.toDouble)
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal => num(d.doubleValue)
    case d: scala.math.BigDecimal => num(d.toDouble)
    case s: String => "s" + s
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime => value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => value(d.toLocalDate)
    case d: java.time.LocalDate => (d.toEpochDay * 86400000000L).toString
    case b: Array[Byte] => "x" + b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => "?" + other.toString
  }

  private def rowHash(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** The canonical lines of a result: sorted column names, then one line
    * per row. */
  def lines(schema: StructType, rows: Array[Row]): Seq[String] = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    order.map(schema.fieldNames(_)).mkString("\u0001") +:
      rows.toSeq.map(r => order.map(i => value(r.get(i))).mkString("\u0001"))
  }

  /** Digest of a result's canonical [[lines]]. */
  def digest(lines: Seq[String]): Long = lines.map(rowHash).sum
}
