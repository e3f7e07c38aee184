package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result, computed identically by
  * `oracle.py` over DuckDB's result for the same query.
  *
  * Columns are sorted by name; each value is canonicalized (numbers by
  * value, doubles to 12 significant digits, timestamps as epoch
  * microseconds, dates as epoch days, nested values recursively); each
  * row hashes to the first 8 bytes of its SHA-256, and the row hashes
  * are summed modulo 2^64. The digest is `rows:columns:sum`.
  */
object Digest {
  private val Sig = new MathContext(12, RoundingMode.HALF_EVEN)

  private def number(d: JBigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else number(new JBigDecimal(d).round(Sig))

  def canon(v: Any): String = v match {
    case null                      => "\\N"
    case b: Boolean                => if (b) "true" else "false"
    case d: Double                 => double(d)
    case f: Float                  => double(f.toDouble)
    case d: JBigDecimal            => number(d)
    case d: scala.math.BigDecimal  => number(d.bigDecimal)
    case n: Byte                   => n.toString
    case n: Short                  => n.toString
    case n: Int                    => n.toString
    case n: Long                   => n.toString
    case s: String                 => s
    case t: java.sql.Timestamp     => micros(t.toInstant).toString
    case t: java.time.Instant      => micros(t).toString
    case t: java.time.LocalDateTime =>
      micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case d: java.sql.Date          => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate    => "d" + d.toEpochDay
    case b: Array[Byte]            => b.map("%02x".format(_)).mkString
    case r: Row                    => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other                     => other.toString
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
      (i.getNano / 1000).toLong)

  private def rowHash(s: String): Long = {
    val h = MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  def of(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    var sum = 0L
    rows.foreach { r =>
      sum += rowHash(order.map(i => canon(r.get(i))).mkString("\u0001"))
    }
    s"${rows.size}:${order.map(columns(_)).mkString(",")}:${"%016x".format(sum)}"
  }
}
