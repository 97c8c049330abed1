package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Canonical form of a query result, shared with `oracle.py`: columns in
  * name order, rows sorted, every cell printed by one rule per value kind
  * so that a Spark row and a DuckDB row holding the same values print the
  * same. Row order and column order are not part of a result, as in the
  * repository's selfcheck. Floating-point values print as their exact
  * binary value rounded half-even to 15 significant digits. */
object Digest {
  private val Mc = new MathContext(15, RoundingMode.HALF_EVEN)
  val Null = "∅"

  def cell(v: Any): String = v match {
    case null => Null
    case b: Boolean => if (b) "true" else "false"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte) =>
      n.toString
    case b: java.math.BigDecimal => decimal(b)
    case b: BigDecimal => decimal(b.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime => cell(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) "0"
    else decimal(new java.math.BigDecimal(d).round(Mc))

  private def decimal(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString

  /** Canonical rows of a collected result, columns in name order. */
  def rows(columns: Seq[String], data: Array[Row]): Array[String] = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    data.map(r => order.map(i => cell(r.get(i))).mkString("\u0001"))
  }

  def of(columns: Seq[String], data: Array[Row]): String =
    sha256(columns.sorted.mkString("\u0001") + "\n" + rows(columns, data).sorted.mkString("\n"))

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
}
