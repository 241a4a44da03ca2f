package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-independent output fingerprints, defined so that two engines can
  * compute them independently.
  *
  * Cells (ingestion): a sheet's hash is the sum over its rows of the
  * first 48 bits of md5(sheet + U+001E + cells joined by U+001F), with a
  * null cell written as U+0000. `BulkIngest` rows are hashed with the
  * same rule in Spark SQL ([[Main.bulkAggregate]]).
  *
  * Query rows (queries): each value is rendered canonically (numbers that
  * are not integers rounded to 9 significant digits, timestamps as epoch
  * microseconds, …), the values of a row are joined in sorted-column
  * order, and the first 40 bits of each row's md5 are summed. `oracle.py`
  * renders DuckDB's rows with the same rules.
  */
object Canon {
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  private def prefixBits(s: String, bits: Int): Long = {
    val d = md5.get().digest(s.getBytes(UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> (64 - bits)
  }

  def rowString(sheet: String, cells: Seq[Any]): String =
    sheet + "\u001e" + cells.map(c => if (c == null) "\u0000" else c.toString).mkString("\u001f")

  def sheetHash(sheet: String, rows: Seq[Seq[Any]]): Long =
    rows.iterator.map(r => prefixBits(rowString(sheet, r), 48)).sum

  // ------------------------------------------------------------ query rows

  private val Sig = new MathContext(9, RoundingMode.HALF_EVEN)

  private def num(d: JBigDecimal): String = {
    val r = d.round(Sig).stripTrailingZeros()
    if (r.signum == 0) "d0e0" else s"d${r.unscaledValue}e${-r.scale}"
  }

  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: java.math.BigInteger => x.toString
    case x: Double =>
      if (x.isNaN) "nan" else if (x.isInfinite) (if (x > 0) "inf" else "-inf")
      else num(new JBigDecimal(x))
    case x: Float => value(x.toDouble)
    case x: JBigDecimal => num(x)
    case x: scala.math.BigDecimal => num(x.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      "t" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case i: java.time.Instant => "t" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case t: java.time.LocalDateTime => value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case b: Array[Byte] => "x" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  /** 40-bit fingerprint of one row whose values are in sorted-column order. */
  def rowHash(r: Row): Long =
    prefixBits(r.toSeq.map(value).mkString("\u001f"), 40)
}
