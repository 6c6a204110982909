package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a result: every row becomes a canonical
  * string, the strings are sorted, and the sorted list is hashed. Floats
  * are rounded to [[Digits]] significant digits first, so a sum taken in
  * another row order still hashes the same. Four digits, not more: an
  * operator that itself rounds an average to six decimals can land either
  * side of a tie depending on the order it summed in (q05's `avg_disc`
  * reads 0.048187 or 0.048188). Timestamps and dates print in the JVM's
  * time zone, which `run.py` sets to UTC.
  */
object Digest {
  val Digits = 4
  private val mc = new MathContext(Digits)

  /** (row count, hex digest) of `df`'s collected rows. */
  def of(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(canon).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().take(8).map(b => f"$b%02x").mkString)
  }

  private def canon(r: Row): String =
    (0 until r.length).map(i => value(r.get(i))).mkString("(", ",", ")")

  private def number(d: JBigDecimal): String =
    if (d.signum == 0) "0" else d.round(mc).stripTrailingZeros.toString

  private def value(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString else number(new JBigDecimal(d))
    case f: Float =>
      if (f.isNaN || f.isInfinite) f.toString
      else number(new JBigDecimal(java.lang.Float.toString(f)))
    case d: JBigDecimal => number(d)
    case r: Row => canon(r)
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case other => other.toString
  }
}
