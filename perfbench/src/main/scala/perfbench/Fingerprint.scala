package perfbench

import java.math.MathContext
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a collected result: the sorted
  * canonical rows hashed together, plus the row count. Doubles are
  * rounded to 12 significant digits, as the DuckDB oracle comparison
  * does, so a different summation order cannot read as a wrong answer. */
object Fingerprint {
  private val digits = new MathContext(12)

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(digits).stripTrailingZeros
        .toString
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { l =>
      md.update(l.getBytes(UTF_8)); md.update('\n'.toByte)
    }
    md.digest().take(8).map(x => f"$x%02x").mkString + "/" + rows.length
  }
}
