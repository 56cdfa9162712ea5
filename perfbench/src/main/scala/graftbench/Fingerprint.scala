package graftbench

import java.math.MathContext
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row

/** Order-insensitive content fingerprint of a query result.
  *
  * Each row renders to a canonical string (doubles rounded to 9 significant
  * digits, timestamps as epoch micros so the JVM time zone cannot matter);
  * the fingerprint is the row count plus the 64-bit sum of the rows' MD5
  * prefixes, so it ignores row order but not duplicates. */
object Fingerprint {
  final case class Value(rows: Long, hash: String)

  def of(rows: Array[Row]): Value = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val d = md.digest(canon(r).getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(d).getLong
    }
    Value(rows.length.toLong, f"$sum%016x")
  }

  private val Digits = new MathContext(9)

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => canonDouble(b.doubleValue)
    case b: scala.math.BigDecimal => canonDouble(b.toDouble)
    case t: java.sql.Timestamp =>
      s"ts${Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000}"
    case i: java.time.Instant => s"ts${i.getEpochSecond * 1000000 + i.getNano / 1000}"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Digits).stripTrailingZeros.toPlainString
}
