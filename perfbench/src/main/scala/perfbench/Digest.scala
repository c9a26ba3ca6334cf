package perfbench

import org.apache.spark.sql.Row
import java.nio.charset.StandardCharsets
import scala.util.hashing.MurmurHash3

/** Order-independent digest of a query result: the row count plus the sum
  * (mod 2^64) of a 64-bit hash of each row's canonical text. Row order and
  * partitioning do not change it; a changed, missing or duplicated row
  * does. Doubles are rendered with 12 significant digits, so the last-bit
  * noise of summation order across partitions does not change it. */
object Digest {
  def of(rows: Array[Row]): (Long, String) = {
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      val b = new StringBuilder
      canon(r, b)
      sum += hash64(b.toString)
      n += 1
    }
    (n, f"$sum%016x")
  }

  /** 64-bit hash of a string's UTF-8 bytes. */
  def hash64(s: String): Long = {
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    (MurmurHash3.bytesHash(bytes, 0x5eed).toLong << 32) |
      (MurmurHash3.bytesHash(bytes, 0x0b57).toLong & 0xffffffffL)
  }

  private def canon(v: Any, b: StringBuilder): Unit = v match {
    case null => b.append("∅")
    case d: Double => b.append(fmtDouble(d))
    case f: Float => b.append(fmtDouble(f.toDouble))
    case r: Row =>
      b.append('(')
      var i = 0
      while (i < r.length) {
        if (i > 0) b.append(',')
        canon(r.get(i), b)
        i += 1
      }
      b.append(')')
    case a: Array[Byte] => a.foreach(x => b.append(f"$x%02x"))
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val kb = new StringBuilder; canon(k, kb); kb.append("->"); canon(x, kb)
        kb.toString
      }.sorted
      b.append(parts.mkString("{", ",", "}"))
    case s: scala.collection.Seq[_] =>
      b.append('[')
      s.zipWithIndex.foreach { case (x, i) =>
        if (i > 0) b.append(',')
        canon(x, b)
      }
      b.append(']')
    case d: java.math.BigDecimal => b.append(d.stripTrailingZeros.toPlainString)
    case other => b.append(other.toString)
  }

  private def fmtDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(12))
      .stripTrailingZeros.toString
}
