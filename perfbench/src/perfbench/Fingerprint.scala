package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a result: `rows:hex`, where hex is
  * the sum (mod 2^64) of one 64-bit hash per row. A row hashes its
  * columns in name order; a double counts as its value rounded to six
  * decimals, so the fingerprint states the result the way the oracle
  * compares it. `oracle_check.py` computes the same fingerprint over
  * DuckDB results; the two must stay in step.
  */
object Fingerprint {
  def of(rows: Array[Row], names: Seq[String]): String = {
    val order = names.indices.sortBy(names(_))
    var sum = 0L
    rows.foreach { r =>
      sum += rowHash(order.map(i => names(i) + "=" + canon(r.get(i))).mkString("|"))
    }
    f"${rows.length}:$sum%016x"
  }

  private def rowHash(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }

  private def canon(v: Any): String = v match {
    case null => "N"
    case d: Double => math.floor(d * 1e6 + 0.5).toLong.toString
    case f: Float => math.floor(f.toDouble * 1e6 + 0.5).toLong.toString
    case b: java.math.BigDecimal => math.floor(b.doubleValue * 1e6 + 0.5).toLong.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Short => s.toString
    case b: Byte => b.toString
    case t: java.sql.Timestamp =>
      (t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case other => other.toString
  }
}
