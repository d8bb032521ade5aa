package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a query's full result: the row count
  * and the sum, modulo 2^64, of a SHA-256 prefix of each row's
  * canonical text. Equal multisets of rows give equal digests; row
  * order and partitioning do not matter, duplicates do. */
object ResultDigest {
  def of(df: DataFrame): String = {
    var sum = 0L
    var n = 0L
    val it = df.toLocalIterator()
    while (it.hasNext) {
      sum += rowHash(canon(it.next()))
      n += 1
    }
    f"$n:$sum%016x"
  }

  private def rowHash(s: String): Long = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h).getLong
  }

  /** Canonical text of a value. Maps are sorted by their entries'
    * text; times are rendered from their instant, not the JVM zone. */
  def canon(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case t: java.sql.Timestamp => s"ts:${t.getTime / 1000}.${t.getNanos}"
    case d: java.sql.Date => s"date:${d.toLocalDate}"
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }
}
