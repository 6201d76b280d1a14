package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Output fingerprint of one operation: row count, column names sorted,
  * and an order-independent hash of the rows.
  *
  * Rows are normalized the way `tools/check.py` compares results:
  * columns in name order, timestamps and dates as ISO text, binary as
  * hex, arrays as tuples. Each normalized row is hashed with SHA-256 and
  * the first 8 bytes are summed (mod 2^64), so row order does not
  * matter and duplicate rows still count.
  */
private[perfbench] object Fingerprint {
  def apply(df: DataFrame): Map[String, Any] = {
    val names = df.columns.toIndexedSeq
    val order = names.indices.sortBy(names(_))
    val rows = df.collect()
    var sum = 0L
    rows.foreach { r =>
      val text = order.map(i => norm(r.get(i))).mkString("(", ",", ")")
      val d = MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    Map("rows" -> rows.length.toLong, "cols" -> names.sorted,
      "hash" -> f"$sum%016x")
  }

  def norm(v: Any): String = v match {
    case null => "None"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: String => Json.writeValueAsString(s)
    case xs: scala.collection.Seq[_] => xs.map(norm).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted
        .mkString("{", ",", "}")
    case r: Row => r.toSeq.map(norm).mkString("{", ",", "}")
    case other => other.toString
  }
}
