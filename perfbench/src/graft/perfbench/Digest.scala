package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digests of collected rows: `n=<rows>,h=<hash>`, where
  * the hash is the wrapping sum of one 64-bit hash per row. Columns are
  * taken in name order, doubles are rounded to 9 significant digits (6 for
  * floats) so a different summation order cannot flip the digest, and -0.0
  * reads as 0.
  */
object Digest {

  private val Null = "␀"

  private def fmt(d: Double, digits: Int): String =
    if (d.isNaN) "NaN"
    else String.format(java.util.Locale.ROOT, s"%.${digits}g", Double.box(d + 0.0))

  private def canonValue(v: Any): String = v match {
    case null => Null
    case d: Double => fmt(d, 9)
    case f: Float => fmt(f.toDouble, 6)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => (0 until r.length).map(i => canonValue(r.get(i))).mkString("(", "|", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonValue(k) + "=" + canonValue(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonValue).mkString("[", ",", "]")
    case other => other.toString
  }

  private def hash64(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(md, 0, 8).getLong
  }

  /** Digest of collected rows; `schema` fixes the column order. */
  def ofRows(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var h = 0L
    rows.foreach { r => h += hash64(order.map(i => canonValue(r.get(i))).mkString("\u0001")) }
    s"n=${rows.length},h=${java.lang.Long.toHexString(h)}"
  }
}
