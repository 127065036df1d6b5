package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive checksum of a query result, computed the same way by
  * `perfbench/gate_oracle.py` from a DuckDB result. It follows
  * `scripts/check_oracle.py`: columns are taken in name order and every
  * value must be equal, doubles to the last bit.
  *
  * A row renders as its values joined by U+001F; the checksum is the sum,
  * modulo 2^64, of the first 8 bytes (big-endian) of each rendered row's
  * MD5, so row order does not matter but every row and column does.
  */
object Checksum {

  final case class Sum(rows: Long, checksum: String)

  def render(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => "f:%016x".format(java.lang.Double.doubleToLongBits(x.toDouble))
    case x: Double => "f:%016x".format(java.lang.Double.doubleToLongBits(x))
    case x: java.math.BigDecimal => x.toPlainString
    case x: scala.math.BigDecimal => x.bigDecimal.toPlainString
    case x: String => x
    case x: java.sql.Date => x.toLocalDate.toString
    case x: java.time.LocalDate => x.toString
    case x: java.sql.Timestamp =>
      renderTs(x.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime)
    case x: java.time.Instant =>
      renderTs(x.atZone(java.time.ZoneOffset.UTC).toLocalDateTime)
    case x: java.time.LocalDateTime => renderTs(x)
    case x: Array[Byte] => x.map("%02x".format(_)).mkString
    case r: Row if r.schema != null =>
      r.schema.fieldNames.zipWithIndex
        .map { case (n, i) => s"$n:${render(r.get(i))}" }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}:${render(x)}" }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other =>
      throw new IllegalArgumentException(
        s"no canonical form for ${other.getClass.getName}")
  }

  private val tsFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def renderTs(t: java.time.LocalDateTime): String = tsFormat.format(t)

  def rowHash(rendered: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(rendered.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  def of(schema: StructType, rows: Array[Row]): Sum = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    rows.foreach { r =>
      sum += rowHash(order.map(i => render(r.get(i))).mkString("\u001f"))
    }
    Sum(rows.length.toLong, "%016x".format(sum))
  }
}
