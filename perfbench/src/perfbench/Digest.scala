package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive result digest: the row count plus the wrapping sum of
  * one 64-bit hash per row, each hash taken over a canonical text form of
  * every column. Doubles are rounded to 10 significant digits so that a
  * change in summation order (partition count, AQE coalescing) does not
  * read as a wrong answer, while any real change of a value does. */
object Digest {
  final case class Result(rows: Long, hash: String)

  private val Sig = new MathContext(10)

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: JBigDecimal => canonDouble(b.doubleValue)
    case b: BigDecimal => canonDouble(b.toDouble)
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case x => x.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(Sig).stripTrailingZeros.toString

  private def rowHash(md: MessageDigest, r: Row): Long = {
    val h = md.digest(canon(r).getBytes(UTF_8))
    h.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }

  def ofRows(columns: Seq[String], rows: Iterator[Row]): Result = {
    val md = MessageDigest.getInstance("MD5")
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(md, r) }
    val head = md.digest((columns.mkString(",") + "|" + sum).getBytes(UTF_8))
    Result(n, head.take(8).map(b => f"$b%02x").mkString)
  }

  /** Runs the query to completion (all columns, final ORDER BY included)
    * and digests what it returns. */
  def of(df: DataFrame): Result =
    ofRows(df.columns.toSeq, df.collect().iterator)
}
