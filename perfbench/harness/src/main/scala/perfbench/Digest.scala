package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType

/** Order-insensitive content digest of a query result: columns sorted by
  * name, every value rendered canonically, rows sorted, md5 over the
  * lot. Values are canonicalised by the rules tools/gate.py applies
  * before its oracle compare: doubles round to 9 decimals and integral
  * doubles and decimals render as integers, so a last-ulp difference
  * between two runs does not read as a wrong answer while any real
  * change of value does. */
object Digest {

  /** (row count, digest) of the rows `qe` produces. Runs a job of its
    * own on the already-executed plan, so shuffle outputs of the timed
    * execution are reused. */
  def of(qe: QueryExecution): (Long, String) = {
    val schema = qe.analyzed.schema
    val toScala = CatalystTypeConverters.createToScalaConverter(schema)
    val rows = qe.toRdd.map(_.copy()).collect().map(r => toScala(r).asInstanceOf[Row])
    (rows.length.toLong, digest(schema, rows.toSeq))
  }

  def digest(schema: StructType, rows: Seq[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val header = order.map(schema.fieldNames(_)).mkString("\u0001")
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("MD5")
    md.update(header.getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def canon(v: Any): String = v match {
    case null => "\u0000NULL"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: JBigDecimal =>
      if (b.signum == 0 || b.stripTrailingZeros.scale <= 0) b.toBigInteger.toString
      else double(b.doubleValue)
    case b: BigDecimal => canon(b.bigDecimal)
    case t: java.sql.Timestamp => datetime(t.toLocalDateTime)
    case t: java.time.LocalDateTime => datetime(t)
    case t: java.time.Instant => datetime(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else {
      val r = new JBigDecimal(d).setScale(9, RoundingMode.HALF_EVEN)
      if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
    }

  private def datetime(t: java.time.LocalDateTime): String =
    if (t.toLocalTime == java.time.LocalTime.MIDNIGHT) t.toLocalDate.toString
    else t.toString
}
