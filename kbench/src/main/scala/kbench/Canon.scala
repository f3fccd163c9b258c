package kbench

import org.apache.spark.sql.Row

/** Canonical JSON of result values, read back by the oracle check
  * (`oracle.py`): timestamps as epoch microseconds, dates as epoch days,
  * binary as hex, structs and arrays as lists, maps as sorted pair lists,
  * non-finite doubles as strings. */
object Canon {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def strList(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
  def numList(xs: Seq[Double]): String = xs.mkString("[", ",", "]")

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case f: Float => value(f.toDouble)
    case d: Double =>
      if (d.isNaN) "\"nan\"" else if (d.isInfinite) (if (d > 0) "\"inf\"" else "\"-inf\"")
      else d.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case s: String => str(s)
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case i: java.time.Instant => micros(i).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case b: Array[Byte] => str(b.map(x => f"${x & 0xff}%02x").mkString)
    case r: Row => row(r)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"[${value(k)},${value(x)}]" }.sorted.mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def row(r: Row): String = r.toSeq.map(value).mkString("[", ",", "]")

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
}
