package graft.perfbench

import org.apache.spark.sql.Row
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Result values as JSON for the checker. Doubles are written with their
  * shortest exact decimal form, so the checker compares the values the
  * program produced bit for bit.
  */
object Json {
  /** A result value as the checker normalizes it: timestamps as epoch
    * micros, dates as epoch days, decimals as doubles.
    */
  def value(v: Any): JValue = v match {
    case null                         => JNull
    case b: Boolean                   => JBool(b)
    case i: Int                       => JLong(i)
    case l: Long                      => JLong(l)
    case s: Short                     => JLong(s)
    case b: Byte                      => JLong(b)
    case d: Double                    => JDouble(d)
    case f: Float                     => JDouble(f.toDouble)
    case d: java.math.BigDecimal      => JDouble(d.doubleValue)
    case d: scala.math.BigDecimal     => JDouble(d.toDouble)
    case t: java.sql.Timestamp        => JLong(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant         => JLong(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime   =>
      val i = t.toInstant(java.time.ZoneOffset.UTC); JLong(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case d: java.sql.Date             => JLong(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate       => JLong(d.toEpochDay)
    case s: String                    => JString(s)
    case a: Array[Byte]               => JString(a.map("%02x".format(_)).mkString)
    case s: scala.collection.Seq[_]   => JArray(s.map(value).toList)
    case m: scala.collection.Map[_, _] => JArray(m.toList.map { case (k, x) => JArray(List(value(k), value(x))) })
    case r: Row                       => JArray(r.toSeq.map(value).toList)
    case other                        => JString(other.toString)
  }

  def rows(columns: Seq[String], rows: Array[Row]): JValue =
    JObject("columns" -> JArray(columns.map(JString(_)).toList),
      "rows" -> JArray(rows.toList.map(r => JArray(r.toSeq.map(value).toList))))

  def render(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))
}
