package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** A small JSON writer for the harness's result file: numbers, strings,
  * booleans, null, sequences and maps, nothing else.
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => str(other.toString)
  }

  /** A collected result as {"cols": [[name, type]], "rows": [[...]]}.
    * Decimals travel as strings so no digit is lost; dates as ISO days.
    */
  def result(schema: StructType, rows: Array[Row]): String = {
    def cell(v: Any, t: DataType): String = (v, t) match {
      case (null, _) => "null"
      case (d: java.math.BigDecimal, _) => str(d.toPlainString)
      case (d: java.sql.Date, _) => str(d.toString)
      case (d: java.time.LocalDate, _) => str(d.toString)
      case (ts: java.sql.Timestamp, _) => str(ts.toLocalDateTime.toString)
      case (ts: java.time.Instant, _) => str(ts.toString)
      case (xs: scala.collection.Seq[_], ArrayType(et, _)) =>
        xs.map(cell(_, et)).mkString("[", ",", "]")
      case (x, _) => apply(x)
    }
    val cols = schema.fields.map(f => Seq(f.name, f.dataType.typeName))
    val body = rows.iterator.map { r =>
      schema.fields.indices.map(i => cell(r.get(i), schema.fields(i).dataType))
        .mkString("[", ",", "]")
    }.mkString("[", ",\n", "]")
    s"""{"cols":${apply(cols.toSeq)},"rows":$body}"""
  }
}
