package graftbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Canonical fingerprint of a query result, independent of row order and
  * column order: columns sorted by name, every value written with its
  * type class (integers of any width alike, decimals apart from
  * integers, floats rounded half-even to 9 decimals), rows sorted, then
  * SHA-256. Results of other types are refused rather than guessed at.
  * `crosscheck.py` computes the same string from a DuckDB result, which
  * is how the pinned fingerprints were checked against the engine's
  * oracle SQL. */
object Canon {

  private def typeClass(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "int"
    case FloatType | DoubleType => "float"
    case _: DecimalType => "dec"
    case BooleanType => "bool"
    case StringType => "str"
    case other => throw new IllegalArgumentException(
      s"no canonical form for result type ${other.simpleString}")
  }

  private def float(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else {
      val s = new JBigDecimal(d).setScale(9, RoundingMode.HALF_EVEN).toPlainString
      if (s.startsWith("-") && s.forall(c => c == '-' || c == '0' || c == '.'))
        s.substring(1)
      else s
    }

  private def value(v: Any, dt: DataType): String =
    if (v == null) "null"
    else typeClass(dt) match {
      case "float" => float(v.asInstanceOf[Number].doubleValue)
      case "int" => v.asInstanceOf[Number].longValue.toString
      case "dec" => v.asInstanceOf[JBigDecimal].toPlainString
      case _ => v.toString
    }

  /** (fingerprint, row count) of collected rows under `schema`. */
  def fingerprint(schema: StructType, rows: Array[Row]): (String, Long) = {
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name)
    val header = order.map(i =>
      s"${schema.fields(i).name}:${typeClass(schema.fields(i).dataType)}")
      .mkString("|")
    val lines = rows.map(r =>
      order.map(i => value(r.get(i), schema.fields(i).dataType)).mkString("|"))
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update((header + "\n" + lines.mkString("\n")).getBytes("UTF-8"))
    (md.digest().map(b => f"$b%02x").mkString, rows.length.toLong)
  }
}
