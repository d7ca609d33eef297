package graft.bench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** A call's collected result in the form oracle.py compares with DuckDB:
  * column names, the type class of each column (the classes of
  * scripts/check_oracle.py) and the rows, with values rendered as DuckDB's
  * Python client returns them. */
object Output {

  /** DuckDB's name for a Spark type, as it appears inside list types. */
  private def duckName(t: DataType): String = t match {
    case ByteType => "TINYINT"
    case ShortType => "SMALLINT"
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case ArrayType(e, _) => duckName(e) + "[]"
    case other => other.simpleString.toUpperCase
  }

  /** The type class oracle.py compares; a raw decimal is flagged, as
    * check_oracle.py refuses it. */
  def typeClass(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType => "INT<=64"
    case FloatType | DoubleType => "FLOATISH"
    case _: DecimalType => "RAW_DECIMAL"
    case _ => duckName(t)
  }

  private def value(v: Any): Any = v match {
    case null => null
    case d: Double if d.isNaN => "nan"
    case f: Float if f.isNaN => "nan"
    case t: java.sql.Timestamp =>
      val ldt = t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      val base = ldt.toLocalDate.toString + " " +
        f"${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d"
      val micros = ldt.getNano / 1000
      if (micros == 0) base else f"$base.$micros%06d"
    case t: java.time.Instant => value(java.sql.Timestamp.from(t))
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case s: scala.collection.Seq[_] => s.map(value)
    case r: Row => r.toSeq.map(value)
    case other => other
  }

  def collect(df: DataFrame): Map[String, Any] = Map(
    "columns" -> df.schema.fieldNames.toSeq,
    "types" -> df.schema.fields.toSeq.map(f => typeClass(f.dataType)),
    "rows" -> df.collect().toSeq.map(_.toSeq.map(value)))
}
