package graft.formats

import org.apache.spark.sql.types._

/** Spark DataType → ClickHouse type-name mapping (SURVEY.md §1.2,
  * inverse of the transpiler's CAST mapping). Used by the JSON meta
  * envelope and the Native codec header.
  */
object ChTypeNames {

  def name(dt: DataType): String = dt match {
    case ByteType => "Int8"
    case ShortType => "Int16"
    case IntegerType => "Int32"
    case LongType => "Int64"
    case FloatType => "Float32"
    case DoubleType => "Float64"
    case StringType => "String"
    case BooleanType => "UInt8"
    case DateType => "Date"
    case _: TimestampType | TimestampNTZType => "DateTime"
    case d: DecimalType if d.precision == 20 && d.scale == 0 => "UInt64"
    case d: DecimalType => s"Decimal(${d.precision}, ${d.scale})"
    case a: ArrayType => s"Array(${name(a.elementType)})"
    case m: MapType => s"Map(${name(m.keyType)}, ${name(m.valueType)})"
    case b: BinaryType.type => "String"
    case s: StructType =>
      s.fields.map(f => s"${f.name} ${name(f.dataType)}").mkString("Tuple(", ", ", ")")
    case other => other.simpleString
  }

  /** Field-level name incl. Nullable wrapper (ClickHouse is
    * non-nullable by default; Spark is nullable by default). */
  def fieldName(f: StructField): String =
    if (f.nullable && nullableWrappable(f.dataType)) s"Nullable(${name(f.dataType)})"
    else name(f.dataType)

  /** ClickHouse can't wrap composite types in Nullable. The Native
    * codec shares this predicate: a null-mask is emitted exactly when
    * the declared type says Nullable(...), or the stream desyncs. */
  def nullableWrappable(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _ => true
  }
}
