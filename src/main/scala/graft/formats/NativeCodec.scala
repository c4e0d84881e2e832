package graft.formats

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import java.io.{ByteArrayOutputStream, ByteArrayInputStream}

/** ClickHouse Native-format columnar block codec.
  *
  * Wire layout matches what the reference parses/re-emits
  * (/root/reference/main.py:95-138 block encode, :570-654 parse,
  * :710-814 varint/string primitives): a block is
  *
  *   n_columns varint, n_rows varint, then per column:
  *     name (varint-length string), type (varint-length string),
  *     packed column vector — fixed-width little-endian numerics,
  *     varint-length strings, Date = UInt16 days since epoch,
  *     DateTime = UInt32 unix seconds; Nullable(T) = a null-mask byte
  *     per row, then the values with defaults in null slots.
  *
  * (The reference's own re-parser takes single-byte-varint shortcuts,
  * main.py:573-574; this codec encodes/decodes full varints, which is
  * strictly more compatible.)
  */
object NativeCodec {

  import Wire._

  /** A decoded block: (columnName, chTypeName, values) per column. */
  type Block = Seq[(String, String, Vector[Any])]

  // ---- encode ----

  /** Stream `rows` into `out` as a sequence of Native blocks of at most
    * `blockRows` rows each (the scale-safe result boundary: driver
    * memory is bounded by one block + one partition, not the result).
    * `frame` runs before each block with its row count, for protocol
    * packet headers; `body` writes the encoded block (the TCP server
    * wraps it in BlockInfo and, when negotiated, an LZ4 frame).
    * Always emits at least one block — an empty result is a zero-row
    * block carrying the schema, which is how clients learn the column
    * types. Returns the row count. */
  def writeBlocks(out: java.io.OutputStream, schema: StructType,
                  rows: Iterator[Row], blockRows: Int,
                  customSerFlag: Boolean = false,
                  frame: Int => Unit = _ => (),
                  body: (java.io.OutputStream, Array[Byte]) => Unit = _.write(_)): Long = {
    var n = 0L
    def emit(block: Array[Row]): Unit = {
      frame(block.length)
      body(out, encode(schema, block, customSerFlag))
      n += block.length
    }
    val chunks = rows.grouped(blockRows)
    if (!chunks.hasNext) emit(Array.empty)
    chunks.foreach(chunk => emit(chunk.toArray))
    n
  }

  def encode(schema: StructType, rows: Array[Row]): Array[Byte] =
    encode(schema, rows, customSerFlag = false)

  /** `customSerFlag`: the native TCP protocol inserts a
    * custom-serialization byte (0) after each column type for client
    * revisions >= 54454 (reference emits it at main.py:633-634). */
  def encode(schema: StructType, rows: Array[Row], customSerFlag: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeVarint(out, schema.fields.length)
    writeVarint(out, rows.length)
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      writeStr(out, f.name)
      writeStr(out, ChTypeNames.fieldName(f))
      if (customSerFlag) out.write(0)
      // mask iff the header says Nullable(...) — same predicate as
      // ChTypeNames.fieldName (Array/Map/Tuple are never wrapped)
      if (f.nullable && ChTypeNames.nullableWrappable(f.dataType))
        rows.foreach(r => out.write(if (r.isNullAt(i)) 1 else 0))
      rows.foreach(r => writeValue(out, f.dataType, if (r.isNullAt(i)) null else r.get(i)))
    }
    out.toByteArray
  }

  private def writeValue(out: ByteArrayOutputStream, dt: DataType, v: Any): Unit =
    dt match {
      case ByteType => out.write(if (v == null) 0 else v.asInstanceOf[Byte].toInt)
      case ShortType => writeFixed(out, 2)(_.putShort(if (v == null) 0 else v.asInstanceOf[Short]))
      case IntegerType => writeFixed(out, 4)(_.putInt(if (v == null) 0 else v.asInstanceOf[Int]))
      case LongType => writeFixed(out, 8)(_.putLong(if (v == null) 0L else v.asInstanceOf[Long]))
      case FloatType => writeFixed(out, 4)(_.putFloat(if (v == null) 0f else v.asInstanceOf[Float]))
      case DoubleType => writeFixed(out, 8)(_.putDouble(if (v == null) 0d else v.asInstanceOf[Double]))
      case BooleanType => out.write(if (v != null && v.asInstanceOf[Boolean]) 1 else 0)
      case StringType => writeStr(out, if (v == null) "" else v.toString)
      case DateType =>
        val days = v match {
          case null => 0L
          case d: java.sql.Date => d.toLocalDate.toEpochDay
          case d: java.time.LocalDate => d.toEpochDay
        }
        writeFixed(out, 2)(_.putShort(days.toShort))
      case _: TimestampType | TimestampNTZType =>
        val secs = v match {
          case null => 0L
          case t: java.sql.Timestamp => t.getTime / 1000
          case t: java.time.Instant => t.getEpochSecond
          // session time zone is UTC: wall-clock time reads as UTC
          case t: java.time.LocalDateTime => t.toEpochSecond(java.time.ZoneOffset.UTC)
        }
        writeFixed(out, 4)(_.putInt(secs.toInt))
      case d: DecimalType =>
        val unscaled = if (v == null) BigInt(0)
          else BigInt(v.asInstanceOf[java.math.BigDecimal]
            .setScale(d.scale).unscaledValue())
        // Decimal(20,0) is surfaced as UInt64 (8-byte two's complement
        // round-trip; SURVEY §1.2 UInt64 caveat)
        if (d.precision == 20 && d.scale == 0)
          writeFixed(out, 8)(_.putLong(unscaled.toLong))
        else if (d.precision <= 9) writeFixed(out, 4)(_.putInt(unscaled.toInt))
        else if (d.precision <= 18) writeFixed(out, 8)(_.putLong(unscaled.toLong))
        else writeFixed(out, 16) { bb =>
          bb.putLong(unscaled.toLong)
          bb.putLong((unscaled >> 64).toLong)
        }
      case ArrayType(et, _) =>
        // ClickHouse array column: offsets then flattened values; for a
        // single value inside a block row stream we emit size + values
        val seq: scala.collection.Seq[Any] =
          if (v == null) Seq.empty else v.asInstanceOf[scala.collection.Seq[Any]]
        writeVarint(out, seq.length)
        seq.foreach(e => writeValue(out, et, e))
      case other =>
        writeStr(out, if (v == null) "" else v.toString)
    }

  /** RowBinary / RowBinaryWithNamesAndTypes (public ClickHouse wire
    * format): rows sequentially, each value with the same primitive
    * encodings as Native; a Nullable value is prefixed with one flag
    * byte (1 = NULL, nothing follows; 0 = the value follows). The
    * WithNamesAndTypes header is column count + names + type names,
    * varint/string framed. Streams — bounded by one partition. */
  def writeRowBinary(out: java.io.OutputStream, schema: StructType,
                     rows: Iterator[Row],
                     withNamesAndTypes: Boolean): Long = {
    val buf = new ByteArrayOutputStream()
    if (withNamesAndTypes) {
      writeVarint(buf, schema.fields.length)
      schema.fields.foreach(f => writeStr(buf, f.name))
      schema.fields.foreach(f => writeStr(buf, ChTypeNames.fieldName(f)))
      out.write(buf.toByteArray); buf.reset()
    }
    var n = 0L
    rows.foreach { r =>
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (f.nullable && ChTypeNames.nullableWrappable(f.dataType)) {
          if (r.isNullAt(i)) buf.write(1)
          else { buf.write(0); writeValue(buf, f.dataType, r.get(i)) }
        } else writeValue(buf, f.dataType,
          if (r.isNullAt(i)) null else r.get(i))
      }
      out.write(buf.toByteArray); buf.reset()
      n += 1
    }
    n
  }

  // ---- decode (round-trip testing + native-protocol relay) ----

  /** Decode one block into (columnName, chTypeName, values). */
  def decode(bytes: Array[Byte]): Block =
    decode(new ByteArrayInputStream(bytes))

  /** Decode one block from a stream positioned at a block boundary —
    * call repeatedly to read a multi-block stream ([[writeBlocks]]).
    * `customSerFlag`: consume the custom-serialization byte after each
    * type name (clients at revision >= 54454 send it on the TCP wire;
    * a nonzero flag announces sparse/custom encodings this codec does
    * not speak, so it rejects loudly rather than misparse). */
  def decode(in: java.io.InputStream,
             customSerFlag: Boolean = false): Block = {
    val nCols = declared(in, "column count")
    val nRows = declared(in, "row count")
    (0 until nCols).map { _ =>
      val name = readStr(in)
      val tpe = readStr(in)
      if (customSerFlag) {
        val flag = readByte(in)
        require(flag == 0, s"custom serialization (flag $flag) on column $name not supported")
      }
      val (baseType, nullable) =
        if (tpe.startsWith("Nullable(")) (tpe.stripPrefix("Nullable(").stripSuffix(")"), true)
        else (tpe, false)
      // grown as bytes arrive, not sized by the claimed row count: a
      // truncated body fails at its end, not after a large allocation
      val nulls: Array[Boolean] = if (!nullable) null else {
        val mask = Array.newBuilder[Boolean]
        (0 until nRows).foreach(_ => mask += readByte(in) == 1)
        mask.result()
      }
      val vals = (0 until nRows).map { r =>
        val v = readValue(in, baseType)
        if (nulls != null && nulls(r)) null else v
      }.toVector
      (name, tpe, vals)
    }
  }

  /** Decode every block of a Native stream (a bulk INSERT payload) into
    * column names + row tuples. Values carry the decoded JVM types of
    * [[readValue]]; [[graft.dialect.Engine]] coerces them to the target
    * table's Spark schema. */
  def decodeAll(bytes: Array[Byte]): (Seq[String], Seq[Seq[Any]]) = {
    val in = new ByteArrayInputStream(bytes)
    var names: Seq[String] = Nil
    val rows = Vector.newBuilder[Seq[Any]]
    while (in.available() > 0) {
      val block = decode(in)
      if (names.isEmpty) names = block.map(_._1)
      rows ++= rowsOf(block)
    }
    (names, rows.result())
  }

  /** A decoded block's rows, each its values in column order. */
  def rowsOf(block: Block): IndexedSeq[Seq[Any]] =
    (0 until block.headOption.fold(0)(_._3.length)).map(r => block.map(_._3(r)))

  /** Decode a RowBinary / RowBinaryWithNamesAndTypes INSERT payload.
    * Plain RowBinary has no header, so the caller passes the target
    * table's (name, ClickHouse type) pairs — the same announced types
    * [[writeRowBinary]] would emit for that table, making the
    * encode→INSERT round-trip symmetric. */
  def decodeRowBinary(bytes: Array[Byte], withNamesAndTypes: Boolean,
                      tableTypes: => Seq[(String, String)]): (Seq[String], Seq[Seq[Any]]) = {
    val in = new ByteArrayInputStream(bytes)
    val (names, types) =
      if (withNamesAndTypes) {
        val n = declared(in, "column count")
        val nm = (0 until n).map(_ => readStr(in))
        val tp = (0 until n).map(_ => readStr(in))
        (nm, tp)
      } else { val tt = tableTypes; (tt.map(_._1), tt.map(_._2)) }
    val rows = Vector.newBuilder[Seq[Any]]
    while (in.available() > 0) {
      rows += types.map { t =>
        if (t.startsWith("Nullable(")) {
          val base = t.stripPrefix("Nullable(").stripSuffix(")")
          if (readByte(in) == 1) null else readValue(in, base)
        } else readValue(in, t)
      }
    }
    (names, rows.result())
  }

  private def readValue(in: java.io.InputStream, chType: String): Any =
    chType match {
      case "Int8" => readByte(in).toByte
      case "Int16" => readFixed(in, 2).getShort
      case "Int32" => readFixed(in, 4).getInt
      case "Int64" => readFixed(in, 8).getLong
      case "UInt8" => readByte(in)
      case "UInt16" => readFixed(in, 2).getShort & 0xffff
      case "UInt32" => readFixed(in, 4).getInt & 0xffffffffL
      // unsigned view of the 8 wire bytes: 0xFFFF..FF must read back
      // as 18446744073709551615, not -1 (ref test_suite.py:359-361
      // probes exactly these boundaries)
      case "UInt64" =>
        BigDecimal(BigInt(java.lang.Long.toUnsignedString(readFixed(in, 8).getLong)))
      case "Float32" => readFixed(in, 4).getFloat
      case "Float64" => readFixed(in, 8).getDouble
      case "String" => readStr(in)
      case "Date" => java.time.LocalDate.ofEpochDay((readFixed(in, 2).getShort & 0xffff).toLong)
      case "DateTime" => java.time.Instant.ofEpochSecond(readFixed(in, 4).getInt & 0xffffffffL)
      case t if t.startsWith("Array(") =>
        val et = t.stripPrefix("Array(").stripSuffix(")")
        val n = declared(in, "array length")
        (0 until n).map(_ => readValue(in, et)).toVector
      case t if t.startsWith("Decimal(") =>
        val Array(p, s) = t.stripPrefix("Decimal(").stripSuffix(")")
          .split(",").map(_.trim.toInt)
        val unscaled: BigInt =
          if (p <= 9) BigInt(readFixed(in, 4).getInt)
          else if (p <= 18) BigInt(readFixed(in, 8).getLong)
          else { val bb = readFixed(in, 16); val lo = bb.getLong; val hi = bb.getLong
            (BigInt(hi) << 64) | (BigInt(lo) & ((BigInt(1) << 64) - 1)) }
        BigDecimal(unscaled, s)
      case _ => readStr(in)
    }
}
