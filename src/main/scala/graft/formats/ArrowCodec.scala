package graft.formats

import java.io.{ByteArrayInputStream, OutputStream}
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter, ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit => ATimeUnit}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Arrow IPC at both result boundaries: `FORMAT ArrowStream` (the IPC
  * streaming frames a pandas/polars client reads) and `FORMAT Arrow`
  * (the random-access file variant), for SELECT responses and INSERT
  * payloads. The reference passes both through to its embedded engine
  * (/root/reference/main.py:190); the wire layout here is the public
  * Arrow IPC spec via the arrow-java library Spark itself ships.
  *
  * Writes stream: rows arrive via `toLocalIterator` and leave in
  * bounded `batchRows` record batches — no whole-result
  * materialization. Unsupported Spark types degrade to utf8 columns
  * (rendered with the same text rules as the TSV formats).
  */
object ArrowCodec {

  private def arrowField(f: StructField): Field = {
    val t: ArrowType = f.dataType match {
      case ByteType => new ArrowType.Int(8, true)
      case ShortType => new ArrowType.Int(16, true)
      case IntegerType => new ArrowType.Int(32, true)
      case LongType => new ArrowType.Int(64, true)
      case FloatType =>
        new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
      case DoubleType =>
        new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      case BooleanType => ArrowType.Bool.INSTANCE
      case DateType => new ArrowType.Date(DateUnit.DAY)
      case _: TimestampType | TimestampNTZType =>
        new ArrowType.Timestamp(ATimeUnit.MICROSECOND, "UTC")
      case d: DecimalType => new ArrowType.Decimal(d.precision, d.scale, 128)
      case _ => ArrowType.Utf8.INSTANCE
    }
    new Field(f.name, new FieldType(true, t, null),
      java.util.Collections.emptyList[Field]())
  }

  private def epochMicros(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      // floorDiv: truncation shifts pre-epoch fractional seconds +1s
      Math.floorDiv(t.getTime, 1000L) * 1000000 + t.getNanos / 1000
    case i: java.time.Instant =>
      i.getEpochSecond * 1000000 + i.getNano / 1000
    // session time zone is UTC: wall-clock time reads as UTC
    case t: java.time.LocalDateTime =>
      epochMicros(t.toInstant(java.time.ZoneOffset.UTC))
    case n: Number => n.longValue()
  }

  private def epochDays(v: Any): Int = v match {
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
    case d: java.time.LocalDate => d.toEpochDay.toInt
    case n: Number => n.intValue()
  }

  private def setValue(vec: FieldVector, i: Int, v: Any,
                       dt: DataType): Unit =
    if (v == null) vec match {
      case x: BaseFixedWidthVector => x.setNull(i)
      case x: BaseVariableWidthVector => x.setNull(i)
      case _ => ()
    } else vec match {
      case x: TinyIntVector => x.setSafe(i, v.asInstanceOf[Number].byteValue())
      case x: SmallIntVector => x.setSafe(i, v.asInstanceOf[Number].shortValue())
      case x: IntVector => x.setSafe(i, v.asInstanceOf[Number].intValue())
      case x: BigIntVector => x.setSafe(i, v.asInstanceOf[Number].longValue())
      case x: Float4Vector => x.setSafe(i, v.asInstanceOf[Number].floatValue())
      case x: Float8Vector => x.setSafe(i, v.asInstanceOf[Number].doubleValue())
      case x: BitVector => x.setSafe(i, if (v.asInstanceOf[Boolean]) 1 else 0)
      case x: DateDayVector => x.setSafe(i, epochDays(v))
      case x: TimeStampMicroTZVector => x.setSafe(i, epochMicros(v))
      case x: DecimalVector =>
        x.setSafe(i, v.asInstanceOf[java.math.BigDecimal].setScale(x.getScale))
      case x: VarCharVector =>
        x.setSafe(i, ResultFormatter.textValue(v, dt)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case other => throw new IllegalStateException(
        s"unhandled arrow vector ${other.getClass.getSimpleName}")
    }

  /** Stream `rows` as Arrow IPC record batches. `file = true` writes
    * the file (random-access) variant instead of the stream framing.
    * Returns the row count. */
  def write(out: OutputStream, schema: StructType, rows: Iterator[Row],
            file: Boolean, batchRows: Int = 65536): Long = {
    val fields = schema.fields.map(arrowField).toList
    val allocator = new RootAllocator()
    var n = 0L
    try {
      val root = VectorSchemaRoot.create(
        new ArrowSchema(scala.jdk.CollectionConverters.SeqHasAsJava(fields).asJava),
        allocator)
      try {
        val writer =
          if (file) new ArrowFileWriter(root, null,
            java.nio.channels.Channels.newChannel(out))
          else new ArrowStreamWriter(root, null,
            java.nio.channels.Channels.newChannel(out))
        writer.start()
        val vecs = root.getFieldVectors
        while (rows.hasNext) {
          root.allocateNew()
          var i = 0
          while (i < batchRows && rows.hasNext) {
            val r = rows.next()
            var c = 0
            while (c < schema.fields.length) {
              setValue(vecs.get(c), i, r.get(c), schema.fields(c).dataType)
              c += 1
            }
            i += 1
          }
          root.setRowCount(i)
          writer.writeBatch()
          n += i
        }
        if (n == 0) { // empty result still carries the schema
          root.allocateNew(); root.setRowCount(0); writer.writeBatch()
        }
        writer.end()
      } finally root.close()
    } finally allocator.close()
    n
  }

  /** Decode an Arrow IPC payload (stream or file framing) into column
    * names + external-typed row values (the same shapes
    * NativeCodec.decodeAll emits, so the INSERT coercion is shared). */
  def decode(bytes: Array[Byte], file: Boolean): (Seq[String], Seq[Seq[Any]]) = {
    val allocator = new RootAllocator()
    try {
      val reader =
        if (file) new ArrowFileReader(
          new org.apache.arrow.vector.ipc.SeekableReadChannel(
            new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(bytes)),
          allocator)
        else new ArrowStreamReader(new ByteArrayInputStream(bytes), allocator)
      try {
        val root = reader.getVectorSchemaRoot
        val names = {
          import scala.jdk.CollectionConverters._
          root.getSchema.getFields.asScala.map(_.getName).toSeq
        }
        val rows = Vector.newBuilder[Seq[Any]]
        while (reader.loadNextBatch()) {
          val vecs = root.getFieldVectors
          (0 until root.getRowCount).foreach { i =>
            rows += (0 until vecs.size()).map { c =>
              val vec = vecs.get(c)
              if (vec.isNull(i)) null
              else vec match {
                case x: DateDayVector =>
                  java.time.LocalDate.ofEpochDay(x.get(i).toLong)
                case x: TimeStampMicroTZVector =>
                  val us = x.get(i)
                  java.time.Instant.ofEpochSecond(
                    Math.floorDiv(us, 1000000L),
                    Math.floorMod(us, 1000000L) * 1000)
                case x: VarCharVector =>
                  new String(x.get(i), java.nio.charset.StandardCharsets.UTF_8)
                case other => other.getObject(i)
              }
            }
          }
        }
        (names, rows.result())
      } finally reader.close()
    } finally allocator.close()
  }
}
