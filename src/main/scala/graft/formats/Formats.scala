package graft.formats

import java.io.{BufferedWriter, OutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, DataFrameReader, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, from_json, lit, when}
import org.apache.spark.sql.types._

/** The one map from a ClickHouse format name to its codec. Names are
  * case-insensitive and include ClickHouse's aliases. Two entry points:
  *
  *   - [[write]] resolves an encoder for a result (HTTP responses and
  *     `INTO OUTFILE`): text formats render through
  *     [[ResultFormatter.writeRows]], Native and RowBinary through
  *     [[NativeCodec]], Arrow through [[ArrowCodec]], and Parquet/ORC
  *     are written by the executors as one part file.
  *   - [[read]] parses a payload into a frame (`INSERT … FORMAT` bodies
  *     and the `url()`/`file()` table functions), against the target
  *     table's columns when there is one. Each format has one reader,
  *     whichever path the bytes arrive on.
  */
object Formats {

  /** Every format name: canonical spelling first, then its aliases. */
  private val names: Seq[Seq[String]] = Seq(
    Seq("TabSeparated", "TSV"),
    Seq("TabSeparatedWithNames", "TSVWithNames"),
    Seq("TabSeparatedWithNamesAndTypes", "TSVWithNamesAndTypes"),
    Seq("CSV"), Seq("CSVWithNames"), Seq("CSVWithNamesAndTypes"),
    Seq("JSON"), Seq("JSONCompact"), Seq("JSONEachRow", "NDJSON"),
    Seq("JSONCompactEachRow"), Seq("JSONAsString"), Seq("TSKV"), Seq("Values"),
    Seq("LineAsString"), Seq("RawBLOB"), Seq("Pretty"), Seq("PrettyCompact"),
    Seq("Vertical"), Seq("Markdown"), Seq("Null"),
    Seq("Native"), Seq("RowBinary"), Seq("RowBinaryWithNamesAndTypes"),
    Seq("Arrow"), Seq("ArrowStream"), Seq("Parquet"), Seq("ORC"))

  private val canonicalOf: Map[String, String] =
    names.flatMap(ns => ns.map(_.toLowerCase -> ns.head)).toMap

  /** The canonical spelling of `format`; an unknown name raises. */
  def canonical(format: String): String =
    canonicalOf.getOrElse(format.toLowerCase, throw unknown(format))

  private def unknown(format: String) =
    new IllegalArgumentException(s"unknown format: $format")

  // ---- output ----

  /** A resolved output format. */
  final class Writer private[Formats] (
      val contentType: String,
      /** Renders a WITH TOTALS row and the extremes in their ClickHouse
        * layout (JSON `totals` and `extremes` members, TSV blank-line
        * separated rows). */
      val rendersTotals: Boolean,
      /** A second result may follow the first in one file (formats with
        * a footer may not). */
      val appendable: Boolean,
      encode: (DataFrame, Option[Row], Option[(Row, Row)], () => OutputStream) => Unit) {
    /** Streams `df` into the stream `open` returns, then closes it.
      * `open` runs once, when the first byte is ready: a Parquet/ORC
      * part is written before it, so a failed write leaves the stream
      * unopened. A failure while rows stream flushes what was rendered
      * but leaves the stream open, so an HTTP caller can cut the
      * connection instead of ending the body. `totals` and `extremes`
      * (min row, max row) render where the format has a slot for them. */
    def apply(df: DataFrame, open: () => OutputStream, totals: Option[Row] = None,
              extremes: Option[(Row, Row)] = None): Unit = encode(df, totals, extremes, open)
  }

  /** The encoder of `format`; raises `unknown format: X` before any
    * stream is opened. */
  def write(format: String): Writer = canonical(format) match {
    case "Native" => binary(true)((os, df) =>
      NativeCodec.writeBlocks(os, df.schema, ResultFormatter.rowsOf(df), blockRows = 65536))
    case f @ ("RowBinary" | "RowBinaryWithNamesAndTypes") => binary(true)((os, df) =>
      NativeCodec.writeRowBinary(os, df.schema, ResultFormatter.rowsOf(df),
        withNamesAndTypes = f == "RowBinaryWithNamesAndTypes"))
    case f @ ("Arrow" | "ArrowStream") => binary(f == "ArrowStream")((os, df) =>
      ArrowCodec.write(os, df.schema, ResultFormatter.rowsOf(df), file = f == "Arrow"))
    case f @ ("Parquet" | "ORC") => partFile(f.toLowerCase)
    case "JSONAsString" => throw unknown(format)
    case text =>
      new Writer(if (text.startsWith("JSON")) "application/json" else "text/plain",
        Set("JSON", "JSONCompact", "TabSeparated")(text), appendable = true,
        (df, totals, extremes, open) => {
          val w = new BufferedWriter(new OutputStreamWriter(open(), UTF_8), 1 << 16)
          // on failure too, the rows rendered so far reach the stream
          try ResultFormatter.write(df, text, w, totals, extremes) finally w.flush()
          w.close()
        })
  }

  private def binary(appendable: Boolean)(body: (OutputStream, DataFrame) => Unit) =
    new Writer("application/octet-stream", rendersTotals = false, appendable,
      (df, _, _, open) => { val os = open(); body(os, df); os.close() })

  /** Executors write one part file into a scratch dir (no driver row
    * serialization); the file then streams to the caller. */
  private def partFile(ext: String) =
    new Writer("application/octet-stream", rendersTotals = false, appendable = false,
      (df, _, _, open) => {
        val tmp = Files.createTempDirectory("graft_" + ext)
        try {
          df.coalesce(1).write.mode("overwrite").format(ext).save(tmp.toString)
          val part = tmp.toFile.listFiles().find(_.getName.endsWith("." + ext))
            .getOrElse(throw new IllegalStateException(s"no $ext part written"))
          val os = open()
          Files.copy(part.toPath, os)
          os.close()
        } finally {
          // recursive + non-throwing: a failed write leaves a _temporary
          // subtree, and a throwing finally would mask the real error
          try graft.LocalFs.deleteTree(tmp) catch { case _: Throwable => () }
        }
      })

  // ---- input ----

  /** What a reader parses: an in-memory payload (an INSERT body) or a
    * local file (what `url()`/`file()` fetched). A file is read by path
    * where Spark's reader takes one, so the relation keeps the file
    * source's size statistics (a `url()` join side can broadcast),
    * column pruning and the CSV `count()` shortcut. */
  sealed trait Input {
    private[Formats] def lines(spark: SparkSession): Dataset[String]
    private[Formats] def bytes: Array[Byte]
  }

  final case class Payload(bytes: Array[Byte]) extends Input {
    private[Formats] def lines(spark: SparkSession) =
      spark.createDataset(new String(bytes, UTF_8).split("\n").toSeq)(Encoders.STRING)
  }

  final case class LocalFile(path: String) extends Input {
    private[Formats] def lines(spark: SparkSession) = spark.read.textFile(path)
    private[Formats] def bytes = Files.readAllBytes(Paths.get(path))
  }

  /** Parses `in` as `format` and hands the frame to `use`. `target` is
    * the receiving table's columns (an INSERT); without it (`url()`)
    * the text readers infer types and positional names. The frame
    * reads a Parquet/ORC payload from a scratch file that lives until
    * `use` returns; every other frame stays valid after it. */
  def read[T](spark: SparkSession, format: String, in: Input,
              target: Option[StructType])(use: DataFrame => T): T = {
    def needs: StructType = target.getOrElse(throw new IllegalArgumentException(
      s"format $format needs the receiving table's columns"))
    def single(what: String): String = target match {
      case Some(t) if t.fields.length != 1 => throw new IllegalArgumentException(
        s"$format needs exactly 1 target column, got ${t.fields.length}")
      case Some(t) => t.fields.head.name
      case None => what
    }
    canonical(format) match {
      case f @ ("TabSeparated" | "TabSeparatedWithNames" | "TabSeparatedWithNamesAndTypes" |
                "CSV" | "CSVWithNames" | "CSVWithNamesAndTypes") =>
        use(delimited(spark, in, target, csv = f.startsWith("CSV"),
          headerLines = if (f.endsWith("AndTypes")) 2 else if (f.endsWith("Names")) 1 else 0))
      // JSON input is newline-delimited objects, not the output envelope
      case "JSONEachRow" | "JSON" => use(jsonEachRow(spark, in, target))
      case "JSONCompactEachRow" =>
        // one JSON array per line, positional over the target columns;
        // elements land as strings and cast to the declared types
        val arr = in.lines(spark).toDF("line")
          .select(from_json(col("line"), ArrayType(StringType)).as("a"))
        use(arr.select(needs.fields.zipWithIndex.map { case (f, i) =>
          col("a")(i).cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*))
      case "TSKV" =>
        // name=value pairs tab-separated; names map to target columns,
        // absent names stay NULL (ClickHouse TSKV contract)
        val m = in.lines(spark).toDF("line")
          .select(expr("str_to_map(line, '\t', '=')").as("m"))
        use(m.select(needs.fields.map(f =>
          nullMarker(col("m")(f.name)).cast(f.dataType).as(f.name)).toIndexedSeq: _*))
      case "LineAsString" =>
        // the whole line, unescaped — the raw-text ingest shape an
        // LLM-corpus load uses
        use(in.lines(spark).toDF(single("line")))
      case "JSONAsString" =>
        // each top-level {...} object lands verbatim as one row
        use(spark.createDataset(splitTopLevelJson(new String(in.bytes, UTF_8)))(Encoders.STRING)
          .toDF(single("json")))
      case "RawBLOB" =>
        use(spark.createDataset(Seq(new String(in.bytes, UTF_8)))(Encoders.STRING)
          .toDF(single("raw_blob")))
      case f @ ("Native" | "RowBinary" | "RowBinaryWithNamesAndTypes" | "Arrow" | "ArrowStream") =>
        val t = needs
        val (n, rows) = f match {
          case "Native" => NativeCodec.decodeAll(in.bytes)
          case "Arrow" | "ArrowStream" => ArrowCodec.decode(in.bytes, file = f == "Arrow")
          // plain RowBinary has no header: the target's announced types
          // are the ones a SELECT of that table would emit
          case _ => NativeCodec.decodeRowBinary(in.bytes, f == "RowBinaryWithNamesAndTypes",
            t.fields.toSeq.map(f => f.name -> ChTypeNames.fieldName(f)))
        }
        // names may be positional placeholders (an Arrow schema from
        // another tool): fall back to the target columns when none match
        val named = if (n.exists(t.fieldNames.contains)) n else t.fieldNames.toSeq.take(n.length)
        use(decodedFrame(spark, t, named, rows))
      case f @ ("Parquet" | "ORC") =>
        val ext = f.toLowerCase
        def load(path: String) = byName(spark.read.format(ext).load(path), target, f)
        in match {
          case LocalFile(path) => use(load(path))
          case Payload(data) =>
            val tmp = Files.createTempFile("graft_insert", "." + ext)
            try { Files.write(tmp, data); use(load(tmp.toString)) }
            finally Files.deleteIfExists(tmp)
        }
      case other =>
        throw new IllegalArgumentException(s"format $other has no reader")
    }
  }

  /** TSV and CSV with their header variants. ClickHouse TSV is never
    * quoted (a value starting with `"` must not swallow the following
    * tabs or rows; Spark's reader turns quoting off when `quote` is the
    * NUL char); CSV escapes a quote by doubling it. Both read `\N` as
    * NULL. In-field escapes (`\t`, `\n`, `\\`) stay literal two-char
    * sequences. */
  private def delimited(spark: SparkSession, in: Input,
                        target: Option[StructType], csv: Boolean,
                        headerLines: Int): DataFrame = {
    val sep = if (csv) "," else "\t"
    val base = spark.read.option("sep", sep).option("nullValue", "\\N")
    val reader = if (csv) base.option("escape", "\"") else base.option("quote", "\u0000")
    in match {
      // a fetched file with at most one header line: Spark's own
      // `header` option names the inferred columns
      case LocalFile(path) if target.isEmpty && headerLines <= 1 =>
        reader.option("header", headerLines == 1).option("inferSchema", "true").csv(path)
      case _ =>
        // the header line names the columns (clients may reorder or send
        // a subset); the AndTypes variants carry a type line the table
        // schema supersedes. Like Spark's own `header` option, a data
        // line equal to a header line is dropped with it.
        val lines = in.lines(spark)
        val head = if (headerLines == 0) Nil else lines.head(headerLines).toSeq
        val names = head.headOption.map(_.split(java.util.regex.Pattern.quote(sep))
          .map(_.trim.replace("`", "").stripPrefix("\"").stripSuffix("\"")).toSeq)
        val body = if (head.isEmpty) lines else lines.filter(l => !head.contains(l))
        target match {
          case Some(t) => reader.schema(names.fold(t)(ns => StructType(ns.map(t(_))))).csv(body)
          case None =>
            val df = reader.option("inferSchema", "true").csv(body)
            names.fold(df)(ns => df.toDF(ns: _*))
        }
    }
  }

  /** ClickHouse (and graft's own export) quotes 64-bit integers and
    * decimals; the JSON reader would load a quoted number as NULL. Read
    * those fields as strings (a bare number reads as its text) and cast
    * to the declared type. */
  private def jsonEachRow(spark: SparkSession, in: Input,
                          target: Option[StructType]): DataFrame = {
    def json(r: DataFrameReader) = in match {
      case LocalFile(path) => r.json(path)
      case _ => r.json(in.lines(spark))
    }
    target match {
      case None => json(spark.read)
      case Some(t) =>
        def numeric(f: StructField) = f.dataType match {
          case ByteType | ShortType | IntegerType | LongType | _: DecimalType => true
          case _ => false
        }
        val asRead = StructType(t.fields.map(f =>
          if (numeric(f)) f.copy(dataType = StringType) else f))
        json(spark.read.schema(asRead)).select(t.fields.map(f =>
          if (numeric(f)) col(f.name).cast(f.dataType).as(f.name) else col(f.name)
        ).toIndexedSeq: _*)
    }
  }

  private def nullMarker(c: org.apache.spark.sql.Column) =
    when(c === "\\N", lit(null)).otherwise(c)

  /** A columnar file's columns resolve by name when it carries the
    * target's names, positionally over the target columns otherwise. */
  private def byName(parsed: DataFrame, target: Option[StructType], format: String): DataFrame =
    target.map(_.fieldNames.toSeq) match {
      case None => parsed
      case Some(announced) =>
        if (announced.forall(parsed.columns.contains)) parsed
        else if (parsed.columns.length == announced.length)
          parsed.toDF(announced: _*)
        else throw new IllegalArgumentException(
          s"$format payload has ${parsed.columns.length} columns, " +
            s"expected ${announced.length} (${announced.mkString(", ")})")
    }

  /** Already-decoded (names, row values) as a frame over `target`'s
    * columns: header names win and values coerce to the declared
    * types. Shared by the binary readers and the native TCP INSERT. */
  private[graft] def decodedFrame(spark: SparkSession, target: StructType,
                                  names: Seq[String], raw: Seq[Seq[Any]]): DataFrame = {
    val fields = names.map(n => target(target.fieldIndex(n)))
    val rows = raw.map(vs =>
      Row.fromSeq(vs.zip(fields).map { case (v, f) => coerce(v, f.dataType) }))
    // a driver-side relation: the rows are already here, and the write
    // layer sizes it like a VALUES block
    spark.createDataFrame(rows.asJava, StructType(fields.toIndexedSeq))
  }

  /** Decoded wire value → the Spark external type of the target column
    * (the codecs return Int for UInt8, LocalDate for Date, etc.). */
  private def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (x: Number, ByteType) => x.byteValue()
    case (x: Number, ShortType) => x.shortValue()
    case (x: Number, IntegerType) => x.intValue()
    case (x: Number, LongType) => x.longValue()
    case (x: Number, FloatType) => x.floatValue()
    case (x: Number, DoubleType) => x.doubleValue()
    case (x, StringType) => x.toString
    case (d: java.time.LocalDate, DateType) => java.sql.Date.valueOf(d)
    case (i: java.time.Instant, _: TimestampType) => java.sql.Timestamp.from(i)
    case (i: java.time.Instant, TimestampNTZType) =>
      java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
    case (b: scala.math.BigDecimal, d: DecimalType) =>
      b.setScale(d.scale).bigDecimal
    case (l: java.lang.Long, d: DecimalType) if d.precision == 20 && d.scale == 0 =>
      // UInt64 travels as the raw 8-byte pattern; unsigned reinterpret
      new java.math.BigDecimal(java.lang.Long.toUnsignedString(l))
    case (x: Number, d: DecimalType) =>
      new java.math.BigDecimal(x.toString).setScale(d.scale)
    case (x: Number, BooleanType) => x.intValue() != 0
    case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
      s.map(coerce(_, et))
    case (other, _) => other
  }

  /** Split a stream of top-level JSON objects (`{...}{...}` or
    * newline-separated) into their verbatim texts — string- and
    * escape-aware, no parsing of the contents. */
  private def splitTopLevelJson(data: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var inStr = false; var esc = false; var start = -1
    var i = 0
    while (i < data.length) {
      val c = data.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => if (depth == 0) start = i; depth += 1
        case '}' =>
          depth -= 1
          if (depth == 0 && start >= 0) {
            out += data.substring(start, i + 1); start = -1
          }
        case _ => ()
      }
      i += 1
    }
    if (depth != 0) throw new IllegalArgumentException(
      "JSONAsString payload has an unterminated object")
    out.toSeq
  }
}
