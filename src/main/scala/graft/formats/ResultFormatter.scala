package graft.formats

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

/** Result serialization in the reference's output formats: TSV
  * (default), TabSeparatedWithNames, CSV(WithNames), JSON, JSONCompact
  * (the `{meta, data, rows, statistics}` ClickHouse envelope that the
  * Play UI consumes — /root/reference/public/index.html:706-712,
  * lambda/lambda.py:10), Pretty, and the binary Native block codec
  * ([[NativeCodec]]).
  *
  * Streaming by design: rows are pulled with `toLocalIterator()` (one
  * partition resident on the driver at a time, never the whole result)
  * and appended to the caller's sink incrementally, so a large export
  * is bounded by partition size, not result size. Every format is
  * row-streamable except Pretty, which needs column widths and so
  * buffers — capped at ClickHouse's own interactive display limit
  * (output_format_pretty_max_rows = 10000).
  */
object ResultFormatter {

  private val dateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)

  /** Convenience: render to an in-memory String (tests, small results).
    * Servers and OUTFILE call [[write]] with their own sink instead. */
  def render(df: DataFrame, format: String): String = {
    val sb = new java.lang.StringBuilder
    write(df, format, sb)
    sb.toString
  }

  /** The rows of `df`, streamed: `toLocalIterator` pulls one partition
    * at a time (one job each), except when the plan is a local scan —
    * rows the driver already holds (catalog probes, constant SELECTs) —
    * which are handed over with no job at all. */
  def rowsOf(df: DataFrame): Iterator[Row] = df.queryExecution.executedPlan match {
    case _: org.apache.spark.sql.execution.LocalTableScanExec => df.collect().iterator
    case _ =>
      import scala.jdk.CollectionConverters._
      df.toLocalIterator().asScala
  }

  /** Stream-render `df` into `out` in the named text format; returns
    * the row count. Rows arrive via [[rowsOf]] — the scale-
    * safe result boundary (a 100 TB SELECT streams through, it does
    * not `collect()` onto the driver). An optional WITH TOTALS row
    * renders per the format's ClickHouse layout (JSON `totals` member;
    * TSV blank line + row), and so do the optional extremes, a (min,
    * max) row pair (JSON `extremes` member; TSV blank line + two rows);
    * formats with no slot for them ignore both. */
  def write(df: DataFrame, format: String, out: Appendable,
            totals: Option[Row] = None, extremes: Option[(Row, Row)] = None): Long = {
    val t0 = System.nanoTime()
    writeRows(df.schema, rowsOf(df), format, out,
      () => (System.nanoTime() - t0) / 1e9, totals, extremes)
  }

  /** Iterator-driven core shared by [[write]] and the HTTP server. */
  def writeRows(schema: StructType, rows: Iterator[Row], format: String,
                out: Appendable, elapsed: () => Double = () => 0d,
                totals: Option[Row] = None,
                extremes: Option[(Row, Row)] = None): Long =
    Formats.canonical(format) match {
      case "TabSeparated" =>
        val n = delimited(schema, rows, "\t", out, header = false)
        // ClickHouse TSV layout: data rows, then an empty line before
        // the totals row and one before the min and max rows
        (totals.map(Seq(_)) ++ extremes.map { case (mn, mx) => Seq(mn, mx) }).foreach { block =>
          out.append('\n')
          delimited(schema, block.iterator, "\t", out, header = false)
        }
        n
      case f @ ("TabSeparatedWithNames" | "TabSeparatedWithNamesAndTypes" |
                "CSV" | "CSVWithNames" | "CSVWithNamesAndTypes") =>
        val csv = f.startsWith("CSV")
        delimited(schema, rows, if (csv) "," else "\t", out, header = f.contains("Names"),
          csvQuote = csv, typesRow = f.endsWith("AndTypes"))
      case f @ ("JSON" | "JSONCompact") =>
        jsonEnvelope(schema, rows, out, elapsed, compact = f == "JSONCompact", totals, extremes)
      case f @ ("JSONEachRow" | "JSONCompactEachRow") =>
        var n = 0L
        rows.foreach { r =>
          out.append(jsonRow(schema, r, compact = f == "JSONCompactEachRow")).append('\n')
          n += 1
        }
        n
      case "Pretty" | "PrettyCompact" => pretty(schema, rows, out)
      case "Vertical" =>
        // clickhouse-client's \G display: one `name: value` line per
        // column, names padded so values align. Widths come from the
        // SCHEMA (not the data), so this streams row by row.
        val pad = schema.fieldNames.map(_.length).maxOption.getOrElse(0) + 1
        var n = 0L
        rows.foreach { r =>
          if (n > 0) out.append('\n')
          val head = s"Row ${n + 1}:"
          out.append(head).append('\n')
            .append("─" * head.length).append('\n')
          schema.fields.indices.foreach { i =>
            out.append((schema.fields(i).name + ":").padTo(pad + 1, ' '))
            out.append(if (r.isNullAt(i)) "ᴺᵁᴸᴸ"
              else textValue(r.get(i), schema.fields(i).dataType))
            out.append('\n')
          }
          n += 1
        }
        n
      case "Markdown" =>
        // header + alignment separator (numbers right-aligned), then
        // one row per line — fully streaming, no width pass
        out.append(schema.fieldNames.map(mdEscape)
          .mkString("| ", " | ", " |")).append('\n')
        out.append(schema.fields.map(f => f.dataType match {
          case _: NumericType => "---:"
          case _ => "---"
        }).mkString("| ", " | ", " |")).append('\n')
        var n = 0L
        rows.foreach { r =>
          out.append(schema.fields.indices.map { i =>
            if (r.isNullAt(i)) "\\N"
            else mdEscape(textValue(r.get(i), schema.fields(i).dataType))
          }.mkString("| ", " | ", " |")).append('\n')
          n += 1
        }
        n
      case "Null" =>
        // FORMAT Null: execute fully, emit nothing — the benchmark
        // format ClickBench drives with (output cost excluded)
        var n = 0L
        rows.foreach(_ => n += 1)
        n
      case "Values" =>
        // ClickHouse Values: (v1,v2),(v3,v4) — strings/dates quoted
        // with the array-element rules, NULL bare
        var n = 0L
        rows.foreach { r =>
          if (n > 0) out.append(',')
          out.append(schema.fields.indices.map { i =>
            if (r.isNullAt(i)) "NULL"
            else valuesCell(r.get(i), schema.fields(i).dataType)
          }.mkString("(", ",", ")"))
          n += 1
        }
        if (n > 0) out.append('\n')
        n
      case "TSKV" =>
        // name=value pairs tab-separated, TSV escaping on both sides
        var n = 0L
        rows.foreach { r =>
          out.append(schema.fields.indices.map { i =>
            val v = if (r.isNullAt(i)) "\\N"
              else tsvEscape(textValue(r.get(i), schema.fields(i).dataType))
            s"${tsvEscape(schema.fields(i).name)}=$v"
          }.mkString("\t")).append('\n')
          n += 1
        }
        n
      case f @ ("LineAsString" | "RawBLOB") =>
        // single column, raw (unescaped) values: one line per row, or
        // concatenated with no separators at all
        if (schema.fields.length != 1)
          throw new IllegalArgumentException(
            s"$f needs exactly 1 column, got ${schema.fields.length}")
        var n = 0L
        rows.foreach { r =>
          if (!r.isNullAt(0))
            out.append(textValue(r.get(0), schema.fields(0).dataType))
          if (f == "LineAsString") out.append('\n')
          n += 1
        }
        n
      case other => throw new IllegalArgumentException(s"$other is not a text format")
    }

  /** Values-format cell: scalar strings/dates quote like array
    * elements; containers already render with quoted elements. */
  private def valuesCell(v: Any, dt: DataType): String = v match {
    case _: String | _: java.sql.Date | _: java.time.LocalDate |
         _: java.sql.Timestamp | _: java.time.Instant | _: java.time.LocalDateTime =>
      arrayElement(v, dt)
    case b: Array[Byte] => arrayElement(new String(b, "UTF-8"), dt)
    case other => textValue(other, dt)
  }

  // ---- text value rendering (ClickHouse text-format rules) ----

  def textValue(v: Any, dt: DataType): String = v match {
    case null => "\\N"
    case d: java.sql.Date => dateFmt.format(d.toLocalDate)
    case d: java.time.LocalDate => dateFmt.format(d)
    case t: java.sql.Timestamp => tsFmt.format(t.toInstant)
    case t: java.time.Instant => tsFmt.format(t)
    case t: java.time.LocalDateTime => tsFmt.format(t) // TIMESTAMP_NTZ
    case b: Boolean => if (b) "1" else "0"
    case d: java.math.BigDecimal => d.toPlainString
    case s: scala.collection.Seq[_] =>
      val et = dt.asInstanceOf[ArrayType].elementType
      s.map(e => arrayElement(e, et)).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      val mt = dt.asInstanceOf[MapType]
      m.map { case (k, x) =>
        s"${arrayElement(k, mt.keyType)}:${arrayElement(x, mt.valueType)}"
      }.mkString("{", ",", "}")
    case r: Row =>
      val st = dt.asInstanceOf[StructType]
      r.toSeq.zip(st.fields).map { case (e, f) => arrayElement(e, f.dataType) }
        .mkString("(", ",", ")")
    case b: Array[Byte] => new String(b, "UTF-8")
    case other => other.toString
  }

  /** Inside arrays/maps/tuples ClickHouse quotes strings and dates. */
  private def arrayElement(v: Any, dt: DataType): String = v match {
    case null => "NULL"
    case _: String => "'" + v.toString.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case _: java.sql.Date | _: java.time.LocalDate |
         _: java.sql.Timestamp | _: java.time.Instant | _: java.time.LocalDateTime =>
      "'" + textValue(v, dt) + "'"
    case _ => textValue(v, dt)
  }

  private def mdEscape(s: String): String =
    s.replace("|", "\\|").replace("\n", "<br>").replace("\r", "")

  private def tsvEscape(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t")
      .replace("\n", "\\n").replace("\r", "\\r")

  private def csvQuoteStr(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def delimited(schema: StructType, rows: Iterator[Row], sep: String,
                        out: Appendable, header: Boolean,
                        csvQuote: Boolean = false,
                        typesRow: Boolean = false): Long = {
    // header/type cells need the same escaping as data cells: a column
    // named `a,b` (or a type like Decimal(18, 4) containing ", ") would
    // otherwise split into extra header columns and misalign every row
    def headerCell(s: String): String =
      if (csvQuote) csvQuoteStr(s) else tsvEscape(s)
    if (header)
      out.append(schema.fieldNames.map(headerCell).mkString(sep)).append('\n')
    if (typesRow) // ...AndTypes: second header row with ClickHouse type names
      out.append(schema.fields.map(f => headerCell(ChTypeNames.fieldName(f)))
        .mkString(sep)).append('\n')
    var n = 0L
    rows.foreach { r =>
      val cells = schema.fields.indices.map { i =>
        if (r.isNullAt(i)) "\\N"
        else {
          val raw = textValue(r.get(i), schema.fields(i).dataType)
          if (csvQuote) csvQuoteStr(raw) else tsvEscape(raw)
        }
      }
      out.append(cells.mkString(sep)).append('\n')
      n += 1
    }
    n
  }

  // ---- JSON envelope ----

  private def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** ClickHouse JSON value rules: 64-bit ints quoted (matches
    * output_format_json_quote_64bit_integers=1 default), dates quoted,
    * NULL -> null. */
  def jsonValue(v: Any, dt: DataType): String = v match {
    case null => "null"
    case _: Long | _: java.math.BigDecimal => jsonString(textValue(v, dt))
    case _: Int | _: Short | _: Byte => v.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => if (f.isNaN || f.isInfinite) "null" else f.toString
    case b: Boolean => if (b) "1" else "0"
    case s: String => jsonString(s)
    case _: java.sql.Date | _: java.time.LocalDate |
         _: java.sql.Timestamp | _: java.time.Instant | _: java.time.LocalDateTime =>
      jsonString(textValue(v, dt))
    case s: scala.collection.Seq[_] =>
      val et = dt.asInstanceOf[ArrayType].elementType
      s.map(e => jsonValue(e, et)).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      val mt = dt.asInstanceOf[MapType]
      m.map { case (k, x) =>
        s"${jsonString(textValue(k, mt.keyType))}:${jsonValue(x, mt.valueType)}"
      }.mkString("{", ",", "}")
    case other => jsonString(textValue(other, dt))
  }

  /** One row as a JSON object (`{"name":value,…}`) or, compact, an
    * array of values. */
  private def jsonRow(schema: StructType, r: Row, compact: Boolean): String = {
    val cells = schema.fields.indices.map { i =>
      if (compact) jsonValue(r.get(i), schema.fields(i).dataType)
      else s"${jsonString(schema.fields(i).name)}:${jsonValue(r.get(i), schema.fields(i).dataType)}"
    }
    cells.mkString(if (compact) "[" else "{", ",", if (compact) "]" else "}")
  }

  /** The `{meta, data, rows, statistics}` envelope streams too: `rows`
    * and `statistics` come AFTER `data` in the ClickHouse layout, so
    * the count is known by the time it's needed. */
  private def jsonEnvelope(schema: StructType, rows: Iterator[Row],
                           out: Appendable, elapsed: () => Double,
                           compact: Boolean,
                           totals: Option[Row], extremes: Option[(Row, Row)]): Long = {
    val meta = schema.fields.map(f =>
      s"""{"name":${jsonString(f.name)},"type":${jsonString(ChTypeNames.fieldName(f))}}""")
      .mkString("[", ",", "]")
    def rowJson(r: Row): String = jsonRow(schema, r, compact)
    out.append("{\"meta\":").append(meta).append(",\"data\":[")
    var n = 0L
    rows.foreach { r =>
      if (n > 0) out.append(',')
      out.append(rowJson(r))
      n += 1
    }
    out.append("]")
    // WITH TOTALS and extremes: the envelope's `totals` and `extremes`
    // members, between data and rows (ClickHouse JSON layout)
    totals.foreach(t => out.append(",\"totals\":").append(rowJson(t)))
    extremes.foreach { case (mn, mx) =>
      out.append(",\"extremes\":{\"min\":").append(rowJson(mn))
        .append(",\"max\":").append(rowJson(mx)).append('}')
    }
    val stats = f"""{"elapsed":${elapsed()}%.6f,"rows_read":$n,"bytes_read":0}"""
    out.append(s""","rows":$n,"statistics":$stats}""")
    n
  }

  /** Pretty needs column widths, so it buffers — capped at ClickHouse's
    * own interactive default (output_format_pretty_max_rows = 10000);
    * the overflow count is reported like the CLI does. */
  private def pretty(schema: StructType, rows: Iterator[Row],
                     out: Appendable): Long = {
    val maxRows = 10000
    val buffered = scala.collection.mutable.ArrayBuffer.empty[Row]
    var extra = 0L
    rows.foreach { r =>
      if (buffered.length < maxRows) buffered += r else extra += 1
    }
    val header = schema.fieldNames
    val cells = buffered.toArray.map(r => schema.fields.indices
      .map(i => textValue(r.get(i), schema.fields(i).dataType)).toArray)
    val widths = header.indices.map(i =>
      (cells.map(_(i).length) :+ header(i).length).max)
    def line(c: Array[String]) =
      c.zip(widths).map { case (s, w) => s.padTo(w, ' ') }.mkString("| ", " | ", " |")
    val bar = widths.map("-" * _).mkString("+-", "-+-", "-+")
    out.append((Seq(bar, line(header.toArray), bar) ++ cells.map(line) :+ bar)
      .mkString("", "\n", "\n"))
    if (extra > 0)
      out.append(s"Showed first $maxRows of ${maxRows + extra} rows.\n")
    buffered.length + extra
  }
}
