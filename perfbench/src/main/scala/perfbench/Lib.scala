package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
import graft.dialect.Engine
import graft.formats.{ArrowCodec, NativeCodec, ResultFormatter}

/** The library path a wire answer is checked against: the same
  * statement through `Engine.execute`, rendered by the engine's own
  * encoders exactly as its servers render it. */
object Lib {
  /** Block size and protocol flag of the native TCP server's blocks. */
  val NativeBlockRows = 65536

  def execute(spark: SparkSession, sql: String, queryId: String): DataFrame =
    Engine.execute(spark, sql, "default", Some(queryId))

  /** Renders `df` in `format` into `sink`. `tcp` selects the native TCP
    * server's block layout instead of the HTTP `Native` format. */
  def render(df: DataFrame, format: String, sink: java.io.OutputStream,
             tcp: Boolean = false): Unit = {
    def rows = df.toLocalIterator().asScala
    format.toLowerCase match {
      case "native" =>
        NativeCodec.writeBlocks(sink, df.schema, rows, NativeBlockRows,
          customSerFlag = tcp && graft.server.NativeServer.Revision >= 54454)
      case "arrow" => ArrowCodec.write(sink, df.schema, rows, file = true)
      case text =>
        val w = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(sink, java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
        ResultFormatter.write(df, text, w)
        w.flush()
    }
  }

  def digestOf(df: DataFrame, format: String, tcp: Boolean = false): String = {
    val d = new Digester
    render(df, format, d.stream, tcp)
    d.hex
  }

  def digest(spark: SparkSession, sql: String, format: String, queryId: String,
             tcp: Boolean = false): String =
    digestOf(execute(spark, sql, queryId), format, tcp)

  /** Library digests of (statement, format, native TCP layout) keys,
    * four statements at a time. */
  def digests(spark: SparkSession, keys: Seq[(String, String, Boolean)])
      : Map[(String, String, Boolean), String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try keys.zipWithIndex.map { case (k @ (sql, fmt, tcp), i) =>
      k -> pool.submit(() => digest(spark, sql, fmt, s"ref-$i", tcp))
    }.map { case (k, f) => k -> f.get() }.toMap
    finally pool.shutdown()
  }

  def bytes(spark: SparkSession, sql: String, format: String, queryId: String): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    render(execute(spark, sql, queryId), format, b)
    b.toByteArray
  }
}

/** Just enough JSON for the benchmark's result files. */
object Json {
  def encode(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => encode(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => encode(k.toString) + ": " + encode(x) }.mkString("{", ", ", "}")
    case o: Option[_] => o.map(encode).getOrElse("null")
    case s: Iterable[_] => s.map(encode).mkString("[", ", ", "]")
    case p: Product if p.productArity == 2 =>
      encode(Seq(p.productElement(0), p.productElement(1)))
    case other => encode(other.toString)
  }

  def write(f: java.io.File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath,
      (encode(v) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def read(f: java.io.File): Map[String, Any] = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    org.json4s.jackson.JsonMethods.parse(f).extract[Map[String, Any]]
  }
}
