package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.{HttpURLConnection, Socket, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import graft.server.{NativeServer => P}

/** What one wire call returned: status, body size and digest, and the
  * times to the first body byte and to the last. */
final case class Reply(status: Int, bytes: Long, digest: String,
                       ttfbNs: Long, totalNs: Long, error: String = "")

/** A digest of a byte stream, fed as the bytes pass. */
final class Digester {
  private val md = MessageDigest.getInstance("MD5")
  private var n = 0L
  val stream: OutputStream = new OutputStream {
    override def write(b: Int): Unit = { md.update(b.toByte); n += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      md.update(b, off, len); n += len
    }
  }
  /** A character sink that digests the UTF-8 encoding of its input. */
  def writer: java.io.Writer =
    new java.io.BufferedWriter(new java.io.OutputStreamWriter(stream, UTF_8), 1 << 16)
  def bytes: Long = n
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}

object Wire {
  /** Connect and read timeout of every wire call; a call that exceeds
    * it fails. */
  val TimeoutMs = 60000
}

/** Loopback HTTP client of the ClickHouse HTTP interface. Connections
  * are kept alive between calls, as clickhouse clients keep them. */
final class HttpClient(port: Int, timeoutMs: Int = Wire.TimeoutMs) {
  private def url(params: Seq[(String, String)]): java.net.URL =
    URI.create(s"http://127.0.0.1:$port/?" + params.map { case (k, v) =>
      s"$k=${URLEncoder.encode(v, UTF_8)}" }.mkString("&")).toURL

  /** POSTs `body` with `params`; streams the reply through a digest,
    * optionally keeping the bytes when `keep` is set. */
  def post(params: Seq[(String, String)], body: Array[Byte],
           keep: java.io.ByteArrayOutputStream = null): Reply = {
    val t0 = System.nanoTime()
    val c = url(params).openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(timeoutMs); c.setReadTimeout(timeoutMs)
    c.setDoOutput(true); c.setRequestMethod("POST")
    c.setFixedLengthStreamingMode(body.length)
    try {
      val os = c.getOutputStream
      os.write(body); os.close()
      val status = c.getResponseCode
      val in = if (status < 400) c.getInputStream else c.getErrorStream
      val d = new Digester
      val buf = new Array[Byte](1 << 16)
      var ttfb = 0L
      var k = if (in == null) -1 else in.read(buf)
      if (k >= 0) ttfb = System.nanoTime() - t0
      while (k >= 0) {
        d.stream.write(buf, 0, k)
        if (keep != null) keep.write(buf, 0, k)
        k = in.read(buf)
      }
      if (in != null) in.close()
      val total = System.nanoTime() - t0
      Reply(status, d.bytes, d.hex, if (ttfb == 0L) total else ttfb, total)
    } catch {
      case scala.util.control.NonFatal(e) =>
        c.disconnect()
        Reply(-1, 0, "", 0, System.nanoTime() - t0, e.toString)
    }
  }

  def query(sql: String, format: String, queryId: String,
            keep: java.io.ByteArrayOutputStream = null): Reply =
    post(Seq("default_format" -> format, "query_id" -> queryId),
      sql.getBytes(UTF_8), keep)
}

/** Client of the ClickHouse native TCP protocol at the revision the
  * engine announces. One connection, one statement at a time. */
final class NativeClient(port: Int, timeoutMs: Int = Wire.TimeoutMs) extends AutoCloseable {
  val revision: Long = P.Revision
  private val sock = new Socket("127.0.0.1", port)
  sock.setSoTimeout(timeoutMs)
  sock.setTcpNoDelay(true)
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)

  hello()

  private def hello(): Unit = {
    P.writeVarint(out, P.ClientHello)
    P.writeStr(out, "perfbench")
    P.writeVarint(out, 25); P.writeVarint(out, 5)
    P.writeVarint(out, revision)
    P.writeStr(out, "default"); P.writeStr(out, "default"); P.writeStr(out, "")
    P.writeStr(out, "") // quota key, sent after the server hello
    out.flush()
    require(P.readVarint(in) == P.ServerHello, "no server hello")
    P.readStr(in); P.readVarint(in); P.readVarint(in)
    val rev = P.readVarint(in)
    if (rev >= 54058) P.readStr(in)
    if (rev >= 54372) P.readStr(in)
    if (rev >= 54401) P.readVarint(in)
    if (rev >= 54461) P.readVarint(in)
    if (rev >= 54462) P.readFixed(in, 8)
  }

  private def emptyBlock(): Unit = {
    P.writeVarint(out, P.ClientData)
    P.writeStr(out, "")
    writeBlockInfo()
    P.writeVarint(out, 0); P.writeVarint(out, 0)
  }

  private def writeBlockInfo(): Unit = {
    P.writeVarint(out, 1); out.write(0)
    P.writeVarint(out, 2); P.writeFixed(out, 4)(_.putInt(-1))
    P.writeVarint(out, 0)
  }

  private def skipBlockInfo(): Unit = {
    var f = P.readVarint(in)
    while (f != 0) {
      if (f == 1) in.read() else if (f == 2) P.readFixed(in, 4)
      f = P.readVarint(in)
    }
  }

  private def sendQuery(sql: String, queryId: String): Unit = {
    P.writeVarint(out, P.ClientQuery)
    P.writeStr(out, queryId)
    out.write(1) // client info follows
    P.writeStr(out, "default"); P.writeStr(out, queryId); P.writeStr(out, "127.0.0.1:0")
    P.writeFixed(out, 8)(_.putLong(0L))
    out.write(1) // TCP interface
    P.writeStr(out, ""); P.writeStr(out, "localhost"); P.writeStr(out, "perfbench")
    P.writeVarint(out, 25); P.writeVarint(out, 5); P.writeVarint(out, revision)
    P.writeStr(out, "") // quota key
    P.writeVarint(out, 0) // distributed depth
    P.writeVarint(out, 2) // version patch
    out.write(0) // no OpenTelemetry context
    P.writeVarint(out, 0); P.writeVarint(out, 0); P.writeVarint(out, 0)
    P.writeStr(out, "") // end of settings
    P.writeStr(out, "") // inter-server secret
    P.writeVarint(out, 2) // stage: complete
    P.writeVarint(out, 0) // no compression
    P.writeStr(out, sql)
    P.writeStr(out, "") // end of parameters
    emptyBlock() // external tables terminator
    out.flush()
  }

  /** Runs `sql`; the reply digest covers the bytes of every DATA block
    * body, which is what [[NativeCodec.writeBlocks]] produces for the
    * same rows. */
  def query(sql: String, queryId: String): Reply = {
    val t0 = System.nanoTime()
    try {
      sendQuery(sql, queryId)
      val d = new Digester
      val tee = new InputStream {
        override def read(): Int = { val b = in.read(); if (b >= 0) d.stream.write(b); b }
        override def read(b: Array[Byte], off: Int, len: Int): Int = {
          val k = in.read(b, off, len); if (k > 0) d.stream.write(b, off, k); k
        }
      }
      var ttfb = 0L
      var err = ""
      var done = false
      while (!done) {
        P.readVarint(in) match {
          case P.ServerData =>
            P.readStr(in); skipBlockInfo()
            if (ttfb == 0L) ttfb = System.nanoTime() - t0
            graft.formats.NativeCodec.decode(tee, revision >= 54454)
          case P.ServerProgress =>
            P.readVarint(in); P.readVarint(in); P.readVarint(in)
            if (revision >= 54463) P.readVarint(in)
            if (revision >= 54420) { P.readVarint(in); P.readVarint(in) }
            if (revision >= 54460) P.readVarint(in)
          case P.ServerProfileInfo =>
            P.readVarint(in); P.readVarint(in); P.readVarint(in)
            in.read(); P.readVarint(in); in.read()
          case P.ServerTotals | P.ServerExtremes =>
            P.readStr(in); skipBlockInfo()
            graft.formats.NativeCodec.decode(in, revision >= 54454)
          case P.ServerException =>
            P.readFixed(in, 4); P.readStr(in); err = P.readStr(in)
            P.readStr(in); in.read()
          case P.ServerEndOfStream => done = true
          case other => throw new IllegalStateException(s"unexpected packet $other")
        }
      }
      val total = System.nanoTime() - t0
      Reply(if (err.isEmpty) 200 else 500, d.bytes, d.hex,
        if (ttfb == 0L) total else ttfb, total, err)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Reply(-1, 0, "", 0, System.nanoTime() - t0, e.toString)
    }
  }

  override def close(): Unit = sock.close()
}
