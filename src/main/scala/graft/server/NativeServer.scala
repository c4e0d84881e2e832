package graft.server

import org.apache.spark.sql.SparkSession
import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors
import graft.dialect.{Engine, Transpiler}
import graft.formats.{ChCompression, NativeCodec, Wire}
import scala.util.control.NonFatal

/** ClickHouse native TCP protocol server (SURVEY.md §2.10 A7-A10;
  * reference behavior at /root/reference/main.py:219-814).
  *
  * Packet flow per connection:
  *   client HELLO -> server HELLO with revision-gated fields (TZ,
  *   display name, version patch, password rules, nonce —
  *   main.py:341-402); then a loop of QUERY (client info, settings,
  *   stage, compression, text, parameters — main.py:437-525) answered
  *   with DATA(BlockInfo + columnar block) + END_OF_STREAM for SELECTs,
  *   bare END_OF_STREAM for DDL/DML (main.py:656-662), EXCEPTION with
  *   the message on error (main.py:664-667); PING -> PONG; client DATA
  *   blocks (external tables terminator) are read and discarded.
  *
  * Like HTTP, a codec over the engine's one query lifecycle
  * ([[graft.dialect.Engine.serve]]): HELLO's database and the QUERY
  * packet's id, settings and text make an `Engine.Request`; the
  * handle's frame, totals and extremes go out as DATA, TOTALS and
  * EXTREMES. Compression mode 1 is disambiguated on the wire (see
  * handleQuery).
  */
class NativeServer(spark: SparkSession, port: Int,
                   fixtureDir: Option[String] = None,
                   blockRows: Int = 65536,
                   idleTimeoutMs: Int = 30000) {

  import NativeServer._

  private val server = new ServerSocket(port)
  private val pool = Executors.newCachedThreadPool()
  @volatile private var running = false

  def start(): Unit = {
    running = true
    pool.submit(new Runnable {
      override def run(): Unit =
        while (running)
          try {
            val sock = server.accept()
            pool.submit(new Runnable { override def run(): Unit = serve(sock) })
          } catch {
            // transient accept failures (e.g. fd exhaustion) must not
            // kill the listener thread; only a stop() ends the loop
            case NonFatal(_) if !running => ()
            case NonFatal(t) =>
              System.err.println(s"native accept failed: ${t.getMessage}")
              Thread.sleep(100)
          }
    })
  }

  def stop(): Unit = { running = false; server.close(); pool.shutdownNow() }
  def boundPort: Int = server.getLocalPort

  private def serve(sock: Socket): Unit = {
    // idle-client timeout, matching the reference server's 30s
    // settimeout on each accepted connection (main.py:252): a hung or
    // half-open peer must not pin a pooled thread and an fd forever.
    // Reads that block past the deadline raise SocketTimeoutException,
    // caught by the outer handler, which closes the socket. Mid-query
    // work is unaffected — the timeout only covers blocking reads, and
    // a live client keeps the stream moving (PINGs between queries,
    // DATA blocks during INSERT).
    sock.setSoTimeout(idleTimeoutMs)
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    var clientRevision = 0L
    var session: SparkSession = spark
    var authUser: String = "default"
    var database = ""
    var dataCompressed = false // last query negotiated LZ4 framing
    try {
      while (true) {
        readVarint(in) match {
          case ClientHello =>
            readStr(in) // client name
            readVarint(in); readVarint(in) // version major/minor
            clientRevision = readVarint(in)
            database = readStr(in)
            val user = readStr(in); val password = readStr(in)
            // per-credential catalog isolation (main.py:140-173)
            authUser = if (user.nonEmpty) user else "default"
            if (user.nonEmpty) session = UserSessions.forKey(spark, s"$user:$password", fixtureDir)
            val used = math.min(clientRevision, Revision)
            writeVarint(out, ServerHello)
            writeStr(out, ServerName)
            writeVarint(out, VersionMajor); writeVarint(out, VersionMinor)
            writeVarint(out, Revision)
            if (used >= 54058) writeStr(out, "UTC")
            if (used >= 54372) writeStr(out, ServerName)
            if (used >= 54401) writeVarint(out, VersionPatch)
            if (used >= 54461) writeVarint(out, 0) // no password rules
            if (used >= 54462) writeFixed(out, 8)(_.putLong(0L)) // nonce
            out.flush()
            // addendum: clients at negotiated revision >= 54458 send
            // their quota key string right after our HELLO — leaving it
            // unread makes the main loop parse its length varint as a
            // packet type and desync the whole connection
            if (used >= 54458) readStr(in)

          case ClientQuery =>
            dataCompressed =
              handleQuery(in, out, clientRevision, session, authUser, database)

          case ClientData =>
            // external-tables stream: table name + (BlockInfo + block).
            // Usually the empty terminator, but a client MAY ship an
            // actual external table — decode the full block (discarding
            // it; external tables are unsupported, not desync-fatal).
            readData(in, dataCompressed, clientRevision >= 54454)

          case ClientPing =>
            writeVarint(out, ServerPong); out.flush()

          case ClientCancel => ()

          case _ => return // unknown packet: drop connection
        }
      }
    } catch {
      case _: java.io.EOFException => ()
      case _: java.net.SocketException => ()
      case _: java.net.SocketTimeoutException => () // idle client: drop
    } finally sock.close()
  }

  /** Returns whether this query negotiated LZ4 data framing (the
    * caller applies it to subsequent client DATA packets). */
  private def handleQuery(in: InputStream, out: OutputStream,
                          clientRevision: Long, session: SparkSession,
                          authUser: String, database: String): Boolean = {
    val queryId = readStr(in) // query id (keys system.processes / KILL)
    if (clientRevision >= 54032) {
      val kind = readByte(in)
      if (kind != 0) {
        readStr(in); readStr(in); readStr(in) // initial user/query_id/address
        if (clientRevision >= 54449) readFixed(in, 8) // initial start time
        readByte(in) // interface
        readStr(in); readStr(in); readStr(in) // os_user, hostname, client name
        readVarint(in); readVarint(in) // version major/minor
        val infoRevision = readVarint(in)
        if (infoRevision >= 54060) readStr(in) // quota key
        if (infoRevision >= 54448) readVarint(in) // distributed depth
        // real clients (clickhouse-driver gates these on the NEGOTIATED
        // revision, = clientRevision here since we announce 54468) send
        // more client-info fields — unread, the settings loop would
        // parse them as setting names and desync every real query
        if (clientRevision >= 54401) readVarint(in) // client version patch
        if (clientRevision >= 54442 && readByte(in) == 1) { // OpenTelemetry
          readFixed(in, 16 + 8); readStr(in); readByte(in) // trace/span id, state, flags
        }
        // collaborate_with_initiator, count_participating_replicas,
        // number_of_current_replica
        if (clientRevision >= 54453) { readVarint(in); readVarint(in); readVarint(in) }
      }
    }
    // settings, then (past the text) parameters: (name, flags, value)
    // until an empty name. Every setting goes to the request.
    def readSettings() = Iterator.continually(readStr(in)).takeWhile(_.nonEmpty)
      .map { name => readByte(in); name -> readStr(in) }.toMap
    val settings = readSettings()
    if (clientRevision >= 54441) readStr(in) // inter-server secret
    readVarint(in) // query stage
    val compression = readVarint(in)
    // compression modes mirror main.py:498-512: 0 = plain, 1 = zlib
    // (varint-length zlib bytes), 2 = empty-compressed marker then a
    // plain string
    // Mode 1 is overloaded on the wire: the reference's facade clients
    // send zlib-deflated query text (main.py:498-512 quirk), while real
    // ClickHouse clients negotiating compression send PLAIN text and
    // expect LZ4-framed DATA blocks back. zlib's magic header makes the
    // two cases cleanly distinguishable: if the text actually inflated,
    // it's a facade client (plain responses); if it was plain, it's a
    // real client (compressed responses).
    var lz4Responses = false
    val query = compression match {
      case 0 => readStr(in)
      case 1 =>
        val (text, wasZlib) = readZlibStr(in)
        lz4Responses = !wasZlib
        text
      case _ => readZlibStr(in); readStr(in)
    }
    if (clientRevision >= 54459) readSettings()

    val serFlag = clientRevision >= 54454
    // Streaming INSERT (the real clickhouse-driver bulk-write flow): an
    // INSERT query carrying NO inline data means "send me the table
    // structure, then I stream DATA blocks". Server answers with a
    // zero-row sample block, reads client blocks until the empty
    // terminator, lands them through the aligned append path.
    val streamed = Engine.insertHeader(query)
      .collect { case (h, end) if query.substring(end).trim.isEmpty => h }
    // WITH TOTALS on the native protocol: the grouped rows go out as
    // DATA and the all-rows aggregate as a separate TOTALS packet (type
    // 7, reference constant main.py:61) — that is what populates
    // clickhouse-driver's `.totals`. Native ignores FORMAT.
    val request = Engine.Request(
      streamed.fold(Transpiler.extractFormat(query)._1)(_.statement), authUser,
      Some(queryId), settings, database, totals = true,
      rows = streamed.map(h => handleStreamingInsert(in, out, _, h, serFlag, lz4Responses)))
    Engine.serve(session, request)(q => {
      val df = q.frame
      // a statement that returns rows (SELECT, SHOW, DESCRIBE, EXISTS,
      // EXPLAIN, …) has columns; DDL/DML answer with an empty frame
      if (df.schema.nonEmpty) {
        val t0 = System.nanoTime()
        // Stream the result as bounded blocks through rowsOf: driver
        // memory is one partition + one block, never the whole result.
        // A delta PROGRESS packet precedes each DATA block (the
        // reference defines the constant, main.py:57, but never emits
        // one); bytes are an estimate, totals 0 = unknown.
        val used = math.min(clientRevision, Revision)
        val nCols = df.schema.fields.length
        var nBlocks = 0L
        val nRows = NativeCodec.writeBlocks(out, df.schema,
          graft.formats.ResultFormatter.rowsOf(df), blockRows,
          customSerFlag = serFlag,
          frame = { blockLen =>
            nBlocks += 1
            val approxBytes = blockLen.toLong * nCols * 8
            writeVarint(out, ServerProgress)
            writeVarint(out, blockLen.toLong) // read_rows (delta)
            writeVarint(out, approxBytes)     // read_bytes (delta)
            if (used >= 51554) writeVarint(out, 0) // total_rows_to_read: unknown
            if (used >= 54463) writeVarint(out, 0) // total_bytes_to_read: unknown
            if (used >= 54420) { writeVarint(out, 0); writeVarint(out, 0) } // written rows/bytes
            if (used >= 54460) writeVarint(out, System.nanoTime() - t0) // elapsed_ns
          },
          body = writeBlockPacket(_, ServerData, "", _, lz4Responses))
        // TOTALS packet (type 7): the empty-grouping-set aggregate,
        // encoded against the MAIN schema so both blocks announce
        // identical column types (null group keys encode as ClickHouse
        // defaults when the main column is non-Nullable).
        q.totals.foreach(rows => writeBlockPacket(out, ServerTotals, "",
          NativeCodec.encode(df.schema, rows.toArray, serFlag), lz4Responses))
        // EXTREMES packet (type 8), when the `extremes` setting is on:
        // one 2-row block, min then max
        q.extremes.foreach { case (mn, mx) => writeBlockPacket(out, ServerExtremes, "",
          NativeCodec.encode(df.schema, Array(mn, mx), serFlag), lz4Responses) }
        // PROFILE_INFO (type 6, reference constant main.py:60): rows,
        // blocks, bytes, applied_limit, rows_before_limit,
        // calculated_rows_before_limit — clickhouse-driver populates
        // client-side profile stats from this.
        writeVarint(out, ServerProfileInfo)
        writeVarint(out, nRows)
        writeVarint(out, nBlocks)
        writeVarint(out, nRows * df.schema.fields.length * 8) // bytes (estimate)
        out.write(0) // applied_limit: unknown/false
        writeVarint(out, 0) // rows_before_limit
        out.write(0) // calculated_rows_before_limit: false
      }
      q.close() // the statement retires before its END_OF_STREAM
      writeVarint(out, ServerEndOfStream)
      out.flush()
    }, t => {
      // full exception wire structure (code Int32 + name + message +
      // stack_trace + has_nested) — a bare message string made real
      // clients parse its first bytes as the error code and desync
      writeVarint(out, ServerException)
      writeFixed(out, 4)(_.putInt(1002)) // UNKNOWN_EXCEPTION
      writeStr(out, t.getClass.getSimpleName)
      writeStr(out, Option(t.getMessage).getOrElse(t.getClass.getName))
      writeStr(out, "") // stack trace (not leaked to clients)
      out.write(0) // has_nested = false
      writeVarint(out, ServerEndOfStream)
      out.flush()
    })
    lz4Responses
  }

  /** The native bulk-write flow (public protocol; clickhouse-driver's
    * `execute("INSERT INTO t VALUES", rows)`): consume the
    * external-tables stream the client sends unconditionally after the
    * Query packet, answer with a zero-row sample block carrying the
    * target structure, read client DATA blocks until the empty
    * terminator, and land them through the aligned append path in
    * bounded chunks. The answer's END_OF_STREAM follows. */
  private def handleStreamingInsert(in: InputStream, out: OutputStream, session: SparkSession,
                                    h: Engine.InsertHeader, serFlag: Boolean,
                                    compressed: Boolean): Unit = {
    val bare = h.table.replace("`", "")
    val target = Engine.targetSchema(session, bare, h.cols)
    // the client's next DATA block; PINGs are answered, CANCEL ends the
    // stream
    @scala.annotation.tailrec
    def nextBlock(): Option[(String, NativeCodec.Block)] = readVarint(in) match {
      case ClientData => Some(readData(in, compressed, serFlag))
      case ClientPing => writeVarint(out, ServerPong); out.flush(); nextBlock()
      case ClientCancel => None
      case other => throw new IllegalStateException(s"unexpected packet $other during INSERT")
    }
    // External tables: every real client (clickhouse-driver
    // send_external_tables) streams zero or more NAMED blocks, then an
    // UNNAMED empty terminator, right after the query and before it
    // waits for the sample. Consume them first, up to the block with
    // an EMPTY table name (a named-but-empty external table does not
    // end them), or the bulk INSERT would land zero rows.
    while (nextBlock().exists(_._1.nonEmpty)) ()
    writeBlockPacket(out, ServerData, bare,
      NativeCodec.encode(target, Array.empty, serFlag), compressed)
    out.flush()
    // Land in bounded chunks: blocks arrive pre-framed, so buffering
    // the WHOLE stream before one append put an O(insert-size) heap
    // ceiling on the bulk path; per-chunk appends keep the same
    // per-block visibility granularity the client chose.
    val FlushRows = 1 << 16
    var names: Seq[String] = Nil
    val rows = Vector.newBuilder[Seq[Any]]
    var buffered = 0
    def flush(): Unit = if (buffered > 0) {
      Engine.land(session, bare,
        graft.formats.Formats.decodedFrame(session, target, names, rows.result()))
      rows.clear()
      buffered = 0
    }
    // a zero-row block (0 cols, or schema echo with 0 rows) is the
    // stream terminator
    Iterator.continually(nextBlock().map { case (_, b) => (b, NativeCodec.rowsOf(b)) })
      .takeWhile(_.exists(_._2.nonEmpty)).flatten.foreach { case (block, received) =>
        if (names.isEmpty) names = block.map(_._1)
        rows ++= received
        buffered += received.length
        if (buffered >= FlushRows) flush()
      }
    flush()
  }

  /** varint-length zlib-deflated string (main.py:782-804 framing).
    * Returns (text, wasActuallyZlib) — plain text falls through with
    * false, which is how real-client compression mode is detected. */
  private def readZlibStr(in: InputStream): (String, Boolean) = {
    val buf = readBytes(in)
    try (new String(new java.util.zip.InflaterInputStream(
      new java.io.ByteArrayInputStream(buf)).readAllBytes(), UTF_8), true)
    catch { case _: java.util.zip.ZipException | _: java.io.EOFException => (new String(buf, UTF_8), false) }
  }

  /** A block-carrying server packet (DATA, TOTALS, EXTREMES): type and
    * table name, then BlockInfo + the encoded block. When the query
    * negotiated compression, BlockInfo + block go INSIDE one LZ4 frame;
    * packet type and table name stay plain (the public compressed-wire
    * layout). */
  private def writeBlockPacket(out: OutputStream, kind: Long, table: String,
                               block: Array[Byte], compressed: Boolean): Unit = {
    writeVarint(out, kind)
    writeStr(out, table)
    if (compressed) out.write(ChCompression.compressFrame(BlockInfoBytes ++ block))
    else { out.write(BlockInfoBytes); out.write(block) }
  }

  /** A client DATA packet after its type: (table name, block), the
    * BlockInfo skipped. Under negotiated compression the body is
    * frame-spanning: one block can arrive as several ~1 MiB frames
    * (clients flush mid-block at max_compress_block_size), so frames
    * are pulled lazily until the block's structure is decoded. */
  private def readData(in: InputStream, compressed: Boolean,
                       serFlag: Boolean): (String, NativeCodec.Block) = {
    val table = readStr(in)
    val body = if (compressed) ChCompression.frameStream(in) else in
    skipBlockInfo(body)
    (table, NativeCodec.decode(body, serFlag))
  }

  private def skipBlockInfo(in: InputStream): Unit = {
    var field = readVarint(in)
    while (field != 0) {
      field match {
        case 1 => readByte(in)
        case 2 => readFixed(in, 4)
        case other =>
          // an unknown field's VALUE size is unknown — returning here
          // would leave it unread and desync the block that follows
          throw new IllegalStateException(s"unknown BlockInfo field $other")
      }
      field = readVarint(in)
    }
  }
}

object NativeServer extends Wire {
  // client packet types (main.py:40-50 enum order)
  val ClientHello = 0L; val ClientQuery = 1L; val ClientData = 2L
  val ClientCancel = 3L; val ClientPing = 4L
  // server packet types (main.py:53-61)
  val ServerHello = 0L; val ServerData = 1L; val ServerException = 2L
  val ServerProgress = 3L; val ServerPong = 4L; val ServerEndOfStream = 5L
  val ServerProfileInfo = 6L; val ServerTotals = 7L; val ServerExtremes = 8L

  /** Serialized BlockInfo: field 1 = is_overflows (0), field 2 =
    * bucket_num (-1 as Int32), field 0 = end (main.py:562-568). */
  val BlockInfoBytes: Array[Byte] = Array[Byte](1, 0, 2, -1, -1, -1, -1, 0)

  val ServerName = "graft"
  val VersionMajor = 25L; val VersionMinor = 5L; val VersionPatch = 2L
  val Revision = 54468L // protocol revision the reference reports (main.py:75-78)
}

/** `runMain graft.server.NativeServeMain [port] [sfDir]` */
object NativeServeMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(9000)
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.001")
    val spark = ServeMain.session()
    graft.dialect.ChContext.setup(spark, dir)
    val srv = new NativeServer(spark, port, Some(dir))
    srv.start()
    // close the listener on SIGTERM; UserSessions' own hook purges the
    // per-credential scratch databases (main.py:934-952 parity)
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => srv.stop(), "graft-native-stop"))
    println(s"[graft-native] listening on :$port over $dir")
    Thread.currentThread().join()
  }
}
