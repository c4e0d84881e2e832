package graft.formats

import java.io.{ByteArrayInputStream, EOFException, InputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

/** The ClickHouse native-wire primitives (the reference's
  * main.py:710-814): unsigned LEB128 varints, single bytes,
  * varint-length UTF-8 strings and fixed-width little-endian values.
  * The TCP server, the Native and RowBinary codecs and the
  * compressed-frame reader all read and write through this one copy.
  *
  * Every read is bounded: a stream that ends inside a value throws
  * [[EOFException]] (at a packet boundary too — the server's packet
  * loop takes that as the client hanging up), a varint may not run
  * past 10 bytes, and a declared length is checked before anything is
  * allocated for it ([[declared]]).
  *
  * A trait so that `NativeServer` serves the same definitions under its
  * own name; [[Wire]] is the plain object.
  */
trait Wire {

  /** Hard cap on a length a socket stream declares: a hostile length
    * would otherwise drive a multi-GB allocation on the shared driver
    * JVM before any byte of it arrives. */
  final val MaxWireBytes = 64 << 20

  /** One byte as a value (0-255); a stream that ends here is truncated
    * (a -1 taken as data would decode a claimed row count out of
    * nothing). */
  def readByte(in: InputStream): Int = {
    val b = in.read()
    if (b < 0) throw new EOFException()
    b
  }

  /** An unsigned LEB128 varint of at most 10 bytes (64 bits), as
    * ClickHouse's `readVarUInt` reads it: a longer one would shift past
    * bit 63 and return a wrapped value. */
  def readVarint(in: InputStream): Long = {
    var result = 0L
    var shift = 0
    while (shift < 70) {
      val b = readByte(in)
      result |= (b & 0x7fL) << shift
      if (b < 0x80) return result
      shift += 7
    }
    throw new IllegalArgumentException("varint longer than 10 bytes")
  }

  def writeVarint(out: OutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  def readFully(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = in.read(buf, off, n - off)
      if (k < 0) throw new EOFException()
      off += k
    }
    buf
  }

  /** A length the stream declares (a string's bytes, or a count of
    * items of at least one byte each), checked before anything is
    * allocated for it: a byte-array body that holds fewer bytes than it
    * declares is truncated, and a socket stream may declare no more
    * than [[MaxWireBytes]]. */
  def declared(in: InputStream, what: String): Int = {
    val n = readVarint(in)
    in match {
      case b: ByteArrayInputStream =>
        if (n < 0 || n > b.available())
          throw new EOFException(s"$what $n exceeds the ${b.available()} bytes left in the body")
      case _ =>
        require(n >= 0 && n <= MaxWireBytes, s"$what $n exceeds the wire cap of $MaxWireBytes bytes")
    }
    n.toInt
  }

  /** A varint-length byte string. */
  def readBytes(in: InputStream): Array[Byte] =
    readFully(in, declared(in, "string length"))

  def readStr(in: InputStream): String = new String(readBytes(in), UTF_8)

  def writeStr(out: OutputStream, s: String): Unit = {
    val bytes = s.getBytes(UTF_8)
    writeVarint(out, bytes.length); out.write(bytes)
  }

  /** `n` little-endian bytes, ready for `getInt`, `getLong`, … */
  def readFixed(in: InputStream, n: Int): ByteBuffer =
    ByteBuffer.wrap(readFully(in, n)).order(ByteOrder.LITTLE_ENDIAN)

  def writeFixed(out: OutputStream, n: Int)(fill: ByteBuffer => Unit): Unit = {
    val bb = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    fill(bb); out.write(bb.array())
  }
}

object Wire extends Wire
