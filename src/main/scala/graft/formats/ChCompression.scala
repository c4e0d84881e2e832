package graft.formats

import java.io.InputStream
import java.nio.{ByteBuffer, ByteOrder}

/** ClickHouse native-protocol compressed frame codec.
  *
  * Public wire layout (what every real ClickHouse client speaks when
  * compression is negotiated; the reference facade reads the compression
  * flag at /root/reference/main.py:498-512 but never frames blocks):
  *
  *   16 bytes  CityHash128 v1.0.2 of everything that follows
  *    1 byte   method: 0x82 = LZ4, 0x90 = ZSTD, 0x02 = None
  *    4 bytes  LE compressed_size  (= 9-byte header + payload length)
  *    4 bytes  LE uncompressed_size
  *    payload  (LZ4 block format for 0x82; raw bytes for 0x02)
  *
  * LZ4 block compression comes from lz4-java (shipped in
  * /opt/spark/jars), the same block format ClickHouse's own LZ4 uses.
  */
object ChCompression {
  val MethodNone: Int = 0x02
  val MethodLZ4: Int = 0x82
  val MethodZSTD: Int = 0x90
  private val HeaderSize = 9 // method byte + two LE uint32 sizes

  private lazy val factory = net.jpountz.lz4.LZ4Factory.fastestInstance()

  /** Wrap `raw` in one compressed frame (LZ4 by default; ZSTD and None
    * supported for parity with clients that negotiate them). */
  def compressFrame(raw: Array[Byte], method: Int = MethodLZ4): Array[Byte] = {
    val comp: Array[Byte] = method match {
      case MethodLZ4 =>
        val compressor = factory.fastCompressor()
        val maxLen = compressor.maxCompressedLength(raw.length)
        val buf = new Array[Byte](maxLen)
        val n = compressor.compress(raw, 0, raw.length, buf, 0, maxLen)
        java.util.Arrays.copyOf(buf, n)
      case MethodZSTD => com.github.luben.zstd.Zstd.compress(raw)
      case MethodNone => raw
      case m => throw new IllegalArgumentException(f"method 0x$m%02x")
    }
    val body = ByteBuffer.allocate(HeaderSize + comp.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    body.put(method.toByte)
    body.putInt(HeaderSize + comp.length) // compressed_size includes the header
    body.putInt(raw.length)
    body.put(comp)
    val bodyArr = body.array()
    val (lo, hi) = CityHash102.cityHash128(bodyArr)
    val out = ByteBuffer.allocate(16 + bodyArr.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.putLong(lo).putLong(hi).put(bodyArr)
    out.array()
  }

  /** Wire sizes are untrusted input: bound them BEFORE any allocation
    * or hashing (a corrupt/hostile frame with a negative or huge size
    * otherwise drives negative-array / out-of-bounds / multi-GB
    * allocations before the checksum can reject it). ClickHouse caps
    * blocks at max_compress_block_size ~1 MiB; 256 MiB leaves wide
    * slack for non-default senders. */
  private val MaxFrameBytes = 256 << 20

  private def checkSizes(compressedSize: Int, uncompressedSize: Int): Unit = {
    require(compressedSize >= HeaderSize && compressedSize <= MaxFrameBytes,
      s"bad compressed_size $compressedSize")
    require(uncompressedSize >= 0 && uncompressedSize <= MaxFrameBytes,
      s"bad uncompressed_size $uncompressedSize")
  }

  /** Decode one frame from a byte array; verifies the checksum.
    * Returns (decompressedPayload, bytesConsumed). */
  def decodeFrame(frame: Array[Byte], off: Int = 0): (Array[Byte], Int) = {
    val bb = ByteBuffer.wrap(frame, off, frame.length - off)
      .order(ByteOrder.LITTLE_ENDIAN)
    val lo = bb.getLong; val hi = bb.getLong
    val method = bb.get() & 0xff
    val compressedSize = bb.getInt
    val uncompressedSize = bb.getInt
    checkSizes(compressedSize, uncompressedSize)
    require(off + 16 + compressedSize <= frame.length,
      s"frame truncated: need ${16 + compressedSize}, have ${frame.length - off}")
    val payloadLen = compressedSize - HeaderSize
    val (gotLo, gotHi) =
      CityHash102.cityHash128(frame, off + 16, compressedSize)
    require(gotLo == lo && gotHi == hi,
      f"compressed-frame checksum mismatch: got ($gotLo%016x,$gotHi%016x) want ($lo%016x,$hi%016x)")
    val payloadOff = off + 16 + HeaderSize
    val out = method match {
      case MethodLZ4 =>
        val dst = new Array[Byte](uncompressedSize)
        factory.fastDecompressor()
          .decompress(frame, payloadOff, dst, 0, uncompressedSize)
        dst
      case MethodZSTD =>
        val dst = new Array[Byte](uncompressedSize)
        com.github.luben.zstd.Zstd.decompressByteArray(
          dst, 0, uncompressedSize, frame, payloadOff, payloadLen)
        dst
      case MethodNone =>
        java.util.Arrays.copyOfRange(frame, payloadOff, payloadOff + payloadLen)
      case m =>
        throw new IllegalArgumentException(f"unsupported compression method 0x$m%02x")
    }
    (out, 16 + compressedSize)
  }

  /** Read exactly one compressed frame off a stream (blocking). */
  def readFrame(in: InputStream): Array[Byte] = {
    val head = Wire.readFully(in, 16 + HeaderSize)
    val bb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
    bb.position(16 + 1)
    val compressedSize = bb.getInt
    val uncompressedSize = bb.getInt
    checkSizes(compressedSize, uncompressedSize)
    val rest = Wire.readFully(in, compressedSize - HeaderSize)
    val frame = new Array[Byte](16 + compressedSize)
    System.arraycopy(head, 0, frame, 0, head.length)
    System.arraycopy(rest, 0, frame, head.length, rest.length)
    decodeFrame(frame)._1
  }

  /** View the compressed wire as a continuous decompressed stream:
    * ClickHouse frames are a TRANSPORT layer — one logical block can
    * span several frames (clients flush every max_compress_block_size
    * ~1 MiB of raw data, mid-block). Readers that decode a block must
    * pull frames on demand until the block's own structure is
    * satisfied, which is exactly what real servers do. Reads past the
    * current frame fetch the next one lazily; the caller must consume
    * exactly one block (writers flush at block boundaries, so the last
    * frame of a block ends with it). */
  def frameStream(in: InputStream): InputStream = new InputStream {
    private var buf: Array[Byte] = Array.emptyByteArray
    private var pos = 0
    private def refill(): Boolean = {
      if (pos < buf.length) return true
      buf = readFrame(in); pos = 0
      buf.nonEmpty
    }
    override def read(): Int =
      if (!refill()) -1 else { val b = buf(pos) & 0xff; pos += 1; b }
    override def read(dst: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (!refill()) return -1
      val n = math.min(len, buf.length - pos)
      System.arraycopy(buf, pos, dst, off, n)
      pos += n
      n
    }
  }
}
