package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Audio as a multimodal column: opaque BINARY WAV payloads + typed
  * metadata, decoded and feature-extracted batch-wise per partition —
  * the audio sibling of [[Multimodal]]'s PNG pipeline.
  *
  * The codec is REAL: payloads are genuine RIFF/WAVE files (PCM16
  * little-endian mono), written and chunk-walk-parsed against the RIFF
  * spec directly (r16: the JDK's static `AudioSystem` entry points
  * re-resolve the file-format SPI per call under a global lock, which
  * became the bottleneck once the per-row codec work was spread across
  * cores; javax.sound still decodes every payload — asserted in
  * OperatorsSpec as the format-parity proof). The SAMPLE CONTENT is
  * synthetic-deterministic —
  * `s(t) = ((doc_id*31 + t*17) mod 65536) - 32768` — so a SQL oracle
  * recomputes every per-clip statistic from `doc_id` alone without a
  * WAV parser, while the Spark side still exercises the full
  * encode → bytes → decode round trip (and, for resampling, a second
  * encode → decode pass over the decimated signal).
  *
  * All per-row work runs inside `mapPartitions` on a typed Dataset:
  * per-partition init is amortized, rows stream, nothing is collected.
  * At 100 TB this is the shape that matters — the decode is map-only,
  * embarrassingly parallel, and shuffles nothing.
  */
object AudioCodec {

  /** PCM sample rate of the attached clips (Hz). */
  val Rate = 8000

  /** Payload-attached row: real WAV bytes + typed metadata. */
  case class AudioDoc(doc_id: Long, payload: Array[Byte], media_type: String,
                      sample_rate: Int, n_samples: Int)

  /** Decoded-feature row: per-clip statistics from the decoded PCM.
    * `sq_sum` (sum of squared amplitudes) is the integer-exact energy
    * the usual RMS/loudness scores derive from; `zero_crossings` is the
    * standard voiced/unvoiced heuristic. */
  case class AudioFeatures(doc_id: Long, media_type: String,
                           sample_rate: Int, n_samples: Int,
                           duration_micros: Long, amp_sum: Long,
                           amp_min: Int, amp_max: Int, sq_sum: Long,
                           zero_crossings: Int)

  /** Decimated row: stats recomputed from a decode of the RE-ENCODED
    * resampled clip (proves the write path too). */
  case class AudioResample(doc_id: Long, new_rate: Int, new_n: Int,
                           new_amp_sum: Long, new_sq_sum: Long)

  /** Deterministic PCM content: recomputable by a SQL oracle. */
  @inline private def sample(id: Long, t: Int): Int =
    (((id * 31L + t.toLong * 17L) % 65536L) - 32768L).toInt

  /** Canonical RIFF/WAVE (PCM16 LE mono) writer — byte-compatible with
    * `AudioSystem.write`'s canonical 44-byte-header output, but written
    * directly: the JDK's static AudioSystem entry points re-resolve the
    * file-format SPI on EVERY call with global synchronization, which
    * measured as a 2x SLOWDOWN once the per-row codec work was spread
    * across 32 cores (r16). The payloads remain genuine WAV files;
    * OperatorsSpec decodes one with javax.sound as the parity proof. */
  private def encodeWav(samples: Array[Int], rate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    val bb = java.nio.ByteBuffer.wrap(out)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(rate).putInt(rate * 2) // sample rate, byte rate
      .putShort(2).putShort(16) // block align, bits/sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var t = 0
    while (t < samples.length) { bb.putShort(samples(t).toShort); t += 1 }
    out
  }

  /** Parse a WAV payload back to (sampleRate, PCM samples): strict
    * RIFF chunk walk (fmt must be PCM16 LE mono; unknown chunks are
    * skipped with even padding, per spec). A malformed payload —
    * truncated, or a chunk size outside the bytes left — fails with an
    * IllegalArgumentException. */
  private[graft] def decodeWav(bytes: Array[Byte]): (Int, Array[Int]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourCC(): String = {
      val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
    }
    require(bytes.length >= 12 && fourCC() == "RIFF", "payload is not a RIFF file")
    bb.getInt // riff size
    require(fourCC() == "WAVE", "payload is not a WAVE file")
    var rate = -1
    var raw: Array[Byte] = null
    while ((raw == null || rate < 0) && bb.remaining() >= 8) {
      val id = fourCC(); val size = bb.getInt
      // a negative size would walk the position backwards forever
      require(0 <= size && size <= bb.remaining,
        s"malformed WAV: chunk '$id' size $size exceeds the ${bb.remaining} bytes left")
      id match {
        case "fmt " =>
          require(size >= 16, s"malformed WAV: fmt chunk size $size < 16")
          val audioFormat = bb.getShort; val channels = bb.getShort
          rate = bb.getInt
          bb.getInt; bb.getShort // byte rate, block align
          val bits = bb.getShort
          require(audioFormat == 1 && channels == 1 && bits == 16,
            s"unsupported WAV layout: fmt=$audioFormat ch=$channels bits=$bits")
          bb.position(bb.position() + (size - 16))
        case "data" =>
          raw = new Array[Byte](size); bb.get(raw)
        case _ => // skip unknown chunk (sizes pad to even per spec)
          bb.position(math.min(bb.limit, bb.position() + size + (size & 1)))
      }
    }
    require(rate > 0 && raw != null, "WAV missing fmt or data chunk")
    val out = new Array[Int](raw.length / 2)
    var t = 0
    while (t < out.length) {
      out(t) = (((raw(2 * t) & 0xff) | (raw(2 * t + 1) << 8)).toShort).toInt
      t += 1
    }
    (rate, out)
  }

  /** Attach a real WAV payload + metadata to the documents table
    * (stands in for reading audio files alongside text; clip length
    * varies per document: n = doc_id mod 800 + 100 samples). */
  def attachPayload(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // spread the (8-byte) id column first: a single-file corpus scans
    // as ONE task, so the whole per-row encode pipeline below — and
    // every decode pass above it — ran serially (r16; guide §2.5,
    // no-op for multi-file corpora)
    graft.Tables.spread(docs.select(col("doc_id"))).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val n = (id % 800 + 100).toInt
          val pcm = Array.tabulate(n)(sample(id, _))
          AudioDoc(id, encodeWav(pcm, Rate), "audio/wav", Rate, n)
        }
      }
      .toDF()
      .select(col("doc_id"), col("payload"),
        struct(col("media_type"), col("sample_rate"), col("n_samples"))
          .as("meta"))
  }

  /** Decode each WAV payload and emit per-clip statistics. Rate and
    * length come from the DECODED file, not the metadata, so a corrupt
    * payload surfaces as a mismatch against the oracle. */
  def decodeFeatures(withPayload: DataFrame): Dataset[AudioFeatures] = {
    import withPayload.sparkSession.implicits._
    withPayload.select(col("doc_id"), col("payload"), col("meta.media_type"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, payload, mt) =>
          val (rate, pcm) = decodeWav(payload)
          var (sum, sq, mn, mx, zc) = (0L, 0L, Int.MaxValue, Int.MinValue, 0)
          var t = 0
          while (t < pcm.length) {
            val v = pcm(t)
            sum += v; sq += v.toLong * v
            if (v < mn) mn = v
            if (v > mx) mx = v
            if (t > 0 && ((pcm(t - 1) < 0) != (v < 0))) zc += 1
            t += 1
          }
          AudioFeatures(id, mt, rate, pcm.length,
            pcm.length.toLong * 1000000L / rate, sum, mn, mx, sq, zc)
        }
      }
  }

  /** Decimate each clip by `factor` (keep every factor-th sample),
    * RE-ENCODE the result as a real WAV at the reduced rate, decode it
    * again, and report stats from that second decode — one operator
    * exercising read AND write paths per row. */
  def resample(withPayload: DataFrame, factor: Int): Dataset[AudioResample] = {
    // factor 0 divides by zero in the executor; > Rate would re-encode
    // at sample rate 0 (integer division)
    require(factor >= 1 && factor <= Rate,
      s"decimation factor must be in [1, $Rate], got $factor")
    import withPayload.sparkSession.implicits._
    withPayload.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val (rate, pcm) = decodeWav(payload)
          val dec = Array.tabulate((pcm.length + factor - 1) / factor)(
            i => pcm(i * factor))
          val (rate2, pcm2) = decodeWav(encodeWav(dec, rate / factor))
          var (sum, sq) = (0L, 0L)
          var t = 0
          while (t < pcm2.length) {
            val v = pcm2(t); sum += v; sq += v.toLong * v; t += 1
          }
          AudioResample(id, rate2, pcm2.length, sum, sq)
        }
      }
  }
}
