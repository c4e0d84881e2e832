package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media as opaque BINARY payloads plus a
  * typed metadata struct, with the decode / feature-extract step run
  * batch-wise per partition.
  *
  * The codec is REAL: payloads are genuine PNG images encoded with the
  * JDK's `javax.imageio` (grayscale, one byte per pixel), and every
  * downstream operator decodes the actual PNG bytes back to pixels
  * before computing features / frames / resamples. The pixel CONTENT is
  * synthetic-deterministic — `v(x,y) = (doc_id + 7x + 13y) mod 256` —
  * so a SQL oracle can recompute every per-image statistic from
  * `doc_id` alone without a PNG decoder, while the Spark side still
  * exercises the full encode→bytes→decode round trip.
  *
  * All per-row work runs inside `mapPartitions` on a typed Dataset (the
  * Scala equivalent of a Pandas-UDF/mapInPandas batch): expensive
  * per-partition init is amortized, rows stream, nothing is collected.
  */
object Multimodal {

  /** Payload-attached row: the real PNG bytes + typed metadata. */
  case class MediaDoc(doc_id: Long, lang: String, payload: Array[Byte],
                      media_type: String, width: Int, height: Int)

  /** Decoded-feature row: per-image statistics from the decoded pixels. */
  case class MediaFeatures(doc_id: Long, media_type: String, width: Int,
                           height: Int, n_px: Int, px_sum: Long,
                           px_min: Int, px_max: Int, px_mean_micros: Long)

  /** Frame-sampled + nearest-neighbor-resized row (single decode pass). */
  case class MediaTransform(doc_id: Long, n_frames: Int, frame_px_sum: Long,
                            new_width: Int, new_height: Int,
                            resized_px_sum: Long, resized_payload: Array[Byte])

  /** Deterministic pixel content: recomputable by a SQL oracle. */
  @inline private def pixel(id: Long, x: Int, y: Int): Int =
    ((id + 7L * x + 13L * y) % 256L).toInt

  private def encodePng(id: Long, w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { r.setSample(x, y, 0, pixel(id, x, y)); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def decodePng(bytes: Array[Byte]): BufferedImage = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, "payload is not a decodable image")
    img
  }

  /** Attach a real PNG payload + metadata struct to the documents table
    * (stands in for reading image files alongside text: sizes vary per
    * document, bytes are a true lossless encoding of the pixels). */
  def attachPayload(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // spread the narrow input first: a single-file corpus scans as ONE
    // task, serializing the whole per-row PNG encode (and the decode
    // passes above) on one core (r16; guide §2.5, no-op for
    // multi-file corpora)
    graft.Tables.spread(docs.select(col("doc_id"), col("lang")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        ImageIO.setUseCache(false) // per-partition init: no temp-file cache
        rows.map { case (id, lang) =>
          val (w, h) = ((id % 29 + 4).toInt, (id % 23 + 4).toInt)
          MediaDoc(id, lang, encodePng(id, w, h), "image/png", w, h)
        }
      }
      .toDF()
      .select(col("doc_id"), col("lang"), col("payload"),
        struct(col("media_type"), col("width"), col("height")).as("meta"))
  }

  /** Decode each PNG payload and emit per-image pixel statistics. The
    * width/height come from the DECODED image (not the metadata), so a
    * corrupt or mislabeled payload surfaces as a mismatch. */
  def decodeFeatures(withPayload: DataFrame): Dataset[MediaFeatures] = {
    import withPayload.sparkSession.implicits._
    withPayload.select(col("doc_id"), col("payload"), col("meta.media_type"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        ImageIO.setUseCache(false)
        rows.map { case (id, payload, mt) =>
          val img = decodePng(payload)
          val (w, h) = (img.getWidth, img.getHeight)
          val r = img.getRaster
          var (sum, mn, mx) = (0L, 256, -1)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v = r.getSample(x, y, 0)
              sum += v; if (v < mn) mn = v; if (v > mx) mx = v
              x += 1
            }
            y += 1
          }
          val n = w * h
          MediaFeatures(id, mt, w, h, n, sum, mn, mx, sum * 1000000L / n)
        }
      }
  }

  /** One decode pass per image: scanline frame-sampling (every strideth
    * row of pixels — the video-frame pattern applied to an image's
    * rows) and aspect-preserving nearest-neighbor resize into a square
    * `box`, re-encoded as a real PNG. Nearest-neighbor (src index =
    * `x*w div nw`) is integer-exact, so the resized checksum is oracle-
    * recomputable — unlike interpolating resamplers. */
  def transformMedia(withPayload: DataFrame, stride: Int,
                     box: Int): Dataset[MediaTransform] = {
    // stride < 1 would spin the executor-side frame loop forever
    require(stride >= 1, s"stride must be >= 1, got $stride")
    require(box >= 1, s"box must be >= 1, got $box")
    import withPayload.sparkSession.implicits._
    withPayload.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        ImageIO.setUseCache(false)
        rows.map { case (id, payload) =>
          val img = decodePng(payload)
          val (w, h) = (img.getWidth, img.getHeight)
          val r = img.getRaster
          // frames: rows y = 0, stride, 2*stride, ...
          var (nFrames, fSum) = (0, 0L)
          var y = 0
          while (y < h) {
            nFrames += 1
            var x = 0
            while (x < w) { fSum += r.getSample(x, y, 0); x += 1 }
            y += stride
          }
          // aspect-fit into the box, nearest-neighbor resample
          val side = math.max(w, h)
          val nw = math.max(1, (w.toLong * box / side).toInt)
          val nh = math.max(1, (h.toLong * box / side).toInt)
          val out = new BufferedImage(nw, nh, BufferedImage.TYPE_BYTE_GRAY)
          val or = out.getRaster
          var rSum = 0L
          var yy = 0
          while (yy < nh) {
            val sy = yy * h / nh
            var xx = 0
            while (xx < nw) {
              val v = r.getSample(xx * w / nw, sy, 0)
              or.setSample(xx, yy, 0, v); rSum += v
              xx += 1
            }
            yy += 1
          }
          val bos = new ByteArrayOutputStream()
          ImageIO.write(out, "png", bos)
          MediaTransform(id, nFrames, fSum, nw, nh, rSum, bos.toByteArray)
        }
      }
  }

  /** Resize view of [[transformMedia]]. */
  def resize(withPayload: DataFrame, box: Int): DataFrame =
    transformMedia(withPayload, 1, box)
      .select("doc_id", "new_width", "new_height", "resized_px_sum",
        "resized_payload")
}
