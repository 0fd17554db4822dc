package graft.multimodal

import java.awt.image.BufferedImage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Banding

/** Perceptual image dedup — the multimodal face of the near-dup
  * family: a 64-bit average hash (aHash: grayscale, 8×8 downsample,
  * bit j set when the cell beats the mean) computed executor-side with
  * the same JDK-only decode boundary as [[Multimodal.JvmCodec]], then
  * Hamming near-dup pairs via pigeonhole banding — split 64 bits into
  * `maxHamming + 1` bands and a qualifying pair MUST collide on at
  * least one band (pigeonhole ⇒ EXACT recall, same argument as the
  * SimHash text path), so the shuffle is on band values, never pairs.
  *
  * Decode is the only non-relational step (mapPartitions, codec opened
  * once per task); banding, bucket join, and the `bit_count(xor)`
  * verify are all codegen'd column expressions. Undecodable payloads
  * are dropped from hashing (a corrupt file cannot near-dup anything)
  * rather than failing the partition.
  */
object ImageHash {

  /** 64-bit average hash of a decoded image: luminance-downsample to
    * 8×8 via pixel-box means, bit = cell > overall mean. Deterministic
    * for a given pixel grid; robust to re-encoding and mild noise.
    */
  def aHash64(img: BufferedImage): Long = {
    val cells = new Array[Double](64)
    val w = img.getWidth
    val h = img.getHeight
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        val x0 = cx * w / 8; val x1 = math.max((cx + 1) * w / 8, x0 + 1)
        val y0 = cy * h / 8; val y1 = math.max((cy + 1) * h / 8, y0 + 1)
        var sum = 0.0; var n = 0
        var y = y0
        while (y < math.min(y1, h)) {
          var x = x0
          while (x < math.min(x1, w)) {
            val rgb = img.getRGB(x, y)
            sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
              0.114 * (rgb & 0xff)
            n += 1
            x += 1
          }
          y += 1
        }
        cells(cy * 8 + cx) = if (n == 0) 0.0 else sum / n
        cx += 1
      }
      cy += 1
    }
    val mean = cells.sum / 64
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (cells(i) > mean) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** (idCol, phash) for every decodable image row; non-image and
    * undecodable payloads are dropped. Decode+hash is one pass with
    * per-task codec init, the mapPartitions shape of
    * [[Multimodal.decodeFeatures]].
    */
  def imageHashes(media: DataFrame, idCol: String, bytesCol: String): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col(idCol).cast("long"),
        Multimodal.sniffFormat(col(bytesCol)), col(bytesCol))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, format, bytes) =>
          format match {
            case "png" | "jpeg" | "gif" | "bmp" =>
              try {
                val img = javax.imageio.ImageIO.read(
                  new java.io.ByteArrayInputStream(bytes))
                if (img == null) None else Some((id, aHash64(img)))
              } catch { case scala.util.control.NonFatal(_) => None }
            case _ => None
          }
        }
      }
      .toDF(idCol, "phash")
  }

  /** Pigeonhole-banded Hamming pairs over ANY 64-bit perceptual hash
    * frame `(idCol, hashCol)` — shared by the image and audio paths:
    * split 64 bits into maxHamming+1 bands, bucket-join on (band,
    * slice value), verify with codegen'd `bit_count(xor)`. Returns
    * `(id1, id2, hamming)` with id1 < id2.
    */
  def hammingPairs64(hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int): DataFrame = {
    val pinned = graft.core.CacheBin.trackEager(
      hashes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val renamed = pinned.select(col(idCol).as("__id"), col(hashCol).as("__ph"))
    val banded = Banding.explode(renamed, Seq("__id", "__ph"),
      Banding.bitSlices(col("__ph"), 64, maxHamming + 1))
    Banding.selfPairs(banded, Seq("__ph"))
      .select(col("id1"), col("id2"),
        bit_count(col("__ph1").bitwiseXOR(col("__ph2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-dup image pairs (id1 < id2, hamming <= maxHamming): aHash
    * every decodable image, then [[hammingPairs64]].
    */
  def nearDupImagePairs(media: DataFrame, idCol: String, bytesCol: String,
      maxHamming: Int = 4): DataFrame =
    hammingPairs64(imageHashes(media, idCol, bytesCol), idCol, "phash", maxHamming)

  /** (idCol, phash) of each MJPEG-AVI video's FIRST decodable frame —
    * the cheap perceptual video fingerprint (re-encodes and container
    * rewraps keep the opening frame; a different cut does not).
    * Undecodable/non-avi payloads drop, same policy as images.
    */
  def videoFirstFrameHashes(media: DataFrame, idCol: String,
      bytesCol: String): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col(idCol).cast("long"),
        Multimodal.sniffFormat(col(bytesCol)), col(bytesCol))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap {
          case (id, "avi", bytes) =>
            AviMjpeg.firstFrameImage(bytes).map(img => (id, aHash64(img)))
          case _ => None
        }
      }
      .toDF(idCol, "phash")
  }

  /** Near-dup video pairs by first-frame aHash: decode via
    * [[AviMjpeg]], then the shared banded Hamming join.
    */
  def nearDupVideoPairs(media: DataFrame, idCol: String, bytesCol: String,
      maxHamming: Int = 4): DataFrame =
    hammingPairs64(videoFirstFrameHashes(media, idCol, bytesCol),
      idCol, "phash", maxHamming)
}
