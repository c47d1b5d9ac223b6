package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §7.4): media as opaque `binary`
  * columns with typed metadata, processed per-partition in batches.
  *
  * The image path is a REAL codec: JDK `javax.imageio` (offline-safe, no
  * external libs) encodes deterministic synthetic images into PNG/BMP
  * bytes and decodes them back, so x12 verifies actual decoded pixel
  * planes, not a fake. The fixture tables carry no image payloads, so the
  * bytes are GENERATED per doc (pixel = a fixed arithmetic function of
  * (doc_id, x, y, channel)) — which makes the decoded plane checksums
  * replayable by DuckDB as pure arithmetic while the encode->decode round
  * trip exercises the real codec. A deployment swaps [[syntheticImage]]
  * for its real byte source; [[decodeImage]] and the plumbing stay.
  *
  * At 100 TB the binary payloads stay distributed (never collected),
  * every stage is embarrassingly parallel per partition (`mapPartitions`
  * — codec/model state initializes once per partition, not per row), and
  * outputs are narrow typed frames.
  */
object Multimodal {

  /** One media item: id + raw bytes + declared format. */
  case class MediaRow(doc_id: Long, bytes: Array[Byte], format: String)

  /** Decoded image metadata + per-plane pixel checksums. */
  case class ImageMeta(doc_id: Long, width: Long, height: Long, channels: Long,
                       r_sum: Long, g_sum: Long, b_sum: Long, format: String)

  /** One sampled "frame" of a media item. */
  case class MediaFrame(doc_id: Long, frame_idx: Int, n_bytes: Long, checksum: Long)

  /** Deterministic image dimensions per doc (kept tiny so the oracle's
    * per-pixel replay stays cheap): width in 4..11, height in 3..7.
    */
  def imageDims(docId: Long): (Int, Int) =
    // floorMod: Scala's signed % on a negative id would yield nonpositive
    // dimensions and a throwing BufferedImage constructor
    (Math.floorMod(docId, 8).toInt + 4, Math.floorMod(docId, 5).toInt + 3)

  /** Channel value at (x, y): the arithmetic the DuckDB oracle replays.
    * `c` is the 0-based channel (R=0, G=1, B=2).
    */
  def pixel(docId: Long, x: Int, y: Int, c: Int): Int =
    // floorMod keeps channels in [0, 255] for negative ids too — a signed %
    // would sign-extend across the packed RGB word
    Math.floorMod(docId * 31 + x * 7 + y * 13 + c * 5, 256).toInt

  /** Render the deterministic pixel pattern and ENCODE it with the real
    * JDK codec (`ImageIO.write`) — PNG and BMP are both lossless for RGB,
    * so the decode side recovers the exact planes.
    */
  def syntheticImage(docId: Long, format: String = "png"): Array[Byte] = {
    val (w, h) = imageDims(docId)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, (pixel(docId, x, y, 0) << 16) |
          (pixel(docId, x, y, 1) << 8) | pixel(docId, x, y, 2))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, format, bos),
      s"no ImageIO writer for format '$format'")
    bos.toByteArray
  }

  /** REAL decode: `ImageIO.read` on the payload bytes, then per-plane
    * checksums over the decoded raster. Throws on undecodable bytes — a
    * corrupt payload should fail loudly, not emit fake metadata.
    */
  def decodeImage(r: MediaRow): ImageMeta = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.bytes))
    require(img != null, s"doc ${r.doc_id}: bytes are not a decodable image")
    val (w, h) = (img.getWidth, img.getHeight)
    var rs = 0L; var gs = 0L; var bs = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        rs += (p >> 16) & 0xFF; gs += (p >> 8) & 0xFF; bs += p & 0xFF
        x += 1
      }
      y += 1
    }
    ImageMeta(r.doc_id, w, h, img.getColorModel.getNumComponents, rs, gs, bs, r.format)
  }

  /** Frame sampling: split each payload into `frames` contiguous chunks and
    * emit one row per sampled chunk with a checksum — the video-frame
    * analogue (seek + decode per frame) with the byte-slicing stubbed.
    * The LAST chunk absorbs the remainder when the payload length is not
    * divisible by `frames`: coverage is complete (sum of n_bytes == total
    * payload bytes), so a consumer verifying payload integrity through
    * frame checksums can never miss tail corruption.
    */
  def sampleFrames(spark: SparkSession, media: Dataset[MediaRow], frames: Int): Dataset[MediaFrame] = {
    import spark.implicits._
    media.mapPartitions(_.flatMap { r =>
      // a null payload (e.g. asMedia over a null-text doc) yields zero
      // frames, mirroring the zero-byte case — not an opaque task NPE
      if (r.bytes == null) Iterator.empty
      else {
      val n = r.bytes.length
      val step = math.max(n / frames, 1)
      val m = math.min(frames, n)
      (0 until m).iterator.map { i =>
        val hi = if (i == m - 1) n else (i + 1) * step
        val chunk = r.bytes.slice(i * step, hi)
        MediaFrame(r.doc_id, i, chunk.length.toLong,
          chunk.foldLeft(1125899906842597L)((h, b) => 31 * h + b))
      }
      }
    })
  }

  /** Fixture `documents.text` as the binary payload stand-in. */
  def asMedia(spark: SparkSession, documents: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    documents
      .select(col("doc_id"), col("text").cast("binary").as("bytes"), lit("txt").as("format"))
      .as[MediaRow]
  }

  /** Per-doc synthetic image payloads — the fixture flow's byte source
    * (the driver tables ship no image bytes). Encoding happens
    * distributed, inside the partition, with the real codec.
    */
  def docImages(spark: SparkSession, documents: DataFrame,
                format: String = "png"): Dataset[MediaRow] = {
    import spark.implicits._
    // codec work is byte-tiny but CPU-heavy, and the fixture corpus is a
    // single parquet split — without the stats-gated spread every PNG
    // encode+decode below runs on ONE task (measured: ~6 s serial at
    // sf0.1, the whole x12 wall). Same discipline as Dedup.spread: the
    // repartition only fires when the scan is smaller than the
    // machine's split budget, so a real many-split corpus is untouched.
    graft.ext.Dedup.spread(documents.select(col("doc_id")), col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, syntheticImage(id, format), format)))
  }

  /** Encode -> decode round trip per partition with the REAL codec; x12
    * checks the decoded planes against the oracle's arithmetic replay.
    */
  def decodeDocuments(spark: SparkSession, documents: DataFrame,
                      format: String = "png"): Dataset[ImageMeta] = {
    import spark.implicits._
    docImages(spark, documents, format).mapPartitions(_.map(decodeImage))
  }
}
