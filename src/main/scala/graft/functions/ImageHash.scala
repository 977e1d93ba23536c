package graft.functions

import java.awt.image.{BufferedImage, DataBufferByte, PixelInterleavedSampleModel}
import java.io.ByteArrayInputStream
import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** U1 — perceptual average-hash (aHash), rebuilt pure-JVM
  * (reference: `imagehash.average_hash`, `anarcptlib.py:152-153`):
  * grayscale (ITU-R 601 luma, PIL's "L" weights) → 8×8 area-average
  * downscale → mean threshold → 64-bit hash. The hash is the image's
  * content address: filename / `img_id` / dedup key (SURVEY.md §2.6 U1,
  * §2.5 J2).
  *
  * Divergence note: PIL resizes with Lanczos resampling, so the exact
  * bit patterns differ from the reference library's; the *semantics*
  * (deterministic content-addressing, re-encode invariance for lossless
  * formats, Hamming-distance locality) are identical, which is what the
  * pipeline relies on.
  */
object ImageHash {

  /** 64-bit aHash of an encoded image (png/jpg/bmp/...). Single pass
    * over pixels, no intermediate image allocation.
    *
    * JPEG, PNG and 24-bit BMP decode to `TYPE_3BYTE_BGR`; for those the
    * pass reads the raster's bytes directly instead of making one
    * `getRGB` call per pixel, with the same arithmetic in the same order,
    * so the hash is bit-identical. Every other decoded type (gray,
    * alpha, palette, 16-bit) keeps the `getRGB` loop.
    */
  def averageHash(bytes: Array[Byte]): Long = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, "undecodable image bytes")
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Double](64)
    val counts = new Array[Long](64)
    val bgr = bgrPixels(img)
    var y = 0
    while (y < h) {
      val row = y * 8 / h * 8
      var x = 0
      bgr match {
        case Some(px) =>
          var p = y * w * 3
          while (x < w) {
            val i = row + x * 8 / w
            sums(i) += luma(px(p + 2) & 0xff, px(p + 1) & 0xff, px(p) & 0xff)
            counts(i) += 1
            x += 1
            p += 3
          }
        case None =>
          while (x < w) {
            val i = row + x * 8 / w
            sums(i) += luma(img.getRGB(x, y))
            counts(i) += 1
            x += 1
          }
      }
      y += 1
    }
    var mean = 0.0
    var i = 0
    while (i < 64) {
      if (counts(i) == 0) {
        // w or h < 8: the x*8/w mapping skips grid cells. Sample the
        // nearest pixel so every cell contributes (cells with pixels
        // are untouched, so >=8px hashes are unchanged).
        sums(i) = luma(img.getRGB((i % 8) * w / 8, (i / 8) * h / 8))
      } else sums(i) /= counts(i)
      mean += sums(i)
      i += 1
    }
    mean /= 64
    var hashV = 0L
    i = 0
    while (i < 64) {
      if (sums(i) > mean) hashV |= 1L << (63 - i)
      i += 1
    }
    hashV
  }

  /** ITU-R 601 luma of one 8-bit RGB pixel. */
  private def luma(r: Int, g: Int, b: Int): Double = (r * 299 + g * 587 + b * 114) / 1000.0

  private def luma(rgb: Int): Double = luma((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)

  /** The pixel bytes of a `TYPE_3BYTE_BGR` sRGB image whose raster is
    * the plain layout: rows of `3 * width` bytes in B, G, R order from
    * offset 0. There `getRGB(x, y)` returns exactly those bytes, so
    * reading them gives the same pixels. None for any other image.
    */
  private def bgrPixels(img: BufferedImage): Option[Array[Byte]] = {
    val raster = img.getRaster
    (img.getType, img.getColorModel.getColorSpace.isCS_sRGB, raster.getSampleModel,
      raster.getDataBuffer) match {
      case (BufferedImage.TYPE_3BYTE_BGR, true, sm: PixelInterleavedSampleModel,
            db: DataBufferByte)
          if sm.getPixelStride == 3 && sm.getScanlineStride == 3 * img.getWidth &&
            sm.getBandOffsets.sameElements(Array(2, 1, 0)) &&
            raster.getSampleModelTranslateX == 0 && raster.getSampleModelTranslateY == 0 &&
            db.getNumBanks == 1 && db.getOffset == 0 =>
        Some(db.getData)
      case _ => None
    }
  }

  /** Column form: BinaryType → LongType. A Scala UDF (not codegen) is
    * the right tradeoff here: the dispatch is one call per image. The
    * work splits between decode and the pixel pass; for a 900×1800
    * JPEG or PNG scan on a 4-core x86 host, decode took 14–20 ms and
    * the raster pass 11–13 ms; the `getRGB` loop, which other decoded
    * types take, took 40–65 ms for the same pixels (SURVEY.md §4
    * records the promote-to-Expression escape hatch if profiling ever
    * disagrees).
    */
  val ahash = udf(averageHash _)

  /** Failure-safe variant: undecodable bytes → null instead of a task
    * failure. The reference's watcher logs and keeps going
    * (`watcher.py:145-147`); one corrupt scan must not kill a stream
    * that processes millions.
    */
  val ahashOrNull = udf((bytes: Array[Byte]) =>
    try Some(averageHash(bytes)) catch { case _: Exception => None })

  /** 16-char hex content-id, the reference's hashed filename form. */
  def hexId(hashCol: Column): Column = lower(lpad(hex(hashCol), 16, "0"))

  /** SQL registration: `SELECT ahash(content) FROM images`. */
  def register(spark: SparkSession): Unit =
    spark.udf.register("ahash", averageHash _)
}

/** S1/S2/S4 — image ingest (reference `anarcptlib.py:115-133`,
  * `watcher.py:58`): binaryFile scans over a directory / s3a path with
  * the reference's extension filter, plus content-addressing and J2
  * dedup. The same reader + glob serves local dirs and `s3a://` buckets.
  */
object ImageSource {
  val PathGlob = "*.{png,jpg,jpeg}"

  def images(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", PathGlob)
      .load(dir)

  /** Content-address every image: 64-bit aHash + hex img_id.
    * Undecodable files are dropped, not fatal — but OBSERVABLY: each
    * drop is warn-logged with its path and counted in the named
    * accumulator `graft.images.undecodable` (reference parity: the
    * watcher logs every failed scan before skipping,
    * `watcher.py:145-147`; at scale silent corrupt-input loss is a data
    * bug you can't see).
    */
  def withHash(images: DataFrame): DataFrame = withHashCounted(images)._1

  /** As [[withHash]], also returning the drop counter so callers
    * (monitoring, specs) can observe corrupt-input loss after an action.
    *
    * At-least-once semantics: the counter increments inside a
    * transformation, so re-evaluating the frame (a second action,
    * a re-scan inside a join, task retry, speculation) re-counts the
    * same corrupt file — read it after exactly one action on a frame
    * evaluated once (persist/checkpoint first if the plan is reused).
    * Within one such action the hash runs once per image, so the count
    * is exact there; elsewhere treat the value as "≥1 means corrupt
    * input exists", not an exact tally. The warn log carries the
    * per-path detail.
    */
  def withHashCounted(images: DataFrame)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val sc = images.sparkSession.sparkContext
    val dropped = sc.longAccumulator("graft.images.undecodable")
    // Marked nondeterministic so that it runs once per image. The
    // optimizer pushes the null filter below the projection and, for a
    // deterministic UDF, substitutes the alias there: every image would
    // be decoded and hashed in the Filter and again in the Project. The
    // function itself is still a pure function of its bytes.
    val hashOrNull = udf((path: String, bytes: Array[Byte]) =>
      try Some(ImageHash.averageHash(bytes)) catch {
        case e: Exception =>
          dropped.add(1L)
          org.apache.log4j.Logger.getLogger("graft.ImageSource")
            .warn(s"undecodable image skipped: $path (${e.getMessage})")
          None
      }).asNondeterministic()
    val out = images
      .withColumn("img_hash", hashOrNull(col("path"), col("content")))
      .filter(col("img_hash").isNotNull)
      .withColumn("img_id", ImageHash.hexId(col("img_hash")))
    (out, dropped)
  }

  /** J2 — content-addressed dedup: re-scans of the same receipt collapse
    * onto one key; the *latest* write wins, matching the reference's
    * move-overwrite (`watcher.py:96-101`). Deterministic keeper via
    * max-by-(mtime, path), not dropDuplicates' arbitrary row.
    */
  def dedupByHash(hashed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("img_hash"))
      .orderBy(col("modificationTime").desc, col("path").desc)
    hashed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }
}
