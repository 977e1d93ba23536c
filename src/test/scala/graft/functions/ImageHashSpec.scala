package graft.functions

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Path}
import javax.imageio.ImageIO

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.SparkSuite

/** U1 aHash + J2 dedup (SURVEY.md §5 item 2: determinism, re-encode
  * invariance) and the S1/S4 binaryFile ingest path.
  */
class ImageHashSpec extends SparkSuite {

  private def makeImage(seed: Long, w: Int = 64, h: Int = 96): BufferedImage =
    SyntheticImages.blockImage(seed, w, h)

  private def encode(img: BufferedImage, fmt: String): Array[Byte] =
    SyntheticImages.encode(img, fmt)

  test("aHash is deterministic and content-sensitive") {
    val a = ImageHash.averageHash(encode(makeImage(1), "png"))
    val a2 = ImageHash.averageHash(encode(makeImage(1), "png"))
    val b = ImageHash.averageHash(encode(makeImage(2), "png"))
    assert(a === a2)
    assert(a !== b)
  }

  test("aHash is invariant under lossless re-encode (png → bmp)") {
    val img = makeImage(7)
    assert(ImageHash.averageHash(encode(img, "png")) ===
           ImageHash.averageHash(encode(img, "bmp")))
  }

  test("aHash rejects undecodable bytes") {
    intercept[IllegalArgumentException] {
      ImageHash.averageHash(Array[Byte](1, 2, 3))
    }
  }

  test("aHash handles sub-8px images without NaN collapse") {
    // w<8 skips grid cells in the x*8/w mapping; empty cells sample
    // their nearest pixel instead of dividing by zero.
    val tiny1 = ImageHash.averageHash(encode(makeImage(1, 3, 5), "png"))
    val tiny2 = ImageHash.averageHash(encode(makeImage(2, 3, 5), "png"))
    assert(tiny1 !== tiny2, "distinct tiny images must not collapse to one hash")
    assert(ImageHash.averageHash(encode(makeImage(1, 3, 5), "png")) === tiny1)
  }

  /** The per-pixel `getRGB` form of [[ImageHash.averageHash]]: the
    * raster fast path must reproduce it bit for bit.
    */
  private def getRgbHash(bytes: Array[Byte]): Long = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    val (w, h) = (img.getWidth, img.getHeight)
    def luma(rgb: Int): Double =
      (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000.0
    val sums = new Array[Double](64)
    val counts = new Array[Long](64)
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * 8 / h) * 8 + x * 8 / w
      sums(i) += luma(img.getRGB(x, y))
      counts(i) += 1
    }
    val cells = Array.tabulate(64) { i =>
      if (counts(i) == 0) luma(img.getRGB((i % 8) * w / 8, (i / 8) * h / 8))
      else sums(i) / counts(i)
    }
    val mean = cells.sum / 64
    cells.indices.foldLeft(0L)((hv, i) => if (cells(i) > mean) hv | 1L << (63 - i) else hv)
  }

  private def decodedType(bytes: Array[Byte]): Int =
    ImageIO.read(new ByteArrayInputStream(bytes)).getType

  test("aHash raster path equals the getRGB loop for JPEG, PNG and BMP") {
    for ((w, h) <- Seq((900, 1800), (64, 96), (3, 5)); fmt <- Seq("jpeg", "png", "bmp");
         seed <- Seq(3L, 11L)) {
      val bytes = encode(makeImage(seed, w, h), fmt)
      // the three formats decode to the interleaved byte type the fast path reads
      assert(decodedType(bytes) === BufferedImage.TYPE_3BYTE_BGR, s"$fmt $w×$h")
      assert(ImageHash.averageHash(bytes) === getRgbHash(bytes), s"$fmt $w×$h seed $seed")
    }
  }

  test("aHash keeps the getRGB loop for other decoded types (gray, alpha)") {
    for ((w, h) <- Seq((900, 1800), (64, 96), (3, 5)); seed <- Seq(3L, 11L)) {
      val src = makeImage(seed, w, h)
      val gray = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      gray.getGraphics.drawImage(src, 0, 0, null)
      val argb = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
      for (y <- 0 until h; x <- 0 until w)
        argb.setRGB(x, y, (((x + y) * 37 % 256) << 24) | (src.getRGB(x, y) & 0xffffff))
      val grayPng = encode(gray, "png")
      val argbPng = encode(argb, "png")
      assert(decodedType(grayPng) === BufferedImage.TYPE_BYTE_GRAY)
      assert(decodedType(argbPng) === BufferedImage.TYPE_4BYTE_ABGR)
      assert(ImageHash.averageHash(grayPng) === getRgbHash(grayPng), s"gray $w×$h")
      assert(ImageHash.averageHash(argbPng) === getRgbHash(argbPng), s"argb $w×$h")
    }
  }

  test("aHash values are pinned (content addresses must not move)") {
    // values of the per-pixel getRGB implementation these replaced
    assert(f"${ImageHash.averageHash(encode(makeImage(5, 900, 1800), "jpeg"))}%016x" === "9d33388793d31074")
    assert(f"${ImageHash.averageHash(encode(makeImage(7), "png"))}%016x" === "e3d36bd5d745a74d")
  }

  test("withHash decodes and hashes each image once") {
    val dir: Path = Files.createTempDirectory("graft_images_once")
    try {
      for (i <- 1 to 3) Files.write(dir.resolve(s"Scan_$i.png"), encode(makeImage(i), "png"))
      Files.write(dir.resolve("Scan_bad1.png"), Array[Byte](9, 9, 9))
      Files.write(dir.resolve("Scan_bad2.jpg"), Array[Byte](1, 2, 3, 4))
      // UDFs evaluated by the plan's operators; a scan's data filters
      // are only planning metadata here (binaryFile pushes none down)
      def udfs(p: SparkPlan): Int = p match {
        case a: AdaptiveSparkPlanExec => udfs(a.executedPlan)
        case _ => p.collect {
          case _: FileSourceScanExec => 0
          case n => n.expressions.map(_.collect { case u: ScalaUDF => u }.size).sum
        }.sum
      }
      val plan = ImageSource.withHash(ImageSource.images(spark, dir.toString))
        .queryExecution.executedPlan
      assert(udfs(plan) === 1, plan.toString)

      val (hashed, dropped) =
        ImageSource.withHashCounted(ImageSource.images(spark, dir.toString))
      assert(hashed.collect().length === 3)
      assert(dropped.value === 2) // exact: each corrupt file is decoded once
    } finally {
      dir.toFile.listFiles().foreach(_.delete())
      Files.deleteIfExists(dir)
    }
  }

  test("q44_image_dedup registered query collapses re-scans") {
    val df = graft.SparkEntry.queries("q44_image_dedup")(spark, "unused")
    val rows = df.collect()
    assert(rows.length === 8) // 8 distinct scans
    assert(rows.map(_.getLong(1)).sum === 10) // 2 re-scans collapsed
  }

  test("S1/S4 ingest + U1 hash column + J2 dedup over a directory scan") {
    val dir: Path = Files.createTempDirectory("graft_images")
    try {
      // two distinct receipts; one re-scanned (same content, new file)
      Files.write(dir.resolve("Scan_001.png"), encode(makeImage(1), "png"))
      Files.write(dir.resolve("Scan_002.png"), encode(makeImage(2), "png"))
      Files.write(dir.resolve("Scan_003.png"), encode(makeImage(1), "png"))
      Files.write(dir.resolve("notes.txt"), "not an image".getBytes) // S4 filter drops
      // .png extension but garbage bytes: must be skipped, not fatal
      Files.write(dir.resolve("Scan_corrupt.png"), Array[Byte](9, 9, 9))

      val (scanned, dropped) =
        ImageSource.withHashCounted(ImageSource.images(spark, dir.toString))
      assert(scanned.count() === 3) // pathGlobFilter excluded the .txt
      // corrupt .png was skipped OBSERVABLY (log-and-skip parity)
      assert(dropped.value === 1)

      val deduped = ImageSource.dedupByHash(scanned)
      assert(deduped.count() === 2) // re-scan collapsed onto its content address

      // img_id is a 16-char hex content address
      val ids = deduped.select("img_id").collect().map(_.getString(0))
      assert(ids.forall(_.matches("[0-9a-f]{16}")))

      // SQL registration
      ImageHash.register(spark)
      scanned.createOrReplaceTempView("scans")
      val n = spark.sql("SELECT COUNT(DISTINCT ahash(content)) AS n FROM scans")
        .head().getLong(0)
      assert(n === 2)
    } finally {
      dir.toFile.listFiles().foreach(_.delete())
      Files.deleteIfExists(dir)
    }
  }

  test("S2: reader behaves identically through a scheme'd object-store URI") {
    // No S3 in the sandbox; the contract under test is that the SAME
    // reader + glob resolves scheme'd URIs through the Hadoop FileSystem
    // API (s3a:// differs from file:// only in the FS implementation
    // behind that API — reference `anarcptlib.py:126-133` takes either).
    val dir: Path = Files.createTempDirectory("graft_images_s2")
    try {
      Files.write(dir.resolve("Scan_001.png"), encode(makeImage(1), "png"))
      Files.write(dir.resolve("Scan_002.png"), encode(makeImage(2), "png"))
      Files.write(dir.resolve("notes.txt"), "not an image".getBytes)

      val viaPath = ImageSource.withHash(ImageSource.images(spark, dir.toString))
      val viaUri = ImageSource.withHash(
        ImageSource.images(spark, dir.toUri.toString)) // file:///abs/path
      val byPath = viaPath.select("img_id").collect().map(_.getString(0)).sorted
      val byUri = viaUri.select("img_id").collect().map(_.getString(0)).sorted
      assert(byPath.length === 2) // glob applied on both routes
      assert(byPath.toSeq === byUri.toSeq)
    } finally {
      dir.toFile.listFiles().foreach(_.delete())
      Files.deleteIfExists(dir)
    }
  }
}
