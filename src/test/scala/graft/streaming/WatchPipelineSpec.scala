package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSuite
import graft.functions.SyntheticImages
import graft.receipts.{ExpenseAnalyzer, FixtureAnalyzer}

/** T1-T4 semantics: end-to-end AvailableNow run, checkpointed
  * exactly-once across restarts (T3), and cross-batch content dedup.
  */
class WatchPipelineSpec extends SparkSuite {

  private def freshDirs(): (Path, String, String, String) = {
    val base = Files.createTempDirectory("graft_watch_spec")
    val raw = base.resolve("raw")
    Files.createDirectories(raw)
    (raw, base.resolve("out").toString, base.resolve("ckpt").toString,
      base.toString)
  }

  private def scan(raw: Path, name: String, seed: Long): Unit =
    Files.write(raw.resolve(name),
      SyntheticImages.encode(SyntheticImages.blockImage(seed), "png"))

  test("watch pipeline: hash, dedup, enrich, batch-append (T1/T2/T4)") {
    val (raw, out, ckpt, _) = freshDirs()
    scan(raw, "Scan_001.png", 1)
    scan(raw, "Scan_002.png", 2)
    scan(raw, "Scan_003.png", 1) // re-scan of 001: same content address
    Files.write(raw.resolve("notes.txt"), "not an image".getBytes)

    WatchPipeline.runAvailableNow(spark, raw.toString, out, ckpt,
      new FixtureAnalyzer())
    val result = spark.read.parquet(out)
    assert(result.count() === 2) // glob dropped .txt, dedup collapsed re-scan
    assert(result.select("img_id").distinct().count() === 2)
    // enrichment seam filled the pivoted summary from the fixture
    assert(result.select("vendor_name").distinct().head().getString(0).nonEmpty)
  }

  test("parquet batch sink is idempotent per batchId (replay-safe T3)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_sink").toString
    val sink = WatchPipeline.parquetBatchSink(out)
    val batch = Seq(("img_a", 1), ("img_b", 2)).toDF("img_id", "v")
    sink(batch, 7L)
    sink(batch, 7L) // crash-replay of the same micro-batch
    assert(spark.read.parquet(out).count() === 2) // overwrote, not appended
    sink(batch, 8L) // a genuinely new batch appends
    assert(spark.read.parquet(out).count() === 4)
  }

  test("checkpoint recovery is exactly-once; dedup state survives (T3)") {
    val (raw, out, ckpt, _) = freshDirs()
    scan(raw, "Scan_001.png", 1)
    scan(raw, "Scan_002.png", 2)
    WatchPipeline.runAvailableNow(spark, raw.toString, out, ckpt,
      new FixtureAnalyzer())
    assert(spark.read.parquet(out).count() === 2)

    // restart: one genuinely new scan + one re-scan of a prior batch's
    // content. The old files must not reprocess (checkpoint) and the
    // re-scan must be dropped by the watermarked dedup state.
    scan(raw, "Scan_003.png", 3)
    scan(raw, "Scan_004.png", 1)
    WatchPipeline.runAvailableNow(spark, raw.toString, out, ckpt,
      new FixtureAnalyzer())
    val result = spark.read.parquet(out)
    assert(result.count() === 3, "expected exactly one new summary")
    assert(result.select("img_id").distinct().count() === 3)
  }

  test("watch query runs no batch without input; re-scans still dropped") {
    val (raw, out, ckpt, base) = freshDirs()
    val staging = Files.createDirectories(Path.of(base, "staging"))
    // each scan lands whole (written aside, then renamed in): the stream
    // polls continuously and must never list a half-written file
    def wave(scans: (String, Long)*): Unit = scans.foreach { case (name, seed) =>
      scan(staging, name, seed)
      Files.move(staging.resolve(name), raw.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val before = spark.conf.getAll.get(key)
    wave("Scan_001.png" -> 1L, "Scan_002.png" -> 2L)
    val q = WatchPipeline.start(spark, raw.toString, ckpt, new WatchPipelineSpec.OneFieldAnalyzer,
      WatchPipeline.parquetBatchSink(out), Trigger.ProcessingTime("0 seconds"))
    try {
      assert(spark.conf.getAll.get(key) === before, "start must leave the session conf as it was")
      q.processAllAvailable()
      wave("Scan_003.png" -> 3L, "Scan_004.png" -> 1L) // 004 re-scans wave 1
      q.processAllAvailable()
      wave("Scan_005.png" -> 5L, "Scan_006.png" -> 3L) // 006 re-scans wave 2
      q.processAllAvailable()
    } finally q.stop()
    // an idle trigger reports progress too (at most every 10 s) but runs
    // no batch; a batch that ran has an addBatch duration
    val ran = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
    assert(ran.length >= 3, ran.map(_.json).mkString("\n"))
    assert(ran.forall(_.numInputRows > 0), ran.map(_.numInputRows).mkString(","))
    val ids = spark.read.parquet(out).select("img_id").collect().map(_.getString(0))
    assert(ids.length === 4 && ids.distinct.length === 4) // both re-scans dropped
  }
}

object WatchPipelineSpec {

  /** Answers every scan with one vendor field: the stream's batching
    * and dedup do not depend on the response's content.
    */
  final class OneFieldAnalyzer extends ExpenseAnalyzer {
    def open(): (String, Array[Byte]) => String = (_, _) =>
      """{"ExpenseDocuments":[{"ExpenseIndex":1,"SummaryFields":[""" +
        """{"PageNumber":1,"Type":{"Text":"VENDOR_NAME","Confidence":99.0},""" +
        """"ValueDetection":{"Text":"ACME","Confidence":99.0}}]}]}"""
  }
}
