package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions.ImageSource
import graft.receipts.{Enrichment, ExpenseAnalyzer, ReceiptPipeline}

/** T1-T4 — the reference's `anarcpt watch` mode rebuilt on Structured
  * Streaming (`watcher.py:26-54,121-157`, wired `main.py:79-132`).
  *
  * Reference shape: watchdog dir-observer → regex filter → stability
  * gate → hash/rename → analyze → bounded queue → batch DB insert, at
  * most once, state lost on crash. Rebuild: one streaming query — file
  * source (lists only completed files: S5's stability gate is free) →
  * hash → watermarked cross-batch dedup → enrichment seam →
  * flatten/pivot → `foreachBatch` batch insert (T2: micro-batch = queue
  * flush), checkpointed so recovery is exactly-once per sink (T3 —
  * documented upgrade over the reference's at-most-once). The
  * `Trigger.AvailableNow` variant is the Lambda/batch-over-new-objects
  * mode (T4, `aws_lambda_fn.py:4-17`).
  */
object WatchPipeline {

  /** binaryFile's fixed schema (streaming sources need it declared). */
  val binaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** S3/S4 — the watched directory as an unbounded stream with the
    * reference's filename filter (`watcher.py:58`).
    */
  def rawScans(spark: SparkSession, rawDir: String): DataFrame =
    spark.readStream.format("binaryFile")
      .option("pathGlobFilter", ImageSource.PathGlob)
      .schema(binaryFileSchema)
      .load(rawDir)

  /** Stage 1 (T1): content-address every scan and collapse re-scans —
    * J2's rename-to-hash as a watermarked streaming dedup with bounded
    * state. Re-scans arriving within the watermark window are dropped
    * here; a re-scan later than the watermark reaches the sink again,
    * so a deployment needing strict uniqueness puts the img_id key on
    * the sink table (JDBC upsert) or widens the watermark.
    */
  def contentAddressed(raw: DataFrame): DataFrame =
    ImageSource.withHash(raw)
      .withWatermark("modificationTime", "1 hour")
      .dropDuplicatesWithinWatermark("img_hash")

  /** Stage 2 (T1) + T2/T3: analyze each micro-batch through the
    * enrichment seam and hand (summaries, batchId) to the sink. The
    * checkpoint makes batch REPLAY deterministic; end-to-end
    * exactly-once additionally requires the sink to be idempotent per
    * batchId — foreachBatch's contract. The default parquet sink
    * (below) overwrites a batch_id partition, so a crash between sink
    * commit and checkpoint commit replays into the same partition
    * instead of appending duplicates. The query runs no batch without
    * new files ([[NoDataMicroBatches]]).
    */
  def start(spark: SparkSession, rawDir: String, checkpointDir: String,
            analyzer: ExpenseAnalyzer, sink: (DataFrame, Long) => Unit,
            trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    val writer = contentAddressed(rawScans(spark, rawDir))
      .writeStream
      .queryName("graft_watch")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val responses = Enrichment.parse(Enrichment.analyze(batch, analyzer))
        sink(ReceiptPipeline.summarize(ReceiptPipeline.flattenSummary(responses)),
          batchId)
      }
    val prior = spark.conf.getAll.get(NoDataMicroBatches) // set explicitly, not a default
    spark.conf.set(NoDataMicroBatches, "false")
    try writer.start()
    finally prior.fold(spark.conf.unset(NoDataMicroBatches))(spark.conf.set(NoDataMicroBatches, _))
  }

  /** The watch query runs no batch without new files. New files move
    * the watermark (it tracks their modification times), and Spark then
    * by default follows every data batch with a no-data batch to evict
    * state. That batch runs the whole `foreachBatch` (analyze, pivot
    * and an empty parquet write) for nothing: 0.6–0.7 s per wave of 20
    * scans on a 4-core host. Output is unchanged, because
    * `dropDuplicatesWithinWatermark` emits a row only when it arrives.
    * The trade-off: state past the watermark is evicted in the next
    * data batch instead, so while no scans arrive, keys older than the
    * watermark stay in the dedup state.
    *
    * This is a policy of this query, not an option. A query takes its
    * session's conf when `start` builds it (the stream runs on a clone
    * of the session made then), so the setting is applied only around
    * `start` and the caller's session is left as it was; another query
    * started on the same session at that moment would take it too.
    */
  private val NoDataMicroBatches = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Idempotent-per-batch parquet sink: replaying batch N overwrites
    * exactly batch N's partition.
    */
  def parquetBatchSink(outDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  /** T4 — event-driven batch-over-new-objects variant: drain everything
    * new (per the checkpoint) and stop.
    */
  def runAvailableNow(spark: SparkSession, rawDir: String, outDir: String,
                      checkpointDir: String,
                      analyzer: ExpenseAnalyzer =
                        new graft.receipts.FixtureAnalyzer()): Unit = {
    val q = start(spark, rawDir, checkpointDir, analyzer,
      parquetBatchSink(outDir), Trigger.AvailableNow())
    q.awaitTermination()
  }
}
