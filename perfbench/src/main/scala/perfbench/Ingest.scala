package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.{ImageHash, SyntheticImages}
import graft.receipts.{Enrichment, ReceiptPipeline}
import graft.streaming.WatchPipeline

/** The paper's `watch` path, closed loop with one producer: write a
  * wave of receipt scans into the watched directory, wait until the
  * stream has committed it, then write the next. The stream is started
  * during set-up. The first wave and the warm-up wave after it are the
  * cold phase; a fixed number of warm waves follows.
  */
object Ingest extends Main.Workload {

  val Width = 900
  val Height = 1800
  val NewPerWave = 16
  val RescansPerWave = 3

  /** Warm waves per run: one per `NominalWaveS` of the run time, at
    * least four. The count depends on the run time asked for, never on
    * how fast the waves go, so every run times the same work.
    */
  val NominalWaveS = 2.5
  def warmWaves(seconds: Double): Int = math.max(4, math.round(seconds / NominalWaveS).toInt)

  /** One file of a wave: its name, bytes, and the image id the pipeline
    * must give it (None for a decoy).
    */
  final case class Scan(name: String, bytes: Array[Byte], imgId: Option[String])

  private final class State(val waves: Seq[Seq[Scan]],
                            val query: StreamingQuery, val raw: Path,
                            val staging: Path, val sinkDir: Path,
                            val sinkSeconds: DoubleAdder, val sinkFiles: AtomicLong,
                            val undecodable: AtomicLong)

  @volatile private var state: State = _

  def setup(ctx: Ctx): Unit = {
    // every wave's scans are made before the stream starts: input
    // generation is set-up, and the measured phase only moves files in
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores)
    val waves =
      try (0 until 2 + warmWaves(ctx.seconds)).foldLeft(Vector.empty[Seq[Scan]]) { (done, w) =>
        done :+ wave(ctx.seed, w, done.flatten.filter(_.imgId.isDefined), pool)
      } finally pool.shutdown()
    val raw = ctx.dir("raw")
    val staging = ctx.dir("staging")
    val sinkDir = ctx.workDir.resolve("sink")
    val sinkSeconds = new DoubleAdder
    val sinkFiles = new AtomicLong
    val undecodable = new AtomicLong
    // the image-hash drop counter is a named accumulator inside the
    // pipeline; its running total rides on every completed stage
    ctx.spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        e.stageInfo.accumulables.values
          .filter(_.name.contains("graft.images.undecodable"))
          .foreach(a => a.value.foreach(v => undecodable.accumulateAndGet(
            v.toString.toLong, (x, y) => math.max(x, y))))
    })
    val sink = WatchPipeline.parquetBatchSink(sinkDir.toString)
    val timedSink: (DataFrame, Long) => Unit = { (df, id) =>
      val (_, s) = Main.timed(sink(df, id))
      sinkSeconds.add(s)
      sinkFiles.addAndGet(countParquet(sinkDir.resolve(s"batch_id=$id")))
    }
    val q = WatchPipeline.start(ctx.spark, raw.toString,
      ctx.workDir.resolve("checkpoint").toString,
      new ExpenseGen.Analyzer(ctx.seed, counted = true), timedSink,
      Trigger.ProcessingTime("0 seconds"))
    q.processAllAvailable()
    state = new State(waves, q, raw, staging, sinkDir, sinkSeconds, sinkFiles, undecodable)
  }

  private def countParquet(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
      finally s.close()
    }

  /** The scans of wave `w`: new receipts, re-scans of receipts from
    * this or earlier waves (same bytes, new name) and an undecodable
    * decoy. Image ids come from the engine's hash of the
    * exact bytes written.
    */
  def wave(seed: Long, w: Int, earlier: IndexedSeq[Scan],
           pool: java.util.concurrent.ExecutorService): Seq[Scan] = {
    val r = new java.util.Random(seed * 7919L + w)
    val fresh = (0 until NewPerWave).map { i =>
      val imgSeed = seed * 100000L + w * 100L + i
      val fmt = if (r.nextBoolean()) "jpg" else "png"
      pool.submit(() => {
        val bytes = SyntheticImages.encode(
          SyntheticImages.blockImage(imgSeed, Width, Height), if (fmt == "jpg") "jpeg" else fmt)
        Scan(f"Scan_${w}%04d_$i%02d.$fmt", bytes,
          Some(f"${ImageHash.averageHash(bytes)}%016x"))
      })
    }.map(_.get())
    val candidates = earlier ++ fresh
    val rescans = (0 until RescansPerWave).map { i =>
      val src = candidates(r.nextInt(candidates.length))
      src.copy(name = f"Rescan_${w}%04d_$i%02d." + src.name.split('.').last)
    }
    val junk = new Array[Byte](2048 + r.nextInt(2048))
    r.nextBytes(junk)
    val decoy = Scan(f"Scan_${w}%04d_decoy.jpg", junk, None)
    scala.util.Random.javaRandomToRandom(r).shuffle(fresh ++ rescans :+ decoy)
  }

  def run(ctx: Ctx): Outcome = {
    val st = state
    val spark = ctx.spark
    val tr = ctx.trace
    val written = scala.collection.mutable.ArrayBuffer.empty[Scan]
    val waveTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val stageTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    val layer0 = ctx.layers.map(_.snapshot())
    val calls0 = ExpenseGen.Analyzer.counted.get
    var hashTimes = 0.0
    var hashed = 0
    var hashDrops = 0
    var parseS, flattenS, pivotS, fieldRows = 0.0
    // the cold wave, the warm-up wave, then the warm waves
    for ((scans, w) <- st.waves.zipWithIndex) {
      // land each file under a hidden name first, then rename it in:
      // the file source never lists a half-written scan
      val staged = scans.map { s =>
        val p = st.staging.resolve(s.name)
        Files.write(p, s.bytes)
        p
      }
      attempted += 1
      val op = s"wave-$w"
      val (ok, dt) = Main.timed(tr.span(op, "wave") {
        try {
          staged.foreach(p => Files.move(p, st.raw.resolve(p.getFileName),
            StandardCopyOption.ATOMIC_MOVE))
          tr.span(op, "stream.commit")(st.query.processAllAvailable())
          true
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] ingest $op FAILED: $e"); false
        }
      })
      if (!ok) failed += 1
      waveTimes += dt
      written ++= scans
      if (ctx.traced) {
        // the same stages in batch mode on this wave's own inputs
        var stagesS = 0.0
        scans.foreach { s =>
          val (h, t) = Main.timed(tr.span(op, "imagehash")(
            try Some(ImageHash.averageHash(s.bytes)) catch { case _: Exception => None }))
          hashTimes += t; hashed += 1; stagesS += t
          if (h.isEmpty) hashDrops += 1
        }
        val fresh = scans.flatMap(_.imgId).distinct
        val imgs = spark.createDataFrame(fresh.map(id => (id, Array.emptyByteArray)))
          .toDF("img_id", "content")
        val analyzer = new ExpenseGen.Analyzer(ctx.seed, counted = false)
        val parsed = Enrichment.parse(Enrichment.analyze(imgs, analyzer)).cache()
        val (_, tp) = Main.timed(tr.span(op, "enrichment.parse")(parsed.count()))
        val flat = ReceiptPipeline.flattenSummary(parsed)
        val (rows, tf) = Main.timed(tr.span(op, "receipts.flatten")(flat.count()))
        val (_, tv) = Main.timed(tr.span(op, "receipts.pivot")(
          ReceiptPipeline.summarize(flat).write.format("noop").mode("overwrite").save()))
        parsed.unpersist(true)
        parseS += tp; flattenS += tf; pivotS += math.max(tv - tf, 0.0); fieldRows += rows
        stagesS += tp + tv // the pivot write recomputes the flatten
        stageTimes += stagesS
      }
    }

    st.query.stop()
    val decoys = written.count(_.imgId.isEmpty)
    val expectedIds = written.flatMap(_.imgId).distinct.toSeq
    val (checks, receipts) = check(ctx, st, expectedIds, decoys)

    // the wave after the cold one still carries JIT warm-up, so both
    // are the cold phase and neither is part of the warm figures
    val warm = waveTimes.drop(2).toSeq
    val wallWarm = warm.sum
    val detail = Map(
      "ingest.receipts_per_s" -> distinctNew(written.toSeq) / wallWarm,
      "ingest.wave_p50_s" -> Stats.median(warm))
    val layer = ctx.layers.map { l =>
      val d = diff(l.snapshot(), layer0.get)
      val calls = ExpenseGen.Analyzer.counted.get - calls0
      d ++ Map(
        "imagehash.ms_per_image" -> (if (hashed > 0) hashTimes * 1e3 / hashed else 0.0),
        "imagehash.images" -> hashed.toDouble,
        "imagehash.undecodable" -> hashDrops.toDouble,
        "enrichment.analyze_calls" -> calls.toDouble,
        "enrichment.calls_per_receipt" -> calls.toDouble / math.max(receipts, 1),
        "enrichment.parse_s" -> parseS,
        "receipts.field_rows" -> fieldRows,
        "receipts.flatten_s" -> flattenS,
        "receipts.pivot_s" -> pivotS,
        "stream.overhead_s" -> (waveTimes.sum - stageTimes.sum),
        "sink.write_s" -> st.sinkSeconds.sum,
        "sink.files" -> st.sinkFiles.get.toDouble,
        "exec.parallel_eff" -> Stats.parallelEfficiency(
          d.getOrElse("exec.task_busy_s", 0.0), waveTimes.sum, Main.Cores))
    }.getOrElse(Map.empty)
    // a tail needs more than ten warm waves; until a run has them it is
    // left out, and when it has them it is kept here with its percentile
    val tailNote = Stats.tail(warm).map(t => s""","wave_tail":{"s":${Json.num(t.value)},""" +
      s""""percentile":${t.percentile},"samples":${t.samples}}""").getOrElse("")
    // cold: the cold and the warm-up wave together; warm: the mean
    // latency of the warm waves, which all carry the same number of scans
    Outcome(cold = waveTimes.take(2).sum, warm = wallWarm / warm.size, detail, layer,
      attempted, failed, checks :+ ("ingest.undecodable_counted_in_trace" ->
        (!ctx.traced || hashDrops == decoys)),
      breakdown = s"""{"waves":${waveTimes.map(Json.num).mkString("[", ",", "]")}$tailNote}""")
  }

  /** New receipts of the warm waves: those of waves 0 and 1 belong to
    * the cold and the warm-up wave.
    */
  private def distinctNew(written: Seq[Scan]): Double = {
    val early = written.filter(s => s.name.contains("_0000_") || s.name.contains("_0001_"))
      .flatMap(_.imgId).toSet
    written.flatMap(_.imgId).distinct.count(id => !early.contains(id)).toDouble
  }

  private def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    a.map { case (k, v) =>
      // levels (state size) are reported as they stand, flows as deltas
      if (k.startsWith("stream.state_")) k -> v else k -> (v - b.getOrElse(k, 0.0))
    }

  /** Sink rows equal the distinct decodable scans (re-scans collapsed,
    * decoys dropped and counted), and every row carries the vendor,
    * date and amounts the generator encoded for its image id.
    */
  private def check(ctx: Ctx, st: State, expectedIds: Seq[String],
                    decoys: Int): (Seq[(String, Boolean)], Int) = {
    val rows = ctx.spark.read.parquet(st.sinkDir.toString)
      .select(col("img_id"), col("vendor_name"),
        date_format(col("receipt_date"), "yyyy-MM-dd HH:mm").as("d"),
        (col("total") * 100).cast("long").as("t"),
        (col("sub_total") * 100).cast("long").as("st"),
        (col("tax_amount") * 100).cast("long").as("tx"))
      .collect().toSeq
    val ids = rows.map(_.getString(0))
    val fieldsOk = rows.forall { r =>
      val e = ExpenseGen.expected(ctx.seed, r.getString(0))
      r.getString(1) == e.vendor &&
        r.getString(2) == e.date.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")) &&
        r.getLong(3) == e.totalCents && r.getLong(4) == e.subTotalCents &&
        r.getLong(5) == e.taxCents
    }
    (Seq(
      "ingest.one_row_per_receipt" -> (ids.size == ids.distinct.size),
      "ingest.rows_equal_distinct_scans" -> (ids.toSet == expectedIds.toSet),
      "ingest.decoys_counted" -> (st.undecodable.get == decoys),
      "ingest.fields_match_generator" -> fieldsOk), ids.size)
  }
}
