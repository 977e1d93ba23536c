package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]: its cold and warm
  * times, the layer counters of a traced run, the workload's own figures
  * (`detail`, named as in README.md: they go into the run record and, in
  * the traced run, into the layer metrics), the operation and check
  * counts, and a per-operation breakdown as JSON.
  */
final case class Outcome(cold: Double, warm: Double,
                         detail: Map[String, Double],
                         layer: Map[String, Double],
                         attempted: Int, failed: Int,
                         checks: Seq[(String, Boolean)],
                         breakdown: String = "{}")

/** Everything a workload needs: the session, the run's settings and
  * the tracing hooks (inert when tracing is off).
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     dataDir: String, workDir: Path, trace: Trace,
                     layers: Option[Layers]) {
  def dir(name: String): Path = Files.createDirectories(workDir.resolve(name))
  def traced: Boolean = trace.enabled
}

object Main {

  val Cores = 4

  /** Every workload, with its set-up and its measured phase. */
  trait Workload {
    /** Set-up work, timed with the session start as set-up. */
    def setup(ctx: Ctx): Unit
    def run(ctx: Ctx): Outcome
  }

  val workloads: Map[String, Workload] = Map(
    "ingest" -> Ingest, "queries" -> Queries, "table_ops" -> TableOps)

  /** The layer metrics every traced run reports; a layer the workload
    * does not exercise reads 0.
    */
  val LayerMetrics: Seq[String] = Seq(
    "imagehash.ms_per_image", "imagehash.images", "imagehash.undecodable",
    "enrichment.analyze_calls", "enrichment.calls_per_receipt",
    "enrichment.parse_s", "receipts.field_rows", "receipts.flatten_s",
    "receipts.pivot_s",
    "stream.batches", "stream.nodata_batches", "stream.latest_offset_s",
    "stream.add_batch_s", "stream.wal_commit_s", "stream.commit_offsets_s",
    "stream.query_planning_s", "stream.state_rows", "stream.state_bytes",
    "stream.overhead_s", "sink.write_s", "sink.files",
    "plan.analysis_s", "plan.optimization_s", "plan.physical_s",
    "scan.files_read", "scan.bytes_read", "scan.rows_read",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_busy_s",
    "exec.cpu_s", "exec.gc_s", "exec.parallel_eff",
    "shuffle.exchanges", "shuffle.bytes_written", "shuffle.fetch_wait_s",
    "shuffle.spill_bytes", "expr.interpreted",
    "artifact.builds", "artifact.build_s",
    "commit.append_s", "commit.merge_s", "commit.delete_s",
    "commit.replace_where_s", "commit.compact_s",
    "commit.bytes_written", "log.versions", "log.checkpoints",
    "log.replay_s", "prune.files_total", "prune.files_kept",
    "ingest.receipts_per_s", "ingest.wave_p50_s",
    "queries.cold_s", "queries.warm_s",
    "table.commit_p50_s", "table.read_p50_s",
    "table.bytes_written_per_user_byte", "table.bytes_stored_per_live_byte",
    "jvm.heap_peak_mb", "failed_frac")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val dataDir = opts("data")
    val workDir = Paths.get(opts("work"))
    val wl = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))

    // Set-up, timed once: the JVM's first session and the workload's
    // set-up, as a user pays them. The measured phase starts in a
    // session no workload operation has run in.
    val trace = new Trace(traced)
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(Cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    var ctx = Ctx(spark, seed, seconds, dataDir, Files.createDirectories(workDir), trace, None)
    wl.setup(ctx)
    val setupS = (System.nanoTime() - t0) / 1e9
    val layers = if (traced) {
      val l = new Layers(spark); l.register(); Some(l)
    } else None
    ctx = ctx.copy(layers = layers)

    val heap = new HeapPeak()
    val out = wl.run(ctx)
    val heapPeakMb = heap.peakMb()

    val ok = out.checks.forall(_._2)
    out.checks.filterNot(_._2).foreach { case (c, _) => System.err.println(s"[perfbench] CHECK FAILED: $c") }
    val failed = out.failed + out.checks.count(!_._2)
    val attempted = math.max(out.attempted, 1)
    val e2e = Seq("setup_s" -> setupS, "cold_s" -> out.cold, "warm_s" -> out.warm)
    val units = Map("setup_s" -> "s", "cold_s" -> "s", "warm_s" -> "s")

    val metrics: Seq[(String, Double)] =
      if (!traced) e2e
      else {
        val all = out.layer ++ out.detail ++ Map(
          "jvm.heap_peak_mb" -> heapPeakMb,
          "failed_frac" -> failed.toDouble / attempted)
        LayerMetrics.map(k => k -> all.getOrElse(k, 0.0))
      }
    val metricJson = Json.obj(metrics.map { case (k, v) =>
      k -> Json.obj(Seq("value" -> Json.num(v),
        "unit" -> Json.str(units.getOrElse(k, unitOf(k)))))
    })

    val provenance = Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString,
      "seconds" -> Json.num(seconds), "trace" -> traced.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "git_commit" -> Json.str(opts.getOrElse("commit", "unknown")))
    val record = Json.obj(provenance ++ Seq(
      "correct" -> ok.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "detail" -> Json.obj((out.detail + ("jvm.heap_peak_mb" -> heapPeakMb))
        .toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
      "checks" -> Json.obj(out.checks.map { case (c, b) => c -> b.toString }),
      "breakdown" -> out.breakdown))
    if (traced) {
      val traceJson = Json.obj(Seq("record" -> record, "layers" -> metricJson,
        "self_s" -> Json.obj(trace.selfSeconds.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
        "spans" -> trace.spansJson))
      Files.writeString(Paths.get(opts("trace-out")), traceJson + "\n")
    } else Files.writeString(Paths.get(opts("record-out")), record + "\n")

    spark.stop()
    println(Json.obj(Seq("correct" -> ok.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metricJson)))
  }

  def unitOf(metric: String): String =
    if (metric.endsWith("_per_s")) "1/s"
    else if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("ms_per_image")) "ms"
    else if (metric.contains("bytes")) { if (metric.contains("_per_")) "ratio" else "bytes" }
    else if (metric.endsWith("_eff") || metric.endsWith("_frac") || metric.contains("_per_")) "ratio"
    else "count"

  /** Run `body` and return its wall seconds alongside its value. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Session hygiene between measured operations, outside the timed
    * window, as the engine's own bench does it: drop cached frames and
    * checkpointed blocks, and let the context cleaner run.
    */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }
}

/** Peak heap in use since construction, sampled every 20 ms. */
final class HeapPeak {
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  @volatile private var peak = 0L
  @volatile private var running = true
  private val t = new Thread(() => {
    while (running) {
      peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
      Thread.sleep(20)
    }
  }, "perfbench-heap-peak")
  t.setDaemon(true)
  t.start()

  def peakMb(): Double = {
    running = false
    t.join()
    peak / 1048576.0
  }
}
