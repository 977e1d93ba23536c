package perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for the engine's layers, read from Spark's public listener
  * interfaces: scheduler events (execution, shuffle, scan input),
  * finished query executions (planning phases, scans, exchanges,
  * interpreted expressions) and streaming progress. Registered only in
  * the traced run. Values only grow; an operation's share is the
  * difference of two snapshots taken after [[drain]].
  */
final class Layers(spark: SparkSession) {

  private val longs = Seq("exec.jobs", "exec.stages", "exec.tasks",
    "shuffle.bytes_written", "shuffle.spill_bytes", "scan.bytes_read",
    "scan.rows_read", "scan.files_read", "shuffle.exchanges",
    "expr.interpreted", "stream.batches", "stream.nodata_batches",
    "stream.state_rows", "stream.state_bytes")
    .map(_ -> new AtomicLong()).toMap
  private val doubles = Seq("exec.task_busy_s", "exec.cpu_s", "exec.gc_s",
    "shuffle.fetch_wait_s", "plan.analysis_s", "plan.optimization_s",
    "plan.physical_s", "stream.latest_offset_s", "stream.add_batch_s",
    "stream.wal_commit_s", "stream.commit_offsets_s",
    "stream.query_planning_s", "stream.trigger_s")
    .map(_ -> new DoubleAdder()).toMap

  private def inc(k: String, v: Long): Unit = longs(k).addAndGet(v)
  private def add(k: String, v: Double): Unit = doubles(k).add(v)

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = inc("exec.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      inc("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      inc("exec.tasks", 1)
      add("exec.task_busy_s", e.taskInfo.duration / 1e3)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        inc("shuffle.bytes_written", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        inc("shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        inc("scan.bytes_read", m.inputMetrics.bytesRead)
        inc("scan.rows_read", m.inputMetrics.recordsRead)
      }
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    add("plan.analysis_s", ms("analysis"))
    add("plan.optimization_s", ms("optimization"))
    add("plan.physical_s", ms("planning"))
    val nodes = Layers.planNodes(qe.executedPlan)
    inc("shuffle.exchanges", nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toLong)
    inc("expr.interpreted", Layers.interpreted(nodes).toLong)
    nodes.foreach {
      case s: FileSourceScanExec =>
        s.metrics.get("numFiles").foreach(m => inc("scan.files_read", m.value))
      case _ =>
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      inc("stream.batches", 1)
      if (p.numInputRows == 0) inc("stream.nodata_batches", 1)
      add("stream.latest_offset_s", d.getOrElse("latestOffset", 0.0))
      add("stream.add_batch_s", d.getOrElse("addBatch", 0.0))
      add("stream.wal_commit_s", d.getOrElse("walCommit", 0.0))
      add("stream.commit_offsets_s", d.getOrElse("commitOffsets", 0.0))
      add("stream.query_planning_s", d.getOrElse("queryPlanning", 0.0))
      add("stream.trigger_s", d.getOrElse("triggerExecution", 0.0))
      // state size is a level, not a flow: keep the latest
      longs("stream.state_rows").set(p.stateOperators.map(_.numRowsTotal).sum)
      longs("stream.state_bytes").set(p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }

  /** Wait until every listener event posted so far is delivered. */
  def drain(): Unit = org.apache.spark.perfbench.Drain(spark.sparkContext)

  def snapshot(): Map[String, Double] = {
    drain()
    longs.map { case (k, v) => k -> v.get.toDouble } ++
      doubles.map { case (k, v) => k -> v.sum }
  }
}

object Layers {

  /** Every physical node of an executed plan, looking through adaptive
    * execution's wrappers and into subqueries.
    */
  def planNodes(root: SparkPlan): Seq[SparkPlan] = {
    val out = Seq.newBuilder[SparkPlan]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other =>
        out += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(root)
    out.result()
  }

  /** Interpreted expressions in the plan: those that opt out of code
    * generation, and higher-order functions, which evaluate their
    * lambda through the interpreter.
    */
  def interpreted(nodes: Seq[SparkPlan]): Int =
    nodes.map { n =>
      n.expressions.map(e => countInterpreted(e)).sum
    }.sum

  private def countInterpreted(e: Expression): Int =
    e.collect {
      case f: CodegenFallback => f
      case h: HigherOrderFunction => h
    }.size
}
