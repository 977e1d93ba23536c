package perfbench

import scala.collection.mutable

/** In-memory span recorder for the traced run. Spans are recorded in
  * the benchmark's own code around each call into a layer; the spans of
  * one operation (a wave, a query execution, a commit or a read) share
  * an `op` id, and each span names its parent. Nothing is written until
  * the run ends. When tracing is off every call is a pass-through, so
  * the timed run pays one branch per boundary. Counters come from
  * [[Layers]].
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1
  private val t0 = System.nanoTime()

  /** Run `body` as span `name` of operation `op`, nested under the
    * innermost open span.
    */
  def span[A](op: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val s = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, op, name, s, System.nanoTime())
      }
    }

  /** Self time of every span name: its duration minus the part its
    * direct children cover.
    */
  def selfSeconds: Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  /** The spans as JSON objects, times relative to the recorder's start. */
  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${Json.str(s.op)},"name":${Json.str(s.name)},""" +
      s""""start_s":${Json.num((s.startNs - t0) / 1e9)},"dur_s":${Json.num(s.seconds)}}"""
  }.mkString("[", ",\n", "]")
}

object Trace {
  final case class Span(id: Int, parent: Int, op: String, name: String,
                        startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** Just enough JSON writing for the result line, the record and the
  * trace file.
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full precision, and a finite number (JSON has no NaN). */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    java.lang.Double.toString(v)
  }

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
