package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Registry queries through the engine's own bench evaluation (a noop
  * write, so nothing is pruned away, with the session hygiene between
  * queries outside the timed window). One cold pass in a session no
  * query has run in, then warm passes, in an order the seed permutes.
  */
object Queries extends Main.Workload {

  /** Planning, scan set-up, codegen and task launch dominate these. */
  val Short: Seq[String] = Seq("q5_region_revenue", "q88_heavy_hitters")

  /** Shuffle and session artifacts dominate these: the jacprefix and
    * pair memos (q40) and the co-purchase memo (q123).
    */
  val Tail: Seq[String] = Seq("q40_neardup_jaccard", "q123_copurchase_similarity")

  val All: Seq[String] = Short ++ Tail

  /** Warm passes per run: one per `NominalPassS` of the run time, at
    * least three. The first is a warm-up, so each query's warm time is a
    * median of the others. The count depends on the run time asked for,
    * never on how fast the passes go, so every run times the same work.
    */
  val NominalPassS = 4.0
  def warmPasses(seconds: Double): Int = math.max(3, math.round(seconds / NominalPassS).toInt)

  val Tables: Seq[(SparkSession, String) => DataFrame] = {
    import graft.Tables._
    Seq(region, nation, customer, supplier, part, orders, lineitem, events,
      documents, embeddings)
  }

  def setup(ctx: Ctx): Unit =
    Tables.foreach(t => t(ctx.spark, ctx.dataDir).write.format("noop").mode("overwrite").save())

  private def registry: Map[String, graft.Q] =
    graft.SparkEntry.registry.map(q => q.name -> q).toMap

  /** Pinned output hashes, one `name hash` pair a line. */
  def pins(dataDir: String): Map[String, String] = {
    val p = Paths.get(dataDir).resolveSibling("pins.txt")
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, h) = l.split("\\s+"); n -> h }.toMap
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val reg = registry
    val order = new scala.util.Random(ctx.seed).shuffle(All)
    val times = scala.collection.mutable.LinkedHashMap(order.map(_ -> Vector.empty[Double]): _*)
    val perQuery = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    val layer0 = ctx.layers.map(_.snapshot())

    def exec(name: String, pass: Int): Unit = {
      attempted += 1
      val op = s"$name#$pass"
      val before = ctx.layers.map(_.snapshot())
      val (ok, dt) = Main.timed(ctx.trace.span(op, "query") {
        try {
          reg(name).run(spark, ctx.dataDir).write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name FAILED: $e"); false
        }
      })
      if (!ok) failed += 1
      // a failed execution still counts, with its time
      times(name) = times(name) :+ dt
      ctx.layers.foreach { l =>
        val d = l.snapshot().map { case (k, v) => k -> (v - before.get.getOrElse(k, 0.0)) }
        perQuery += Json.obj(Seq("query" -> Json.str(name), "pass" -> pass.toString,
          "wall_s" -> Json.num(dt)) ++ d.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })
      }
      Main.hygiene(spark)
    }

    // the measured phase: the cold pass, then the warm passes
    order.foreach(exec(_, 0))
    val memos = graft.MemoTimings.snapshot
    for (pass <- 1 to warmPasses(ctx.seconds)) order.foreach(exec(_, pass))
    val layerDelta = ctx.layers.map { l =>
      val s = l.snapshot()
      s.map { case (k, v) => k -> (v - layer0.get.getOrElse(k, 0.0)) }
    }

    // correctness, outside the timed window: every output against its pin
    val pinned = pins(ctx.dataDir)
    val checks = order.map { name =>
      val ok = try pinned.get(name).contains(contentHash(reg(name).run(spark, ctx.dataDir)))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name check FAILED: $e"); false
      }
      Main.hygiene(spark)
      s"queries.$name.matches_pin" -> ok
    }

    val cold = times.values.map(_.head).sum
    // the first warm pass still carries JIT warm-up; it is timed and
    // recorded but not part of the warm median
    val warm = times.values.map(ts => Stats.median(ts.drop(2))).sum
    val wall = times.values.flatten.sum
    val layer = layerDelta.map { d =>
      d ++ Map(
        "exec.parallel_eff" -> Stats.parallelEfficiency(d("exec.task_busy_s"), wall, Main.Cores),
        "artifact.builds" -> memos.size.toDouble,
        "artifact.build_s" -> memos.values.sum)
    }.getOrElse(Map.empty)
    val breakdown = Json.obj(Seq(
      "order" -> order.map(Json.str).mkString("[", ",", "]"),
      "times_s" -> Json.obj(times.toSeq.map { case (n, ts) => n -> ts.map(Json.num).mkString("[", ",", "]") }),
      "memos_s" -> Json.obj(memos.toSeq.sorted.map { case (n, v) => n -> Json.num(v) }),
      "executions" -> perQuery.mkString("[", ",\n", "]")))
    Outcome(cold, warm, Map("queries.cold_s" -> cold, "queries.warm_s" -> warm),
      layer, attempted, failed, checks, breakdown)
  }

  /** Order-free content hash of a result: columns by name, rows sorted,
    * doubles to 9 significant digits (parallel sums differ in the last
    * bits from run to run).
    */
  def contentHash(df: DataFrame): String = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(df.col).toIndexedSeq: _*).collect()
      .map(r => cols.indices.map(i => norm(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(cols.mkString(",").getBytes("UTF-8"))
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def norm(v: Any): String = v match {
    case null => "null"
    case d: Double => normDouble(d)
    case f: Float => normDouble(f.toDouble)
    case b: java.math.BigDecimal => "dec:" + b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => "dec:" + b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => norm(r.get(i))).mkString("(", ",", ")")
    case o => o.toString
  }

  private def normDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toString
}
