package perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.VersionedTable

/** One writer on a graft table seeded from lineitem: seeded cycles of
  * append, MERGE upsert, DELETE and REPLACE WHERE on key ranges and a
  * compaction, with pruned point, range and
  * `VERSION AS OF` reads between the commits. The benchmark keeps its
  * own model of every version, so each read and the final state are
  * checked against a snapshot computed without the table format.
  */
object TableOps extends Main.Workload {

  /** A table row; `k` is the key, `ver` the op that last wrote it. */
  final case class R(k: Long, partkey: Long, qty: Double, price: Double,
                     flag: String, ver: Long)

  /** Raw bytes of a row: 8 per long or double, UTF-8 length per string. */
  def rawBytes(r: R): Long = 5 * 8 + r.flag.getBytes("UTF-8").length

  val StatsCols = Seq("k")
  /** Seed rows taken from lineitem, in key order. */
  val SeedRows = 20000

  /** Cycles per run: one per `NominalCycleS` of the run time, at least
    * four (20 commits, two log checkpoints). The count depends on the
    * run time asked for, never on how fast the cycles go, so every run
    * times the same operations.
    */
  val NominalCycleS = 2.5
  def cycles(seconds: Double): Int = math.max(4, math.round(seconds / NominalCycleS).toInt)

  private var base: String = _
  private var seedRows: TreeMap[Long, R] = _

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    base = ctx.workDir.resolve("table").toString
    val li = graft.Tables.lineitem(spark, ctx.dataDir)
      // lineitem's (orderkey, linenumber) is not unique in this data, so
      // the key is the row's rank in that order
      .select(row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("l_orderkey"), col("l_linenumber"))).cast("long").as("k"),
        col("l_partkey").as("partkey"), col("l_quantity").as("qty"),
        col("l_extendedprice").as("price"), col("l_returnflag").as("flag"),
        lit(0L).as("ver"))
      .filter(col("k") <= SeedRows)
      .repartitionByRange(8, col("k"))
    VersionedTable.commitAppend(spark, base, li, statsCols = StatsCols)
    seedRows = TreeMap(VersionedTable.readVersion(spark, base, 1L).as[R].collect()
      .map(r => r.k -> r).toSeq: _*)
  }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.trace
    val r = new scala.util.Random(ctx.seed)
    val basePath = java.nio.file.Paths.get(base)
    // version -> the model's state at that version
    var model = TreeMap(1L -> seedRows)
    var version = 1L
    def live = model(version)
    var nextKey = seedRows.lastKey + 1
    var attempted = 0
    var failed = 0
    var readFailures = 0
    val commits = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Long)]
    val reads = scala.collection.mutable.ArrayBuffer.empty[Double]
    // a cycle's time is the sum of its timed operations, so the model
    // bookkeeping between them is not counted
    val cycleTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    var cycleS = 0.0
    var userBytes = 0L
    var replayS = 0.0
    var filesTotal, filesKept = 0L
    val layer0 = ctx.layers.map(_.snapshot())

    def rows(n: Int, keys: Iterator[Long], ver: Long): Seq[R] =
      keys.take(n).map(k => R(k, 1L + r.nextInt(20000), 1 + r.nextInt(50),
        (100 + r.nextInt(1000000)) / 100.0, Seq("A", "N", "R")(r.nextInt(3)), ver)).toSeq

    /** Time one commit; on success the model moves to `next`. */
    def commit(kind: String, next: => TreeMap[Long, R], user: Seq[R])(body: => Long): Unit = {
      attempted += 1
      val before = dirBytes(basePath)
      val (v, dt) = Main.timed(tr.span(s"commit-${version + 1}", s"commit.$kind") {
        try Some(body) catch { case e: Exception =>
          System.err.println(s"[perfbench] $kind commit FAILED: $e"); None
        }
      })
      cycleS += dt
      val written = dirBytes(basePath) - before
      commits += ((kind, dt, written))
      v match {
        case Some(nv) if nv == version + 1 =>
          val state = next
          version = nv
          model = model.updated(nv, state)
          userBytes += user.map(rawBytes).sum
        case _ => failed += 1
      }
    }

    /** Time one pruned read of keys [lo, hi] at version `v` and check
      * it against the model's snapshot of that version.
      */
    def read(kind: String, v: Long, lo: Long, hi: Long): Unit = {
      attempted += 1
      val op = s"read-$kind-$v-$lo"
      val (got, dt) = Main.timed(tr.span(op, s"read.$kind") {
        try Some(VersionedTable.readVersionPruned(spark, base, v, Seq(("k", lo, hi)))
          .filter(col("k").between(lo, hi)).as[R].collect().sortBy(_.k).toSeq)
        catch { case e: Exception =>
          System.err.println(s"[perfbench] $kind read FAILED: $e"); None
        }
      })
      reads += dt
      cycleS += dt
      if (!got.contains(model(v).range(lo, hi + 1).values.toSeq)) {
        failed += 1; readFailures += 1
      }
      if (ctx.traced) {
        val (es, t) = Main.timed(tr.span(op, "log.replay")(VersionedTable.entries(base, v)))
        replayS += t
        filesTotal += es.size
        filesKept += VersionedTable.prune(es, Seq(("k", lo, hi))).size
      }
    }

    /** A live key, drawn uniformly over the key span. */
    def someKey: Long = keyIn(live)

    def keyIn(m: TreeMap[Long, R]): Long = {
      val (lo, hi) = (m.firstKey, m.lastKey)
      m.rangeFrom(lo + (r.nextDouble() * (hi - lo)).toLong).headOption
        .getOrElse(m.last)._1
    }

    for (_ <- 1 to cycles(ctx.seconds)) {
      cycleS = 0.0
      val ver = version + 1
      // append: new keys past the end
      val app = rows(2000 + r.nextInt(2000), Iterator.iterate(nextKey)(_ + 1), ver)
      nextKey += app.size
      commit("append", live ++ app.map(x => x.k -> x), app)(
        VersionedTable.commitAppend(spark, base, app.toDF(), statsCols = StatsCols))
      val pk = someKey
      read("point", version, pk, pk)
      // MERGE upsert: half existing keys, half new
      val upd = rows(500, Iterator.continually(someKey).distinct, version + 1)
      val ins = rows(500, Iterator.iterate(nextKey)(_ + 1), version + 1)
      nextKey += ins.size
      val delta = (upd ++ ins).groupBy(_.k).values.map(_.head).toSeq
      commit("merge", live ++ delta.map(x => x.k -> x), delta)(
        VersionedTable.commitMerge(spark, base, delta.toDF(), "k", Seq("ver"), StatsCols))
      val lo = someKey
      read("range", version, lo, lo + 400)
      // DELETE a key range
      val dlo = someKey
      val dhi = dlo + 200 + r.nextInt(600)
      commit("delete", live -- live.range(dlo, dhi + 1).keys, Nil)(
        VersionedTable.commitDelete(spark, base, col("k").between(dlo, dhi),
          pruneRanges = Seq(("k", dlo, dhi)), statsCols = StatsCols))
      // time travel to an earlier version
      val tv = 1L + r.nextInt(version.toInt)
      val tlo = keyIn(model(tv))
      read("version_as_of", tv, tlo, tlo + 400)
      // REPLACE WHERE a key range: its live rows, re-priced
      val rlo = someKey
      val rhi = rlo + 300 + r.nextInt(500)
      val rep = live.range(rlo, rhi + 1).values.toSeq.map(x =>
        x.copy(price = (100 + r.nextInt(1000000)) / 100.0, ver = version + 1))
      commit("replace_where", live -- live.range(rlo, rhi + 1).keys ++ rep.map(x => x.k -> x), rep)(
        VersionedTable.commitReplaceWhere(spark, base, rep.toDF(), col("k").between(rlo, rhi),
          pruneRanges = Seq(("k", rlo, rhi)), statsCols = StatsCols))
      commit("compact", live, Nil)(VersionedTable.compact(spark, base, 4, StatsCols))
      cycleTimes += cycleS
      Main.hygiene(spark)
    }

    // final state, outside the timed window
    val finalRows = VersionedTable.readLatest(spark, base).as[R].collect().sortBy(_.k).toSeq
    val storedBytes = dirBytes(basePath)
    val liveBytes = live.values.map(rawBytes).sum
    val writtenBytes = commits.map(_._3).sum
    val checks = Seq(
      "table_ops.final_state_matches_model" -> (finalRows == live.values.toSeq),
      "table_ops.reads_match_model" -> (readFailures == 0),
      "table_ops.latest_version" -> VersionedTable.latestVersion(base).contains(version))

    val commitTimes = commits.map(_._2).toSeq
    val commitTail = Stats.tail(commitTimes)
    val detail = Map(
      "table.commit_p50_s" -> Stats.median(commitTimes),
      "table.read_p50_s" -> Stats.median(reads.toSeq),
      "table.bytes_written_per_user_byte" -> Stats.ratio(writtenBytes, userBytes),
      "table.bytes_stored_per_live_byte" -> Stats.ratio(storedBytes, liveBytes))
    val byKind = commits.groupBy(_._1)
    val layer = ctx.layers.map { l =>
      val d = l.snapshot().map { case (k, v) => k -> (v - layer0.get.getOrElse(k, 0.0)) }
      val logDir = basePath.resolve("_log")
      val checkpoints = {
        val s = Files.list(logDir)
        try s.iterator().asScala.count(_.getFileName.toString.endsWith(".checkpoint")) finally s.close()
      }
      d ++ Seq("append", "merge", "delete", "replace_where", "compact").map(k =>
        s"commit.${k}_s" -> byKind.get(k).map(_.map(_._2).sum).getOrElse(0.0)) ++ Map(
        "commit.bytes_written" -> writtenBytes.toDouble,
        "log.versions" -> version.toDouble,
        "log.checkpoints" -> checkpoints.toDouble,
        "log.replay_s" -> replayS,
        "prune.files_total" -> filesTotal.toDouble,
        "prune.files_kept" -> filesKept.toDouble,
        "exec.parallel_eff" -> Stats.parallelEfficiency(d("exec.task_busy_s"),
          cycleTimes.sum, Main.Cores))
    }.getOrElse(Map.empty)
    val breakdown = Json.obj(Seq(
      "commits" -> commits.map { case (k, t, b) =>
        Json.obj(Seq("op" -> Json.str(k), "s" -> Json.num(t), "bytes" -> b.toString))
      }.mkString("[", ",", "]"),
      "bytes_written_by_op" -> Json.obj(byKind.toSeq.sortBy(_._1).map { case (k, cs) =>
        k -> cs.map(_._3).sum.toString }),
      "reads_s" -> reads.map(Json.num).mkString("[", ",", "]"),
      "cycles_s" -> cycleTimes.map(Json.num).mkString("[", ",", "]")) ++
      // a run has too few commits for a tail above the median, so the
      // tail is kept here, with its percentile, and not as a metric
      commitTail.map(t => "commit_tail" -> Json.obj(Seq("s" -> Json.num(t.value),
        "percentile" -> t.percentile.toString, "samples" -> t.samples.toString))))
    Outcome(cycleTimes.head, Stats.median(cycleTimes.tail.toSeq), detail, layer,
      attempted, failed, checks, breakdown)
  }
}
