package perfbench

import java.nio.file.{Files, Paths}

/** Writes the query workload's pins: runs each query once, writes its
  * output as parquet beside the engine's oracle SQL (the layout the
  * repository's DuckDB self-check reads), and prints `name hash` lines
  * for `data/pins.txt`. Run through `pin_queries.py`.
  */
object Pin {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir) = args
    val spark = graft.Sessions.local(Main.Cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val reg = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    Files.createDirectories(Paths.get(outDir))
    val lines = Queries.All.map { name =>
      val df = reg(name).run(spark, dataDir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      val h = Queries.contentHash(spark.read.parquet(s"$outDir/$name"))
      Main.hygiene(spark)
      s"$name $h"
    }
    val oracle = Queries.All.flatMap(n => reg(n).oracle.map(n -> _))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      Json.obj(oracle.map { case (n, sql) => n -> Json.str(sql) }))
    lines.foreach(println)
    spark.stop()
  }
}
