package graft.tools

import graft.{Graft, SparkEntry}

/** Ad-hoc SQL probe against the installed engine + testdata tables, bound
  * exactly as the [[SparkEntry]] queries see them (`events.ts` as ns Long):
  * `sbt "runMain graft.tools.Probe <sfDir> <sql> [explain]"`. */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val sql = args(1)
    val spark = Graft.session(master = "local[8]", appName = "graft-probe")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.registerTables(spark, sfDir)
    val df = spark.sql(sql)
    if (args.length > 2 && args(2) == "explain") df.explain("formatted")
    if (args.length > 2 && args(2) == "time") {
      // min-of-3 wall clock through the noop sink (full execution, no collect)
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] min=${times.min}%.3f s all=${times.map(t => f"$t%.3f").mkString(",")}")
    } else df.show(20, truncate = false)
    spark.stop()
  }
}
