package graft.apps

import graft.SparkEntry
import graft.engine.Tables
import graft.operators.Aggregates

/** Console EDA report over the testdata (the reference's run_full_eda
  * driver loop shape, eda/main.py:38-53 — W3 `show(n, truncate)` as
  * the display action). Usage:
  *   runMain graft.apps.EdaMain [sfDir]
  */
object EdaMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkEntry.session()
    try {
      val events = Tables.events(spark, sfDir)
      val lineitem = Tables.lineitem(spark, sfDir)
      println("== hourly activity ==")
      Aggregates.hourlyActivity(events).show(24, truncate = false)
      println("== day-of-week activity (Mon=1) ==")
      Aggregates.dowActivity(events).show(7, truncate = false)
      println("== lineitem describe ==")
      Aggregates.describeStats(lineitem).show(truncate = false)
      println("== per-flag averages ==")
      Aggregates.avgByGroup(lineitem).show(truncate = false)
      println("== rollup ==")
      Aggregates.rollupFlagStatus(lineitem).show(10, truncate = false)
    } finally spark.stop()
  }
}
