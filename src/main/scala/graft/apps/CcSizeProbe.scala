package graft.apps

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Sizes `Dedup.dupClustersFromPairs`' driver path against its
  * distributed loop on a synthetic near-dup graph: `edges` edges in
  * 4-node chains with hashed ids, the result consumed by a noop write.
  * Prints the wall time and the bytes the calling thread allocated.
  *   runMain graft.apps.CcSizeProbe driver|loop|auto <edges>
  * `auto` is `dupClustersFromPairs` itself. Run one mode and size per
  * JVM: the warm-up runs no CC code, so neither path starts warm.
  * `Dedup.DriverEdges` comes from this probe: the time of each mode
  * across sizes, and the smallest -Xmx a `driver` run completes in
  * (-Dspark.testing.memory=1073741824 lets Spark start below its
  * 450 MB floor; -XX:+UseParallelGC turns GC thrashing into an error).
  */
object CcSizeProbe {
  def main(args: Array[String]): Unit = {
    val (mode, edges) = (args(0), args(1).toLong)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("id % 1000 as k").groupBy("k").count()
      .join(spark.range(1000).withColumnRenamed("id", "k"), "k").collect()
    val chain = (col("id") / 3).cast("long") * 4 + col("id") % 3
    val pairs = spark.range(edges).select(xxhash64(chain).as("id_a"), xxhash64(chain + 1).as("id_b"))
    val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val allocated0 = threads.getCurrentThreadAllocatedBytes
    val t0 = System.nanoTime()
    val labels: DataFrame = mode match {
      case "driver" => Dedup.clustersFromPairs(pairs, 50, None, Int.MaxValue / 2 - 1)
      case "loop" => Dedup.hashMinClusters(pairs, 50, None)
      case "auto" => Dedup.dupClustersFromPairs(pairs)
    }
    labels.write.format("noop").mode("overwrite").save()
    val seconds = (System.nanoTime() - t0) / 1e9
    val allocatedMb = (threads.getCurrentThreadAllocatedBytes - allocated0) / 1e6
    val leaf = labels.queryExecution.logical.collectLeaves().map(_.nodeName).distinct.mkString(",")
    println(f"CCSIZE mode=$mode edges=$edges seconds=$seconds%.3f " +
      f"driver_alloc_mb=$allocatedMb%.1f plan=$leaf")
    spark.stop()
  }
}
