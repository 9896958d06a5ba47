package graft.apps

import org.apache.spark.sql.SparkSession

import graft.engine.Tiers

/** Isolated probe for the overlapped prebuilds (`fam_build_sec` /
  * `arm_build_sec`): wipe the family's tiers, time the prebuild,
  * repeat — reps ≥ 2 separate JIT-cold from steady-state, which the
  * in-bench reading cannot (each family builds once per corpus
  * snapshot there).
  *   runMain graft.apps.FamProbe [sfDir] [reps] [fam|arm]
  */
object FamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val family = args.lift(2).getOrElse("fam")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tier = if (family == "arm") Tiers.arm else Tiers.fam
    val dir = tier(spark, sfDir)
    val subs =
      if (family == "arm") Seq("bm25", "tfidf", "hybrid", "rel")
      else Seq("shsets", "pjpairs_t80", "cjpairs_t90", "snmpairs_t20",
        "winpairs_n3_w4", "candcap_50", "candr2_b4r2")
    def load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    for (i <- 1 to reps) {
      subs.foreach { s =>
        val f = new java.io.File(s"$dir/$s")
        if (f.exists()) {
          def rm(x: java.io.File): Unit = {
            Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); ()
          }
          rm(f)
        }
      }
      val c0 = graft.Bench.processCpuNanos
      val t0 = System.nanoTime()
      val built = tier.build(spark, sfDir)
      val wall = System.nanoTime() - t0
      val cores = (graft.Bench.processCpuNanos - c0).toDouble / wall
      println(f"FAMPROBE rep $i: ${wall / 1e9}%.2f s (built=$built, load $load%.1f, cores $cores%.1f)")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
