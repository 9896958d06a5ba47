package graft.apps

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.Bench.dec
import graft.SparkEntry
import graft.engine.Tiers
import graft.operators.Dedup

/** The one probe entry point: times, plans or builds outside the full
  * [[graft.Bench]] run, one mode per question.
  *
  *   runMain graft.apps.Probe time <names> <sfDir> [reps]
  *   runMain graft.apps.Probe plan <names> <outFile> <sfDir>
  *   runMain graft.apps.Probe build <tierKey> <sfDir> [reps]
  *   runMain graft.apps.Probe ccsize driver|loop|auto <edges>
  *
  * `<names>` is a [[SparkEntry.select]] list (`q41,q68,q72`, `q24_`, a
  * full name); `reps` defaults to 3.
  *  - `time` runs each query `reps` times, consuming its result with a
  *    `count`; rep 1 carries the query's planning and codegen warm-up
  *    (the JVM's warm-up lands on the first query), later reps are its
  *    steady-state cost.
  *  - `plan` writes each query's `explain("formatted")` as a section of
  *    one markdown file whose header records the names; `grep ReadSchema`
  *    on it audits the columns each parquet scan reads. PLANS.md gives
  *    the command and names that regenerate it.
  *  - `build` deletes the tier's directory ([[Tiers.built]], by key)
  *    and times its build, `reps` times: rep 1 is JIT-cold, later reps
  *    steady. The directory is the tier's whole address, so a tier
  *    that shares its family's address (`fam` lives in `cc`'s) takes
  *    the family's other files with it; they rebuild on next use.
  *  - `ccsize` sizes `Dedup.dupClustersFromPairs`' driver path against
  *    its distributed loop on a synthetic near-dup graph: `edges` edges
  *    in 4-node chains with hashed ids, the result consumed by a noop
  *    write; it prints the wall time and the bytes the calling thread
  *    allocated. `auto` is `dupClustersFromPairs` itself.
  *    `Dedup.DriverEdges` comes from it: the time of each mode across
  *    sizes, and the smallest -Xmx a `driver` run completes in
  *    (-Dspark.testing.memory=1073741824 lets Spark start below its
  *    450 MB floor; -XX:+UseParallelGC turns GC thrashing into an
  *    error). Run one mode and size per JVM: the warm-up runs no CC
  *    code, so neither path starts warm.
  */
object Probe {

  private val usage =
    "usage: Probe time <names> <sfDir> [reps] | plan <names> <outFile> <sfDir>" +
      " | build <tierKey> <sfDir> [reps] | ccsize driver|loop|auto <edges>"

  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session()
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Runs one mode in `spark`, which it never stops, and returns the
    * report lines it printed. A bad mode, name or tier key fails with
    * a message before any work starts. */
  def run(spark: SparkSession, args: Seq[String]): Seq[String] = {
    val out = Seq.newBuilder[String]
    def say(line: String): Unit = { println(line); out += line }
    def reps(opt: Seq[String]) = opt.headOption.map(_.toInt).getOrElse(3)
    val queries = SparkEntry.queries
    def timed[A](f: => A): (A, String) = {
      val t0 = System.nanoTime()
      val a = f
      (a, dec((System.nanoTime() - t0) / 1e9, 2))
    }
    args match {
      case Seq("time", names, sf, opt @ _*) =>
        for (name <- SparkEntry.select(names); i <- 1 to reps(opt)) {
          val (rows, sec) = timed(queries(name)(spark, sf).count())
          say(s"PROBE time $name rep $i: $sec s, $rows rows")
          SparkEntry.dropAllState(spark)
        }
      case Seq("plan", names, outFile, sf) =>
        val sections = SparkEntry.select(names).map { name =>
          val plan = queries(name)(spark, sf).queryExecution.explainString(FormattedMode)
          SparkEntry.dropAllState(spark)
          s"## $name\n\n```\n$plan```\n"
        }
        // the header records the names, so the file says how to regenerate it
        val header =
          s"""# PLANS — formatted physical plans
             |
             |Generated by `graft.apps.Probe plan <names> <outFile> <sfDir>`
             |against `$sf`, with these names:
             |
             |`$names`
             |
             |What to look for: `PushedFilters`/`ReadSchema` on the parquet
             |scans, `BroadcastHashJoin` on dimension joins, `HashAggregate`
             |pairs (partial → final) around exchanges,
             |`TakeOrderedAndProject` for top-k, and codegen span ids.
             |
             |""".stripMargin
        val path = Paths.get(outFile).toAbsolutePath
        Files.createDirectories(path.getParent)
        Files.writeString(path, header + sections.mkString("\n"))
        say(s"PROBE plan ${sections.size} plans -> $outFile")
      case Seq("build", key, sf, opt @ _*) =>
        val tier = Tiers.built.find(_.key == key).getOrElse(throw new IllegalArgumentException(
          s"no tier '$key' with a build; keys: ${Tiers.built.map(_.key).mkString(",")}"))
        for (i <- 1 to reps(opt)) {
          val dir = tier(spark, sf)
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
          val (built, sec) = timed(tier.build(spark, sf))
          say(s"PROBE build $key rep $i: $sec s, built=$built, $dir")
          SparkEntry.dropAllState(spark)
        }
      case Seq("ccsize", mode, edges) =>
        val n = edges.toLong
        val clusters: DataFrame => DataFrame = mode match {
          case "driver" => Dedup.clustersFromPairs(_, 50, None, Int.MaxValue / 2 - 1)
          case "loop" => Dedup.hashMinClusters(_, 50, None)
          case "auto" => Dedup.dupClustersFromPairs(_)
          case other => throw new IllegalArgumentException(
            s"ccsize mode '$other' is not driver|loop|auto")
        }
        spark.range(1000000).selectExpr("id % 1000 as k").groupBy("k").count()
          .join(spark.range(1000).withColumnRenamed("id", "k"), "k").collect()
        val chain = (col("id") / 3).cast("long") * 4 + col("id") % 3
        val pairs = spark.range(n)
          .select(xxhash64(chain).as("id_a"), xxhash64(chain + 1).as("id_b"))
        val threads = ManagementFactory.getThreadMXBean
          .asInstanceOf[com.sun.management.ThreadMXBean]
        val allocated0 = threads.getCurrentThreadAllocatedBytes
        val (labels, sec) = timed {
          val l = clusters(pairs)
          l.write.format("noop").mode("overwrite").save()
          l
        }
        val allocatedMb = (threads.getCurrentThreadAllocatedBytes - allocated0) / 1e6
        val leaf = labels.queryExecution.logical.collectLeaves().map(_.nodeName).distinct.mkString(",")
        say(s"PROBE ccsize mode=$mode edges=$edges seconds=$sec " +
          s"driver_alloc_mb=${dec(allocatedMb, 1)} plan=$leaf")
        SparkEntry.dropAllState(spark)
      case _ => throw new IllegalArgumentException(usage)
    }
    out.result()
  }
}
