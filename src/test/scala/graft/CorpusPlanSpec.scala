package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.apps.CorpusPipeline
import graft.engine.Tables

/** `CorpusPipeline.run`'s plan shape and its release contract. The
  * pipeline's stage frames are checkpoints, so no action downstream
  * describes a cached plan inside another cached plan; and a run
  * leaves the session's persisted RDDs as it found them.
  */
class CorpusPlanSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  private lazy val docs = Tables.documents(spark, sfDir)
  private def evalSet = docs.filter(col("doc_id") < 3)
  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Every SQL execution start and AQE re-plan posted while attached:
    * the execution's call site, its plan description and plan tree. */
  private final class PlanLog extends SparkListener {
    case class Plan(site: String, text: String, tree: SparkPlanInfo)
    val plans = mutable.ArrayBuffer.empty[Plan]
    private val sites = mutable.Map.empty[Long, String]
    private val ended = mutable.Set.empty[Int]

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          sites(s.executionId) = s.description
          plans += Plan(s.description, s.physicalPlanDescription, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans += Plan(sites.getOrElse(u.executionId, ""),
            u.physicalPlanDescription, u.sparkPlanInfo)
        case _ =>
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      ended += e.jobId
      notifyAll()
    }

    /** Waits until every event posted before this call was delivered:
      * a marker job's end arrives after them. */
    def drain(): Unit = {
      val sc = spark.sparkContext
      val group = s"plan-log-drain-${System.nanoTime()}"
      sc.setJobGroup(group, "listener drain", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val ids = sc.statusTracker.getJobIdsForGroup(group).toSeq
      val deadline = System.currentTimeMillis() + 30000L
      synchronized {
        while (!ids.forall(ended) && System.currentTimeMillis() < deadline)
          wait(math.max(1L, deadline - System.currentTimeMillis()))
      }
      assert(ids.nonEmpty && ids.forall(ended), "listener bus did not drain")
    }
  }

  private def withPlanLog[T](body: => T): (T, Seq[PlanLog#Plan]) = {
    val log = new PlanLog
    spark.sparkContext.addSparkListener(log)
    try {
      val out = body
      log.drain()
      (out, log.synchronized(log.plans.toSeq))
    } finally spark.sparkContext.removeSparkListener(log)
  }

  private def scans(p: SparkPlanInfo): Boolean =
    p.nodeName == "InMemoryTableScan" || p.children.exists(scans)
  /** A cached plan holding another cached plan. */
  private def nestedCache(p: SparkPlanInfo): Boolean =
    (p.nodeName == "InMemoryTableScan" && p.children.exists(scans)) ||
      p.children.exists(nestedCache)
  private def headers(text: String) = "AdaptiveSparkPlan".r.findAllIn(text).size

  test("CorpusPipeline plans: the shards, JSONL and audit actions read no cached plan inside a cached plan") {
    val base = tmp("graft-plan-shape")
    val (r, plans) = withPlanLog(CorpusPipeline.run(docs, evalSet,
      s"$base/shards", s"$base/jsonl", nShards = 2))
    assert(r.kept > 0, s"pipeline shipped nothing: $r")
    // the short-form call sites of the three final actions
    val finals = plans.filter(p => p.site.startsWith("parquet at ParquetSink.scala") ||
      p.site.startsWith("json at JsonlSink.scala") ||
      p.site.startsWith("head at CorpusPipeline.scala"))
    val sites = finals.map(_.site.takeWhile(_ != ':')).distinct
    assert(sites.size == 3, s"expected the shards, JSONL and audit sites, got " +
      plans.map(_.site).distinct.mkString("; "))
    for (p <- finals)
      assert(!nestedCache(p.tree), s"${p.site} reads a nested cached plan:\n${p.text}")
    // a persisted stage frame inside another one doubles the plan
    // text at each level; cut at the stages, each final action's
    // description holds a handful of AQE plans
    val largest = finals.maxBy(p => headers(p.text))
    info(s"${plans.size} plan descriptions, ${plans.map(_.text.length.toLong).sum} chars; " +
      plans.groupBy(_.site).toSeq.sortBy(_._1).map { case (s, ps) =>
        s"$s: ${ps.map(p => headers(p.text)).max}" }.mkString("; "))
    assert(headers(largest.text) <= 12,
      s"${largest.site}: ${headers(largest.text)} AdaptiveSparkPlan headers")
  }

  private def persistentIds = spark.sparkContext.getPersistentRDDs.keySet

  // getPersistentRDDs holds its RDDs weakly, and the session is shared
  // with other specs, so an RDD they left unreachable may be cleaned
  // during a run; "returns to its set" is checked as "adds nothing"
  test("CorpusPipeline release: both exit modes leave no persisted RDD behind; false keeps the caller's cache") {
    val base = tmp("graft-release")
    val before = persistentIds
    CorpusPipeline.run(docs, evalSet, s"$base/s1", s"$base/j1", nShards = 2)
    assert((persistentIds -- before).isEmpty,
      s"clearCacheOnExit = true left ${persistentIds -- before}")

    val mine = docs.filter(col("doc_id") % 7 === 0).persist(StorageLevel.MEMORY_AND_DISK)
    val preMine = persistentIds
    assert(mine.count() > 0)
    val mineIds = persistentIds -- preMine
    assert(mineIds.nonEmpty)
    try {
      val before2 = persistentIds
      // with the opt-in boilerplate cut, so its input is a stage too
      CorpusPipeline.run(docs, evalSet, s"$base/s2", s"$base/j2", nShards = 2,
        clearCacheOnExit = false, maxBoilerplate = Some(0.9))
      assert((persistentIds -- before2).isEmpty,
        s"clearCacheOnExit = false left ${persistentIds -- before2}")
      assert(mine.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(mineIds.subsetOf(persistentIds), "the caller's cached frame was released")
    } finally mine.unpersist(blocking = true)
  }

  test("CorpusPipeline with a checkpointDir: the same Report and JSONL rows as without") {
    import org.apache.spark.sql.types._
    val base = tmp("graft-ckpt-run")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def rows(dir: String) = Tables.jsonl(spark, dir, schema).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val r0 = CorpusPipeline.run(docs, evalSet, s"$base/s0", s"$base/j0", nShards = 2)
    val r1 = CorpusPipeline.run(docs, evalSet, s"$base/s1", s"$base/j1", nShards = 2,
      checkpointDir = Some(s"$base/ckpt"))
    assert(r1 == r0)
    val (j0, j1) = (rows(s"$base/j0"), rows(s"$base/j1"))
    assert(j0.nonEmpty && j1 == j0)
  }
}
