package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Records jobs, stages, task metrics and Catalyst phases from Spark's
  * public listener interfaces, attributed to the benchmark's ops.
  *
  * Suite and corpus ops run one at a time on the harness thread, each
  * under its own job group `op-<n>`. Stream jobs carry the micro-batch
  * id as a local property and are attributed by it. Events arrive on
  * the listener bus asynchronously, so an op is closed with [[drain]]:
  * a marker job is run after the op and its end is awaited. The bus
  * delivers the shared queue in order, so every event the op posted,
  * including the query-execution callbacks, has been seen once the
  * marker's end has.
  */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Tracer._

  @volatile var currentOp: Int = -1
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val qes = mutable.ArrayBuffer.empty[Qe]
  private val markerEnds = mutable.Set.empty[Int]
  @volatile var callbackNs = 0L

  private def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally callbackNs += System.nanoTime() - t0
  }

  private def opOf(group: String): Int =
    if (group != null && group.startsWith("op-")) group.drop(3).toInt else -1

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = Option(e.properties)
    val group = p.map(_.getProperty("spark.jobGroup.id")).orNull
    if (group == null || !group.startsWith("drain-")) {
      val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
        .map(_.toLong).getOrElse(-1L)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      synchronized {
        jobs(e.jobId) = Job(e.jobId, opOf(group), batch, e.time.toDouble, 0.0,
          e.stageIds, site)
        e.stageIds.foreach(s => stages.getOrElseUpdate(s, new Stage(s, e.jobId)))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    synchronized {
      jobs.get(e.jobId) match {
        case Some(j) => j.end = e.time.toDouble
        case None => markerEnds += e.jobId
      }
      notifyAll()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val i = e.stageInfo
    synchronized {
      stages.get(i.stageId).foreach { s =>
        s.submit = i.submissionTime.getOrElse(0L).toDouble
        s.complete = i.completionTime.getOrElse(0L).toDouble
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) synchronized {
      stages.get(e.stageId).foreach { s =>
        val info = e.taskInfo
        val run = m.executorRunTime.toDouble
        val deser = m.executorDeserializeTime.toDouble
        // scheduler delay as the UI derives it: task duration not spent
        // deserializing, running, serializing or fetching the result
        val delay = math.max(0.0, info.duration - run - deser -
          m.resultSerializationTime - info.gettingResultTime)
        s.tasks += 1
        s.runMs += run
        s.cpuMs += m.executorCpuTime / 1e6
        s.gcMs += m.jvmGCTime
        s.launchMs += deser + delay
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.outBytes += m.outputMetrics.bytesWritten
        if (m.outputMetrics.bytesWritten > 0) s.writeTaskMs += run
      }
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    timed(record(func, qe))

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    timed(record(func, qe))

  private def record(func: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> ((v.startTimeMs, v.endTimeMs)) }
    val plan = qe.executedPlan
    val scans = Tracer.planHelper.collect(plan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
    }.flatten
    val nodes = Tracer.planHelper.collect(plan) { case p => p.nodeName }
    val topk = nodes.exists(_.startsWith("TopKPerKey"))
    synchronized {
      qes += Qe(currentOp, func, phases, scans, nodes, plan.output.map(_.name), topk)
    }
  }

  private var markers = 0

  /** Runs a one-task marker job and waits until the listener has seen
    * its end and the end of every job `group` launched. False when that
    * takes longer than `timeoutMs`. */
  def drain(group: Option[String], timeoutMs: Long = 30000L): Boolean = {
    markers += 1
    val mg = s"drain-$markers"
    sc.setJobGroup(mg, "listener drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val ids = sc.statusTracker.getJobIdsForGroup(mg).toSeq ++
      group.toSeq.flatMap(g => sc.statusTracker.getJobIdsForGroup(g).toSeq)
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      def seen(id: Int) = markerEnds(id) || jobs.get(id).exists(_.end > 0)
      while (!ids.forall(seen) && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      ids.forall(seen)
    }
  }
}

object Tracer {
  object planHelper extends AdaptiveSparkPlanHelper

  final case class Job(id: Int, op: Int, batch: Long, start: Double,
                       var end: Double, stages: Seq[Int], site: String)
  final class Stage(val id: Int, val job: Int) {
    var submit, complete = 0.0
    var tasks = 0L
    var runMs, cpuMs, gcMs, launchMs, fetchWaitMs, writeTaskMs = 0.0
    var shWrite, shRead, spill, inBytes, outBytes = 0L
  }
  /** One executed query: the action that ran it (`func`), its Catalyst
    * phases, the files it scanned and its executed plan's node names and
    * output columns. */
  final case class Qe(op: Int, func: String, phases: Map[String, (Long, Long)],
                      scans: Seq[String], nodes: Seq[String], output: Seq[String],
                      topk: Boolean)
}
