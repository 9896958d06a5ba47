package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.apps.CorpusPipeline
import graft.engine.Tables
import graft.streaming.StreamPipeline

/** One replayed event: an events-table row under a fresh id. */
final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                    event_type: String, value: Double, props: String)

/** The benchmark's JVM side. Runs one workload against a generated
  * table set and writes everything it observed to one JSON file; the
  * Python side (`run.py`) turns that file into checks and metrics.
  *
  *  - suite: the listed queries' tiers built, then one pass over the
  *    queries in a seed-shuffled order, each constructed and fully
  *    collected; its result is saved for the oracle check after the
  *    timed op;
  *  - corpus: one `CorpusPipeline.run` with the semantic tier on;
  *  - stream: open-loop replay into the streaming sink, measured for
  *    `seconds` after a warm-up.
  *
  * Arguments are `key=value` pairs: workload (suite|corpus|stream),
  * data, work, out, seed, seconds, trace (0|1), plus queries (suite)
  * and rate (stream, events per second).
  */
object Harness {

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  private def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
  private def codegenNs: Long = CodeGenerator.compileTime
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
    new Harness(a).run()
  }
}

final class Harness(a: Map[String, String]) {
  import Harness._
  import Json._

  private val workload = a("workload")
  private val data = a("data")
  private val work = new File(a("work"))
  private val seed = a.getOrElse("seed", "0").toLong
  private val seconds = a.getOrElse("seconds", "10").toDouble
  private val traced = a.getOrElse("trace", "0") == "1"
  /** Set-ups per run; `setup_s` is their median. */
  private val reps = 3
  private val cpus = Runtime.getRuntime.availableProcessors()

  private val setupSec = mutable.ArrayBuffer.empty[Double]
  private val fields = mutable.ArrayBuffer.empty[(String, String)]
  private var tracer: Tracer = _
  private var rep = 0

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One set-up: a fresh SparkSession over a fresh tier/temp directory
    * (the engine derives tier paths from `java.io.tmpdir`), the generic
    * SQL warm-up, and the workload's own preparation. Repeated `reps`
    * times; the last session is the one measured. */
  private def setUp(prepare: SparkSession => Unit): SparkSession = {
    var spark: SparkSession = null
    for (r <- 1 to reps) {
      SparkSession.getActiveSession.foreach(_.stop())
      rep = r
      val tmp = new File(work, s"tmp-$r")
      tmp.mkdirs()
      System.setProperty("java.io.tmpdir", tmp.getPath)
      val t0 = System.nanoTime()
      spark = newSession()
      spark.range(1000000).selectExpr("sum(id * 2)").collect()
      prepare(spark)
      setupSec += (System.nanoTime() - t0) / 1e9
    }
    if (traced) {
      tracer = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    spark
  }

  private def dropAllState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def mlWarmUp(spark: SparkSession): Unit = {
    val warm = spark.range(200).selectExpr("cast(id as double) a",
      "cast(id % 7 as double) b", "cast(id % 2 as double) label")
    val model = new org.apache.spark.ml.Pipeline().setStages(Array(
      new org.apache.spark.ml.feature.VectorAssembler()
        .setInputCols(Array("a", "b")).setOutputCol("features"),
      new org.apache.spark.ml.classification.LogisticRegression().setMaxIter(1)))
      .fit(warm)
    model.transform(warm).select("prediction").collect()
    dropAllState(spark)
  }

  /** Regular files under the tier root's `graft_*` directories. */
  private def tierFiles(): List[java.nio.file.Path] = {
    val root = Paths.get(System.getProperty("java.io.tmpdir"))
    if (!Files.isDirectory(root)) return Nil
    val st = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        root.relativize(p).toString.startsWith("graft_")).toList
    } finally st.close()
  }

  /** Tier directories holding a `_SUCCESS` marker, with the marker's time. */
  private def tierDirs(): Map[String, Long] = tierFiles()
    .filter(_.getFileName.toString == "_SUCCESS")
    .map(p => p.getParent.toString -> Files.getLastModifiedTime(p).toMillis).toMap

  /** Runs one op under job group `op-<id>`; in a traced run also records
    * its codegen and tier deltas and drains the listeners afterwards, so
    * nothing run after the op is attributed to it. */
  private def op(spark: SparkSession, id: Int, name: String)
                (body: (() => Unit) => Seq[(String, String)]): String = {
    val sc = spark.sparkContext
    val tiers0 = if (traced) tierDirs() else Map.empty[String, Long]
    if (traced) tracer.currentOp = id
    sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    val (cg0, cc0) = (codegenNs, compiles)
    val start = nowMs
    var constructEnd = 0.0
    val t0 = System.nanoTime()
    var err = ""
    val extra = try body(() => constructEnd = start + (System.nanoTime() - t0) / 1e6)
      catch { case e: Throwable =>
        err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        Nil
      }
    val end = start + (System.nanoTime() - t0) / 1e6
    val (cg1, cc1) = (codegenNs, compiles)
    sc.clearJobGroup()
    val traceFields = if (!traced) Nil else {
      val d0 = System.nanoTime()
      if (!tracer.drain(Some(s"op-$id"))) err = (err + " listener drain timed out").trim
      tracer.currentOp = -1
      val drainMs = (System.nanoTime() - d0) / 1e6
      val tiers1 = tierDirs()
      val built = tiers1.keySet -- tiers0.keySet
      val scans = tracer.synchronized(tracer.qes.filter(_.op == id).flatMap(_.scans).toSeq)
      val reused = scans.count(p => tiers0.keys.exists(d => p.startsWith("file:" + d) || p.startsWith(d)))
      val ready = if (built.isEmpty) 0.0 else built.map(tiers1).max - start
      Seq("codegen_ns" -> num(cg1 - cg0), "compiles" -> num(cc1 - cc0),
        "tier_builds" -> num(built.size.toLong), "tier_reuses" -> num(reused.toLong),
        "tier_ready_ms" -> num(math.max(0.0, ready)), "drain_ms" -> num(drainMs))
    }
    obj((Seq("id" -> num(id.toLong), "name" -> str(name), "start" -> num(start),
      "construct_end" -> num(constructEnd), "end" -> num(end), "err" -> str(err)) ++
      extra ++ traceFields): _*)
  }

  private def runSuite(): Unit = {
    val wanted = a("queries").split(",").toSeq
    val all = SparkEntry.queries
    val names = new Random(seed).shuffle(wanted)
    val spark = setUp(mlWarmUp)
    // Construct every query once, in list order, before the timed pass:
    // construction builds the content-addressed tiers a query reads, so
    // the pass times the tiers' read side, and no query's latency depends
    // on whether the seed's order ran it before or after the query that
    // builds a tier it shares
    val tiers0 = tierDirs().size
    val t0 = System.nanoTime()
    wanted.foreach { name =>
      all(name)(spark, data)
      dropAllState(spark)
    }
    fields += "tier_build" -> obj("s" -> num((System.nanoTime() - t0) / 1e9),
      "builds" -> num((tierDirs().size - tiers0).toLong))
    val results = new File(work, "results")
    val ops = mutable.ArrayBuffer.empty[String]
    for ((name, i) <- names.zipWithIndex) {
      val id = i + 1
      var result: Option[(Array[Row], StructType)] = None
      ops += op(spark, id, name) { constructed =>
        val df = all(name)(spark, data)
        constructed()
        val rows = df.collect()
        result = Some((rows, df.schema))
        Seq("rows" -> num(rows.length.toLong), "columns" -> arr(df.columns.map(str)))
      }
      // the oracle check's copy is written outside the op's window and job
      // group; a traced run drains its events before the next op starts
      result.foreach { case (rows, schema) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.parquet(new File(results, name).getPath)
      }
      if (traced && !tracer.drain(None)) fields += "drain_timeout" -> "true"
      dropAllState(spark)
    }
    fields += "ops" -> arr(ops)
    fields += "oracle_sql" -> obj(SparkEntry.oracleSql.toSeq
      .filter { case (k, _) => wanted.contains(k) }
      .map { case (k, v) => k -> str(v) }: _*)
    fields += "tier_bytes" -> num(tierFiles().map(Files.size).sum)
  }

  private def runCorpus(): Unit = {
    val spark = setUp(_ => ())
    val shards = new File(work, "corpus/shards").getPath
    val jsonl = new File(work, "corpus/jsonl").getPath
    val run = op(spark, 1, "corpus") { constructed =>
      constructed()
      val docs = Tables.documents(spark, data)
      val r = CorpusPipeline.run(docs, docs.filter(col("doc_id") % 10 === seed % 10),
        shards, jsonl, embeddings = Some(Tables.embeddings(spark, data)))
      Seq("shards" -> str(shards), "jsonl" -> str(jsonl), "report" -> obj(
        "input" -> num(r.input), "url_kept" -> num(r.urlKept), "gated" -> num(r.gated),
        "cleaned" -> num(r.cleaned), "kept" -> num(r.kept), "shipped" -> num(r.shipped)))
    }
    fields += "ops" -> arr(Seq(run))
  }

  /** Open-loop replay: a generator thread adds events to a memory stream
    * on a fixed tick; the routed responses land in the exactly-once
    * epoch sink. Latency is computed from the ticks' due times and the
    * progress reports' batch end times. */
  private def runStream(): Unit = {
    val rate = a("rate").toDouble
    val tickMs = 5.0
    val perTick = math.max(1, math.round(rate * tickMs / 1000).toInt)
    var pool: Array[Ev] = null
    var mem: MemoryStream[Ev] = null
    var nextId = 0L
    val progress = mutable.ArrayBuffer.empty[String]
    def take(n: Int): Seq[Ev] = (0 until n).map { _ =>
      val e = pool((nextId % pool.length).toInt)
      val r = e.copy(event_id = nextId)
      nextId += 1
      r
    }
    var sinkDir, ckptDir: String = null
    var query: org.apache.spark.sql.streaming.StreamingQuery = null
    val spark = setUp { s =>
      import s.implicits._
      if (pool == null) {
        pool = new Random(seed).shuffle(Tables.events(s, data)
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
          .as[Ev].collect().toSeq).toArray
      }
      nextId = 0L
      progress.clear()
      s.streams.addListener(new StreamingQueryListener {
        def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          if (p.numInputRows > 0) {
            val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
            val src = p.sources.head
            val dur = p.durationMs
            import scala.jdk.CollectionConverters._
            progress.synchronized {
              progress += obj("batch" -> num(p.batchId), "start" -> num(start),
                "start_offset" -> str(String.valueOf(src.startOffset)),
                "end_offset" -> str(String.valueOf(src.endOffset)),
                "durations" -> obj(dur.asScala.toSeq.map { case (k, v) => k -> num(v.longValue) }: _*))
              progress.notifyAll()
            }
          }
        }
      })
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      mem = MemoryStream[Ev](cpus)
      sinkDir = new File(work, s"sink-$rep").getPath
      ckptDir = new File(work, s"ckpt-$rep").getPath
      query = StreamPipeline.exactlyOnceSink(
        StreamPipeline.routedResponses(mem.toDF()), sinkDir, ckptDir).start()
      mem.addData(take(200))
      query.processAllAvailable()
    }
    val (cg0, cc0) = (codegenNs, compiles)
    val ticks = mutable.ArrayBuffer.empty[String]
    var lastOffset = ""
    // the first four seconds of replay settle the JIT and the batch
    // cadence and are left out of the ticks the latency is taken from
    val nWarm = (4000 / tickMs).toInt
    val nTicks = (seconds * 1000 / tickMs).toInt
    @volatile var t0 = 0.0
    val gen = new Thread(() => {
      val start = nowMs + 50
      for (k <- 0 until nWarm + nTicks) {
        val due = start + k * tickMs
        val wait = due - nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val sent = nowMs
        val off = mem.addData(take(perTick))
        lastOffset = off.json
        if (k == nWarm) t0 = due
        if (k >= nWarm) ticks += obj("offset" -> str(off.json), "due" -> num(due),
          "sent" -> num(sent), "n" -> num(perTick.toLong))
      }
    }, "graftbench-generator")
    gen.start()
    gen.join()
    query.processAllAvailable()
    val deadline = System.currentTimeMillis() + 30000
    progress.synchronized {
      while (!progress.exists(_.contains(s""""end_offset":"$lastOffset"""")) &&
             System.currentTimeMillis() < deadline)
        progress.wait(100)
    }
    val end = nowMs
    query.stop()
    val (cg1, cc1) = (codegenNs, compiles)
    if (traced && !tracer.drain(None)) fields += "drain_timeout" -> "true"
    fields += "window" -> obj("start" -> num(t0), "end" -> num(end),
      "codegen_ns" -> num(cg1 - cg0), "compiles" -> num(cc1 - cc0))
    fields += "ticks" -> arr(ticks)
    fields += "batches" -> arr(progress.synchronized(progress.toList))
    fields += "sink" -> str(sinkDir)
    fields += "sent" -> num(nextId)
    spark.stop()
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  def run(): Unit = {
    workload match {
      case "suite" => runSuite()
      case "corpus" => runCorpus()
      case "stream" => runStream()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    fields += "setup_s" -> arr(setupSec.map(num))
    fields += "peak_rss_mb" -> num(peakRssMb())
    if (tracer != null) tracer.synchronized {
      val t = tracer
      fields += "callback_ns" -> num(t.callbackNs)
      fields += "jobs" -> arr(t.jobs.values.map(j => obj("id" -> num(j.id.toLong),
        "op" -> num(j.op.toLong), "batch" -> num(j.batch), "start" -> num(j.start),
        "end" -> num(j.end), "stages" -> arr(j.stages.map(s => num(s.toLong))),
        "site" -> str(j.site))))
      fields += "stages" -> arr(t.stages.values.map(s => obj("id" -> num(s.id.toLong),
        "job" -> num(s.job.toLong), "submit" -> num(s.submit), "complete" -> num(s.complete),
        "tasks" -> num(s.tasks), "run_ms" -> num(s.runMs), "cpu_ms" -> num(s.cpuMs),
        "gc_ms" -> num(s.gcMs), "launch_ms" -> num(s.launchMs),
        "fetch_wait_ms" -> num(s.fetchWaitMs), "write_task_ms" -> num(s.writeTaskMs),
        "shuffle_write" -> num(s.shWrite), "shuffle_read" -> num(s.shRead),
        "spill" -> num(s.spill), "in_bytes" -> num(s.inBytes), "out_bytes" -> num(s.outBytes))))
      fields += "qes" -> arr(t.qes.map(q => obj("op" -> num(q.op.toLong),
        "func" -> str(q.func),
        "phases" -> obj(q.phases.toSeq.map { case (k, (s, e)) =>
          k -> arr(Seq(num(s), num(e))) }: _*),
        "nodes" -> arr(q.nodes.map(str)), "output" -> arr(q.output.map(str)),
        "topk" -> (if (q.topk) "true" else "false"))))
    }
    Files.writeString(Paths.get(a("out")), obj(fields.toSeq: _*))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
