package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamPipeline

/** Structured-Streaming wiring: the batch routing graph applied to a
  * stream (MemoryStream stands in for Kafka — the plan is identical;
  * reference: infrastructure/stream_inference.py + its E2E harness
  * test_stream_interfaces.py payload classes).
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}
  import spark.implicits._

  private def eventRows = Seq(
    // (event_id, ts, user_id, event_type, value, props)
    (1L, Timestamp.valueOf("2026-01-01 10:00:00"), 7L, "click", 10.0, """{"k": 4}"""),
    (2L, Timestamp.valueOf("2026-01-01 10:30:00"), 7L, "view", 20.0, """{"k": 7}"""),
    (10L, Timestamp.valueOf("2026-01-01 11:00:00"), 8L, "click", 30.0, """{"k": 1}"""), // %10==0 → corrupt
    (13L, Timestamp.valueOf("2026-01-01 11:10:00"), 8L, "view", 40.0, """{"k": 9}""")
  )

  test("routing graph produces identical results in batch and streaming (T1/T2/U2)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Option[Double], String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // every validity check gets a failing row: the %10 corruption
    // (event 10, from eventRows), a null value, a payload with no k,
    // and a k that is not an integer
    val t = Timestamp.valueOf("2026-01-01 11:20:00")
    val rows = eventRows.map { case (id, ts, u, et, v, p) => (id, ts, u, et, Option(v), p) } ++ Seq(
      (21L, t, 9L, "click", None, """{"k": 5}"""),
      (22L, t, 9L, "view", Some(1.0), """{"j": 5}"""),
      (23L, t, 9L, "view", Some(2.0), """{"k": "five"}"""))

    val query = StreamPipeline.appendSink(
        StreamPipeline.routedResponses(stream),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString,
        queryName = "routed_mem").start()
    try {
      mem.addData(rows: _*)
      query.processAllAvailable()
      val streamed = spark.table("routed_mem").orderBy("event_id").collect()

      val batch = graft.operators.JsonRouting.responseEnvelope(
        rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
        .orderBy("event_id").collect()

      assert(streamed.length == batch.length)
      streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
      // exactly the rows failing a check took the sentinel path
      val bad = streamed.filter(_.getString(1) == "error")
      assert(bad.map(_.getLong(0)).toSet == Set(10L, 21L, 22L, 23L))
      bad.foreach(r => assert(r.getString(2).contains(
        "\"result\":{\"k\":-1,\"prediction\":-1}"), r.getString(2)))
      assert(streamed.find(_.getLong(0) == 2L).get.getString(2) ==
        """{"event_id":2,"status":"success","result":{"k":7,"prediction":1}}""")
    } finally query.stop()
  }

  test("routing graph runs in one pass: no Union, one JSON parse, one file per partition per epoch") {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    implicit val sqlCtx = spark.sqlContext
    object Plans extends AdaptiveSparkPlanHelper
    def assertOnePass(plan: SparkPlan): Unit = {
      assert(Plans.collect(plan) { case u: UnionExec => u }.isEmpty, plan.toString)
      assert(Plans.flatMap(plan)(_.expressions.flatMap(
        _.collect { case j: JsonToStructs => j })).size == 1, plan.toString)
    }

    val events = graft.engine.Tables.events(spark, sfDir)
    val env = graft.operators.JsonRouting.responseEnvelope(events, ordered = false)
    env.collect()
    assertOnePass(env.queryExecution.executedPlan)

    val parts = 3
    val ids = 1L to 30L // round-robin over 3 partitions: each gets a %10 row
    val t = Timestamp.valueOf("2026-01-01 12:00:00")
    val batchRows = ids.map(id => (id, t, 1L, "click", 1.0, s"""{"k": $id}"""))

    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)](parts)
    val outDir = java.nio.file.Files.createTempDirectory("graft-1p-out").toString
    val query = StreamPipeline.exactlyOnceSink(
        StreamPipeline.routedResponses(
          mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")),
        outDir, java.nio.file.Files.createTempDirectory("graft-1p-ckpt").toString).start()
    try {
      mem.addData(batchRows: _*)
      query.processAllAvailable()
      assertOnePass(query.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan)
    } finally query.stop()
    val epoch0 = new java.io.File(outDir, "epoch=0")
    val partFiles = epoch0.list().filter(_.startsWith("part-"))
    assert(partFiles.length <= parts, partFiles.mkString(", "))
    val committed = spark.read.parquet(outDir)
    assert(committed.count() == ids.size)
    assert(committed.filter(col("status") === "error").count() == 3)
  }

  test("watermarked windowed aggregation emits finalized windows (stateful scale path)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val query = StreamPipeline.appendSink(
        StreamPipeline.windowedCounts(stream),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString,
        queryName = "windowed_mem").start()
    try {
      mem.addData(eventRows: _*)
      query.processAllAvailable()
      // advance event time far past the watermark so the 10:00 window finalizes
      mem.addData((99L, Timestamp.valueOf("2026-01-01 13:00:00"), 9L, "view", 1.0, """{"k": 2}"""))
      query.processAllAvailable()
      mem.addData((100L, Timestamp.valueOf("2026-01-01 14:00:00"), 9L, "view", 1.0, """{"k": 2}"""))
      query.processAllAvailable()

      val out = spark.table("windowed_mem").collect()
      val w10 = out.filter(_.getTimestamp(0) == Timestamp.valueOf("2026-01-01 10:00:00"))
      assert(w10.map(r => r.getString(1) -> r.getLong(2)).toMap ==
        Map("click" -> 1L, "view" -> 1L))
    } finally query.stop()
  }

  test("histogramCountsStream: finalized windows equal the batch histogram and percentiles") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val query = StreamPipeline.appendSink(
      StreamPipeline.histogramCountsStream(stream),
      format = "memory",
      checkpointDir = java.nio.file.Files.createTempDirectory("graft-hist").toString,
      queryName = "hist_mem").start()
    try {
      val h10 = Seq(
        (1L, Timestamp.valueOf("2026-01-01 10:00:05"), 1L, "view", 1.0, "{}"),
        (2L, Timestamp.valueOf("2026-01-01 10:10:00"), 1L, "view", 1.2, "{}"),
        (3L, Timestamp.valueOf("2026-01-01 10:20:00"), 2L, "view", 2.0, "{}"),
        (4L, Timestamp.valueOf("2026-01-01 10:30:00"), 2L, "view", 9.9, "{}"))
      mem.addData(h10: _*)
      query.processAllAvailable()
      // advance event time far past the watermark → the 10:00 hour closes
      mem.addData((9L, Timestamp.valueOf("2026-01-01 13:00:00"), 9L, "view", 1.0, "{}"))
      query.processAllAvailable()
      val streamed = spark.table("hist_mem")
        .filter(col("bar_ts") === Timestamp.valueOf("2026-01-01 10:00:00"))
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(streamed == Map(2L -> 2L, 4L -> 1L, 19L -> 1L))
      // the same finalization the batch operator runs, applied to the
      // emitted histogram, reproduces the batch percentiles exactly
      val batch = graft.operators.EventAnalytics.histogramPercentilesHourly(
          h10.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
        .collect().head
      val bins = streamed.toSeq.sorted
      val n = bins.map(_._2).sum
      def pLo(p: Double) = bins.scanLeft((0L, 0L)) { case ((_, cum), (b, c)) => (b, cum + c) }
        .tail.find { case (_, cum) => cum * 100 >= math.ceil(n * p * 100) }.get._1 * 0.5
      assert(batch.getLong(1) == n && batch.getDouble(2) == pLo(0.5) &&
        batch.getDouble(3) == pLo(0.9) && batch.getDouble(4) == pLo(0.99))
    } finally query.stop()
  }

  test("seasonalAnomalyStream: finalized windows alert iff batch q165 would") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    // the q165 fixture: view @ hod 10 counts 1,1,10 (ratio 2.5 on day
    // 3); buy @ hod 11 counts 2,2,8 (exactly 2.0 — the >= boundary)
    def burst(day: Int, hourOfDay: Int, tpe: String, n: Int, base: Long) =
      (0 until n).map(i => (base + i,
        ts(f"2026-01-$day%02d $hourOfDay%02d:${10 + i}%02d:00"), 1L, tpe, 1.0, "{}"))
    val events =
      burst(1, 10, "view", 1, 100) ++ burst(2, 10, "view", 1, 200) ++
        burst(3, 10, "view", 10, 300) ++
        burst(1, 11, "buy", 2, 400) ++ burst(2, 11, "buy", 2, 500) ++
        burst(3, 11, "buy", 8, 600)
    val batchDf = events
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val profile = graft.operators.EventAnalytics.seasonalProfile(batchDf)

    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val query = StreamPipeline.appendSink(
      StreamPipeline.seasonalAnomalyStream(stream, profile),
      format = "memory",
      checkpointDir = java.nio.file.Files.createTempDirectory("graft-season").toString,
      queryName = "season_mem").start()
    try {
      mem.addData(events: _*)
      query.processAllAvailable()
      // advance the watermark so every real window finalizes; the
      // sentinel's type has no profile row → the static join drops it
      mem.addData((999L, ts("2026-01-05 00:00:00"), 9L, "zz", 1.0, "{}"))
      query.processAllAvailable()
      val streamed = spark.table("season_mem").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toSet
      val batch = graft.operators.EventAnalytics.seasonalAnomalies(batchDf)
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toSet
      assert(streamed == batch && batch.size == 2,
        s"stream alerts $streamed must equal batch flags $batch")
    } finally query.stop()
  }

  test("streaming dedup drops repeated keys within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val query = StreamPipeline.appendSink(
      StreamPipeline.dedupOnIngest(stream, Seq("event_id")),
      format = "memory",
      checkpointDir = java.nio.file.Files.createTempDirectory("graft-dedup").toString,
      queryName = "dedup_mem").start()
    try {
      val t = Timestamp.valueOf("2026-01-01 10:00:00")
      mem.addData((1L, t, 7L, "click", 1.0, "{}"), (2L, t, 7L, "view", 2.0, "{}"))
      query.processAllAvailable()
      // same keys re-delivered in a later batch (at-least-once source)
      mem.addData((1L, t, 7L, "click", 1.0, "{}"), (3L, t, 8L, "view", 3.0, "{}"))
      query.processAllAvailable()
      val ids = spark.table("dedup_mem").select("event_id").collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(Array(1L, 2L, 3L))) // duplicate 1L dropped across batches
    } finally query.stop()
  }

  test("native session_window on a stream finalizes sessions past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val query = StreamPipeline.appendSink(
      StreamPipeline.sessionWindowCounts(stream),
      format = "memory",
      checkpointDir = java.nio.file.Files.createTempDirectory("graft-sw").toString,
      queryName = "sw_mem").start()
    try {
      mem.addData(
        (1L, Timestamp.valueOf("2026-01-01 10:00:00"), 7L, "click", 1.0, "{}"),
        (2L, Timestamp.valueOf("2026-01-01 10:05:00"), 7L, "view", 1.0, "{}"))
      query.processAllAvailable()
      // event time far past session end + watermark ⇒ session finalizes
      mem.addData((3L, Timestamp.valueOf("2026-01-01 13:00:00"), 8L, "view", 1.0, "{}"))
      query.processAllAvailable()
      mem.addData((4L, Timestamp.valueOf("2026-01-01 15:00:00"), 8L, "view", 1.0, "{}"))
      query.processAllAvailable()
      val out = spark.table("sw_mem").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      assert(out.contains((7L,
        Timestamp.valueOf("2026-01-01 10:00:00"),
        Timestamp.valueOf("2026-01-01 10:35:00"), 2L)), out.toSeq.toString)
    } finally query.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions on gaps, matches the batch rule") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val query = StreamPipeline.appendSink(
      StreamPipeline.sessionizeStream(stream).toDF(),
      format = "memory",
      checkpointDir = java.nio.file.Files.createTempDirectory("graft-sess").toString,
      queryName = "sess_mem").start()
    try {
      // session 1 for user 7: two events 5 min apart
      mem.addData(
        (1L, Timestamp.valueOf("2026-01-01 10:00:00"), 7L, "click", 1.0, "{}"),
        (2L, Timestamp.valueOf("2026-01-01 10:05:00"), 7L, "view", 1.0, "{}"))
      query.processAllAvailable()
      assert(spark.table("sess_mem").isEmpty, "open session must not emit")
      // >30 min gap closes it; state carries ACROSS micro-batches
      mem.addData((3L, Timestamp.valueOf("2026-01-01 11:00:00"), 7L, "click", 1.0, "{}"))
      query.processAllAvailable()
      val closed = spark.table("sess_mem").collect()
      assert(closed.length == 1)
      val s = closed.head
      assert(s.getLong(0) == 7L)
      assert(s.getTimestamp(1) == Timestamp.valueOf("2026-01-01 10:00:00"))
      assert(s.getTimestamp(2) == Timestamp.valueOf("2026-01-01 10:05:00"))
      assert(s.getLong(3) == 2L)
      // a second gap emits the second session; a fresh one stays open
      mem.addData(
        (4L, Timestamp.valueOf("2026-01-01 12:00:00"), 7L, "view", 1.0, "{}"),
        (5L, Timestamp.valueOf("2026-01-01 12:01:00"), 7L, "view", 1.0, "{}"))
      query.processAllAvailable()
      val all = spark.table("sess_mem").orderBy("session_start").collect()
      assert(all.length == 2)
      assert(all(1).getTimestamp(1) == Timestamp.valueOf("2026-01-01 11:00:00"))
      assert(all(1).getLong(3) == 1L)
    } finally query.stop()
  }

  test("hllRegistersStream: finalized registers equal the batch sketch; estimates too") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val query = StreamPipeline.appendSink(
      StreamPipeline.hllRegistersStream(stream),
      format = "memory",
      checkpointDir = java.nio.file.Files.createTempDirectory("graft-hll").toString,
      queryName = "hll_mem").start()
    try {
      // 40 users across two micro-batches inside hour 10, out of order
      mem.addData((1 to 25).map(i =>
        (i.toLong, Timestamp.valueOf(f"2026-01-01 10:${i % 60}%02d:00"), i.toLong, "view", 1.0, "{}")): _*)
      query.processAllAvailable()
      mem.addData((26 to 40).map(i =>
        (i.toLong, Timestamp.valueOf(f"2026-01-01 10:${i % 60}%02d:30"), i.toLong, "view", 1.0, "{}")): _*)
      query.processAllAvailable()
      // event far past hour 10 + watermark finalizes the window
      mem.addData((99L, Timestamp.valueOf("2026-01-01 14:00:00"), 99L, "view", 1.0, "{}"))
      query.processAllAvailable()
      val streamed = spark.table("hll_mem")
        .filter(col("hour_start") === Timestamp.valueOf("2026-01-01 10:00:00"))
      val batch = spark.range(1, 41)
        .select(lit(1).as("g"), graft.operators.Sketches.hllReg(col("id")), graft.operators.Sketches.hllRho(col("id")))
        .groupBy("g", "reg").agg(max(col("rho")).as("mj"))
      val s = streamed.select("reg", "mj").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted
      val b = batch.select("reg", "mj").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted
      assert(s.nonEmpty && s.toSeq == b.toSeq)
      // and the shared finisher yields the identical estimate
      val es = graft.operators.Sketches.hllEstimate(streamed.withColumn("g", lit(1)), Seq("g"))
        .select("estimate").head().getDouble(0)
      val eb = graft.operators.Sketches.hllEstimate(batch, Seq("g"))
        .select("estimate").head().getDouble(0)
      assert(es == eb)
    } finally query.stop()
  }

  test("hllSlidingEstimates over streamed registers equals the batch sliding distinct (q203 live)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val query = StreamPipeline.appendSink(
      StreamPipeline.hllRegistersStream(stream),
      format = "memory",
      checkpointDir = java.nio.file.Files.createTempDirectory("graft-hllslide").toString,
      queryName = "hllslide_mem").start()
    // hour 10: users 1–20; hour 12: users 15–30 (overlap); the
    // trailing-24h window at hour 12 must union both register sets
    val events =
      (1 to 20).map(i => (i.toLong,
        Timestamp.valueOf(f"2026-01-01 10:${i % 60}%02d:00"), i.toLong, "view", 1.0, "{}")) ++
      (15 to 30).map(i => (100 + i.toLong,
        Timestamp.valueOf(f"2026-01-01 12:${i % 60}%02d:00"), i.toLong, "view", 1.0, "{}"))
    try {
      mem.addData(events: _*)
      query.processAllAvailable()
      mem.addData((999L, Timestamp.valueOf("2026-01-02 00:00:00"), 999L, "view", 1.0, "{}"))
      query.processAllAvailable() // watermark closes both real windows
      val streamedRegs = spark.table("hllslide_mem")
        .filter(col("hour_start") < Timestamp.valueOf("2026-01-01 23:00:00"))
        .select((unix_timestamp(col("hour_start")) / 3600L).cast("bigint").as("h"),
          col("reg"), col("mj"))
      val live = graft.operators.Sketches.hllSlidingEstimates(streamedRegs)
      val batch = graft.operators.Sketches.hllSlidingDistinct(
          events.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
        .select("h", "n_present", "n_zero", "method", "estimate")
      assert(live.count() == 2)
      assert(live.exceptAll(batch).isEmpty && batch.exceptAll(live).isEmpty,
        "streamed registers through the shared finisher must equal the batch operator")
    } finally query.stop()
  }

  test("sessionPathsStream emits capped journeys on gap close — the q180 rule, live") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val query = StreamPipeline.appendSink(
      StreamPipeline.sessionPathsStream(stream).toDF(),
      format = "memory",
      checkpointDir = java.nio.file.Files.createTempDirectory("graft-paths").toString,
      queryName = "paths_mem").start()
    try {
      // same-second events order by event_id (the batch tie contract),
      // delivered out of id order within the batch
      mem.addData(
        (2L, Timestamp.valueOf("2026-01-01 10:00:00"), 7L, "view", 1.0, "{}"),
        (1L, Timestamp.valueOf("2026-01-01 10:00:00"), 7L, "click", 1.0, "{}"))
      query.processAllAvailable()
      assert(spark.table("paths_mem").isEmpty, "open session must not emit")
      // gap closes across micro-batches
      mem.addData((3L, Timestamp.valueOf("2026-01-01 11:00:00"), 7L, "purchase", 1.0, "{}"))
      query.processAllAvailable()
      val first = spark.table("paths_mem").collect()
      assert(first.length == 1)
      assert(first.head.getLong(0) == 7L)
      assert(first.head.getString(1) == "click>view")
      assert(first.head.getLong(2) == 2L)
      // 10-event session: the stored journey caps at 8, the count doesn't
      mem.addData((10 to 19).map(i =>
        (100L + i, Timestamp.valueOf(f"2026-01-01 12:00:$i%02d"), 8L, "view", 1.0, "{}")): _*)
      query.processAllAvailable()
      mem.addData((200L, Timestamp.valueOf("2026-01-01 15:00:00"), 8L, "click", 1.0, "{}"))
      query.processAllAvailable()
      val capped = spark.table("paths_mem").collect().filter(_.getLong(0) == 8L)
      assert(capped.length == 1)
      assert(capped.head.getString(1) == Array.fill(8)("view").mkString(">"))
      assert(capped.head.getLong(2) == 10L)
    } finally query.stop()
  }

  test("content dedup on ingest drops case/whitespace-variant duplicates by fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    val docsMem = MemoryStream[(Long, Timestamp, String)]
    val stream = docsMem.toDF().toDF("doc_id", "ts", "text")
    val query = StreamPipeline.appendSink(
      StreamPipeline.dedupContentOnIngest(stream).select("doc_id"),
      format = "memory",
      checkpointDir = java.nio.file.Files.createTempDirectory("graft-cdedup").toString,
      queryName = "cdedup_mem").start()
    try {
      val t = Timestamp.valueOf("2026-01-01 10:00:00")
      docsMem.addData(
        (1L, t, "Hello World"),
        (2L, t, "hello   world"), // same fingerprint as 1 → dropped
        (3L, t, "something else"))
      query.processAllAvailable()
      val kept = spark.table("cdedup_mem").collect().map(_.getLong(0)).toSet
      assert(kept.size == 2 && kept(3L), s"got $kept")
      assert(kept(1L) ^ kept(2L), "exactly one of the variant pair survives")
    } finally query.stop()
  }

  test("stream-stream interval join matches its batch twin and bounds state by watermark") {
    implicit val sqlCtx = spark.sqlContext
    val clicksMem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val purchasesMem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val clickStream = clicksMem.toDF().toDF(cols: _*)
    val purchaseStream = purchasesMem.toDF().toDF(cols: _*)

    // user 7: click 10:00 attributes to purchases 10:30 (in window) but
    // not 12:00 (> 1h later); user 8's purchase has no click; user 7's
    // second click 11:55 attributes to the 12:00 purchase
    val clicks = Seq(
      (1L, Timestamp.valueOf("2026-01-01 10:00:00"), 7L),
      (2L, Timestamp.valueOf("2026-01-01 11:55:00"), 7L))
    val purchases = Seq(
      (100L, Timestamp.valueOf("2026-01-01 10:30:00"), 7L),
      (101L, Timestamp.valueOf("2026-01-01 12:00:00"), 7L),
      (102L, Timestamp.valueOf("2026-01-01 10:45:00"), 8L))
    def widen(rows: Seq[(Long, Timestamp, Long)]) =
      rows.map { case (id, t, u) => (id, t, u, "x", 0.0, "{}") }

    val query = StreamPipeline.appendSink(
      StreamPipeline.clickPurchaseJoin(clickStream, purchaseStream),
      format = "memory",
      checkpointDir = java.nio.file.Files.createTempDirectory("graft-ssj").toString,
      queryName = "ssj_mem").start()
    try {
      clicksMem.addData(widen(clicks): _*)
      purchasesMem.addData(widen(purchases): _*)
      query.processAllAvailable()
      val got = spark.table("ssj_mem").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      assert(got == Set((100L, 1L), (101L, 2L)),
        s"expected in-window attributions only, got $got")
      // batch twin on the same rows: identical pairs
      val clickDf = widen(clicks).toDF(cols: _*)
      val purchaseDf = widen(purchases).toDF(cols: _*)
      val batch = StreamPipeline.clickPurchaseJoin(clickDf, purchaseDf)
        .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
      assert(batch == got, "stream and batch must agree on the same input")
    } finally query.stop()
  }

  test("left-outer stream-stream join emits unmatched rows only after the watermark proves them") {
    implicit val sqlCtx = spark.sqlContext
    val clicksMem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val purchasesMem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    def widen(rows: (Long, String, Long)*) =
      rows.map { case (id, t, u) => (id, Timestamp.valueOf(t), u, "x", 0.0, "{}") }

    val query = StreamPipeline.appendSink(
      StreamPipeline.clickPurchaseJoin(
        clicksMem.toDF().toDF(cols: _*), purchasesMem.toDF().toDF(cols: _*),
        joinType = "left_outer"),
      format = "memory",
      checkpointDir = java.nio.file.Files.createTempDirectory("graft-ssj-lo").toString,
      queryName = "ssj_lo_mem").start()
    try {
      // user 7's purchase has a click; user 8's has none
      clicksMem.addData(widen((1L, "2026-01-01 10:00:00", 7L)): _*)
      purchasesMem.addData(widen(
        (100L, "2026-01-01 10:30:00", 7L), (102L, "2026-01-01 10:45:00", 8L)): _*)
      query.processAllAvailable()
      val early = spark.table("ssj_lo_mem").collect().map(_.getLong(0)).toSet
      assert(!early.contains(102L),
        "the unmatched purchase must NOT appear while a matching click could still arrive")
      // advance both watermarks past purchase_ts: 102's no-match is now provable
      clicksMem.addData(widen((9L, "2026-01-01 14:00:00", 99L)): _*)
      purchasesMem.addData(widen((900L, "2026-01-01 14:00:00", 99L)): _*)
      query.processAllAvailable()
      clicksMem.addData(widen((10L, "2026-01-01 15:00:00", 99L)): _*)
      purchasesMem.addData(widen((901L, "2026-01-01 15:00:00", 99L)): _*)
      query.processAllAvailable()
      val out = spark.table("ssj_lo_mem").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
      assert(out(100L).contains(1L))
      assert(out.contains(102L) && out(102L).isEmpty,
        s"expected null-joined purchase 102 after watermark passed, got $out")
    } finally query.stop()
  }

  test("stream-static join enriches each micro-batch from a broadcast dimension") {
    implicit val sqlCtx = spark.sqlContext
    val users = Seq((7L, "alpha"), (8L, "beta")).toDF("user_id", "segment")
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val query = StreamPipeline.appendSink(
      StreamPipeline.enrichWithStatic(stream, users, "user_id")
        .select("event_id", "user_id", "segment"),
      format = "memory",
      checkpointDir = java.nio.file.Files.createTempDirectory("graft-enrich").toString,
      queryName = "enrich_mem").start()
    try {
      val t = Timestamp.valueOf("2026-01-01 10:00:00")
      mem.addData((1L, t, 7L, "click", 1.0, "{}"), (2L, t, 9L, "view", 2.0, "{}"))
      query.processAllAvailable()
      val out = spark.table("enrich_mem").collect()
        .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
      assert(out(1L).contains("alpha"))
      assert(out(2L).isEmpty) // unmatched key survives the left join
    } finally query.stop()
  }

  test("piiScrub runs unchanged on a stream: scrub-on-ingest equals the batch scrub") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val rows = Seq(
      (1L, "mail jane@example.com or 10.0.0.1"),
      (2L, "call 555-0142 twice"),
      (3L, "nothing sensitive here"))
    val query = StreamPipeline.appendSink(
        graft.operators.TextAnalysis.piiScrub(stream, ordered = false),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-pii").toString,
        queryName = "pii_mem").start()
    try {
      mem.addData(rows: _*)
      query.processAllAvailable()
      val streamed = spark.table("pii_mem").orderBy("doc_id").collect()
      val batch = graft.operators.TextAnalysis.piiScrub(
        rows.toDF("doc_id", "text")).collect()
      assert(streamed.length == batch.length)
      streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
      assert(streamed(0).getString(1) == "mail <EMAIL> or <IP>")
    } finally query.stop()
  }

  test("gopherGate runs unchanged on a stream: gate-on-ingest equals the batch gate") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val rows = Seq(
      (1L, "the cat sat on a mat of warm red wool and the dog ran by"),
      (2L, "too short"),
      (3L, ("the quick brown fox " * 5).trim))
    val query = StreamPipeline.appendSink(
        graft.operators.TextAnalysis.gopherGate(stream, ordered = false),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-gate").toString,
        queryName = "gate_mem").start()
    try {
      mem.addData(rows: _*)
      query.processAllAvailable()
      val streamed = spark.table("gate_mem").orderBy("doc_id").collect()
      val batch = graft.operators.TextAnalysis.gopherGate(
        rows.toDF("doc_id", "text")).collect()
      assert(streamed.length == batch.length)
      streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
      assert(streamed(0).getBoolean(6) && !streamed(1).getBoolean(6))
    } finally query.stop()
  }

  test("cleanIngest composite: gate → dedup → scrub on a stream equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val stream = mem.toDF().toDF("doc_id", "ts", "text")
    val t = Timestamp.valueOf("2026-01-01 10:00:00")
    val rows = Seq(
      (1L, t, "the cat sat on a mat of warm red wool and the dog ran by"),
      // fingerprint-duplicate of 1 (case/whitespace variant) — exactly
      // one of the pair may survive
      (2L, t, "The cat  sat on a mat of warm red wool and the dog ran by"),
      (3L, t, "too short"), // gated out before dedup state
      (4L, t, "the server at 10.0.0.1 sent a note of mail to jane@example.com and the log kept all of it"))
    val query = StreamPipeline.appendSink(
        StreamPipeline.cleanIngest(stream),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-clean").toString,
        queryName = "clean_mem").start()
    try {
      mem.addData(rows: _*)
      query.processAllAvailable()
      val streamed = spark.table("clean_mem").collect()
        .map(r => r.getLong(0) -> r).toMap
      // batch twin: same stages, batch operators
      val batchDf = rows.toDF("doc_id", "ts", "text")
      val batch = graft.operators.TextAnalysis.piiScrub(
          graft.operators.TextAnalysis.gopherGateFilter(batchDf)
            .withColumn("fingerprint", graft.operators.TextAnalysis.fingerprintCol)
            .dropDuplicates("fingerprint"))
        .collect().map(r => r.getLong(0) -> r).toMap
      // both keep exactly one of the duplicate pair plus doc 4
      for (out <- Seq(streamed, batch)) {
        assert(out.size == 2, s"got ${out.keySet}")
        assert(out.contains(4L) && (out.contains(1L) ^ out.contains(2L)))
      }
      // the unambiguous row is identical field-for-field, scrub included
      assert(streamed(4L) == batch(4L))
      assert(streamed(4L).getString(1).contains("<IP>") &&
        streamed(4L).getString(1).contains("<EMAIL>"))
    } finally query.stop()
  }

  test("dailyCountsStream: finalized daily counts + shared finisher equal batch CUSUM") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val query = StreamPipeline.appendSink(
        StreamPipeline.dailyCountsStream(stream),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-cusum").toString,
        queryName = "cusum_mem").start()
    // a level shift for clicks at day 4 (2→20/day); views flat except a
    // missing day 3 (the zero-day the dense calendar must see)
    val rows = (1 to 5).flatMap { d =>
      val clicks = (1 to (if (d >= 4) 20 else 2)).map(i =>
        (d * 100L + i, Timestamp.valueOf(f"2026-01-0$d%d 10:${i % 60}%02d:00"),
          i.toLong, "click", 1.0, "{}"))
      val views = if (d == 3) Seq.empty else (1 to 5).map(i =>
        (d * 1000L + i, Timestamp.valueOf(f"2026-01-0$d%d 12:${i % 60}%02d:00"),
          i.toLong, "view", 1.0, "{}"))
      clicks ++ views
    }
    try {
      // out-of-order WITHIN each micro-batch, forward progress across
      // them (cross-batch disorder beyond the 2-day watermark would be
      // legitimately DROPPED as late data — not what this asserts);
      // day windows stay open across the batch boundary and merge
      val shuffled = new scala.util.Random(5).shuffle(rows)
      val (h1, h2) = shuffled.partition(_._2.getTime <
        Timestamp.valueOf("2026-01-04 00:00:00").getTime)
      mem.addData(h1: _*); query.processAllAvailable()
      mem.addData(h2: _*); query.processAllAvailable()
      // far-future sentinel pushes the watermark past day 5 + 2 days
      mem.addData((9999L, Timestamp.valueOf("2026-01-20 00:00:00"), 1L, "sentinel", 1.0, "{}"))
      query.processAllAvailable()
      val streamedDaily = spark.table("cusum_mem")
      val batchDf = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      // the daily frames agree row-for-row (the sentinel's window is
      // still open, so it is in neither side)
      val batchDaily = batchDf.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      assert(streamedDaily.exceptAll(batchDaily).isEmpty &&
        batchDaily.exceptAll(streamedDaily).isEmpty,
        "finalized streaming daily counts must equal the batch aggregate")
      // and the SHARED finisher turns them into the identical alert
      val live = graft.operators.EventAnalytics.cusumFromDaily(streamedDaily).collect()
      val batch = graft.operators.EventAnalytics.cusumChangepoint(batchDf).collect()
      assert(live.toSeq == batch.toSeq)
      // the click shift is where it was planted: last pre-shift day
      val clickRow = live.find(_.getString(0) == "click").get
      assert(clickRow.getDate(2).toString == "2026-01-03" &&
        clickRow.getString(4) == "below", clickRow.toString)
      // the watermark CONTRACT: an event older than watermark − delay
      // arrives after its window finalized and is dropped — the daily
      // frame must not change (at 100 TB this is the bounded-state
      // guarantee; the price is documented late-data loss)
      val before = spark.table("cusum_mem").count()
      mem.addData((8888L, Timestamp.valueOf("2026-01-02 09:00:00"), 1L, "click", 1.0, "{}"))
      query.processAllAvailable()
      assert(spark.table("cusum_mem").count() == before,
        "late data past the watermark must be dropped, not re-opened")
    } finally query.stop()
  }

  test("cmsCountersStream: finalized counters equal the batch sketch; windows merge by cell addition") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketches
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val query = StreamPipeline.appendSink(
        StreamPipeline.cmsCountersStream(stream),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-cms").toString,
        queryName = "cms_mem").start()
    // skewed keys across TWO hours (hour 10: user 1 hot; hour 11: user 2)
    val rows = (1 to 30).map(i =>
        (i.toLong, Timestamp.valueOf(f"2026-01-01 10:${i % 60}%02d:00"),
          (if (i <= 20) 1L else i.toLong), "click", 1.0, "{}")) ++
      (31 to 60).map(i =>
        (i.toLong, Timestamp.valueOf(f"2026-01-01 11:${i % 60}%02d:30"),
          (if (i <= 50) 2L else i.toLong), "view", 1.0, "{}"))
    try {
      val (h1, h2) = new scala.util.Random(3).shuffle(rows)
        .partition(_._2.getTime < Timestamp.valueOf("2026-01-01 11:00:00").getTime)
      mem.addData(h1: _*); query.processAllAvailable()
      mem.addData(h2: _*); query.processAllAvailable()
      mem.addData((999L, Timestamp.valueOf("2026-01-01 15:00:00"), 9L, "x", 1.0, "{}"))
      query.processAllAvailable()
      val streamed = spark.table("cms_mem")
      // per-hour finalized counters equal the batch aggregate on that hour
      for (h <- Seq(10, 11)) {
        val hourRows = rows.filter(_._2.getTime <
            Timestamp.valueOf(f"2026-01-01 ${h + 1}%02d:00:00").getTime)
          .filter(_._2.getTime >= Timestamp.valueOf(f"2026-01-01 $h%02d:00:00").getTime)
        val batch = hourRows.map(_._3).toDF("user_id")
          .select(posexplode(Sketches.cmBucketArray(
            col("user_id").cast("string"), 4, 64)).as(Seq("depth", "bucket")))
          .groupBy("depth", "bucket").agg(count(lit(1)).as("c"))
        val s = streamed
          .filter(col("hour_start") === Timestamp.valueOf(f"2026-01-01 $h%02d:00:00"))
          .select("depth", "bucket", "c")
        assert(s.exceptAll(batch).isEmpty && batch.exceptAll(s).isEmpty,
          s"hour $h counters diverge")
      }
      // MERGE: cell-wise sum of the two hourly sketches == the batch
      // sketch over both hours, and the shared finisher's estimates
      // over the merged cells match the batch heavy-hitter report
      val merged = streamed.groupBy("depth", "bucket").agg(sum("c").as("c"))
      val keys = rows.map(_._3).toDF("user_id")
        .select(col("user_id").cast("string").as("k"))
      val liveEst = Sketches.cmsEstimates(merged, keys.distinct())
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batchAll = keys
        .select(posexplode(Sketches.cmBucketArray(col("k"), 4, 64)).as(Seq("depth", "bucket")))
        .groupBy("depth", "bucket").agg(count(lit(1)).as("c"))
      val batchEst = Sketches.cmsEstimates(batchAll, keys.distinct())
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(liveEst == batchEst, "merged live estimates must equal batch")
      // CMS can only overestimate: the hot keys' estimates floor at truth
      assert(liveEst("1") >= 20L && liveEst("2") >= 20L)
    } finally query.stop()
  }

  test("winnowMatchesStream: matches emit on arrival; aggregated they equal batch winnowedPairs") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val query = StreamPipeline.appendSink(
        StreamPipeline.winnowMatchesStream(stream,
          maxPosting = Int.MaxValue).toDF(),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-winnow").toString,
        queryName = "winnow_mem").start()
    val span = (0 until 10).map(i => s"s_$i").mkString(" ")
    val docs = Seq(
      1L -> s"$span tail_a tail_b tail_c",
      2L -> s"head_x head_y $span",                  // shares the span with 1
      3L -> (0 until 14).map(i => s"u_$i").mkString(" "), // unrelated
      4L -> s"$span tail_a tail_b tail_c")           // exact dup of 1
    try {
      mem.addData(docs.take(2): _*)
      query.processAllAvailable()
      val afterTwo = spark.table("winnow_mem").count()
      assert(afterTwo > 0, "cross-document matches must emit on arrival, no window close")
      mem.addData(docs.drop(2): _*)
      query.processAllAvailable()
      // re-delivery of an already-seen (doc, fp) emits nothing new
      val beforeRedeliver = spark.table("winnow_mem").count()
      mem.addData(docs.head)
      query.processAllAvailable()
      assert(spark.table("winnow_mem").count() == beforeRedeliver, "re-delivery must be idempotent")
      // the batch finisher over the match stream equals the batch
      // operator (countDistinct: the contract finisher — each
      // (fp,a,b) is unique in batch so distinct ≡ count there, and
      // it absorbs capped-holder re-emission here)
      val minShared = 2
      val streamedPairs = spark.table("winnow_mem")
        .groupBy(col("doc_a"), col("doc_b")).agg(countDistinct(col("fp")).as("n_shared"))
        .filter(col("n_shared") >= minShared)
      val batchPairs = graft.operators.Dedup.winnowedPairs(
        docs.toDF("doc_id", "text"), minShared = minShared)
      assert(streamedPairs.exceptAll(batchPairs).isEmpty &&
        batchPairs.exceptAll(streamedPairs).isEmpty,
        "stream-then-aggregate must equal the batch pair report")
      // the planted relations are all present
      val got = streamedPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got((1L, 2L)) && got((1L, 4L)) && got((2L, 4L)) &&
        !got.exists(p => p._1 == 3L || p._2 == 3L), got.toString)
    } finally query.stop()
  }

  test("winnowMatchesStream: capped-out re-delivery re-emits rows, never new pairs; distinct finisher absorbs it") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    // maxPosting=1: the second holder of every fingerprint is capped
    // out of state, so its re-delivery is the at-least-once worst case
    val query = StreamPipeline.appendSink(
        StreamPipeline.winnowMatchesStream(stream, maxPosting = 1).toDF(),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-winnowcap").toString,
        queryName = "winnowcap_mem").start()
    val span = (0 until 10).map(i => s"s_$i").mkString(" ")
    try {
      mem.addData(1L -> span)
      query.processAllAvailable()
      mem.addData(2L -> span) // matches doc 1, then capped out of state
      query.processAllAvailable()
      val raw = spark.table("winnowcap_mem")
      val rowsBefore = raw.count()
      assert(rowsBefore > 0, "doc 2 must match doc 1 before capping")
      def pairReport() = raw
        .groupBy(col("doc_a"), col("doc_b")).agg(countDistinct(col("fp")).as("n_shared"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val reportBefore = pairReport()
      mem.addData(2L -> span) // re-delivery of the capped-out holder
      query.processAllAvailable()
      val rowsAfter = spark.table("winnowcap_mem").count()
      assert(rowsAfter > rowsBefore,
        "capped-out re-delivery re-emits rows (the documented trade)")
      assert(pairReport() == reportBefore,
        "the distinct-count finisher must absorb re-emission: same pairs, same n_shared")
      // and only the (1,2) pair ever exists — duplicates never invent pairs
      assert(pairReport().map(t => (t._1, t._2)) == Set((1L, 2L)))
    } finally query.stop()
  }

  test("semanticDedupStream: in-order delivery equals the batch prefix dedup row for row") {
    implicit val sqlCtx = spark.sqlContext
    val embFull = graft.engine.Tables.embeddings(spark, sfDir).filter(col("vec_id") < 300)
    val rows = embFull
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val mem = MemoryStream[(Long, Seq[Double])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val query = StreamPipeline.appendSink(
        StreamPipeline.semanticDedupStream(stream,
          maxPerBucket = Int.MaxValue).toDF(),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-semdedup").toString,
        queryName = "semdedup_mem").start()
    try {
      // three in-order chunks — the arrival-order contract
      rows.grouped(100).foreach { chunk =>
        mem.addData(chunk: _*); query.processAllAvailable()
      }
      val live = spark.table("semdedup_mem")
        .select("vec_id", "is_dup", "dup_of", "n_prior")
      val batch = graft.operators.Dedup.semanticDedupPrefix(embFull)
      assert(live.count() == batch.count())
      assert(live.exceptAll(batch).isEmpty && batch.exceptAll(live).isEmpty,
        "stream verdicts must equal the batch prefix-dedup frame")
    } finally query.stop()
  }

  test("decontamScoreStream: shuffled micro-batches equal the batch queue scores bit for bit") {
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.engine.Tables.embeddings(spark, sfDir)
    val panel = StreamPipeline.evalPanel(emb.filter(col("vec_id") % 23 === 0))
    val rows = emb.filter(col("vec_id") % 23 =!= 0)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    // arrival order must not matter: the scorer is stateless
    val shuffled = new scala.util.Random(7).shuffle(rows.toSeq)
    val mem = MemoryStream[(Long, Seq[Double])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val query = StreamPipeline.appendSink(
        StreamPipeline.decontamScoreStream(stream, panel).toDF(),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-dcscore").toString,
        queryName = "dcscore_mem").start()
    try {
      shuffled.grouped(150).foreach { chunk =>
        mem.addData(chunk: _*); query.processAllAvailable()
      }
      val live = spark.table("dcscore_mem").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // the batch queue uncut: same per-doc (max c6, argmax eval_id);
      // c6 round-trips exactly through the /1e6 display division
      val batch = graft.operators.Similarity
        .decontamQueue(emb, topN = Int.MaxValue).collect()
        .map(r => (r.getLong(1), math.round(r.getDouble(4) * 1e6), r.getLong(3)))
        .toSet
      assert(live.size == rows.length, s"${live.size} != ${rows.length}")
      assert(live == batch, "stream scores must equal the batch queue rows bit for bit")
    } finally query.stop()
  }

  test("contamScoreStream: shuffled micro-batches equal the batch decontamination rows bit for bit") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.engine.Tables.documents(spark, sfDir)
    // the q58 convention: eval = doc_id % 10 == 0, corpus = the rest
    val vocab = StreamPipeline.evalNgramVocab(
      docs.filter(col("doc_id") % 10 === 0))
    val rows = docs.filter(col("doc_id") % 10 =!= 0)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // plus a doc too short to shingle — it must emit nothing, like batch
    val shuffled = new scala.util.Random(11)
      .shuffle((rows :+ ((999999L, "one two"))).toSeq)
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val query = StreamPipeline.appendSink(
        StreamPipeline.contamScoreStream(stream, vocab).toDF(),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-ctscore").toString,
        queryName = "ctscore_mem").start()
    try {
      shuffled.grouped(120).foreach { chunk =>
        mem.addData(chunk: _*); query.processAllAvailable()
      }
      val live = spark.table("ctscore_mem").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = graft.operators.TrainingData.evalDecontaminate(docs)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(!live.exists(_._1 == 999999L),
        "a too-short doc must be absent, the batch contract")
      assert(live == batch,
        "stream contamination rows must equal the batch frame bit for bit")
    } finally query.stop()
  }

  test("duplicateFlagStream: flags match the batch audit; state survives the batch boundary") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val query = StreamPipeline.appendSink(
        StreamPipeline.duplicateFlagStream(stream).toDF(),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-dupflag").toString,
        queryName = "dupflag_mem").start()
    val chunk1 = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 10:00:30"), 1L, "click", 1.0, "{}"), // dup
      (3L, Timestamp.valueOf("2024-01-01 10:00:40"), 2L, "click", 1.0, "{}")) // other user
    val chunk2 = Seq(
      // 50 s after event 2 — a dup ONLY if state crossed the batch boundary
      (4L, Timestamp.valueOf("2024-01-01 10:01:20"), 1L, "click", 1.0, "{}"),
      (5L, Timestamp.valueOf("2024-01-01 10:30:00"), 1L, "click", 1.0, "{}")) // clean
    try {
      mem.addData(chunk1: _*); query.processAllAvailable()
      mem.addData(chunk2: _*); query.processAllAvailable()
      val flags = spark.table("dupflag_mem").collect()
        .map(r => r.getLong(2) -> r.getInt(4)).toMap
      assert(flags == Map(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 1, 5L -> 0), flags.toString)
      // the batch tail over the flag stream equals the batch audit
      val streamedRates = spark.table("dupflag_mem")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("is_dup").cast("bigint").as("n_dups"))
      val batch = graft.operators.EventAnalytics.duplicateEventAudit(
          (chunk1 ++ chunk2).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
        .select("event_type", "n_events", "n_dups")
      assert(streamedRates.exceptAll(batch).isEmpty && batch.exceptAll(streamedRates).isEmpty)
    } finally query.stop()
  }

  test("semanticDedupStream: a capped bucket keeps judging against the retained prefix") {
    implicit val sqlCtx = spark.sqlContext
    val v = Seq(1.0, 0.5, 0.25, 0.125) // identical vectors -> cos 1.0, same bucket
    val mem = MemoryStream[(Long, Seq[Double])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val query = StreamPipeline.appendSink(
        StreamPipeline.semanticDedupStream(stream, maxPerBucket = 1).toDF(),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-semdedupcap").toString,
        queryName = "semdedupcap_mem").start()
    try {
      mem.addData(1L -> v); query.processAllAvailable()
      mem.addData(2L -> v); query.processAllAvailable()
      mem.addData(3L -> v); query.processAllAvailable()
      def verdicts() = spark.table("semdedupcap_mem")
        .select("vec_id", "is_dup", "dup_of", "n_prior").collect()
        .map(r => (r.getLong(0), r.getInt(1), if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3)))
      val before = verdicts().toSet
      // id 1 retained and clean; ids 2 and 3 both judged against the
      // retained prefix [1] only (the cap): n_prior 1, not 2
      assert(before == Set((1L, 0, -1L, 0L), (2L, 1, 1L, 1L), (3L, 1, 1L, 1L)), before.toString)
      // a capped-out id's re-delivery re-emits the identical verdict:
      // rows grow, the per-vec_id verdict set does not change
      mem.addData(2L -> v); query.processAllAvailable()
      assert(verdicts().length == 4 && verdicts().toSet == before)
    } finally query.stop()
  }

  test("semanticDedupStream: same-batch re-delivery of one vec_id judges and appends once") {
    implicit val sqlCtx = spark.sqlContext
    val v = Seq(1.0, 0.5, 0.25, 0.125)
    val mem = MemoryStream[(Long, Seq[Double])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val query = StreamPipeline.appendSink(
        StreamPipeline.semanticDedupStream(stream,
          maxPerBucket = Int.MaxValue).toDF(),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-semdedup-dup").toString,
        queryName = "semdedupdup_mem").start()
    try {
      // id 1 delivered TWICE inside one micro-batch: the second copy
      // must neither be judged against its own vector (a wrong
      // self-duplicate verdict) nor appended to state a second time
      mem.addData(1L -> v, 1L -> v); query.processAllAvailable()
      mem.addData(2L -> v); query.processAllAvailable()
      val verdicts = spark.table("semdedupdup_mem")
        .select("vec_id", "is_dup", "dup_of", "n_prior").collect()
        .map(r => (r.getLong(0), r.getInt(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3)))
      assert(verdicts.count(_._1 == 1L) == 1, "exactly one verdict for id 1")
      // id 1 is CLEAN (not a self-duplicate); id 2 sees ONE prior —
      // state holds a single copy of id 1, n_prior not inflated
      assert(verdicts.toSet == Set((1L, 0, -1L, 0L), (2L, 1, 1L, 1L)),
        verdicts.mkString(", "))
    } finally query.stop()
  }

  test("mirrorFlagStream: keeper set equals the batch URL gate; re-delivery is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.UrlCuration
    val docs = graft.engine.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 100)
      .select("doc_id", "text", "source", "n_chars")
    val rows = docs.as[(Long, String, String, Long)].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, String, String, Long)]
    val stream = mem.toDF().toDF("doc_id", "text", "source", "n_chars")
    val query = StreamPipeline.appendSink(
        StreamPipeline.mirrorFlagStream(stream).toDF(),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-mirror").toString,
        queryName = "mirror_mem").start()
    try {
      // in-doc_id-order delivery across two micro-batches
      mem.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
      query.processAllAvailable()
      mem.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
      query.processAllAvailable()
      val flags = spark.table("mirror_mem")
      assert(flags.count() == rows.length, "one verdict per arrival")
      // keepers ≡ the batch gate at an unbounded cap (mirror tier only)
      val streamKeepers = flags.filter(col("is_mirror") === 0).select("doc_id")
      val batchKeepers = UrlCuration.urlGateKeepers(docs, cap = Int.MaxValue)
      assert(streamKeepers.exceptAll(batchKeepers).isEmpty &&
        batchKeepers.exceptAll(streamKeepers).isEmpty,
        "stream keeper set must equal the batch mirror-dedup gate")
      // the fixture must actually contain mirrors
      assert(flags.filter(col("is_mirror") === 1).count() > 0)
      // re-delivery: the keeper re-emits its identical verdict (the
      // at-least-once contract — doc_id is the natural key), and no
      // mirror is ever promoted to keeper
      val keeperRow = rows.find(r =>
        streamKeepers.filter(col("doc_id") === r._1).count() == 1).get
      mem.addData(keeperRow)
      query.processAllAvailable()
      val again = spark.table("mirror_mem")
        .filter(col("doc_id") === keeperRow._1).collect()
      assert(again.length == 2 && again.forall(_.getAs[Int]("is_mirror") == 0),
        s"re-delivered keeper must re-emit the same verdict: ${again.toSeq}")
      assert(spark.table("mirror_mem").filter(col("is_mirror") === 0)
        .select("doc_id").distinct().count() == batchKeepers.count(),
        "re-delivery must not mint a new keeper")
    } finally query.stop()
  }

  test("hostBudgetStream: per-host admitted counts equal the batch cap; re-delivery is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.UrlCuration
    val docs = graft.engine.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 100)
      .select("doc_id", "text", "source", "n_chars")
    val rows = docs.as[(Long, String, String, Long)].collect().sortBy(_._1)
    val cap = 2 // small enough that the fixture actually over-budgets
    val mem = MemoryStream[(Long, String, String, Long)]
    val stream = mem.toDF().toDF("doc_id", "text", "source", "n_chars")
    val query = StreamPipeline.appendSink(
        StreamPipeline.hostBudgetStream(stream, cap).toDF(),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-budget").toString,
        queryName = "budget_mem").start()
    try {
      mem.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
      query.processAllAvailable()
      mem.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
      query.processAllAvailable()
      val verdicts = spark.table("budget_mem")
      assert(verdicts.count() == rows.length, "one verdict per arrival")
      // count equivalence: admitted DISTINCT pages per host =
      // min(#pages, cap) = the batch gate's n_kept — identities may
      // differ (first-come vs md5 priority), counts may not
      val streamKept = verdicts.filter(col("admitted") === 1)
        .select("host", "page_key").distinct()
        .groupBy("host").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val batchKept = UrlCuration.perHostCap(docs, cap)
        .select("host", "n_kept").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamKept == batchKept,
        s"per-host admitted counts diverge: $streamKept vs $batchKept")
      // the fixture actually exercises the budget: something rejected
      assert(verdicts.filter(col("admitted") === 0).count() > 0)
      // re-delivery of an admitted page re-admits; of a rejected page,
      // re-rejects — and neither changes any count
      val admittedRow = verdicts.filter(col("admitted") === 1)
        .select("doc_id").head().getLong(0)
      val rejectedRow = verdicts.filter(col("admitted") === 0)
        .select("doc_id").head().getLong(0)
      mem.addData(rows.find(_._1 == admittedRow).get,
        rows.find(_._1 == rejectedRow).get)
      query.processAllAvailable()
      val again = spark.table("budget_mem")
      assert(again.filter(col("doc_id") === admittedRow)
        .collect().forall(_.getAs[Int]("admitted") == 1))
      assert(again.filter(col("doc_id") === rejectedRow)
        .collect().forall(_.getAs[Int]("admitted") == 0))
      val keptAfter = again.filter(col("admitted") === 1)
        .select("host", "page_key").distinct()
        .groupBy("host").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(keptAfter == batchKept, "re-delivery must not mint budget")
    } finally query.stop()
  }

  test("exactlyOnceSink: a re-delivered micro-batch writes once; torn attempts never merge") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("id", "payload")
    val outDir = java.nio.file.Files.createTempDirectory("graft-e1-out").toString
    val query = StreamPipeline.exactlyOnceSink(stream, outDir,
      java.nio.file.Files.createTempDirectory("graft-e1-ckpt").toString).start()
    try {
      mem.addData(1L -> "a", 2L -> "b"); query.processAllAvailable()
      mem.addData(3L -> "c"); query.processAllAvailable()
    } finally query.stop()
    val committed = spark.read.parquet(outDir)
    assert(committed.count() == 3)
    assert(committed.select("epoch").distinct().count() == 2,
      "each micro-batch commits as its own epoch partition")
    // crash-replay simulation: the SAME epoch delivered again (what a
    // restart does after a crash between sink write and checkpoint
    // commit) must be a no-op — this is THE exactly-once branch
    val replay = spark.createDataFrame(Seq((99L, "dup"))).toDF("id", "payload")
    assert(!StreamPipeline.writeEpochOnce(replay, 0L, outDir),
      "re-delivered epoch must be skipped")
    assert(spark.read.parquet(outDir).count() == 3, "no duplicate rows after replay")
    // torn-attempt simulation: a crash mid-write leaves a staging dir;
    // the epoch's re-delivery must clobber it, not merge with it
    val staging = new java.io.File(outDir, ".epoch-7.staging")
    spark.createDataFrame(Seq((100L, "torn"), (101L, "torn")))
      .toDF("id", "payload").write.parquet(staging.toString)
    val fresh = spark.createDataFrame(Seq((7L, "g"))).toDF("id", "payload")
    assert(StreamPipeline.writeEpochOnce(fresh, 7L, outDir), "new epoch commits")
    val ep7 = spark.read.parquet(outDir).filter(col("epoch") === 7)
    assert(ep7.count() == 1 && ep7.select("id").head().getLong(0) == 7L,
      "the torn attempt's rows must not survive")
    assert(!staging.exists(), "staging dir consumed by the commit rename")
  }

  /** Footer of one Parquet file: its key-value metadata, its Parquet
    * schema and the codec of every column chunk. */
  private def footer(f: java.io.File) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(f.toPath))
    try {
      val meta = r.getFooter.getFileMetaData
      import scala.jdk.CollectionConverters._
      (meta.getKeyValueMetaData.asScala.toMap, meta.getSchema,
        r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet)
    } finally r.close()
  }

  private def partFiles(dir: java.io.File) =
    dir.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)

  test("writeEpochOnce writes what df.write.parquet writes: rows, schema, footer, codec; only part files") {
    val rowMeta = "org.apache.spark.sql.parquet.row.metadata"
    val df = spark.range(0, 40, 1, 4).selectExpr("id", "cast(id as int) as i",
      "id * 1.5 as d", "cast(id / 4 as decimal(10, 2)) as dec",
      "if(id % 3 = 0, null, concat('s', id)) as s", "timestamp_seconds(id) as ts",
      "date_add(date'2026-01-01', cast(id as int)) as dt", "array(id, id + 1) as arr",
      "named_struct('a', id, 'b', map('k', id)) as st")
    assert(!df.schema("id").nullable && df.schema("s").nullable)
    val outDir = java.nio.file.Files.createTempDirectory("graft-ew-out").toString
    val sparkDir = java.nio.file.Files.createTempDirectory("graft-ew-spark").resolve("t").toFile
    assert(StreamPipeline.writeEpochOnce(df, 3L, outDir))
    df.write.parquet(sparkDir.toString)

    val epoch = new java.io.File(outDir, "epoch=3")
    assert(spark.read.parquet(epoch.toString).collect().sortBy(_.getLong(0)).toSeq ==
      spark.read.parquet(sparkDir.toString).collect().sortBy(_.getLong(0)).toSeq)
    val ours = partFiles(epoch).map(footer)
    val theirs = partFiles(sparkDir).map(footer)
    assert(ours.length == 4 && theirs.length == 4)
    ours.zip(theirs).foreach { case ((kv, schema, codecs), (kv2, schema2, codecs2)) =>
      assert(kv == kv2)
      assert(org.apache.spark.sql.types.DataType.fromJson(kv(rowMeta)) == df.schema,
        "the Spark schema footer keeps nullability")
      assert(schema == schema2, "same Parquet logical types")
      assert(codecs == codecs2 && codecs.nonEmpty)
    }
    assert(epoch.list().forall(n => n.startsWith("part-") && n.endsWith(".parquet")),
      "no _temporary, _SUCCESS or .crc: " + epoch.list().mkString(", "))
    assert(new java.io.File(outDir).list().toSet == Set("epoch=3"), "staging consumed")

    // four empty partitions, and no partition at all (limit 0 plans an
    // empty local scan)
    Seq(df.filter("id < 0") -> 4L, df.limit(0) -> 5L).foreach { case (none, id) =>
      assert(StreamPipeline.writeEpochOnce(none, id, outDir))
      val dir = new java.io.File(outDir, s"epoch=$id")
      assert(partFiles(dir).length == 1 && dir.list().length == 1,
        "an empty epoch commits exactly one schema-only file")
      assert(footer(partFiles(dir).head)._1(rowMeta) == ours.head._1(rowMeta))
      assert(spark.read.parquet(dir.toString).count() == 0)
    }
  }

  test("writeEpochOnce reports each part file's bytes and rows in the task output metrics") {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val df = spark.range(0, 1000, 1, 3).selectExpr("id", "concat('payload-', id) as p")
    val stages, ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes, records = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "epoch-write"))
          e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null) {
          bytes.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
          records.addAndGet(e.taskMetrics.outputMetrics.recordsWritten)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    val outDir = java.nio.file.Files.createTempDirectory("graft-ewm-out").toString
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("epoch-write", "epoch write")
      try assert(StreamPipeline.writeEpochOnce(df, 0L, outDir)) finally sc.clearJobGroup()
      // the bus delivers in order: once a later job's end is seen, so
      // is every task end of the write
      sc.setJobGroup("epoch-marker", "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val marker = sc.statusTracker.getJobIdsForGroup("epoch-marker").head
      val deadline = System.currentTimeMillis() + 30000
      while (!ended.contains(marker) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(ended.contains(marker), "listener bus did not drain")
    } finally sc.removeSparkListener(listener)
    val onDisk = partFiles(new java.io.File(outDir, "epoch=0")).map(_.length).sum
    assert(!stages.isEmpty && onDisk > 0)
    assert(bytes.get == onDisk, s"metrics ${bytes.get} B, part files $onDisk B")
    assert(records.get == 1000)
  }

  test("dedupIngestSink: streamed epochs chain the simhash append; replay is a no-op; chain ≡ rebuild") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(61)
    // day-0 corpus + two streamed batches; planted exact copies make
    // 17 (epoch 0) pair with resident 5, and 26 (epoch 1) extend the
    // chain cross-epoch
    val textA = (0 until 12).map(i => s"ig_$i").mkString(" ")
    def doc(i: Long, t: String) = (i, t, "en", "s", 0L)
    val day0Rows = Seq(doc(5L, textA)) ++ (50L to 79L).map(i =>
      doc(i, Seq.fill(10 + rnd.nextInt(6))("iw" + rnd.nextInt(200)).mkString(" ")))
    val b0Rows = Seq(doc(17L, textA)) ++ (80L to 89L).map(i =>
      doc(i, Seq.fill(10 + rnd.nextInt(6))("iw" + rnd.nextInt(200)).mkString(" ")))
    val b1Rows = Seq(doc(26L, textA)) ++ (90L to 99L).map(i =>
      doc(i, Seq.fill(10 + rnd.nextInt(6))("iw" + rnd.nextInt(200)).mkString(" ")))
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val base = java.nio.file.Files.createTempDirectory("graft-ing-base").toString
    val day0Dir = s"$base/sh3_day0"
    def dirForEpoch(e: Long) = s"$base/sh3_e$e"
    assert(graft.operators.Dedup.prebuildSimhashPairs(
      day0Rows.toDF(cols: _*), day0Dir))
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val stream = mem.toDF().toDF(cols: _*)
    val query = StreamPipeline.dedupIngestSink(stream, day0Dir, dirForEpoch,
      java.nio.file.Files.createTempDirectory("graft-ing-ckpt").toString).start()
    try {
      mem.addData(b0Rows: _*); query.processAllAvailable()
      mem.addData(b1Rows: _*); query.processAllAvailable()
    } finally query.stop()
    // the chain after two streamed epochs ≡ one batch rebuild over
    // day 0 ∪ both batches — the q267 law, driven through the stream
    val fullDir = s"$base/sh3_full"
    assert(graft.operators.Dedup.prebuildSimhashPairs(
      (day0Rows ++ b0Rows ++ b1Rows).toDF(cols: _*), fullDir))
    Seq("sig", "pairs").foreach { t =>
      val a = spark.read.parquet(s"${dirForEpoch(1)}/$t")
      val b = spark.read.parquet(s"$fullDir/$t")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$t: streamed chain diverges from the batch rebuild")
    }
    val pairs = spark.read.parquet(s"${dirForEpoch(1)}/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((5L, 17L)) && pairs.contains((17L, 26L)),
      "planted cross-epoch pairs missing from the streamed chain")
    // crash-replay: the SAME epoch delivered again (at-least-once
    // foreachBatch) is absorbed by the committed-tier reuse no-op —
    // no files move
    // deliberately (name, size, MTIME), not TierFiles.snapshot's md5:
    // the replay law is "no write happened at all" — an identical-bytes
    // rewrite would slip past a content hash
    def snap(dir: String) =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(_.isFile).map(f => (f.getName, f.length(), f.lastModified())).toSet
    val before = Seq("sig", "pairs").map(t => snap(s"${dirForEpoch(1)}/$t"))
    assert(!StreamPipeline.dedupIngestEpoch(b1Rows.toDF(cols: _*), 1L,
      day0Dir, dirForEpoch), "re-delivered epoch must be a no-op")
    assert(Seq("sig", "pairs").map(t => snap(s"${dirForEpoch(1)}/$t")) == before,
      "replay moved files")
    // epoch-id gap: epoch 5 fires next (2-4 never did) — the scan-back
    // links it to epoch 1's committed head, keeping one unbroken chain.
    // The batch also RE-CRAWLS resident doc 5 and repeats 37 in-batch:
    // a stream cannot promise disjointness, so the sink must drop the
    // resident/duplicate ids instead of dying on the append's guard
    // (the poison-pill review case: a thrown foreachBatch epoch
    // replays the identical batch forever)
    val b5 = (Seq(doc(37L, textA), doc(37L, textA)) ++ day0Rows.take(1))
      .toDF(cols: _*)
    assert(StreamPipeline.dedupIngestEpoch(b5, 5L, day0Dir, dirForEpoch))
    val sig5 = spark.read.parquet(s"${dirForEpoch(5)}/sig")
    assert(sig5.filter(col("doc_id") === 37L).count() == 1,
      "in-batch duplicate must land once")
    assert(sig5.filter(col("doc_id") === 5L).count() == 1,
      "re-crawled resident id must not double-land")
    val p5 = spark.read.parquet(s"${dirForEpoch(5)}/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p5.contains((5L, 37L)) && p5.contains((26L, 37L)),
      "gap epoch must land on the latest committed head, not day 0")
    // retention: keep the newest 2 committed snapshots (epochs 5, 1);
    // epoch 0 and a planted TORN epoch dir (no _SUCCESS) are pruned.
    // Deleting old snapshots only unlinks — the head's shared-inode
    // files stay byte-identical across the prune
    assert(new java.io.File(dirForEpoch(4)).mkdirs())
    val headSnap = Seq("sig", "pairs").map(t =>
      TierFiles.snapshot(s"${dirForEpoch(5)}/$t"))
    val pruned = StreamPipeline.pruneIngestChain(spark, dirForEpoch,
      headEpoch = 5L, keep = 2)
    assert(pruned == Seq(4L, 0L), s"pruned $pruned")
    assert(!new java.io.File(dirForEpoch(0)).exists())
    assert(!new java.io.File(dirForEpoch(4)).exists(), "torn dir must be pruned")
    assert(new java.io.File(dirForEpoch(1)).exists() &&
      new java.io.File(dirForEpoch(5)).exists())
    assert(Seq("sig", "pairs").map(t =>
        TierFiles.snapshot(s"${dirForEpoch(5)}/$t")) == headSnap,
      "head snapshot must be byte-identical across the prune")
    // ingest continues on the pruned chain: epoch 6 still finds head 5
    assert(StreamPipeline.dedupIngestEpoch(
      Seq(doc(46L, textA)).toDF(cols: _*), 6L, day0Dir, dirForEpoch))
    assert(spark.read.parquet(s"${dirForEpoch(6)}/pairs")
      .filter(col("id_a") === 37L && col("id_b") === 46L).count() == 1,
      "post-prune epoch must chain from the kept head")
  }

  test("file streaming source runs the same plan over parquet drops (S2-equivalent)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-filestream").toString
    val batchDf = eventRows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    batchDf.write.mode("append").parquet(dir)

    val stream = StreamPipeline.fileSource(spark, dir, batchDf.schema)
    val query = StreamPipeline.appendSink(
        graft.operators.JsonRouting.validityRouting(stream, ordered = false),
        format = "memory",
        checkpointDir = java.nio.file.Files.createTempDirectory("graft-ckpt3").toString,
        queryName = "file_mem").start()
    try {
      query.processAllAvailable()
      assert(spark.table("file_mem").count() == eventRows.length)
    } finally query.stop()
  }
}
