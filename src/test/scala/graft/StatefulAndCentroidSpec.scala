package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LocalCheckpointFileManager
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.functions.CentroidAggregator
import graft.operators.Similarity
import graft.streaming.StreamPipeline

/** Arbitrary keyed state (mapGroupsWithState) and the centroid
  * aggregation pair: posexplode+avg (oracle-checked) vs the typed
  * one-pass Aggregator.
  */
class StatefulAndCentroidSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  /** The streaming queries here set `checkpointLocation` themselves, so
    * the checkpoint file manager they get would depend on whether an
    * earlier suite ran a checkpointed StreamPipeline sink in the shared
    * session. Each test runs with the manager pinned to the one those
    * sinks install, and the session's setting is put back after it. */
  override def withFixture(test: NoArgTest): Outcome = {
    val key = LocalCheckpointFileManager.ConfKey
    val before = spark.conf.getOption(key)
    spark.conf.set(key, classOf[LocalCheckpointFileManager].getName)
    try super.withFixture(test)
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("latestPerKeyStream converges to the batch latestPerKey result (CDC twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val query = StreamPipeline.latestPerKeyStream(stream)
      .writeStream.format("memory").queryName("latest_per_key")
      .outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-cdc").toString)
      .start()
    def ts(s: String) = Timestamp.valueOf(s)
    val batch1 = Seq(
      (1L, ts("2026-01-01 10:00:00"), 7L, "click", 10.0, "{}"),
      (2L, ts("2026-01-01 11:00:00"), 7L, "view", 20.0, "{}"),
      (3L, ts("2026-01-01 10:30:00"), 8L, "click", 5.0, "{}"))
    val batch2 = Seq(
      (4L, ts("2026-01-01 09:00:00"), 7L, "view", 1.0, "{}"),  // OLDER — must not win
      (5L, ts("2026-01-01 10:30:00"), 8L, "purchase", 9.0, "{}")) // same ts, higher id wins
    try {
      mem.addData(batch1: _*)
      query.processAllAvailable()
      mem.addData(batch2: _*)
      query.processAllAvailable()
      // Update mode re-emits per touched key; the LAST emission per
      // user is the state — compare against the batch operator on the
      // same rows
      val emitted = spark.table("latest_per_key").collect()
        .map(r => (r.getLong(0), r.getLong(2)))
      val streamLatest = emitted.zipWithIndex.groupBy(_._1._1)
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1._2 }
      val batchDf = (batch1 ++ batch2)
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val batchLatest = graft.operators.TrainingData.latestPerKey(batchDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamLatest == batchLatest)
      assert(batchLatest == Map(7L -> 2L, 8L -> 5L))
    } finally query.stop()
  }

  test("cdcStateStream converges to batch cdcCompact under shuffled arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val query = StreamPipeline.cdcStateStream(stream)
      .writeStream.format("memory").queryName("cdc_stream")
      .outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-cdcc").toString)
      .start()
    def ts(s: String) = Timestamp.valueOf(s)
    // deliberately OUT of order across batches: last-writer is a max,
    // so the twin needs no delivery-order precondition at all
    val rows = Seq(
      (6L, ts("2026-01-01 12:00:00"), 3L, "signup", 7.5, "{}"),   // u3 resurrect (late)
      (2L, ts("2026-01-01 11:00:00"), 1L, "purchase", 25.0, "{}"),
      (4L, ts("2026-01-02 10:00:00"), 2L, "error", 0.0, "{}"),
      (9L, ts("2026-01-01 10:00:00"), 5L, "view", 9.0, "{}"))     // read: ignored
    val rows2 = Seq(
      (1L, ts("2026-01-01 10:00:00"), 1L, "signup", 10.0, "{}"),  // older than u1's U
      (3L, ts("2026-01-01 10:00:00"), 2L, "signup", 10.0, "{}"),
      (5L, ts("2026-01-01 10:00:00"), 3L, "error", 0.0, "{}"),
      (7L, ts("2026-01-01 10:00:00"), 4L, "purchase", 1.0, "{}"),
      (8L, ts("2026-01-01 10:00:00"), 4L, "purchase", 2.0, "{}")) // same-sec id tie
    try {
      mem.addData(rows: _*)
      query.processAllAvailable()
      mem.addData(rows2: _*)
      query.processAllAvailable()
      val emitted = spark.table("cdc_stream").collect().zipWithIndex
      val streamFinal = emitted.groupBy(_._1.getLong(0))
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1 }
      val batch = graft.operators.EventAnalytics.cdcCompact(
        (rows ++ rows2).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
        .collect().map(r => r.getLong(0) -> r).toMap
      assert(streamFinal.keySet == batch.keySet)
      assert(batch.keySet == Set(1L, 2L, 3L, 4L))
      for (u <- batch.keySet) {
        val (s, b) = (streamFinal(u), batch(u))
        assert((s.getLong(1), s.getLong(2), s.getInt(3)) ==
          ((b.getLong(1), b.getLong(2), b.getInt(3))), s"user $u")
        assert(s.isNullAt(4) == b.isNullAt(4), s"user $u")
        if (!b.isNullAt(4)) assert(s.getDouble(4) == b.getDouble(4), s"user $u")
      }
    } finally query.stop()
  }

  test("ewmaLevelStream converges to batch ewmaLastPerUser (bounded-state twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val query = StreamPipeline.ewmaLevelStream(stream)
      .writeStream.format("memory").queryName("ewma_stream")
      .outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ewma").toString)
      .start()
    def ts(s: String) = Timestamp.valueOf(s)
    // per-user event-time order holds ACROSS batches (the Kafka
    // key-partitioning precondition); in-batch arrival is shuffled.
    // User 7 accumulates 10 events so the k=8 ring buffer actually
    // evicts; user 8 stays under the lookback.
    val batch1 = (1 to 6).map(i =>
      (i.toLong, ts(f"2026-01-01 10:0$i%01d:00"), 7L, "view", i * 10.0, "{}"))
      .reverse :+ (20L, ts("2026-01-01 10:00:30"), 8L, "view", 5.0, "{}")
    val batch2 = (7 to 10).map(i =>
      (i.toLong, ts(f"2026-01-01 10:$i%02d:00"), 7L, "view", i * 10.0, "{}")) :+
      (21L, ts("2026-01-01 10:09:30"), 8L, "view", 7.0, "{}")
    try {
      mem.addData(batch1: _*)
      query.processAllAvailable()
      mem.addData(batch2: _*)
      query.processAllAvailable()
      val emitted = spark.table("ewma_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val streamFinal = emitted.zipWithIndex.groupBy(_._1._1)
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1 }
      val batchDf = (batch1 ++ batch2)
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val batchRes = graft.operators.EventAnalytics.ewmaLastPerUser(batchDf)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toMap
      assert(streamFinal == batchRes)
      assert(streamFinal(7L)._2 == 10L && streamFinal(7L)._3 == 10L)
    } finally query.stop()
  }

  test("scdHistoryStream closed intervals match batch scdHistory minus open rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val query = StreamPipeline.scdHistoryStream(stream)
      .writeStream.format("memory").queryName("scd_stream")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-scd").toString)
      .start()
    def ts(s: String) = Timestamp.valueOf(s)
    // per-user event-time order holds ACROSS batches; inside a batch
    // rows arrive shuffled. User 7 changes state across the batch
    // boundary; user 8's repeat compacts away on arrival.
    val batch1 = Seq(
      (2L, ts("2026-01-01 10:05:00"), 7L, "view", 0.0, "{}"),   // repeat → compacts
      (1L, ts("2026-01-01 10:00:00"), 7L, "view", 0.0, "{}"),
      (3L, ts("2026-01-01 10:00:00"), 8L, "cart", 0.0, "{}"))
    val batch2 = Seq(
      (4L, ts("2026-01-01 10:10:00"), 7L, "cart", 0.0, "{}"),   // closes view interval
      (5L, ts("2026-01-01 10:20:00"), 8L, "cart", 0.0, "{}"),   // repeat → compacts
      (6L, ts("2026-01-01 10:30:00"), 8L, "view", 0.0, "{}"))   // closes cart interval
    try {
      mem.addData(batch1: _*)
      query.processAllAvailable()
      mem.addData(batch2: _*)
      query.processAllAvailable()
      val streamed = spark.table("scd_stream").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
        .toSet
      val batchDf = (batch1 ++ batch2)
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val closed = graft.operators.EventAnalytics.scdHistory(batchDf)
        .filter(col("is_current") === 0).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(streamed == closed)
      assert(streamed == Set(
        (7L, 1, "view", Timestamp.valueOf("2026-01-01 10:00:00").getTime / 1000,
          Timestamp.valueOf("2026-01-01 10:10:00").getTime / 1000),
        (8L, 1, "cart", Timestamp.valueOf("2026-01-01 10:00:00").getTime / 1000,
          Timestamp.valueOf("2026-01-01 10:30:00").getTime / 1000)))
    } finally query.stop()
  }

  test("transitionsStream pairs match the batch transition matrix across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val query = StreamPipeline.transitionsStream(stream)
      .writeStream.format("memory").queryName("transitions_stream")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-trans").toString)
      .start()
    def ts(s: String) = Timestamp.valueOf(s)
    // per-user event-time order holds ACROSS the two batches (the
    // documented equivalence precondition); inside a batch the rows
    // arrive shuffled and the operator's local sort must fix them
    val batch1 = Seq(
      (2L, ts("2026-01-01 10:05:00"), 7L, "click", 0.0, "{}"),
      (1L, ts("2026-01-01 10:00:00"), 7L, "view", 0.0, "{}"),
      (3L, ts("2026-01-01 10:00:00"), 8L, "view", 0.0, "{}"))
    val batch2 = Seq(
      (4L, ts("2026-01-01 10:10:00"), 7L, "purchase", 0.0, "{}"), // pairs with batch1's click
      (5L, ts("2026-01-01 10:20:00"), 8L, "view", 0.0, "{}"))
    try {
      mem.addData(batch1: _*)
      query.processAllAvailable()
      mem.addData(batch2: _*)
      query.processAllAvailable()
      val streamed = spark.table("transitions_stream")
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val batchDf = (batch1 ++ batch2)
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val batch = graft.operators.EventAnalytics.eventTransitions(batchDf)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
      assert(batch == Map(
        ("view", "click") -> 1L, ("click", "purchase") -> 1L,
        ("view", "view") -> 1L))
    } finally query.stop()
  }

  test("funnelStream final stages match the batch funnel across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val query = StreamPipeline.funnelStream(stream)
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-funnel").toString)
      .start()
    def ts(s: String) = Timestamp.valueOf(s)
    val batch1 = Seq(
      (1L, ts("2026-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
      (2L, ts("2026-01-01 10:05:00"), 1L, "click", 0.0, "{}"),
      // user 2's purchase arrives BEFORE any view — must never count
      (4L, ts("2026-01-01 09:00:00"), 2L, "purchase", 0.0, "{}"),
      (5L, ts("2026-01-01 10:00:00"), 2L, "view", 0.0, "{}"),
      // user 4: click with no view — enters no step
      (8L, ts("2026-01-01 11:00:00"), 4L, "click", 0.0, "{}"))
    val batch2 = Seq(
      (3L, ts("2026-01-01 10:10:00"), 1L, "purchase", 0.0, "{}"), // completes user 1
      (6L, ts("2026-01-01 10:05:00"), 2L, "click", 0.0, "{}"),
      (7L, ts("2026-01-01 11:00:00"), 3L, "view", 0.0, "{}"))
    try {
      mem.addData(batch1: _*)
      query.processAllAvailable()
      mem.addData(batch2: _*)
      query.processAllAvailable()
      // Update mode re-emits per touched user; the LAST emission is
      // the user's current stage
      val emitted = spark.table("funnel_stream").collect()
        .map(r => (r.getLong(0), r.getInt(1))).zipWithIndex
      val finalStage = emitted.groupBy(_._1._1)
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1._2 }
      assert(finalStage == Map(1L -> 3, 2L -> 2, 3L -> 1, 4L -> 0))
      // stage-k survivor counts equal the batch funnel's users column
      val batchDf = (batch1 ++ batch2)
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val batchUsers = graft.operators.EventAnalytics.funnel(batchDf)
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      val streamUsers = (1 to 3)
        .map(k => k -> finalStage.values.count(_ >= k).toLong).toMap
      assert(streamUsers == batchUsers)
    } finally query.stop()
  }

  test("mapGroupsWithState carries per-user totals across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val query = StreamPipeline.runningUserTotals(stream)
      .writeStream.format("memory").queryName("user_totals")
      .outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-state").toString)
      .start()
    try {
      val t = Timestamp.valueOf("2026-01-01 10:00:00")
      mem.addData((1L, t, 7L, "click", 10.0, "{}"), (2L, t, 7L, "view", 20.0, "{}"),
        (3L, t, 8L, "click", 5.0, "{}"))
      query.processAllAvailable()
      mem.addData((4L, t, 7L, "click", 30.0, "{}"))
      query.processAllAvailable()

      // Update mode re-emits a row per touched key per batch — the
      // LAST emission per user carries the accumulated state
      val rows = spark.table("user_totals").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val latest = rows.groupBy(_._1).map { case (u, rs) => u -> rs.maxBy(_._2) }
      assert(latest(7L) == ((7L, 3L, 60.0))) // state crossed the batch boundary
      assert(latest(8L) == ((8L, 1L, 5.0)))
    } finally query.stop()
  }

  test("typed CentroidAggregator equals the posexplode+avg formulation") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val viaExplode = Similarity.labelCentroids(emb).collect()
      .groupBy(_.getInt(0))
      .map { case (l, rows) => l -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }

    val viaAgg = emb
      .select(col("label"), col("embedding").cast("array<double>").as("v"))
      .as[(Int, Seq[Double])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(CentroidAggregator.toColumn.name("centroid"))
      .collect().toMap
    viaExplode.foreach { case (label, expected) =>
      val got = viaAgg(label)
      assert(got.length == expected.length)
      expected.indices.foreach { i =>
        assert(math.abs(got(i) - expected(i)) < 1e-6,
          s"label=$label dim=$i ${got(i)} vs ${expected(i)}")
      }
    }
  }
}
