package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row
import org.apache.spark.sql.graft.{DirectParquet, LocalCheckpointFileManager}
import org.apache.commons.io.FileUtils

import graft.operators.JsonRouting

/** Structured-Streaming wiring of the reference's inference
  * micro-service graph (infrastructure/stream_inference.py:45-181):
  * source → from_json → flatten → validity CASE (the reference's
  * valid/invalid split and sentinel union, fused into one projection)
  * → to_json envelope → append sink with checkpoint. The fused
  * projection parses each payload once and runs one task per source
  * partition, so a micro-batch is one wave of tasks and
  * [[exactlyOnceSink]] commits at most one file per partition per
  * epoch. Those tasks write the epoch's Parquet files themselves,
  * straight into a staging dir, and one directory rename commits the
  * epoch ([[writeEpochOnce]]). The checkpointed sinks go through
  * [[checkpointed]]: on a local checkpoint the offset and commit logs
  * (and any state-store files) are written through java.nio by
  * [[LocalCheckpointFileManager]], so a micro-batch forks no process.
  * [[consoleSink]]'s temporary checkpoint is written the same way.
  *
  * The Kafka connector jar is not in this container, so sources are
  * file/rate/memory (the operator graph is IDENTICAL — Structured
  * Streaming planning does not care which source feeds it; swapping
  * in `format("kafka")` is a config change, not a code change). The
  * plan itself is the batch [[JsonRouting]] graph applied to a
  * streaming DataFrame — one definition, two execution modes.
  *
  * Stateless map-only pipeline (like the reference): no watermark
  * needed. [[windowedCounts]] adds the stateful watermark+window
  * variant our events table invites, which IS the 100 TB shape for
  * streaming aggregation (state pruned by watermark, keys partitioned
  * across executors).
  */
object StreamPipeline {

  /** S2-equivalent: file-based streaming source with a declared schema
    * (streaming sources must never infer — stream_inference.py:28-42
    * declares its schema for the same reason).
    */
  def fileSource(spark: SparkSession, path: String, schema: StructType,
                 format: String = "parquet"): DataFrame =
    spark.readStream.schema(schema).format(format).load(path)

  /** T1+T2 on a stream: the exact batch routing graph from
    * [[JsonRouting.responseEnvelope]] applied to a streaming frame.
    */
  def routedResponses(stream: DataFrame): DataFrame =
    JsonRouting.responseEnvelope(stream, ordered = false)

  /** `df`'s stream writer checkpointed at `checkpointDir`, with the
    * session's checkpoint files written by [[LocalCheckpointFileManager]]
    * unless the session (or its Hadoop conf) already names a manager
    * class. Spark reads that class from the session's Hadoop conf for
    * every metadata log and state store, so the setting can only be
    * session-wide; it is safe there because it changes how local files
    * are written, not which checkpoint files, their bytes or their
    * atomicity (only Hadoop's `.crc` sidecars are no longer written),
    * and non-`file:` paths keep Spark's own manager. A user-set class
    * is never overridden.
    */
  private def checkpointed(df: DataFrame, checkpointDir: String): DataStreamWriter[Row] = {
    useLocalCheckpointFiles(df)
    df.writeStream.option("checkpointLocation", checkpointDir)
  }

  /** Installs [[LocalCheckpointFileManager]] on `df`'s session unless
    * the session or its Hadoop conf already names a manager class
    * (see [[checkpointed]] for why session-wide is safe). */
  private def useLocalCheckpointFiles(df: DataFrame): Unit = {
    val key = LocalCheckpointFileManager.ConfKey
    val spark = df.sparkSession
    if (spark.conf.getOption(key).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(key) == null)
      spark.conf.set(key, classOf[LocalCheckpointFileManager].getName)
  }

  /** T3: append-mode sink with mandatory checkpoint (the reference's
    * exactly-once-ish contract, stream_inference.py:159-168).
    * Format "memory"/"console" for tests, "kafka"/"parquet" in a real
    * deployment. The checkpoint logs are written through java.nio
    * ([[checkpointed]]).
    */
  def appendSink(df: DataFrame, format: String, checkpointDir: String,
                 queryName: String): DataStreamWriter[Row] =
    checkpointed(df, checkpointDir)
      .format(format)
      .queryName(queryName)
      .outputMode(OutputMode.Append)

  /** K3: console debug sink (stream_inference.py:171-178). Its
    * temporary checkpoint is written through java.nio too
    * ([[useLocalCheckpointFiles]]). */
  def consoleSink(df: DataFrame): DataStreamWriter[Row] = {
    useLocalCheckpointFiles(df)
    df.writeStream.format("console").option("truncate", "false")
      .outputMode(OutputMode.Append)
  }

  /** The idempotent epoch write at the heart of [[exactlyOnceSink]],
    * exposed for direct testing (a spec can hand it the same epoch
    * twice — something a live query only does across a crash).
    * Write-audit-publish, with the rename as the only commit:
    *   1. a re-delivered epoch whose commit dir already exists is
    *      SKIPPED (returns false) — the only branch that makes
    *      at-least-once delivery exactly-once output;
    *   2. a torn previous attempt's staging dir (crash mid-write,
    *      before commit) is deleted, never merged, and the batch's
    *      tasks write their Parquet files straight into a fresh
    *      dot-prefixed staging dir (invisible to parquet readers
    *      listing `outDir`) via [[DirectParquet]]: one file per
    *      partition, no Hadoop commit protocol, no `_temporary`,
    *      `_SUCCESS` or `.crc`. Any file no successful task reported
    *      is deleted;
    *   3. one atomic directory rename to `epoch=<id>` is the commit
    *      point: readers see a committed epoch entirely or not at all,
    *      and get `epoch` back as a partition column for free.
    */
  def writeEpochOnce(batch: DataFrame, epochId: Long, outDir: String): Boolean = {
    val commit = new java.io.File(outDir, s"epoch=$epochId")
    if (commit.exists()) return false
    val staging = new java.io.File(outDir, s".epoch-$epochId.staging")
    FileUtils.deleteQuietly(staging)
    java.nio.file.Files.createDirectories(staging.toPath)
    val written = DirectParquet.write(batch, staging).toSet
    staging.listFiles().filterNot(f => written(f.getName)).foreach(FileUtils.deleteQuietly)
    if (!staging.renameTo(commit)) {
      FileUtils.deleteQuietly(staging)
      require(commit.exists(),
        s"epoch $epochId commit rename failed and no commit exists")
      return false
    }
    true
  }

  /** Exactly-once parquet sink via foreachBatch — the T3 story the
    * reference only gestures at with checkpointLocation
    * (stream_inference.py:165-167), completed. Structured Streaming
    * guarantees foreachBatch AT-LEAST-once delivery of
    * (batch, epochId): after a crash between the sink write and the
    * checkpoint commit, the SAME epoch is re-delivered on restart.
    * [[writeEpochOnce]]'s epoch-dir commit protocol absorbs the
    * replay, so `outDir` holds each micro-batch's rows exactly once
    * no matter how many times the epoch fires. The offset log entry
    * before each batch and the commit log entry after it are written
    * through java.nio ([[checkpointed]]): a micro-batch forks no
    * process, on the epoch write or on the logs.
    */
  def exactlyOnceSink(df: DataFrame, outDir: String,
                      checkpointDir: String): DataStreamWriter[Row] = {
    val fn: (org.apache.spark.sql.Dataset[Row], Long) => Unit =
      (b, id) => { writeEpochOnce(b, id, outDir); () }
    checkpointed(df, checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch(fn)
  }

  /** Both tiers of an ingest-chain epoch address are committed. */
  private def epochCommitted(spark: SparkSession, dir: String): Boolean =
    Seq("sig", "pairs").forall(t =>
      graft.engine.ContentAddress.hasSuccess(spark, s"$dir/$t"))

  /** One micro-batch landing on the SimHash append CHAIN — the unit
    * [[dedupIngestSink]] drives, exposed for direct testing (the
    * [[writeEpochOnce]] convention). Epoch `epochId`'s batch appends
    * to the LAST COMMITTED epoch address before it (scanned back on
    * disk, falling back to `day0Dir`) and lands at
    * `dirForEpoch(epochId)` via
    * [[graft.operators.Dedup.appendToSimhashPairs]].
    *
    * Exactly-once and crash-safety come from the append's own
    * content-address contract, with NO driver-side chain state:
    *  - a REPLAYED epoch (foreachBatch is at-least-once) finds both
    *    its tiers committed and is a no-op (returns false);
    *  - a crash MID-append leaves no `_SUCCESS` on the torn tier, and
    *    the replay resumes it against the same scanned-back oldDir —
    *    the scan sees only fully-committed epochs, so the resumed
    *    landing is identical to the uncrashed one;
    *  - chain-head recovery is pure disk state (the scan), so a
    *    restarted query — fresh closure, fresh JVM — continues the
    *    chain instead of re-rooting at day 0. Epoch-id GAPS (batches
    *    that never fired) just link across.
    * Returns true iff the epoch actually landed tiers.
    */
  def dedupIngestEpoch(batch: DataFrame, epochId: Long, day0Dir: String,
                       dirForEpoch: Long => String,
                       maxHamming: Int = 3): Boolean = {
    val spark = batch.sparkSession
    val oldDir = ((epochId - 1) to 0L by -1L).iterator.map(dirForEpoch)
      .find(epochCommitted(spark, _)).getOrElse(day0Dir)
    // a STREAM cannot promise id-disjointness the way a curated daily
    // batch can (re-crawls, upstream at-least-once sources), and the
    // append's overlap `require` inside foreachBatch would be a poison
    // pill: the query dies, the checkpoint replays the SAME batch, it
    // dies again — forever (review r18). So the sink, not the caller,
    // owns the precondition: drop in-batch duplicate ids, anti-join
    // away ids already resident in the chain head (a column-pruned
    // doc_id-only scan), and land only the genuinely-new documents —
    // the streaming twin of [[dedupOnIngest]], applied to index
    // maintenance.
    val fresh = batch.dropDuplicates("doc_id")
      .join(spark.read.parquet(s"$oldDir/sig").select("doc_id"),
        Seq("doc_id"), "left_anti")
    graft.operators.Dedup.appendToSimhashPairs(fresh, oldDir,
      dirForEpoch(epochId), maxHamming)
  }

  /** STREAMING dedup ingest: the batch append chain (q267) driven by
    * Structured Streaming — a crawler stream's micro-batches land on
    * the materialized SimHash frame exactly once each, and the chain
    * after N epochs is row-identical to one batch rebuild over
    * day 0 ∪ all batches (the append law, spec-proven through the
    * stream). This is the production shape the reference's
    * checkpointLocation gestures at, applied to INDEX maintenance
    * rather than row sinks: the same at-least-once foreachBatch
    * delivery, absorbed here by the append's committed-tier reuse
    * no-op instead of [[writeEpochOnce]]'s epoch-dir rename. An empty
    * epoch still lands (schema-only delta) so every fired epoch
    * address commits. Re-crawled documents are TOLERATED, not fatal:
    * ids already resident in the chain are anti-joined away before
    * the append, so an upstream at-least-once source can never wedge
    * the query on the append's disjointness guard. Downstream
    * consumers probe whatever epoch address is newest-committed —
    * each is a complete frozen snapshot (linked base + deltas), never
    * a torn view.
    */
  def dedupIngestSink(stream: DataFrame, day0Dir: String,
                      dirForEpoch: Long => String, checkpointDir: String,
                      maxHamming: Int = 3): DataStreamWriter[Row] =
    foreachBatchSink(stream, checkpointDir) { (batch, epochId) =>
      dedupIngestEpoch(batch, epochId, day0Dir, dirForEpoch, maxHamming)
      ()
    }

  /** RETENTION for the ingest chain — the third lifecycle leg after
    * ingest ([[dedupIngestSink]]) and compaction
    * (`Dedup.compactSimhash`): every epoch address is a complete
    * frozen snapshot, so a long-running stream accumulates one
    * directory of hard links per micro-batch — data bytes are shared
    * (links), but the METADATA grows O(epochs × files) and a year of
    * epochs is millions of directory entries. This keeps the newest
    * `keep` fully-committed epoch snapshots at or below `headEpoch`
    * and deletes every other existing epoch directory — including
    * torn ones (no `_SUCCESS`; a replay reassembles from scratch, so
    * discarding a partial landing is always safe). Deleting an old
    * snapshot only UNLINKS: the kept addresses still reference the
    * shared inodes, byte-identical (spec-proven by md5 snapshot of
    * the head across the prune). The scan-back in [[dedupIngestEpoch]]
    * still finds the kept head, so ingest continues unaffected.
    * `day0Dir` is not epoch-addressed and is the caller's to retire.
    * Returns the pruned epoch ids, newest first.
    */
  def pruneIngestChain(spark: SparkSession, dirForEpoch: Long => String,
                       headEpoch: Long, keep: Int = 2): Seq[Long] = {
    require(keep >= 1, "retention must keep at least the chain head")
    val existing = (headEpoch to 0L by -1L)
      .filter(e => new java.io.File(dirForEpoch(e)).exists())
    val kept = existing.filter(e => epochCommitted(spark, dirForEpoch(e)))
      .take(keep).toSet
    val drop = existing.filterNot(kept)
    drop.foreach(e => org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dirForEpoch(e))))
    drop
  }

  /** Stateful extension: watermarked tumbling-window counts per
    * event_type — the streaming twin of
    * [[graft.operators.Aggregates.hourWindowCounts]]. Late data beyond
    * the watermark is dropped and state is GC'd, which is what keeps
    * executor state bounded on an unbounded 100 TB/day stream.
    */
  def windowedCounts(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Streaming fixed-grid histogram counts — the live twin of
    * [[graft.operators.EventAnalytics.histogramPercentilesHourly]]
    * (q158): per watermarked tumbling hour, (bin, count) rows emitted
    * append-mode once the window finalizes. The histogram IS the
    * point: bin counts are mergeable partial state, so the stream
    * carries a bounded #bins-per-hour frame where an exact
    * percentile() would have to hold every raw value; the percentile
    * finalization is the same grid-bounded fold the batch operator
    * runs, applied downstream to closed windows (spec-asserted
    * batch ≡ stream on both the histogram and the finalized
    * percentiles).
    */
  def histogramCountsStream(stream: DataFrame,
                            binWidth: Double = 0.5): DataFrame =
    stream
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"),
        floor(col("value") / binWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("c"))
      .select(col("window.start").as("bar_ts"), col("bin"), col("c"))

  /** Streaming seasonal anomaly alerts — the batch-train /
    * stream-score pattern over q165
    * ([[graft.operators.EventAnalytics.seasonalAnomalies]]): the
    * (type, hour-of-day) diurnal profile is trained in batch
    * ([[graft.operators.EventAnalytics.seasonalProfile]]) and joined
    * STATIC, so the stream side is a watermarked tumbling-hour count
    * plus one broadcastable equi-join — bounded state, no profile
    * drift mid-run (retrain-and-restart is the deployment story, the
    * same as the ML scorer's). The flag decision replays the batch
    * operator's exact integer cross-multiplication, so a finalized
    * window alerts iff the batch run over the same events would —
    * spec-asserted.
    */
  def seasonalAnomalyStream(stream: DataFrame, profile: DataFrame,
                            threshold: Double = 2.0): DataFrame =
    stream.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("hr"), col("event_type"), col("cnt"))
      .withColumn("hod", hour(col("hr")))
      .join(profile, Seq("event_type", "hod"))
      .filter(col("cnt") * col("m") >= lit(threshold) * col("s"))
      .selectExpr("event_type", "hr", "cnt",
        "round(CAST(s AS DOUBLE) / m, 4) AS baseline",
        "round(CAST(cnt AS DOUBLE) * m / s, 4) AS ratio")

  /** Native session windows ON THE STREAM — the same
    * `session_window` expression as the batch
    * [[graft.operators.Aggregates.sessionWindowAgg]], plus a
    * watermark: a session finalizes (and its state is freed) once the
    * watermark passes session end. Append-mode emits only finalized
    * sessions — exactly-once session records downstream.
    */
  def sessionWindowCounts(stream: DataFrame, gap: String = "30 minutes",
                          watermarkDelay: String = "10 minutes"): DataFrame =
    stream.withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n"))

  /** Streaming dedup on ingest: drop events whose KEY was already seen
    * (regardless of their event time), with state bounded by the
    * watermark — `dropDuplicatesWithinWatermark` forgets a key once
    * the watermark passes its first sighting, the only way dedup state
    * survives an unbounded stream. The first stage of a training-data
    * ingest pipeline. (Plain `dropDuplicates(key :+ ts)` would treat
    * the same key at a different timestamp as new — that is (key, ts)
    * dedup, not key dedup.)
    */
  def dedupOnIngest(stream: DataFrame, keyCols: Seq[String],
                    watermarkDelay: String = "10 minutes"): DataFrame =
    stream.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Content dedup on ingest: drop documents whose normalized text
    * fingerprint ([[graft.operators.TextAnalysis.fingerprintCol]] —
    * the same key the batch [[graft.operators.Dedup.incrementalDedup]]
    * admits on) was already seen, with state bounded by the watermark.
    * The streaming half of the ingest-dedup story: the live crawl
    * dedups against the in-flight window here; the batch anti-join
    * dedups against the historical corpus on the backfill path — same
    * fingerprint, so the two tiers never disagree about identity.
    */
  def dedupContentOnIngest(stream: DataFrame,
                           watermarkDelay: String = "10 minutes"): DataFrame =
    stream
      .withColumn("fingerprint", graft.operators.TextAnalysis.fingerprintCol)
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fingerprint")
      .drop("fingerprint") // internal dedup key, not part of the contract

  /** The full live-crawl ingest cleaning path in ONE streaming plan:
    * quality gate → in-flight content dedup → PII scrub. Stage order
    * is deliberate: the gate (stateless) runs first so rejected
    * documents never enter dedup state; dedup runs on the RAW text
    * fingerprint — the same identity key the batch backfill tier
    * ([[graft.operators.Dedup.incrementalDedup]] /
    * `incrementalDedupBloom`) admits on, so the two tiers can never
    * disagree about what a duplicate is; the scrub runs last so only
    * admitted documents pay the regex pass. State is the dedup
    * window's alone, bounded by the watermark.
    *
    * Batch twin for the backfill path: `gopherGateFilter` →
    * fingerprint dropDuplicates → `piiScrub` — equivalence
    * spec-asserted (StreamingSpec).
    */
  def cleanIngest(stream: DataFrame,
                  watermarkDelay: String = "10 minutes"): DataFrame =
    graft.operators.TextAnalysis.piiScrub(
      dedupContentOnIngest(
        graft.operators.TextAnalysis.gopherGateFilter(stream), watermarkDelay),
      ordered = false)

  /** Stream-static enrichment join: each micro-batch hash-joins the
    * (small, broadcastable) static dimension — stateless, no watermark
    * needed; the static side is re-read per batch so dimension updates
    * flow through.
    */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Watermarked stream-stream interval join: purchases matched to the
    * same user's clicks from the preceding `lookback` window — the
    * streaming twin of the batch as-of/attribution family
    * ([[graft.operators.Joins.clickAttribution]], which keeps only the
    * LATEST click; this emits every in-window click, the
    * interval-join contract). Both sides carry a watermark and the
    * join condition time-bounds one side against the other, which is
    * what lets Spark expire buffered rows: click state is held only
    * until watermark > click_ts + lookback, purchase state until its
    * watermark passes — O(in-flight window) state per side on an
    * unbounded stream, never the whole history. Batch/stream parity is
    * spec-asserted on the same input (StreamingSpec).
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        lookback: String = "1 hour",
                        watermarkDelay: String = "10 minutes",
                        joinType: String = "inner"): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermarkDelay)
    val p = purchases
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", watermarkDelay)
    // joinType "left_outer": a purchase with no in-window click is
    // emitted null-joined — but only once the click-side watermark
    // passes purchase_ts, i.e. when Spark can PROVE no matching click
    // is still in flight. That proof is what the time bound buys; an
    // unbounded condition would make outer results undecidable on an
    // infinite stream (and Spark rejects it).
    p.join(c,
      col("user_id") === col("c_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $lookback"),
      joinType)
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"))
  }

  /** foreachBatch sink: hands each micro-batch to arbitrary BATCH
    * writer code with its batch id — the production pattern for sinks
    * without a native streaming connector (JDBC, multi-table fan-out,
    * idempotent-by-batch-id upserts). The batch id is stable across
    * retries, which is what makes exactly-once writes implementable.
    * The checkpoint logs are written through java.nio
    * ([[checkpointed]]).
    */
  def foreachBatchSink(df: DataFrame, checkpointDir: String)(
      write: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    checkpointed(df, checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch(write)

  /** Open-session state carried across micro-batches. */
  case class OpenSession(start: java.sql.Timestamp, last: java.sql.Timestamp, n: Long)

  /** A gap-closed session emitted downstream. */
  case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long)

  /** Streaming sessionization via `flatMapGroupsWithState` — the
    * emit-many tier of the arbitrary-state API (mapGroupsWithState
    * emits exactly one row per key per batch; sessions need zero or
    * MANY closed sessions per key). State per user is one open
    * session; a gap > `gapSeconds` closes it and emits it. The batch
    * twin is [[graft.operators.Aggregates.sessionize]] — same gap
    * rule, so batch backfill and live stream agree.
    *
    * Scale contract: state is O(1) per active user (three fields), and
    * keys spread across executors by group hash. In production add
    * `GroupStateTimeout.EventTimeTimeout` + watermark to also close
    * sessions on silence rather than only on the next event; kept
    * NoTimeout here so results are deterministic under
    * processAllAvailable in tests.
    */
  def sessionizeStream(stream: DataFrame, gapSeconds: Long = 1800)
      : org.apache.spark.sql.Dataset[ClosedSession] = {
    val spark = stream.sparkSession
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    stream.selectExpr("user_id", "ts").as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          // micro-batch iterators carry no order guarantee; a user's
          // per-batch slice is small — sort locally
          val ts = rows.map(_._2).toArray.sortBy(_.getTime)
          val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
          var open = state.getOption
          ts.foreach { t =>
            open match {
              case Some(s) if (t.getTime - s.last.getTime) / 1000 <= gapSeconds =>
                open = Some(s.copy(last = t, n = s.n + 1))
              case Some(s) =>
                closed += ClosedSession(uid, s.start, s.last, s.n)
                open = Some(OpenSession(t, t, 1))
              case None =>
                open = Some(OpenSession(t, t, 1))
            }
          }
          open.foreach(state.update)
          closed.iterator
      }
  }

  /** Streaming HyperLogLog registers — the live twin of q187's
    * exactly-oracled sketch: per tumbling hour, the per-register rank
    * maximum accumulates in the windowed aggregate's state (max is
    * the HLL merge operator, so watermarked out-of-order arrival
    * changes nothing), and each finalized window emits its ≤ 2^p
    * (reg, mj) rows append-mode. A sink feeds them to
    * [[graft.operators.Sketches.hllEstimate]] — the identical
    * closing arithmetic as the batch report, so batch backfill and
    * live stream produce the same estimates (spec-asserted).
    *
    * State bound: ≤ 2^p longs per OPEN window per key group — the
    * entire point of the sketch; an exact streaming distinct would
    * hold every user id seen.
    */
  def hllRegistersStream(stream: DataFrame, p: Int = 9,
                         watermark: String = "2 hours"): DataFrame =
    stream.withWatermark("ts", watermark)
      .select(col("ts"),
        graft.operators.Sketches.hllReg(col("user_id"), p),
        graft.operators.Sketches.hllRho(col("user_id"), p))
      .groupBy(window(col("ts"), "1 hour"), col("reg"))
      .agg(max(col("rho")).as("mj"))
      .select(col("window.start").as("hour_start"), col("reg"), col("mj"))

  /** Streaming daily event counts — the live half of q177's CUSUM
    * level-shift screen: a watermarked 1-day tumbling count per event
    * type emits each finalized (event_type, day, cnt) row append-mode;
    * the shared finisher
    * [[graft.operators.EventAnalytics.cusumFromDaily]] then turns the
    * accumulated rows into the current most-likely changepoint per
    * type — in production a [[foreachBatchSink]] consumer re-runs the
    * finisher per trigger (its input is the O(#types×#days) daily
    * frame, not the event stream) and diffs `peak_day` against the
    * last alert. Day bucketing is the session-UTC `window(ts, "1
    * day")` start date — identical to the batch `to_date(ts)`, so
    * batch backfill and live stream produce the same frame
    * (spec-asserted).
    *
    * State bound: open windows only — one (type, day) count per type
    * per unexpired day, pruned by the watermark.
    */
  def dailyCountsStream(stream: DataFrame,
                        watermark: String = "2 days"): DataFrame =
    stream.withWatermark("ts", watermark)
      .groupBy(col("event_type"), window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"),
        col("window.start").cast("date").as("day"), col("cnt"))

  /** Streaming Count-Min counters — the live twin of q134's exactly-
    * oracled CMS, completing the sketch family's live story next to
    * [[hllRegistersStream]]: per tumbling hour, each arriving key
    * increments one counter per depth row and the windowed aggregate's
    * state IS the sketch (cell-wise count addition is the CMS merge
    * operator, so watermarked out-of-order arrival changes nothing).
    * Finalized windows emit their ≤ depth·width (depth, bucket, c)
    * cells append-mode; a sink feeds them to
    * [[graft.operators.Sketches.cmsEstimates]] — the identical
    * finisher as the batch report — and summing cells ACROSS emitted
    * windows merges hourly sketches into any coarser range for free
    * (the reason a 100 TB pipeline keeps per-segment sketches;
    * batch ≡ stream and the cross-window merge are spec-asserted).
    *
    * State bound: ≤ depth·width longs per open window — constant,
    * whatever the key cardinality; an exact streaming heavy-hitter
    * count would hold every key seen.
    */
  def cmsCountersStream(stream: DataFrame, keyCol: String = "user_id",
                        depth: Int = 4, width: Int = 64,
                        watermark: String = "2 hours"): DataFrame =
    stream.withWatermark("ts", watermark)
      .select(col("ts"),
        posexplode(graft.operators.Sketches.cmBucketArray(
          col(keyCol).cast("string"), depth, width)).as(Seq("depth", "bucket")))
      .groupBy(window(col("ts"), "1 hour"), col("depth"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .select(col("window.start").as("hour_start"),
        col("depth"), col("bucket"), col("c"))

  /** Posting state for one winnow fingerprint: the (bounded) ids of
    * documents that selected it. */
  case class FpPosting(docIds: Seq[Long])

  /** One shared-fingerprint observation between two documents. */
  case class FpMatch(fp: Long, doc_a: Long, doc_b: Long)

  /** Streaming winnowed-fingerprint matching — the live twin of
    * q176's [[graft.operators.Dedup.winnowedPairs]]: state is keyed
    * by FINGERPRINT (exactly the bounded thing winnowing exists to
    * produce — ~1/w of a document's grams) and holds the ids that
    * selected it; a document's arrival emits one [[FpMatch]] row per
    * (fingerprint, earlier holder) on the spot. Downstream, the batch
    * finisher — group by (doc_a, doc_b), count DISTINCT fp, filter
    * ≥ minShared — equals the batch operator's count (each (fp, a, b)
    * is unique in batch, so distinct-count ≡ count there), and the
    * DISTINCT is load-bearing here: see the idempotency note below.
    *
    * State bound: ≤ `maxPosting` longs per fingerprint — the capped-
    * postings discipline of the q139 inverted index. A fingerprint
    * hotter than the cap (boilerplate) stops ACCUMULATING holders but
    * keeps emitting matches against the retained ones; the trade is
    * bounded recall on the degenerate cluster for hard-bounded state,
    * and the cap is off (Int.MaxValue) only in tests.
    *
    * Idempotency under at-least-once delivery: a re-delivered
    * (doc, fp) whose doc is IN state emits nothing. A doc that was
    * capped OUT of a hot fingerprint's posting is not in state, so
    * its re-delivery re-emits the same FpMatch rows against the
    * retained holders — duplicate ROWS, never new pairs. The
    * distinct-count finisher absorbs exactly this: (fp, doc_a,
    * doc_b) re-emissions collapse, so the end-to-end pair report is
    * exactly-once without per-fingerprint tombstone state
    * (spec-asserted, including the capped re-delivery case). A
    * plain `count` finisher would instead inflate n_shared on hot
    * fingerprints under re-delivery — don't use one.
    */
  def winnowMatchesStream(stream: DataFrame, n: Int = 3, w: Int = 4,
                          maxPosting: Int = 64)
      : org.apache.spark.sql.Dataset[FpMatch] = {
    val spark = stream.sparkSession
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    stream.select(col("doc_id"),
        graft.functions.WinnowGenerator.winnowed(col("text"), n, w).as("fp"))
      .as[(Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[FpPosting, FpMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (fp, rows, state) =>
          val seen = state.getOption.map(_.docIds).getOrElse(Seq.empty)
          // micro-batch iterators carry no order guarantee; ids sort
          // so same-batch arrivals pair deterministically (a < b)
          val arriving = rows.map(_._1).toSeq.distinct.sorted
            .filterNot(seen.contains)
          val known = scala.collection.mutable.ArrayBuffer.empty[Long]
          known ++= seen
          val matches = arriving.flatMap { b =>
            val ms = known.map(a => FpMatch(fp,
              math.min(a, b), math.max(a, b))).toSeq
            known += b
            ms
          }
          state.update(FpPosting(known.take(maxPosting).toSeq))
          matches.iterator
      }
  }
  /** One (user, type) key's last-seen event second. */
  case class LastSeen(sec: Long)

  /** One event's double-fire flag, emitted on arrival. */
  case class DupFlag(user_id: Long, event_type: String, event_id: Long,
                     sec: Long, is_dup: Int)

  /** Live double-fire flagging — the streaming twin of q204's
    * [[graft.operators.EventAnalytics.duplicateEventAudit]]: state is
    * ONE long per (user, type) key (the last raw event second), and
    * each arrival emits its is_dup verdict on the spot — flagged iff
    * it lands within `gapSeconds` of the previous RAW event of the
    * same key, exactly the batch lag-window predicate. The per-type
    * rate report is the identical batch tail (group by type, sum
    * flags), so stream-then-aggregate equals the batch audit on
    * in-order delivery (spec-asserted).
    *
    * State bound: O(1) per ACTIVE (user, type) key — the smallest
    * state of any twin in this file; at 100 TB the keys are the
    * active-user working set, not the event stream.
    */
  def duplicateFlagStream(stream: DataFrame, gapSeconds: Long = 60)
      : org.apache.spark.sql.Dataset[DupFlag] = {
    val spark = stream.sparkSession
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    stream.selectExpr("user_id", "event_type", "event_id",
        "unix_timestamp(ts) AS sec")
      .as[(Long, String, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[LastSeen, DupFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((uid, ty), rows, state) =>
          // (sec, event_id) sort = the batch window's order contract
          val evs = rows.toSeq.sortBy(r => (r._4, r._3))
          var last = state.getOption.map(_.sec)
          val out = evs.map { case (_, _, id, sec) =>
            val dup = last.exists(p => sec - p <= gapSeconds)
            last = Some(sec)
            DupFlag(uid, ty, id, sec, if (dup) 1 else 0)
          }
          state.update(LastSeen(last.get))
          out.iterator
      }
  }

  /** One canonical page's keeper doc id. */
  case class PageKeeper(keeper: Long)

  /** One arrival's mirror verdict, emitted on the spot. */
  case class MirrorFlag(doc_id: Long, host: String, page_key: String,
                        is_mirror: Int)

  /** Live mirror-page flagging — the streaming twin of q232's mirror
    * tier ([[graft.operators.UrlCuration.perHostCap]]'s first stage,
    * the [[graft.operators.UrlCuration.urlGateKeepers]] filter at an
    * unbounded cap): URL canonicalization is stateless per-row (the
    * identical codegen'd expressions via
    * [[graft.operators.UrlCuration.pageKeys]], so a crawl frontier is
    * deduped ON INGEST instead of in a nightly batch), and the keeper
    * decision is ONE long per canonical page — state keyed by
    * page_key, each arrival judged on the spot. Same-batch arrivals
    * sort by doc_id, so the min-doc keeper survives regardless of
    * iterator order; on in-doc-id-order delivery the stream's keeper
    * set equals the batch gate's exactly (spec-asserted).
    * Re-delivery of the keeper itself re-emits its (identical)
    * verdict; downstream keys on doc_id, the duplicateFlagStream
    * at-least-once discipline.
    *
    * The per-host CAP tier's md5-priority RANK deliberately has no
    * streaming twin: a priority rank over a host's full page set is a
    * batch decision by construction — a stream cannot know a page
    * loses its slot to a page that hasn't arrived. The streaming-
    * semantics counterpart is [[hostBudgetStream]] (first-come
    * admission, count-equivalent to the batch cap). Production order:
    * stream-dedup mirrors on ingest, cap per host in the batch gate.
    *
    * State bound: one long per DISTINCT canonical page — the page
    * working set, not the crawl volume (mirrors and re-fetches add
    * zero state).
    */
  def mirrorFlagStream(stream: DataFrame)
      : org.apache.spark.sql.Dataset[MirrorFlag] = {
    val spark = stream.sparkSession
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    graft.operators.UrlCuration.pageKeys(stream)
      .as[(Long, String, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[PageKeeper, MirrorFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (pk, rows, state) =>
          val arrivals = rows.toSeq.sortBy(_._1)
          var keeper = state.getOption.map(_.keeper)
          val out = arrivals.map { case (id, host, _) =>
            val mirror = keeper.exists(_ != id)
            if (keeper.isEmpty) keeper = Some(id)
            MirrorFlag(id, host, pk, if (mirror) 1 else 0)
          }
          state.update(PageKeeper(keeper.get))
          out.iterator
      }
  }

  /** One arrival's host-budget verdict, emitted on the spot. */
  case class HostAdmit(doc_id: Long, host: String, page_key: String,
                       admitted: Int)

  /** One host's admitted canonical pages (≤ cap by construction). */
  case class HostBudget(pages: Seq[String])

  /** Live per-host crawl-budget admission — the streaming twin of the
    * URL gate's CAP tier ([[graft.operators.UrlCuration.urlGateKeepers]]'
    * second stage), completing the curation family's twin set
    * ([[mirrorFlagStream]] covers the mirror tier): state is keyed by
    * host and holds the admitted canonical-page set; each arrival is
    * admitted iff its page is already admitted (a mirror/re-fetch of
    * an admitted page) or the host still has budget. This is what a
    * live crawl frontier actually enforces — you cannot rank by a
    * priority you haven't seen, you spend a budget as pages arrive.
    *
    * Equivalence to the batch gate is on COUNTS, not identities, and
    * is spec-asserted: admitted DISTINCT pages per host =
    * min(#pages, cap) = [[graft.operators.UrlCuration.perHostCap]]'s
    * n_kept — the admitted SET equals the batch keeper set only when
    * arrival order matches the md5 priority (the batch tier exists
    * precisely to impose a deterministic order on a full snapshot).
    *
    * State bound: ≤ `cap` page keys per host — HARD-bounded per key,
    * the strongest state contract in the streaming family (the crawl
    * volume never appears: mirrors and over-budget arrivals add zero
    * state). Re-delivery of an admitted page re-emits admitted = 1;
    * of a rejected page, admitted = 0 — idempotent per doc_id, the
    * [[mirrorFlagStream]] at-least-once discipline.
    */
  def hostBudgetStream(stream: DataFrame, cap: Int = 8)
      : org.apache.spark.sql.Dataset[HostAdmit] = {
    val spark = stream.sparkSession
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    graft.operators.UrlCuration.pageKeys(stream)
      .as[(Long, String, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[HostBudget, HostAdmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (host, rows, state) =>
          // same-batch arrivals sort by doc_id (the mirrorFlagStream
          // rule), so budget goes to the lowest doc ids regardless of
          // iterator order
          val arrivals = rows.toSeq.sortBy(_._1)
          var pages = state.getOption.map(_.pages).getOrElse(Seq.empty)
          val out = arrivals.map { case (id, _, pk) =>
            val resident = pages.contains(pk)
            val admit = resident || pages.size < cap
            if (!resident && admit) pages = pages :+ pk
            HostAdmit(id, host, pk, if (admit) 1 else 0)
          }
          state.update(HostBudget(pages))
          out.iterator
      }
  }

  /** One LSH bucket's retained arrivals: parallel (id, vector) seqs. */
  case class BucketVecs(ids: Seq[Long], vecs: Seq[Seq[Double]])

  /** One arrival's dedup verdict, emitted on the spot. */
  case class DedupVerdict(vec_id: Long, is_dup: Int, dup_of: Option[Long],
                          n_prior: Long)

  /** Streaming semantic dedup-on-ingest — the live twin of q202's
    * [[graft.operators.Dedup.semanticDedupPrefix]]: state is keyed by
    * SIGN-LSH BUCKET (the same partitioner the batch equi-join
    * shuffles on) and holds the bucket's retained (id, vector)
    * arrivals; each arriving vector is judged against the retained
    * prefix on the spot — is_dup, earliest prior match, prior-match
    * count — with the IDENTICAL fused cosine arithmetic as the batch
    * native expression, so stream verdicts equal the batch frame row
    * for row (spec-asserted).
    *
    * State bound: ≤ `maxPerBucket` vectors per bucket (the winnow
    * maxPosting discipline). A bucket past the cap stops ACCUMULATING
    * but keeps judging arrivals against the retained prefix — bounded
    * recall on the degenerate bucket for hard-bounded state; the cap
    * is off (Int.MaxValue) only in tests. Re-delivery of a RETAINED
    * id emits nothing; a capped-out id's re-delivery re-emits its
    * (identical) verdict — downstream consumers key on vec_id, so
    * at-least-once re-emission is absorbed by the natural primary
    * key, exactly the winnowMatchesStream countDistinct discipline.
    */
  def semanticDedupStream(stream: DataFrame, threshold: Double = 0.3,
                          maxPerBucket: Int = 256)
      : org.apache.spark.sql.Dataset[DedupVerdict] = {
    val spark = stream.sparkSession
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    stream.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        graft.operators.Similarity.lshBucketId(
          col("embedding").cast("array<double>")).as("bucket_id"))
      .as[(Long, Seq[Double], Int)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[BucketVecs, DedupVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state) =>
          val st = state.getOption.getOrElse(BucketVecs(Seq.empty, Seq.empty))
          val ids = scala.collection.mutable.ArrayBuffer(st.ids: _*)
          val vecs = scala.collection.mutable.ArrayBuffer(st.vecs: _*)
          // micro-batch iterators carry no order guarantee; vec_id
          // sort = the arrival-order contract the batch twin uses.
          // distinctBy collapses same-batch re-deliveries of one id
          // (else the second copy would be judged against a prefix
          // already holding its own vector — a wrong self-duplicate
          // verdict — and appended twice, inflating n_prior); the
          // in-loop ids.contains guard covers an id retained EARLIER
          // in this same batch under a different sort position.
          val arriving = rows.toSeq.sortBy(_._1).distinctBy(_._1)
            .filterNot(r => ids.contains(r._1))
          val out = arriving.flatMap { case (id, v, _) =>
            if (ids.contains(id)) None else Some {
            var dupOf = Option.empty[Long]
            var nPrior = 0L
            var j = 0
            while (j < ids.length) {
              // the batch native CosineSimilarity loop, verbatim
              val w = vecs(j)
              val n = math.min(v.length, w.length)
              var dot = 0.0; var na = 0.0; var nb = 0.0
              var i = 0
              while (i < n) {
                val xi = w(i); val yi = v(i)
                dot += xi * yi; na += xi * xi; nb += yi * yi
                i += 1
              }
              if (dot / (math.sqrt(na) * math.sqrt(nb)) >= threshold) {
                nPrior += 1L
                if (dupOf.isEmpty || ids(j) < dupOf.get) dupOf = Some(ids(j))
              }
              j += 1
            }
            if (ids.length < maxPerBucket) { ids += id; vecs += v }
            DedupVerdict(id, if (dupOf.isDefined) 1 else 0, dupOf, nPrior)
          } }
          state.update(BucketVecs(ids.toSeq, vecs.toSeq))
          out.iterator
      }
  }

  /** One arriving vector's decontamination score — the q255 queue's
    * per-document row, computed at ingest.
    */
  case class DecontamScore(vec_id: Long, max_c6: Long, eval_id: Long)

  /** The eval panel as the driver-side array
    * [[decontamScoreStream]] closes over: (eval_id, vector), sorted
    * by eval_id ascending (the batch argmax tie contract). Collecting
    * is deliberate and safe by decontamination's premise — eval
    * benchmarks are constant-size (10²–10⁴ items); this is metadata,
    * not data, the same argument as the batch side's broadcast.
    */
  def evalPanel(evalEmb: DataFrame): Array[(Long, Array[Double])] =
    evalEmb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** STREAMING semantic-decontamination scorer — the ingest-time twin
    * of the q255 per-document row ([[graft.operators.Similarity]]
    * `decontamQueue` before its global cut): each arriving embedding
    * is scored against the fixed eval panel and emits (vec_id, max_c6
    * at the q6 grid, arg-max eval_id with ties to the smallest id —
    * the batch tie contract). STATELESS — no groupState, no watermark:
    * the panel is a closure constant, the score is one map, so this
    * gate runs at ingest line rate and the downstream decides (route
    * hot rows to review, or feed the batch queue's rank cut).
    *
    * The per-pair arithmetic is the batch native CosineSimilarity
    * fused loop verbatim, then the identical floor(x·10⁶ + ½)
    * quantization — stream scores equal the batch frame row for row
    * (spec-asserted).
    */
  def decontamScoreStream(stream: DataFrame,
                          panel: Array[(Long, Array[Double])])
      : org.apache.spark.sql.Dataset[DecontamScore] = {
    require(panel.nonEmpty, "decontamScoreStream needs a non-empty eval panel")
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
      .map { case (id, vSeq) =>
        val v = vSeq.toArray
        var bestC6 = Long.MinValue
        var bestId = -1L
        var p = 0
        while (p < panel.length) {
          val (eid, ev) = panel(p)
          // the batch native CosineSimilarity loop, verbatim
          val n = math.min(v.length, ev.length)
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var i = 0
          while (i < n) {
            val xi = v(i); val yi = ev(i)
            dot += xi * yi; na += xi * xi; nb += yi * yi
            i += 1
          }
          val c6 = math.floor(
            dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5).toLong
          // strict > over the eval_id-ascending panel = ties keep the
          // smallest eval_id, the batch argmax contract
          if (c6 > bestC6) { bestC6 = c6; bestId = eid }
          p += 1
        }
        DecontamScore(id, bestC6, bestId)
      }
  }

  /** One arriving document's n-gram contamination row — q58's
    * [[graft.operators.TrainingData.evalDecontaminate]] output,
    * computed at ingest. Docs too short to shingle emit nothing (the
    * batch contract: absent from the output).
    */
  case class ContamScore(doc_id: Long, n_shingles: Long, n_overlap: Long,
                         contam_ratio: Double)

  /** The eval n-gram vocabulary [[contamScoreStream]] closes over —
    * the [[evalPanel]] argument transposed to the lexical level:
    * distinct `n`-token shingles of the eval corpus, collected once.
    * Constant-size by decontamination's premise (a benchmark suite's
    * total text is metadata next to the training stream).
    */
  def evalNgramVocab(evalDocs: DataFrame, n: Int = 3): Set[String] =
    graft.operators.Dedup.shingleDocs(evalDocs, n)
      .select("shingle").distinct()
      .collect().map(_.getString(0)).toSet

  /** STREAMING n-gram decontamination scorer — the ingest-time twin
    * of q58's per-document row, and [[decontamScoreStream]]'s lexical
    * complement (that gate sees paraphrase, this one sees verbatim):
    * each arriving document is shingled once and scored against the
    * fixed eval vocabulary, emitting (doc_id, distinct shingles,
    * overlapping shingles, round-4 contamination ratio). STATELESS —
    * the vocabulary is a closure constant, the score is one map, so
    * the gate runs at ingest line rate and downstream applies the
    * batch tier's `contam_ratio <= τ` cut.
    *
    * Tokenization is the native [[graft.functions.ShingleGenerator]]
    * contract verbatim (split on single space keeping empties, < n
    * tokens → no row) and the ratio is the batch round-half-up at 4
    * decimals — stream rows equal the batch frame row for row
    * (spec-asserted over shuffled micro-batches).
    */
  def contamScoreStream(stream: DataFrame, vocab: Set[String],
                        n: Int = 3)
      : org.apache.spark.sql.Dataset[ContamScore] = {
    require(vocab.nonEmpty, "contamScoreStream needs a non-empty eval vocabulary")
    require(n >= 1, "shingle width must be >= 1")
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null) Iterator.empty
        else {
          // ShingleGenerator.eval verbatim: split(" ", -1) keeps empty
          // tokens, windows of n joined with a single space
          val toks = text.split(" ", -1)
          if (toks.length < n) Iterator.empty
          else {
            val distinct = scala.collection.mutable.HashSet.empty[String]
            var i = 0
            while (i <= toks.length - n) {
              val sb = new java.lang.StringBuilder(toks(i))
              var k = 1
              while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
              distinct += sb.toString
              i += 1
            }
            var overlap = 0L
            distinct.foreach(s => if (vocab.contains(s)) overlap += 1)
            // the batch round(x, 4): HALF_UP on the double's exact
            // decimal expansion — identical in both engines
            val ratio = BigDecimal(overlap.toDouble / distinct.size)
              .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP)
              .toDouble
            Iterator.single(
              ContamScore(id, distinct.size.toLong, overlap, ratio))
          }
        }
      }
  }

  case class OpenPath(lastSec: Long, types: Seq[String], n: Long)

  /** A gap-closed session's journey, emitted downstream. */
  case class ClosedPath(user_id: Long, path: String, n_events: Long)

  /** Streaming session paths — the live twin of
    * [[graft.operators.EventAnalytics.topSessionPaths]]: per user,
    * the open session's first ≤ `maxLen` event types accumulate in
    * state (WHOLE-SECOND + event_id order, the batch tie contract);
    * a gap > `gapSeconds` closes the session and emits its
    * '>'-joined path append-mode. Downstream the emitted paths are a
    * plain streaming count — the top-k report materializes from the
    * same rows the batch operator aggregates, spec-asserted
    * equivalent across micro-batches.
    *
    * Scale contract: state is O(maxLen) strings per ACTIVE user —
    * the path cap is what makes journey state bounded where an
    * uncapped collect would hoard a bot's whole clickstream. Same
    * NoTimeout determinism note as [[sessionizeStream]].
    */
  def sessionPathsStream(stream: DataFrame, gapSeconds: Long = 1800,
                         maxLen: Int = 8)
      : org.apache.spark.sql.Dataset[ClosedPath] = {
    val spark = stream.sparkSession
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    stream.selectExpr("user_id", "unix_timestamp(ts) AS sec", "event_id",
        "event_type")
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenPath, ClosedPath](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          val evs = rows.map { case (_, sec, id, ty) => (sec, id, ty) }
            .toArray.sortBy(e => (e._1, e._2))
          val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedPath]
          var open = state.getOption
          evs.foreach { case (sec, _, ty) =>
            open match {
              case Some(s) if sec - s.lastSec <= gapSeconds =>
                open = Some(OpenPath(sec,
                  if (s.types.length < maxLen) s.types :+ ty else s.types,
                  s.n + 1))
              case Some(s) =>
                closed += ClosedPath(uid, s.types.mkString(">"), s.n)
                open = Some(OpenPath(sec, Seq(ty), 1))
              case None =>
                open = Some(OpenPath(sec, Seq(ty), 1))
            }
          }
          open.foreach(state.update)
          closed.iterator
      }
  }

  /** Running per-user totals carried across micro-batches. */
  case class UserActivity(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state via mapGroupsWithState — the arbitrary-state
    * tier above watermarked windows: state is an explicit (count, sum)
    * per user, updated per micro-batch, partitioned by key across
    * executors. Used with `OutputMode.Update` (each batch re-emits the
    * keys it touched). In production pair with a timeout
    * (`GroupStateTimeout.ProcessingTimeTimeout`) so idle keys are
    * evicted — the state-boundedness requirement at stream scale.
    */
  def runningUserTotals(stream: DataFrame): org.apache.spark.sql.Dataset[UserActivity] = {
    val spark = stream.sparkSession
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    stream.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), UserActivity](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var (n, total) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { case (_, v) => n += 1; total += v }
          state.update((n, total))
          UserActivity(uid, n, math.rint(total * 100) / 100)
      }
  }

  /** Epoch MICROseconds of a timestamp — the resolution Spark's
    * TimestampType carries, and therefore the resolution every batch
    * twin orders by. `getTime` alone is MILLIseconds: sorting state
    * updates by it would diverge from the batch operators on
    * same-millisecond events (the sub-ms part lives in `getNanos`).
    * Used by every stateful twin whose batch side orders by raw `ts`
    * (latest-per-key, transitions, funnel); the SCD2/sessionize twins
    * deliberately use the whole-second contract instead.
    */
  private def tsMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000

  /** The current latest event per key. */
  case class LatestEvent(user_id: Long, ts: java.sql.Timestamp,
                         event_id: Long, event_type: String,
                         value: Option[Double])

  /** Streaming CDC compaction — the live twin of
    * [[graft.operators.TrainingData.latestPerKey]] (q101): per-key
    * state is ONE row (the running latest by the same (ts, event_id)
    * ordering the batch max(struct) uses), updated per micro-batch
    * and re-emitted in Update mode, so a downstream sink always holds
    * the newest record per key — the CDC table pattern. State is
    * O(#live keys) × one row, the minimum any latest-per-key
    * materialization can hold; in production pair with a
    * ProcessingTimeTimeout to retire keys that stopped changing.
    * Batch ≡ stream equivalence is spec-asserted: after the last
    * batch, the per-key survivors match q101's exactly.
    */
  def latestPerKeyStream(stream: DataFrame)
      : org.apache.spark.sql.Dataset[LatestEvent] = {
    val spark = stream.sparkSession
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    stream.selectExpr("user_id", "ts", "event_id", "event_type", "value")
      .as[(Long, java.sql.Timestamp, Long, String, Option[Double])]
      .groupByKey(_._1)
      .mapGroupsWithState[LatestEvent, LatestEvent](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          val latest = (state.getOption.iterator ++
            rows.map(r => LatestEvent(uid, r._2, r._3, r._4, r._5)))
            .maxBy(e => (tsMicros(e.ts), e.event_id))
          state.update(latest)
          latest
      }
  }

  /** Compacted CDC entity state (see [[cdcStateStream]]). */
  case class CdcState(n_ops: Long, n_deletes: Long, sec: Long,
                      event_id: Long, op: String, cents: Long)
  case class CdcRow(user_id: Long, n_ops: Long, n_deletes: Long,
                    alive: Int, final_value: Option[Double])

  /** Live SCD1 compaction — the streaming twin of
    * [[graft.operators.EventAnalytics.cdcCompact]] (q214): per-user
    * state is O(1) — op/delete counters plus the current
    * last-writer (sec, event_id, op, cents) — and each micro-batch
    * re-emits the user's compacted row in Update mode, so a sink
    * table upserted by key always equals the batch MERGE over the
    * log so far.
    *
    * Stronger equivalence than the order-preconditioned twins
    * ([[ewmaLevelStream]], [[transitionsStream]]): last-writer is a
    * MAX over (sec, event_id) and the counters are sums — all
    * commutative — so batch≡stream holds under ANY arrival order,
    * not just per-key in-order delivery (spec-asserted on a shuffled
    * replay).
    */
  def cdcStateStream(stream: DataFrame)
      : org.apache.spark.sql.Dataset[CdcRow] = {
    val spark = stream.sparkSession
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    stream.selectExpr("user_id", "unix_timestamp(ts) AS sec", "event_id",
        "CASE event_type WHEN 'signup' THEN 'I' WHEN 'purchase' THEN 'U' " +
          "WHEN 'error' THEN 'D' END AS op",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
      .filter("op IS NOT NULL")
      .as[(Long, Long, Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[CdcState, CdcRow](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var s = state.getOption.getOrElse(CdcState(0L, 0L, Long.MinValue, Long.MinValue, "", 0L))
          rows.foreach { case (_, sec, eid, op, cents) =>
            val nd = s.n_deletes + (if (op == "D") 1 else 0)
            s = if (sec > s.sec || (sec == s.sec && eid > s.event_id))
              CdcState(s.n_ops + 1, nd, sec, eid, op, cents)
            else s.copy(n_ops = s.n_ops + 1, n_deletes = nd)
          }
          state.update(s)
          CdcRow(uid, s.n_ops, s.n_deletes, if (s.op == "D") 0 else 1,
            if (s.op == "D") None else Some(s.cents.toDouble / 1e2))
      }
  }

  /** The current smoothed level per user (see [[ewmaLevelStream]]). */
  case class UserEwma(user_id: Long, n_events: Long,
                      last_event_id: Long, ewma_value: Double)

  /** Streaming EWMA level — the live twin of
    * [[graft.operators.EventAnalytics.ewmaLastPerUser]] (q160): per-user
    * state is the ring buffer of the newest `lookback` (sec, event_id,
    * value) triples plus a count — O(k) per key, the exact memory the
    * bounded-lookback definition needs and no more. Each micro-batch
    * merges its rows in the (whole-second, event_id) contract order
    * and re-emits the user's smoothed level in Update mode, so a
    * downstream sink always holds the same number q160 would compute
    * over the events so far.
    *
    * Equivalence (spec-asserted) holds under the per-user event-time
    * order precondition shared with [[transitionsStream]] /
    * [[scdHistoryStream]] (in-batch arrival order is free; cross-batch
    * order per user must hold — Kafka key-partitioning gives exactly
    * this). The weight fold replays the batch operator's
    * left-associated chain over the SAME [[graft.operators.EventAnalytics.ewmaWeights]]
    * doubles, and rounding is BigDecimal HALF_UP — bit-for-bit the
    * Spark `round(_, 4)` the batch plan applies.
    */
  def ewmaLevelStream(stream: DataFrame, alpha: Double = 0.3,
                      lookback: Int = 8)
      : org.apache.spark.sql.Dataset[UserEwma] = {
    val spark = stream.sparkSession
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    val ws = graft.operators.EventAnalytics.ewmaWeights(alpha, lookback).toArray
    stream.selectExpr("user_id", "unix_timestamp(ts) AS sec",
        "event_id", "value")
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, List[(Long, Long, Double)]), UserEwma](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var (n, buf) = state.getOption.getOrElse((0L, List.empty[(Long, Long, Double)]))
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
            n += 1
            buf = ((r._2, r._3, r._4) :: buf).take(lookback) // newest-first
          }
          state.update((n, buf))
          var num = 0.0
          var den = 0.0
          var j = 0
          buf.foreach { case (_, _, v) =>           // j ascending = newest out
            num += v * ws(j); den += ws(j); j += 1  // — the batch chain order
          }
          val ewma = BigDecimal(num / den)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          UserEwma(uid, n, buf.head._2, ewma)
      }
  }

  /** A CLOSED SCD2 validity interval (the open one lives in state). */
  case class ScdInterval(user_id: Long, version: Int, state: String,
                         valid_from_sec: Long, valid_to_sec: Long)

  /** Streaming SCD Type-2 history — the live twin of
    * [[graft.operators.EventAnalytics.scdHistory]] (q153): per-user
    * state is the OPEN interval (current state, its valid_from, its
    * version); an arriving event that changes the state CLOSES the
    * open interval (emitted, append mode) and opens the next one. A
    * no-op repeat compacts away exactly like the batch lag-filter.
    * Emission is closed-intervals-only, so the output stream is
    * immutable history a sink can append blindly; the batch
    * operator's one `is_current` row per user is precisely the state
    * store's content at any moment. Equivalence (spec-asserted):
    * stream emissions ≡ batch scdHistory minus its open rows, under
    * the per-user event-time order precondition shared with
    * [[transitionsStream]]. State is three fields per active user;
    * whole-second times keep the q131 engine-neutral tie order.
    */
  def scdHistoryStream(stream: DataFrame)
      : org.apache.spark.sql.Dataset[ScdInterval] = {
    val spark = stream.sparkSession
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    stream.selectExpr("user_id", "ts", "event_id", "event_type")
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(String, Long, Int), ScdInterval](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          val sorted = rows.toArray.sortBy(r => (r._2.getTime / 1000, r._3))
          val out = scala.collection.mutable.ArrayBuffer.empty[ScdInterval]
          var cur = state.getOption // (state, valid_from_sec, version)
          sorted.foreach { case (_, t, _, ty) =>
            val sec = t.getTime / 1000
            cur match {
              case Some((st, from, ver)) if st != ty =>
                out += ScdInterval(uid, ver, st, from, sec)
                cur = Some((ty, sec, ver + 1))
              case None =>
                cur = Some((ty, sec, 1))
              case _ => () // same state: the no-op-update compaction
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** One consecutive-pair emission per arriving event. */
  case class Transition(user_id: Long, from_type: String, to_type: String)

  /** Streaming event-type transitions — the live twin of
    * [[graft.operators.EventAnalytics.eventTransitions]] (q116):
    * per-user state is the single last-seen event (ts, event_id,
    * type), and each arriving event emits one (from, to) pair against
    * it, ordered inside a micro-batch by the same (ts, event_id) key
    * the batch lead() uses. Downstream, the pair stream feeds any
    * windowed/total count — the matrix itself is a plain streaming
    * aggregation over this append-mode output.
    *
    * State is O(1) per active user. Same cross-batch caveat as
    * [[sessionizeStream]]: equivalence with the batch operator needs
    * per-user event-time order across micro-batches (true for replay
    * and for ordered transports); in production add an event-time
    * timeout to retire idle users.
    */
  def transitionsStream(stream: DataFrame)
      : org.apache.spark.sql.Dataset[Transition] = {
    val spark = stream.sparkSession
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    stream.selectExpr("user_id", "ts", "event_id", "event_type")
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, String), Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          val sorted = rows.toArray.sortBy(r => (tsMicros(r._2), r._3))
          val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
          var last = state.getOption // (ts micros, event_id, type)
          sorted.foreach { case (_, t, id, ty) =>
            last.foreach { case (_, _, prev) => out += Transition(uid, prev, ty) }
            last = Some((tsMicros(t), id, ty))
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** A user's current funnel progress: how many steps reached. */
  case class FunnelProgress(user_id: Long, stage: Int)

  /** Streaming funnel progress — the live twin of
    * [[graft.operators.EventAnalytics.funnel]] (q114): per-user state
    * is (stage, time the stage was reached), advanced greedily as
    * events arrive. Under per-user event-time order (the documented
    * equivalence precondition shared with [[sessionizeStream]]),
    * greedy matching IS the batch min-time chain: the first step-1
    * event is min(t1), the first step-2 event strictly after it is
    * min(t2 > t1), and so on — including the strict-inequality rule
    * (a tie on the reach time does not advance). Emits the user's
    * current stage per micro-batch in Update mode; "users at step k"
    * is a plain count over the latest emission per user. State is two
    * fields per active user.
    */
  def funnelStream(stream: DataFrame,
                   steps: Seq[String] = Seq("view", "click", "purchase"))
      : org.apache.spark.sql.Dataset[FunnelProgress] = {
    val spark = stream.sparkSession
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    stream.selectExpr("user_id", "ts", "event_id", "event_type")
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Int, Long), FunnelProgress](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var (stage, tk) = state.getOption.getOrElse((0, Long.MinValue))
          rows.toArray.sortBy(r => (tsMicros(r._2), r._3)).foreach { case (_, t, _, ty) =>
            if (stage < steps.length && ty == steps(stage) &&
                (stage == 0 || tsMicros(t) > tk)) {
              stage += 1
              tk = tsMicros(t)
            }
          }
          state.update((stage, tk))
          FunnelProgress(uid, stage)
      }
  }
}
