package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON / struct layer + the reference's valid/invalid
  * routing graph (SURVEY.md §2.9 X7-X9, §2.11 T2;
  * reference: infrastructure/stream_inference.py:62-148).
  *
  * The exact same DataFrame graph runs in batch (oracle-checked here)
  * and on a stream ([[graft.streaming.StreamPipeline]] wires it to
  * readStream) — Structured Streaming's core promise, and the reason
  * the reference's Kafka micro-service needs no separate engine.
  */
object JsonRouting {

  /** Payload schema for events.props — fixed/declared, never inferred,
    * exactly like the reference's request schema
    * (stream_inference.py:28-42). from_json null-fills on mismatch,
    * which is what drives the sentinel route.
    */
  val propsSchema: StructType = new StructType().add("k", IntegerType, nullable = true)

  /** X7+X8+X9+P7: parse a JSON string column, flatten a nested field
    * via dotted path, re-encode an envelope with to_json(struct(...))
    * (stream_inference.py:65-78 and :132-148).
    */
  def jsonRoundTrip(ev: DataFrame): DataFrame =
    ev.withColumn("parsed", from_json(col("props"), propsSchema))
      .select(col("event_id"), col("parsed.k").as("k"))
      .withColumn("payload_json", to_json(struct(col("event_id"), col("k"))))
      .orderBy("event_id")

  /** T2+F4+F5+X6+U2: the validity routing graph. A deterministic
    * tenth of the rows get a corrupted payload (standing in for the
    * broken/missing/wrong-type Kafka messages of
    * test_stream_interfaces.py:34-85); from_json null-fills those, and
    * the AND-folded validity flag sends them to the sentinel
    * (prediction = -1, stream_inference.py:112-126).
    *
    * The reference's valid and invalid branches (split, then union)
    * map onto one CASE projection over the flagged rows — the same
    * CASE the q24/q25 oracle twins compute. `is_valid` is an AND of
    * `isNotNull` checks, so it is never null and every row takes
    * exactly one of the two routes. A single projection parses each
    * payload once, runs one task per source partition, and lets a
    * streaming sink write one file per partition per epoch; a union
    * would rescan and reparse the source once per branch and double
    * the partitions.
    *
    * `ordered = false` for streaming frames — global sort is illegal on
    * an unbounded stream (and meaningless: order is per-micro-batch).
    */
  def validityRouting(ev: DataFrame, ordered: Boolean = true): DataFrame = {
    val corrupted = ev.withColumn("raw",
      when(col("event_id") % 10 === 0, lit("not-json")).otherwise(col("props")))
    val parsed = corrupted.withColumn("data", from_json(col("raw"), propsSchema))
    val checks = Seq(col("data").isNotNull, col("data.k").isNotNull, col("value").isNotNull)
    val flagged = parsed.withColumn("is_valid", checks.reduce(_ && _))
    val valid = col("is_valid")
    val routed = flagged.select(col("event_id"),
      when(valid, col("data.k")).otherwise(-1).as("k"),
      when(valid, col("data.k") % 2).otherwise(-1).as("prediction"))
    if (ordered) routed.orderBy("event_id") else routed
  }

  /** The full response-envelope shape of stream_inference.py:132-148:
    * routed rows re-wrapped as a nested JSON envelope
    * {event_id, status, result:{k, prediction}}. Built on the one-pass
    * [[validityRouting]] projection, so the whole envelope is a single
    * narrow plan: one JSON parse and one task per source partition.
    */
  def responseEnvelope(ev: DataFrame, ordered: Boolean = true): DataFrame = {
    val env = validityRouting(ev, ordered = false)
      .withColumn("status", when(col("prediction") >= 0, lit("success")).otherwise(lit("error")))
      .withColumn("response_json",
        to_json(struct(col("event_id"), col("status"),
          struct(col("k"), col("prediction")).as("result"))))
      .select("event_id", "status", "response_json")
    if (ordered) env.orderBy("event_id") else env
  }

  /** Schemaless JSON property mining: parse `props` as an OPEN
    * `MapType(string, string)` — the schema-on-read complement of
    * [[propsSchema]]'s fixed struct, for the production reality where
    * producers attach arbitrary keys — explode the map, and profile
    * every (event_type, key): occurrence count, how many values are
    * numeric (`try_cast`), and the numeric min/max. The discovery
    * query that tells a pipeline owner which properties exist and
    * whether they can be promoted to typed columns.
    *
    * Raw string values are deliberately NOT emitted: engines disagree
    * on JSON string-value quoting at extraction, but numeric parses
    * and counts agree exactly. Malformed JSON → null map → explode
    * drops the row (the oracle filters json_valid — the same set).
    *
    * Scale: per-row parse + explode (map-side; fan-out = #keys per
    * event), then ONE partial-aggregated (type, key) pass — output
    * bounded by the property vocabulary, never event volume.
    */
  def propsProfile(ev: DataFrame): DataFrame =
    profileFromLong(propsLong(ev))

  // ───────────── materialized parsed-props frame (q173/q222) ─────────────

  /** The parsed-props LONG frame: one row per (event, JSON property),
    * carrying everything either props consumer downstream needs —
    * event_type, the epoch-day of the event, the property key, and
    * its RAW string value. This is the frame worth materializing once
    * per corpus snapshot: JSON parsing is the only per-row cost the
    * props family pays twice (q173 profiles it, q222 trends on it),
    * and at 100 TB nobody re-parses an open JSON column per
    * analytical question — the long frame IS the production
    * "promote the payload to a table" step. Malformed JSON → null map
    * → explode drops the row (both consumers' oracle semantics).
    */
  def propsLong(ev: DataFrame): DataFrame =
    ev.select(col("event_type"),
        (unix_timestamp(date_trunc("day", col("ts"))) / 86400L)
          .cast("bigint").as("d"),
        explode(from_json(col("props"), MapType(StringType, StringType))))
      .select(col("event_type"), col("d"), col("key").as("prop_key"),
        col("value"))

  /** [[propsProfile]] from an (already parsed) long frame. */
  private[graft] def profileFromLong(kv: DataFrame): DataFrame =
    kv.select(col("event_type"), col("prop_key"),
        expr("try_cast(value AS DOUBLE)").as("num"))
      .groupBy("event_type", "prop_key")
      .agg(count(lit(1)).as("n"),
        sum(col("num").isNotNull.cast("long")).as("n_numeric"),
        min(col("num")).as("min_num"),
        max(col("num")).as("max_num"))
      .orderBy("event_type", "prop_key")

  /** Content-addressed home of one event table's materialized
    * [[propsLong]] frame — the IVF/cascade discipline
    * ([[graft.engine.ContentAddress]]): the address hashes the event
    * files' (path, size, mtime), so a changed table can never serve a
    * stale parse.
    */
  def propsDir(spark: org.apache.spark.sql.SparkSession, dataPath: String,
               base: String): String =
    graft.engine.ContentAddress.dirFor(spark, dataPath, base, "props_",
      "propsDir")

  /** Build the materialized [[propsLong]] frame under `dir/kv` iff
    * missing ([[graft.engine.ContentAddress.commitOnce]]), so a
    * bench/deploy warm-up can account the one-off cost separately from
    * probe measurements.
    */
  def prebuildPropsLong(ev: DataFrame, dir: String): Boolean =
    graft.engine.ContentAddress.commitOnce(ev.sparkSession, s"$dir/kv")(propsLong(ev))

  /** The materialized [[propsLong]] frame, built on first touch. */
  def propsLongCached(ev: DataFrame, dir: String): DataFrame = {
    prebuildPropsLong(ev, dir)
    ev.sparkSession.read.parquet(s"$dir/kv")
  }

  /** [[propsProfile]] served from the materialized long frame: the
    * probe is one groupBy over an already-parsed narrow parquet scan —
    * no JSON parse, no timestamp work. Results are spec-asserted
    * identical to self-computing (the parquet roundtrip is exact:
    * strings and BIGINTs only).
    */
  def propsProfileCached(ev: DataFrame, dir: String): DataFrame =
    profileFromLong(propsLongCached(ev, dir))
}
