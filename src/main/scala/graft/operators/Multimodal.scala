package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media payloads as opaque `binary`
  * columns with typed metadata, plus a decode / feature-extract /
  * frame-sample stage over mapPartitions.
  *
  * The image/audio codec libraries are not in this container, so the
  * DECODE STEP IS A DETERMINISTIC STUB (clearly marked below) — but
  * everything Spark-side is real and tested: the binary encoding, the
  * metadata schema, the batch shape of the partition-wise decoder,
  * and the partitioning story (decode is a narrow per-partition map —
  * no shuffle; at 100 TB you size `maxPartitionBytes` so one
  * partition's payloads fit the executor decode buffer).
  */
object Multimodal {

  /** Typed metadata row produced by the decode stage. */
  case class MediaFeature(doc_id: Long, n_bytes: Int, width: Int, height: Int,
                          mean_byte: Double, format: String)

  /** Binary metadata extraction — payload as binary + checksum + byte
    * length, all codegen'd built-ins. The `stub_width` column stands
    * in for a decoded dimension (deterministic fake).
    */
  def binaryMeta(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(
        col("doc_id"),
        length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("checksum"),
        lit("utf-8").as("format"),
        (length(col("payload")) % 64).as("stub_width"))
      .orderBy("doc_id")

  /** Perceptual average-hash (aHash) over a binary payload — the
    * image-near-dup signature, computed from the DOWNSAMPLE-BY-
    * SAMPLING stand-in for a real decode (`k` bytes evenly spaced
    * across the payload play the 8×8 grayscale thumbnail; with a
    * codec library the same pipeline runs on real pixels — the
    * signature/join machinery is identical). Bit i is set iff sample
    * i is strictly above the payload mean, compared as EXACT integers
    * (k·gᵢ > Σg — no division ever happens), so the whole hash is
    * engine-parity by construction. k = 48 keeps the signature inside
    * a positive BIGINT (bit 63 would overflow ANSI long arithmetic).
    *
    * Everything is codegen'd built-ins over the hex string — a narrow
    * per-row transform, no shuffle, no UDF.
    */
  def imageAHash(docs: DataFrame, k: Int = 48): DataFrame =
    ahashSignatures(docs, k).orderBy("doc_id")

  /** [[imageAHash]] without the presentation sort — the frame the
    * pair join persists (caching a global Sort would pay a full
    * range-exchange for an ordering the banded join immediately
    * destroys). */
  private def ahashSignatures(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 8 && k <= 62, "signature must fit a positive BIGINT")
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .selectExpr("doc_id", "CAST(length(payload) AS BIGINT) AS n_bytes",
        "upper(hex(payload)) AS hx")
      .filter(col("n_bytes") >= 1)
      .selectExpr("doc_id", "n_bytes",
        s"transform(sequence(0, ${k - 1}), i -> " +
          s"CAST(conv(substring(hx, CAST(2 * (1 + i * n_bytes DIV $k) - 1 AS INT), 2), 16, 10) AS BIGINT)) AS g")
      .selectExpr("doc_id", "n_bytes", "g",
        "aggregate(g, CAST(0 AS BIGINT), (a, x) -> a + x) AS s")
      .selectExpr("doc_id", "n_bytes",
        s"aggregate(sequence(0, ${k - 1}), CAST(0 AS BIGINT), (a, i) -> " +
          s"a + CASE WHEN $k * element_at(g, i + 1) > s " +
          "THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END) AS ahash")
  }

  // ---- materialized aHash signature frame ------------------------------

  /** Content-addressed home of one corpus' materialized 48-bit aHash
    * signature frame ([[graft.engine.ContentAddress]]) — the token-tf
    * discipline applied to the perceptual-hash family: q210/q211/q248
    * all start from exactly this (doc_id, n_bytes, ahash) frame, and
    * the hex/conv sampling expression is the only per-byte cost the
    * family pays. Types are (BIGINT, BIGINT, BIGINT) — exact parquet
    * roundtrip.
    */
  def ahashDir(spark: org.apache.spark.sql.SparkSession, dataPath: String,
               base: String): String =
    // b48 bakes the signature width into the address (the cascadeDir
    // convention) — a width change re-addresses rather than serving
    // stale 48-bit frames
    graft.engine.ContentAddress.dirFor(spark, dataPath, base, "ah_b48_",
      "ahashDir", legacyPrefixes = Seq("ah_"))

  /** Build the materialized signature frame under `dir/sig` iff
    * missing ([[graft.engine.ContentAddress.commitOnce]]).
    */
  def prebuildAhashSignatures(docs: DataFrame, dir: String): Boolean =
    graft.engine.ContentAddress.commitOnce(docs.sparkSession, s"$dir/sig")(
      ahashSignatures(docs, 48))

  /** The materialized signature frame, built on first touch. */
  def ahashSignaturesCached(docs: DataFrame, dir: String): DataFrame = {
    prebuildAhashSignatures(docs, dir)
    docs.sparkSession.read.parquet(s"$dir/sig")
  }

  /** [[imageAHash]] served from the materialized signature frame
    * (spec-asserted ≡ self-computing).
    */
  def imageAHashCached(docs: DataFrame, dir: String): DataFrame =
    ahashSignaturesCached(docs, dir).orderBy("doc_id")

  /** [[ahashPairs]] served from the materialized signature frame:
    * block/verify scans hit an already-hashed narrow parquet, never
    * the payload bytes (spec-asserted ≡ self-computing).
    */
  def ahashPairsCached(docs: DataFrame, dir: String,
                       maxHamming: Int = 4): DataFrame =
    ahashPairsFrom(ahashSignaturesCached(docs, dir), maxHamming)

  /** [[ahashHotBlocks]] served from the materialized signature frame
    * (spec-asserted ≡ self-computing).
    */
  def ahashHotBlocksCached(docs: DataFrame, dir: String,
                           topK: Int = 20): DataFrame =
    ahashHotBlocksFrom(ahashSignaturesCached(docs, dir), topK)

  /** aHash near-dup pairs WITHOUT an all-pairs comparison — the
    * [[graft.operators.Dedup.simhashPairs]] pigeonhole discipline on
    * the 48-bit signature: 6 byte blocks, so two hashes within
    * `maxHamming` ≤ 5 flips must agree on at least one whole block
    * (5 flips touch at most 5 of 6), and candidate generation is an
    * exact-recall equi-join on (block, value); verification is one
    * codegen'd bit_count(xor) per candidate. This is image near-dup
    * at corpus scale: work ∝ block collisions, never n².
    */
  def ahashPairs(docs: DataFrame, maxHamming: Int = 4): DataFrame =
    ahashPairsFrom(
      ahashSignatures(docs, 48)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      maxHamming)

  private def ahashPairsFrom(sig: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 5,
      "6-block pigeonhole banding guarantees full recall only for maxHamming <= 5")
    // r18 (guide §2.3/§3): the signature IS 8 bytes, so carry it
    // through the banding join and verify IN PLACE — the old shape
    // deduplicated the multi-block candidate fan-out first and then
    // joined the signature frame twice to fetch back the very hashes
    // the banding row started from (two extra shuffles of the
    // candidate set). Now one bit_count per collision row, the
    // ≤ maxHamming filter prunes the fan-out BEFORE the pair
    // distinct, and the two back-joins are gone. A pair colliding in
    // several blocks computes the identical hamming each time, so
    // the distinct yields exactly the old rows.
    val blocks = (0 until 6).map(b =>
        sig.select(col("doc_id"), col("ahash"), lit(b).as("blk"),
          shiftright(col("ahash"), b * 8).bitwiseAND(lit(255L)).as("bv")))
      .reduce(_.unionByName(_))
    blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("CAST(bit_count(a.ahash ^ b.ahash) AS INT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** q248: hot-block audit for the aHash pair family — the q105→q108
    * find-then-fix discipline applied to [[ahashPairs]]' candidate
    * generator (the corpus' heaviest pair join): per (block, value)
    * posting list, the `topK` largest by size, with each bucket's
    * n(n−1)/2 candidate-pair contribution and its basis-point share
    * of the family's TOTAL candidate volume. A degenerate block value
    * (the all-zero-byte payload — this family's stopword-bucket
    * analogue) dominates this report BEFORE it dominates a shuffle:
    * the number that decides whether the family needs a hot-bucket
    * cap (the [[graft.operators.Dedup.nearDupPairs]] maxBucketSize
    * lever) at the next scale-up.
    *
    * Exactness: counts, pair counts, and the bp share are integer
    * arithmetic end to end (nullif-guarded total). Scale: one grouped
    * count over the 6-row-per-doc block projection; the share window
    * runs over the ≤ 6·256-row bucket AGGREGATE; top-k is
    * TakeOrdered. Nothing here is ever data-volume-sized.
    */
  def ahashHotBlocks(docs: DataFrame, topK: Int = 20): DataFrame =
    ahashHotBlocksFrom(ahashSignatures(docs, 48), topK)

  private def ahashHotBlocksFrom(sig: DataFrame, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE signature pass: the 6 block values ride a posexplode off a
    // single computed hash ([[ahashPairs]] pays the union shape only
    // because it must persist the signature for the verify join
    // anyway; here nothing is persisted, so a 6-way union would
    // recompute the hash expression six times)
    val blocks = sig.select(col("doc_id"),
        posexplode(array((0 until 6).map(b =>
          shiftright(col("ahash"), b * 8).bitwiseAND(lit(255L))): _*)))
      .select(col("pos").cast("int").as("blk"), col("col").as("bv"))
    val w = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    blocks.groupBy("blk", "bv")
      .agg(count(lit(1)).cast("bigint").as("n_docs"))
      .withColumn("n_cand",
        expr("CAST((n_docs * (n_docs - 1)) div 2 AS BIGINT)"))
      .withColumn("tot", sum("n_cand").over(w).cast("long"))
      .selectExpr("blk", "bv", "n_docs", "n_cand",
        "CAST((n_cand * 10000) div nullif(tot, 0) AS BIGINT) AS cand_share_bp")
      .orderBy(col("n_cand").desc, col("blk"), col("bv"))
      .limit(topK)
  }

  /** REAL header decode — no codec library needed, because container
    * formats carry their dimensions in fixed-offset header bytes:
    * PNG's IHDR stores width/height as big-endian u32 at bytes 17-24,
    * GIF's logical screen descriptor as little-endian u16 at bytes
    * 7-10; JPEG is magic-detected (its dimensions live in variable
    * SOF segments — a full scan belongs in [[decodeFeatures]]'s
    * partition-wise decoder). Everything here is codegen'd built-ins
    * (`substring`/`hex`/`conv`) over the binary column — a narrow
    * per-row transform, no UDF, no shuffle.
    */
  def imageHeaderMeta(df: DataFrame, binCol: String = "payload"): DataFrame = {
    val b = col(binCol)
    def beU32(pos: Int) = conv(hex(substring(b, pos, 4)), 16, 10).cast("int")
    def leU16(pos: Int) =
      (conv(hex(substring(b, pos, 1)), 16, 10) +
        conv(hex(substring(b, pos + 1, 1)), 16, 10) * 256).cast("int")
    val isPng  = upper(hex(substring(b, 1, 8))) === lit("89504E470D0A1A0A")
    val isJpeg = upper(hex(substring(b, 1, 3))) === lit("FFD8FF")
    val isGif  = upper(hex(substring(b, 1, 4))) === lit("47494638")
    df.withColumn("format",
        when(isPng, "png").when(isJpeg, "jpeg").when(isGif, "gif").otherwise("unknown"))
      .withColumn("width",  when(isPng, beU32(17)).when(isGif, leU16(7)))
      .withColumn("height", when(isPng, beU32(21)).when(isGif, leU16(9)))
  }

  /** REAL audio header decode, same technique as [[imageHeaderMeta]]:
    * a canonical PCM WAV file is RIFF("RIFF" at 1-4, "WAVE" at 9-12)
    * with the fmt chunk immediately following ("fmt " at 13-16), so
    * channels (LE u16 @ 23), sample rate (LE u32 @ 25) and bits per
    * sample (LE u16 @ 35) sit at fixed offsets — all extractable with
    * codegen'd `substring`/`hex`/`conv`, no codec, no UDF, narrow
    * per-row transform. Files with re-ordered chunks (rare) fall
    * through as nulls and belong to [[decodeFeatures]]'s
    * partition-wise decoder.
    */
  def audioHeaderMeta(df: DataFrame, binCol: String = "payload"): DataFrame = {
    val b = col(binCol)
    def byteAt(pos: Int) = conv(hex(substring(b, pos, 1)), 16, 10)
    def leU16(pos: Int) = (byteAt(pos) + byteAt(pos + 1) * 256).cast("int")
    def leU32(pos: Int) = (byteAt(pos) + byteAt(pos + 1) * 256 +
      byteAt(pos + 2) * 65536 + byteAt(pos + 3) * 16777216).cast("long")
    val isWav = upper(hex(substring(b, 1, 4))) === lit("52494646") &&
      upper(hex(substring(b, 9, 8))) === lit("57415645666D7420")
    df.withColumn("audio_format", when(isWav, "wav").otherwise("unknown"))
      .withColumn("channels", when(isWav, leU16(23)))
      .withColumn("sample_rate", when(isWav, leU32(25)))
      .withColumn("bits_per_sample", when(isWav, leU16(35)))
  }

  /** STUB: "decode" a media payload. A real deployment calls an image
    * or audio codec here; this container has none, so dimensions and
    * the mean byte are derived deterministically from the bytes
    * themselves. The mapPartitions batch shape (decoder initialized
    * once per partition, rows streamed through) is the real,
    * production-correct part.
    */
  def decodeFeatures(spark: SparkSession, docs: DataFrame): Dataset[MediaFeature] = {
    import spark.implicits._
    val payloads = docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
    payloads.mapPartitions { it =>
      // per-partition init would live here (codec handles, buffers)
      it.map { case (id, bytes) =>
        val meanByte =
          if (bytes.isEmpty) 0.0
          else bytes.map(b => (b & 0xff).toDouble).sum / bytes.length
        MediaFeature(id, bytes.length,
          width = bytes.length % 64, height = (bytes.length / 64) % 64,
          mean_byte = math.rint(meanByte * 10000) / 10000, format = "stub")
      }
    }
  }

  /** Resize stand-in: subsample every `factor`-th byte of the payload
    * (a decoded image's nearest-neighbor downscale has exactly this
    * strided-read shape). Narrow transform, codegen'd filter over
    * posexploded bytes kept as a generator — no shuffle.
    */
  def resizePayload(docs: DataFrame, factor: Int = 4): DataFrame =
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        length(col("payload")).as("n_bytes_in"),
        size(expr(
          s"transform(sequence(1, length(payload), $factor), i -> substring(payload, i, 1))"))
          .as("n_bytes_out"))
      .orderBy("doc_id")

  /** Frame sampling: keep every `stride`-th fixed-size chunk of the
    * payload (a video keyframe-sampling stand-in). posexplode keeps it
    * a generator — no driver collect, no shuffle.
    */
  def sampleFrames(docs: DataFrame, frameBytes: Int = 32, stride: Int = 4): DataFrame =
    // generate ONLY the kept frames (stride-stepped sequence) instead
    // of generating every frame and filtering: 1/stride the substring
    // copies and generator rows; frame_idx = pos·stride reproduces
    // the original indices exactly
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, greatest(int(length(payload) / $frameBytes) - 1, 0), $stride)," +
          s" i -> substring(payload, i * $frameBytes + 1, $frameBytes))")))
      .select(col("doc_id"), (col("pos") * stride).as("frame_idx"),
        length(col("col")).as("frame_bytes"))
      .orderBy("doc_id", "frame_idx")

  /** q239: video keyframe near-dup — the multimodal family's pair
    * tier, closing the video story the way q211 closed images: the
    * [[sampleFrames]] keyframes each get a CONTENT fingerprint
    * (md5 of the frame bytes — a real system swaps in the q210
    * perceptual aHash per decoded frame; the md5 stands in because
    * the container has no codecs, and the JOIN SHAPE is identical),
    * and two payloads are near-dups when they share ≥ `minShared`
    * distinct keyframe fingerprints — re-encodes, re-containerings,
    * and partial copies of one video collide on content, not on the
    * file hash.
    *
    * Scale (the q102/q176 inverted-index shape): only co-occurring
    * fingerprints pair, and a hot frame (black/intro frames — the
    * video analogue of a stopword bucket) is capped to its
    * `maxPosting` lowest doc ids by the [[graft.plans.TopKPerKey]]
    * heap BEFORE the self-join, so no fingerprint can go quadratic.
    * Never all-pairs on payloads.
    */
  def videoNearDups(docs: DataFrame, frameBytes: Int = 32, stride: Int = 4,
                    minShared: Int = 2, maxPosting: Int = 64): DataFrame = {
    // kept frames generated directly (stride-stepped sequence — the
    // sampleFrames rewrite) and fingerprinted straight off the frame
    // BYTES: the old md5(hex(frame)) doubled every frame through a
    // hex string first, and fp values never surface — only fp
    // EQUALITY does (posting groups + the pair join), which any
    // injective fingerprint preserves, so the emitted pairs are
    // row-identical.
    val frames = docs
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(0, greatest(int(length(payload) / $frameBytes) - 1, 0), $stride)," +
          s" i -> substring(payload, i * $frameBytes + 1, $frameBytes))")).as("frame"))
      .select(col("doc_id"), md5(col("frame")).as("fp"))
      .dropDuplicates("doc_id", "fp")
    val capped = graft.plans.TopK.perKey(
      frames, Seq("fp"), Seq(col("doc_id").asc), maxPosting)
    capped.as("a")
      .join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("id_a", "id_b")
  }
}
