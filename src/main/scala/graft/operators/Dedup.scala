package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.ContentAddress

/** Deduplication family for LLM-training-data pipelines:
  *
  *  - exact dedup           → hash groupBy on the raw text
  *  - fingerprint dedup     → groupBy on a normalized md5 ([[TextAnalysis.fingerprints]])
  *  - MinHash + LSH banding → shingle → per-band min-hash → bucket
  *                            equi-join (NEVER an all-pairs cross
  *                            join: candidate generation is a hash
  *                            join on (band, minhash), so work scales
  *                            with bucket collisions, not n²)
  *  - n-gram Jaccard verify → exact similarity on LSH candidates only
  *  - SimHash               → 32-bit bit-vote signature, Hamming-style
  *                            near-dup key
  *
  * The md5-derived hashing is deliberately engine-neutral (md5 of the
  * same string is identical everywhere), which makes even the MinHash
  * signatures and LSH candidate pairs DuckDB-oracle-checkable — the
  * whole cascade is verified end-to-end, not just "runs".
  */
object Dedup {

  /** Exact dedup: one hash aggregate on the text, keeping the lowest
    * doc_id as the canonical representative. Map-side partial
    * aggregation means the shuffle carries one row per distinct text.
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy("text")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_dups"))
      .orderBy("keeper_id")

  /** Keeper ids of the exact-dedup canonical step: min doc_id per
    * distinct text, grouped by md5(text) (r19, guide §2.3 "shuffle
    * keys instead of payloads"): the aggregate's exchange and hash
    * map carry a 32-char fingerprint instead of the document — at
    * 100 TB the difference between shuffling fingerprints and
    * shuffling the corpus — and the canonical (doc_id, text) rows
    * come back through a doc_id semi-join that broadcasts at test
    * SFs. Same oracle-backed collision argument as every md5
    * fingerprint in this file: the oracles group by RAW text, so a
    * collision would be caught as a hash mismatch, never absorbed.
    */
  private[operators] def exactKeeperIds(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("tk"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")

  /** Shingle stream: one row per (doc_id, n-token shingle). Documents
    * shorter than n tokens drop out (consistent with the oracle's
    * WHERE len >= n). Duplicate shingles are kept — min() is
    * insensitive to multiplicity, and skipping the distinct saves a
    * shuffle.
    *
    * Runs on the native [[graft.functions.ShingleGenerator]] UDTF:
    * ~1.6× faster than the composable split→transform→explode form
    * (measured under the cascade's distinct-shingle aggregate — the
    * generator emits shingles lazily from the token array instead of
    * materializing the full shingle array per document), with the
    * identical output multiset (PipelineOpsSpec asserts it, and every
    * downstream oracle hash is unchanged).
    */
  def shingleDocs(docs: DataFrame, n: Int = 3): DataFrame =
    // the width tag rides a second projection: an alias directly on
    // the generator is rewritten into the Generate node's output
    // attribute and its explicit metadata is dropped in the process
    docs.select(col("doc_id"),
        graft.functions.ShingleGenerator.shingles(col("text"), n).as("shingle"))
      .select(col("doc_id"),
        col("shingle").as("shingle", new org.apache.spark.sql.types.MetadataBuilder()
          .putLong(ShingleNKey, n.toLong).build()))

  /** Column-metadata key carrying the shingle width `n` on a
    * [[shingleDocs]] frame. Spark persists field metadata through
    * parquet roundtrips, so the materialized `sh3` tier keeps its
    * width on disk and a consumer can validate a provided frame
    * instead of trusting the call site — passing the cached 3-gram
    * frame into a 4-gram decontamination would otherwise silently mix
    * widths (eval vocab at n, corpus side at 3) and read as near-zero
    * contamination.
    */
  private[graft] val ShingleNKey = "shingle_n"

  /** The width a shingle frame was built at, from its column
    * metadata; None for frames predating the tag (treated as the
    * default width 3 by validators — every committed tier was built
    * via [[prebuildShingles3]]'s default).
    */
  def shingleWidthOf(sh: DataFrame): Option[Int] =
    sh.schema.fields.find(_.name == "shingle")
      .filter(_.metadata.contains(ShingleNKey))
      .map(_.metadata.getLong(ShingleNKey).toInt)

  /** Validator for the provided-shingle-frame contract: a frame whose
    * recorded width (metadata) disagrees with the requested `n` is
    * rejected loudly instead of producing a plausible near-zero
    * overlap report. An UNTAGGED frame (pre-tag, or metadata-stripped
    * by a cast/transform) is accepted only at the default width —
    * every committed tier was built there — and the n≠3 rejection
    * says honestly that the width is UNKNOWN rather than claiming the
    * frame "was built at 3" (ADVICE r17: the old message both
    * under- and over-claimed on legacy frames).
    */
  private[graft] def requireShingleWidth(sh: Option[DataFrame], n: Int,
                                         what: String): Unit =
    sh.foreach { f =>
      shingleWidthOf(f) match {
        case Some(w) => require(w == n,
          s"$what was built at n=$w but the query asked n=$n — " +
            "rebuild the frame at the requested width or drop the cache arg")
        case None => require(n == DefaultShingleN,
          s"$what carries no shingle_n tag (pre-tag or metadata-stripped), " +
            s"so its width cannot be verified at n=$n — rebuild it via " +
            "shingleDocs so the width rides the frame, or drop the cache arg")
      }
    }

  /** Per-band MinHash signature: band b's hash of a shingle is
    * md5("b<b>:" ++ shingle); the signature is the per-document min.
    * One explode + one hash aggregate — shuffle carries one row per
    * document.
    */
  def minhashSignatures(docs: DataFrame, bands: Int = 4): DataFrame = {
    val sh = shingleDocs(docs)
    val aggs = (0 until bands).map(b =>
      min(md5(concat(lit(s"b$b:"), col("shingle")))).as(s"mh$b"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*).orderBy("doc_id")
  }

  /** Drop pathological LSH buckets before the self-join. A bucket of
    * size s produces s·(s-1)/2 candidate pairs, so one hot bucket
    * (boilerplate text, empty documents) can dominate the whole join;
    * capping trades a bounded amount of recall on the degenerate
    * cluster for a hard bound on join fan-out — the standard skew
    * guard for LSH at scale.
    */
  private def capBuckets(bandRows: DataFrame, maxBucketSize: Option[Int]): DataFrame =
    maxBucketSize match {
      case Some(t) =>
        val ok = bandRows.groupBy("band", "mh")
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") <= t)
          .select("band", "mh")
        bandRows.join(ok, Seq("band", "mh"), "left_semi")
      case None => bandRows
    }

  /** LSH banding: unpivot the signature to (doc_id, band, mh) rows and
    * self-equi-join on (band, mh). Catalyst runs this as a hash join
    * keyed on the band hash — the scale-safe LSH shape; doc_id < doc_id
    * is a post-join filter, and distinct collapses pairs that collide
    * in several bands. `maxBucketSize` optionally caps hot buckets
    * (see [[capBuckets]]).
    */
  def minhashCandidatePairs(docs: DataFrame, bands: Int = 4,
                            maxBucketSize: Option[Int] = None): DataFrame = {
    val sig = minhashSignatures(docs, bands)
    val bandRows = capBuckets((0 until bands)
      .map(b => sig.select(col("doc_id"), lit(b).as("band"), col(s"mh$b").as("mh")))
      .reduce(_.unionByName(_)), maxBucketSize)
    val a = bandRows.as("a")
    val b = bandRows.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.mh") === col("b.mh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** LSH banding at AND-amplification r = `rowsPerBand`: each band's
    * key is the CONCATENATION of r independent MinHashes, so two
    * documents collide in a band only when they agree on ALL r of
    * them — the collision probability per band drops from Jaccard j
    * (the r=1 scheme above) to j^r. This is the remedy when the
    * candidate tier's density grows with corpus size because the
    * SIGNATURE SPACE is saturating (a bounded shingle vocabulary
    * fills every bucket as volume grows — the q234 audit's
    * cap-insensitive-growth discriminator), as opposed to hot-bucket
    * skew (where [[capBuckets]] is the right tool): finer keys grow
    * the space multiplicatively, caps only bound individual buckets.
    * The trade is recall at LOW similarity — per-pair candidate
    * probability falls from 1−(1−j)^b to 1−(1−j^r)^b, negligible for
    * true duplicates (j → 1) but material near a loose threshold —
    * so r is a knob to raise when the q234 audit shows saturation,
    * together with more bands to buy the recall back.
    * Same join shape and scale contract as [[minhashCandidatePairs]].
    */
  def minhashCandidatePairsFine(docs: DataFrame, bands: Int = 4,
                                rowsPerBand: Int = 2): DataFrame = {
    val sh = shingleDocs(docs)
    val aggs = for (b <- 0 until bands; j <- 0 until rowsPerBand)
      yield min(md5(concat(lit(s"b${b}_$j:"), col("shingle")))).as(s"mh_${b}_$j")
    val sig = sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val bandRows = (0 until bands).map { b =>
      sig.select(col("doc_id"), lit(b).as("band"),
        concat((0 until rowsPerBand).map(j => col(s"mh_${b}_$j")): _*).as("mh"))
    }.reduce(_ unionByName _)
    val a = bandRows.as("a")
    val bb = bandRows.as("b")
    a.join(bb,
        col("a.band") === col("b.band") && col("a.mh") === col("b.mh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** n-gram Jaccard near-dup: exact set similarity computed ONLY on
    * the LSH candidate pairs (never all pairs).
    *
    * Scale contract: NO array column ever crosses a shuffle. |A∩B| is
    * computed by joining the candidate pairs back to the exploded
    * (doc_id, shingle) rows and counting matches, and |A∪B| by
    * inclusion–exclusion from the per-document distinct-shingle counts
    * — every shuffled row is (long, long) or (long, shingle-string)
    * narrow, so a pathologically long document costs rows, never a
    * multi-megabyte array cell in a single shuffle block. (The
    * previous formulation shipped collect_set(shingle) arrays through
    * persist+shuffle+join; at 100 TB that dies on long documents.)
    *
    * The distinct shingle stream is persisted and read three times
    * (signature aggregate + both sides of the intersection join); the
    * one-row-per-doc signature frame fans out to the band unpivot and
    * the size lookups.
    *
    * Caching contract: the returned frame is lazy, so those persists
    * stay registered for its lifetime — a caller reusing the session
    * afterwards should `spark.catalog.clearCache()` (the harness mains
    * do; otherwise Spark's ContextCleaner reclaims the blocks only
    * when the frames are garbage-collected).
    */
  def nearDupPairs(docs: DataFrame, threshold: Double = 0.2, bands: Int = 4,
                   maxBucketSize: Option[Int] = None): DataFrame = {
    // the count-based intersection emits no row for an empty overlap,
    // so threshold = 0 would silently diverge from the array
    // formulation (which emitted jaccard 0.0 rows) — reject it
    require(threshold > 0, "threshold must be > 0 (a 0-similarity pair is not a near-dup)")
    val sh = shingleDocs(docs).dropDuplicates("doc_id", "shingle")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val aggs = (0 until bands).map(b =>
      min(md5(concat(lit(s"b$b:"), col("shingle")))).as(s"mh$b")) :+
      count(lit(1)).as("nsh")
    val sig = sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandRows = capBuckets((0 until bands)
      .map(b => sig.select(col("doc_id"), lit(b).as("band"), col(s"mh$b").as("mh")))
      .reduce(_.unionByName(_)), maxBucketSize)
    val cand = bandRows.as("a").join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.mh") === col("b.mh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // size-ratio prefilter: jaccard <= min(na,nb)/max(na,nb) (best
    // case inter = min, union = max), so a pair whose smaller shingle
    // set is under threshold·larger can never pass — drop it BEFORE
    // fanning the pair out to its shingle rows. The nsh counts were
    // already paid for by the signature aggregate. The slack is the
    // 4-decimal ROUNDING half-width (5e-5), not a bare FP epsilon:
    // the final filter compares round(jaccard, 4) >= threshold, so a
    // pair with true jaccard in [threshold - 5e-5, threshold) still
    // rounds up and must survive the prefilter; 1e-9 alone would
    // silently drop it and diverge from the oracle.
    val sizes = sig.select(col("doc_id"), col("nsh"))
    val candSized = cand
      .join(sizes.select(col("doc_id").as("id_a"), col("nsh").as("na")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("nsh").as("nb")), Seq("id_b"))
      .filter(least(col("na"), col("nb")).cast("double") >=
        lit(threshold - 0.5e-4) * greatest(col("na"), col("nb")).cast("double") - lit(1e-9))
    // |A∩B|: fan each candidate pair out to A's shingles, then count
    // which of those exist on the B side — an equi-join on
    // (id_b, shingle), never an array comparison. A pair with an empty
    // intersection simply produces no row, which the >= threshold
    // filter would drop anyway (candidates share their band-min
    // shingle, so in practice inter >= 1; threshold = 0 is rejected
    // up front for exactly this reason).
    candSized
      .join(sh.select(col("doc_id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b", "na", "nb").agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", round(
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** MinHash ESTIMATOR calibration — the sketch-accuracy audit
    * [[lshRecallReport]] (recall of the banding) and the q134 CMS
    * overestimate report give for their sketches, applied to the
    * Jaccard estimator itself: over the verified near-dup pairs,
    * compare Ĵ = (#matching components)/k from an independent
    * `k`-component MinHash signature (md5 "c<i>:" family — disjoint
    * from the banding's "b<i>:" family) against the EXACT Jaccard,
    * grouped by estimate value: pair count, mean true Jaccard, mean
    * absolute error. This is the number that decides whether a
    * 100 TB pipeline can skip the exact-verify tier and trust the
    * sketch (E|Ĵ−J| ~ 1/√k), measured on its own corpus rather than
    * assumed.
    *
    * Scale: signatures are one hash aggregate over the shingle scan
    * (k fixed-width strings per doc — fingerprints, never text,
    * cross the shuffle); the pair frame is LSH-bounded. Everything
    * after is exact integer arithmetic (quantized error units) until
    * the two closing mean divisions.
    */
  def minhashCalibration(docs: DataFrame, k: Int = 16,
                         threshold: Double = 0.05, bands: Int = 4,
                         pairsIn: Option[DataFrame] = None): DataFrame = {
    val pairs = pairsIn.getOrElse(nearDupPairs(docs, threshold, bands))
    // r18 optimization (guide §2.3 "don't compute things you throw
    // away"): the k-component signatures are consumed ONLY through the
    // inner joins on the pair endpoints below, so every doc outside
    // the verified pair frame was shingled + 16×md5-aggregated for
    // nothing. Restrict the signature build to the pair-participating
    // ids first (a broadcast semi-join on the LSH-bounded id set), and
    // spread the surviving docs across cores — the shingle explode is
    // the suite's heaviest per-row compute and otherwise runs on the
    // single-task scan of a one-file table. Bit-identical result (the
    // dropped docs never reached the output); isolated probe
    // 2.5 → 0.5 s at sf0.1/32 cores.
    // no forced broadcast on the endpoint set (r19, VERDICT item 4):
    // the pair frame is LSH-bounded but its CARDINALITY is not — at
    // 100 TB corpus sizes the endpoint set can hold 10⁸+ ids and a
    // forced broadcast is a driver-OOM risk. The semi-join itself is
    // the win and is strategy-agnostic; statistics/AQE pick broadcast
    // at test SFs on their own (plan pinned in plans/r19).
    val pairIds = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id"))).distinct()
    val sh = shingleDocs(
      graft.engine.Tables.spreadNarrowCompute(docs)
        .join(pairIds, Seq("doc_id"), "left_semi"))
      .dropDuplicates("doc_id", "shingle")
    val compAggs = (0 until k).map(i =>
      min(md5(concat(lit(s"c$i:"), col("shingle")))).as(s"c$i"))
    val comps = sh.groupBy("doc_id").agg(compAggs.head, compAggs.tail: _*)
    val a = comps.select(col("doc_id").as("id_a") +:
      (0 until k).map(i => col(s"c$i").as(s"a$i")): _*)
    val b = comps.select(col("doc_id").as("id_b") +:
      (0 until k).map(i => col(s"c$i").as(s"b$i")): _*)
    val m = (0 until k).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("m", m)
      .select(
        (col("m").cast("double") / lit(k.toDouble)).as("est"),
        floor(col("jaccard") * 1e4 + 0.5).cast("bigint").as("tq"),
        floor(abs(col("m").cast("double") / lit(k.toDouble) - col("jaccard")) * 1e6 + 0.5)
          .cast("bigint").as("eq"))
      .groupBy("est")
      .agg(count(lit(1)).as("n_pairs"), sum("tq").as("st"), sum("eq").as("se"))
      .selectExpr("est", "n_pairs",
        "floor(CAST(st AS DOUBLE) / CAST(n_pairs AS DOUBLE) / 1e4 * 1e4 + 0.5) / 1e4 AS mean_true",
        "floor(CAST(se AS DOUBLE) / CAST(n_pairs AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS mean_abs_err")
      .orderBy("est")
  }

  /** [[minhashCalibration]] over the MATERIALIZED cascade's verified
    * pair frame — the calibration population is the pairs the
    * pipeline actually operates on (threshold = the cascade's own),
    * and the expensive verify tier is served from parquet instead of
    * recomputed; only the k-component signature aggregate runs fresh.
    */
  def minhashCalibrationCached(docs: DataFrame, dir: String, k: Int = 16,
                               threshold: Double = 0.2, bands: Int = 4): DataFrame =
    minhashCalibration(docs, k, threshold, bands,
      pairsIn = Some(nearDupPairsCached(docs, dir, threshold, bands)))

  /** LSH-banding recall audit on a BOUNDED sample — q93's
    * index-quality-as-a-query story for the text cascade: exact
    * all-pairs Jaccard ground truth over the first `sampleSize`
    * documents vs what [[nearDupPairs]]'s banding actually surfaces,
    * reported as recall per 0.2-wide Jaccard band (banding recall
    * degrades toward the threshold — the report shows WHERE, so
    * bands/rows are tuned on evidence, not folklore).
    *
    * The ground truth is inherently quadratic in pairs sharing a
    * shingle — that is the entire reason it runs on a capped sample
    * and the production path runs the banded cascade. At 100 TB this
    * query IS the calibration step: run it on a representative
    * sample, pick banding parameters, then launch the linear-cost
    * cascade on the full corpus.
    *
    * Caching contract (same as [[graft.operators.TrainingData.evalDecontaminate]]):
    * the sample's shingle frame persists for the duration of the
    * returned plan; the caller releases it (`clearCache`/`unpersist`)
    * when the report has been consumed.
    */
  def lshRecallReport(docs: DataFrame, threshold: Double = 0.2,
                      sampleSize: Int = 500): DataFrame = {
    require(threshold > 0, "threshold must be > 0")
    val sample = docs.filter(col("doc_id") < sampleSize)
    val sh = shingleDocs(sample).dropDuplicates("doc_id", "shingle")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val truth = sh.select(col("doc_id").as("id_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("id_a"), col("nsh").as("na")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("nsh").as("nb")), Seq("id_b"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
    // verified over the persisted `sh` (row-identical to
    // nearDupPairs(sample, threshold), which would persist the same
    // shingle plan a second time)
    val found = verifyCandidatePairs(sh, minhashCandidatePairs(sample), threshold)
      .select(col("id_a"), col("id_b"), lit(1).as("f"))
    truth.join(found, Seq("id_a", "id_b"), "left")
      .withColumn("band_lo", round(floor(col("jaccard") / 0.2) * 0.2, 1))
      .groupBy("band_lo")
      .agg(count(lit(1)).as("n_true"), count(col("f")).as("n_found"),
        round(count(col("f")).cast("double") / count(lit(1)), 4).as("recall"))
      .orderBy("band_lo")
  }

  /** Near-dup CLUSTERS: connected components over the verified
    * [[nearDupPairs]] graph, labeling every involved document with its
    * component's minimum doc_id — the canonical representative. This
    * is the real final stage of fuzzy dedup (pair lists alone
    * under-delete transitive chains A~B~C where A≁C directly).
    *
    * Algorithm: HashMin label propagation with pointer jumping — each
    * round every node takes the min over its own, its neighbors', and
    * its current label's label; the jump doubles the propagation
    * horizon per round, so convergence is O(log diameter) rounds.
    * Each round is two equi-joins + one hash aggregate over
    * (long, long) rows; the driver only coordinates rounds and reads
    * a single convergence count, exactly Pregel's coordination model.
    * Only documents appearing in at least one verified pair are
    * labeled (singletons are their own trivial cluster and are
    * omitted). Non-convergence at the cap throws rather than emitting
    * non-canonical labels.
    *
    * A small graph skips the loop: [[dupClustersFromPairs]] labels a
    * graph of at most [[DriverEdges]] edges on the driver with a
    * union-find instead (the same frame, row for row).
    *
    * `checkpointDir`: None (default) truncates per-round lineage with
    * `localCheckpoint` — blocks live on executors, fast, right for
    * single-box and small-cluster runs; Some(dir) switches to RELIABLE
    * `checkpoint` into that directory. The difference matters at
    * 1000-executor scale: a localCheckpoint has no lineage to recompute
    * from, so one lost executor aborts the whole CC job, while a
    * reliable checkpoint survives any executor loss at the cost of a
    * write to the cluster FS per round. Results are identical
    * (spec-asserted).
    *
    * Checkpoint-file lifecycle is the CALLER'S: Spark does not delete
    * reliable checkpoints unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
    * false, and even then only on GC of the frame). A run leaves
    * O(log diameter) round-frames of (long, long) rows under the
    * directory — bounded per run, unbounded across runs — so a
    * recurring pipeline should point each run at a run-scoped
    * subdirectory and delete it after materializing the result
    * (sinking the returned frame consumes the last checkpoint). A
    * call with a `checkpointDir` always runs the loop, whatever the
    * graph's size: the caller asked for rounds on the cluster FS.
    */
  def dupClusters(docs: DataFrame, threshold: Double = 0.2, bands: Int = 4,
                  maxBucketSize: Option[Int] = None,
                  maxIterations: Int = 50,
                  checkpointDir: Option[String] = None): DataFrame =
    dupClustersFromPairs(
      nearDupPairs(docs, threshold, bands, maxBucketSize).select("id_a", "id_b"),
      maxIterations, checkpointDir)

  /** [[dupClusters]] over an ALREADY-VERIFIED pair list — the entry
    * point for a production pipeline that runs the LSH cascade once
    * and shares its output across pair reporting, clustering, and
    * cleaning (see [[cleaningPipelineClustered]]'s `pairs` parameter).
    * `pairs` must have (id_a, id_b) columns; direction is irrelevant
    * (edges are symmetrized here).
    *
    * Two paths, one result. A graph of at most [[DriverEdges]] edges
    * is labeled on the driver ([[driverClusters]]): one bounded collect
    * and a union-find, instead of the loop's jobs in every round.
    * Every larger graph, and every call with a `checkpointDir` (the
    * caller asked for checkpointed rounds), takes the distributed loop
    * ([[hashMinClusters]]). Both return the same frame: columns, id
    * type, nullability and rows.
    */
  def dupClustersFromPairs(verifiedPairs: DataFrame,
                           maxIterations: Int = 50,
                           checkpointDir: Option[String] = None): DataFrame =
    clustersFromPairs(verifiedPairs, maxIterations, checkpointDir, DriverEdges)

  /** The most edges [[dupClustersFromPairs]] labels on the driver. The
    * choice depends on the edge count alone, not on a session option.
    * The bound comes from driver memory, not speed. Measured with
    * `graft.apps.Probe ccsize` on a 4-core machine (local[4]), the
    * driver path beat the loop at every size
    * measured, 10k to 1M edges, by 4 to 8 times, so the speed
    * crossover lies above 1M. But the path holds the collected rows,
    * then the result's rows, on the driver. The smallest heap a run
    * completed in was at most 160 MB at 1k edges, 320 MB at 200k
    * (224 MB failed) and 900 MB at 1M (640 MB failed). 200k keeps the
    * path's share of Spark's default 1 GB driver heap small.
    */
  private[graft] val DriverEdges = 200000

  /** [[dupClustersFromPairs]] with the driver path's edge bound as a
    * parameter, so a spec can send a small fixture either way. */
  private[graft] def clustersFromPairs(verifiedPairs: DataFrame, maxIterations: Int,
                                       checkpointDir: Option[String],
                                       driverEdges: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val pairs = verifiedPairs.select("id_a", "id_b")
    if (checkpointDir.nonEmpty) hashMinClusters(pairs, maxIterations, checkpointDir)
    else {
      // the probe and (on a large graph) the loop read the same cached
      // pairs, so the near-dup cascade behind them runs once either way;
      // a frame the caller already cached stays cached
      val ours = pairs.storageLevel == StorageLevel.NONE
      val cached = if (ours) pairs.persist(StorageLevel.MEMORY_AND_DISK) else pairs
      try driverClusters(cached, driverEdges)
        .getOrElse(hashMinClusters(cached, maxIterations, None))
      finally if (ours) cached.unpersist(blocking = false)
    }
  }

  /** [[dupClustersFromPairs]]' driver path, or None when the graph has
    * more than `n` edges. Collects at most `n + 1` edges as internal
    * rows, flattens them into one array of primitive longs and unions
    * their endpoints; the root of a set is always its smaller id, so
    * every node's root is its component's minimum, exactly the
    * `cluster_id` the HashMin loop converges to. The result is a
    * `LocalRelation` built straight from the node and root arrays,
    * with the loop's schema: the input's id type (INT or BIGINT, both
    * ends alike), `doc_id` nullable iff either id column is,
    * `cluster_id` nullable (a `min`). Any other id type, or a pair with
    * a null id (whose label the loop decides by its own join
    * semantics), returns None.
    */
  private def driverClusters(pairs: DataFrame, n: Int): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val (a, b) = (pairs.schema("id_a"), pairs.schema("id_b"))
    val idType = a.dataType
    if (b.dataType != idType || (idType != IntegerType && idType != LongType)) return None
    val ends = {
      val rows = ColumnBridge.collectInternal(pairs.limit(n + 1))
      if (rows.length > n || rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
      val out = new Array[Long](2 * rows.length)
      var i = 0
      while (i < out.length) {
        val r = rows(i / 2)
        out(i) = if (idType == IntegerType) r.getInt(i % 2) else r.getLong(i % 2)
        i += 1
      }
      out
    }
    val (nodes, roots) = componentMins(ends)
    val row: Int => InternalRow =
      if (idType == IntegerType) i => InternalRow(nodes(i).toInt, roots(i).toInt)
      else i => InternalRow(nodes(i), roots(i))
    val schema = StructType(Seq(
      StructField("doc_id", idType, a.nullable || b.nullable, a.metadata),
      StructField("cluster_id", idType, nullable = true)))
    // a LocalRelation keeps its rows in this (doc_id) order
    Some(ColumnBridge.ofRows(pairs.sparkSession, LocalRelation(
      DataTypeUtils.toAttributes(schema),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(Array.tabulate(nodes.length)(row)))))
  }

  /** Union-find over an edge list flattened as (a0, b0, a1, b1, …):
    * the distinct endpoints in ascending order, and each one's
    * component minimum. Nodes are indexed by rank, so "the smaller
    * index is the root" keeps every root at its component's minimum;
    * `find` halves paths as it walks. */
  private def componentMins(ends: Array[Long]): (Array[Long], Array[Long]) = {
    val nodes = {
      val sorted = ends.clone()
      java.util.Arrays.sort(sorted)
      var k = 0
      for (x <- sorted) if (k == 0 || sorted(k - 1) != x) { sorted(k) = x; k += 1 }
      java.util.Arrays.copyOf(sorted, k)
    }
    val parent = Array.tabulate(nodes.length)(identity)
    def find(start: Int): Int = {
      var x = start
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var e = 0
    while (e < ends.length) {
      val ra = find(java.util.Arrays.binarySearch(nodes, ends(e)))
      val rb = find(java.util.Arrays.binarySearch(nodes, ends(e + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      e += 2
    }
    (nodes, nodes.indices.map(i => nodes(find(i))).toArray)
  }

  /** [[dupClustersFromPairs]]' distributed loop: HashMin with pointer
    * jumping over (id_a, id_b) pairs ([[dupClusters]] describes the
    * algorithm and the checkpoint arms). The symmetrized edge frame
    * is persisted unless `pairs` already is: over cached pairs it is
    * a narrow union of two cache scans, and a second cached copy
    * would hold the pairs three times over. */
  private[graft] def hashMinClusters(pairs: DataFrame, maxIterations: Int,
                                     checkpointDir: Option[String]): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // lineage truncation (not mere persist) on the per-round frames: an
    // iterative plan that unions/joins its own previous round doubles
    // its LOGICAL plan every iteration, so analysis/optimization time
    // explodes even when the data is cached — checkpointing truncates
    // the lineage to the materialized partitions, keeping every round's
    // plan flat (the same reason GraphX/Pregel checkpoint periodically).
    // Executor-local vs reliable is the caller's call (scaladoc above);
    // a pre-existing session checkpoint dir is honored, not overridden.
    val chk: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        val sc = pairs.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df => df.checkpoint()
      // r18: LAZY local checkpoint — eager materialization ran one
      // Spark job per round just to snapshot the label frame; lazy
      // keeps the lineage-truncation node (the plan stays flat, the
      // reason checkpointing exists here) but folds materialization
      // into the next action that needs it (the every-2nd-round
      // convergence count), halving the loop's job count. The
      // reliable-checkpoint arm stays eager: its purpose is fault
      // tolerance, and a lazy reliable checkpoint would leave rounds
      // unprotected until the next action.
      case None => df => df.localCheckpoint(eager = false)
    }
    val edges = {
      val both = pairs.unionByName(
        pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      if (pairs.storageLevel == StorageLevel.NONE) both.persist(StorageLevel.MEMORY_AND_DISK)
      else both
    }
    var labels = chk(edges.select(col("id_a").as("node")).distinct()
      .select(col("node"), col("node").as("cluster_id")))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxIterations) {
      val viaNeighbor = edges.join(labels, edges("id_b") === labels("node"))
        .select(col("id_a").as("node"), col("cluster_id"))
      // pointer jumping: also adopt the label OF my current label, so
      // label information travels 2^round hops instead of one — a
      // path component converges in O(log diameter) rounds, making the
      // iteration cap unreachable for any real graph
      val viaLabel = labels.as("x")
        .join(labels.as("y"), col("x.cluster_id") === col("y.node"))
        .select(col("x.node").as("node"), col("y.cluster_id").as("cluster_id"))
      val updated = chk(labels.unionByName(viaNeighbor).unionByName(viaLabel)
        .groupBy("node").agg(min("cluster_id").as("cluster_id")))
      rounds += 1
      // convergence is a fixpoint (labels only ever decrease toward the
      // component min), so checking every 2nd round halves the
      // convergence-count JOBS (each is a full label-frame join +
      // count, comparable to half a propagation round). The trade:
      // a graph converging at an odd round pays one extra propagation
      // round before the even-round count observes it — a wash for
      // shallow graphs, a win for deep ones where skipped counts
      // accumulate. The final allowed round always checks, so the
      // non-convergence throw below can never be skipped.
      if (rounds % 2 == 0 || rounds >= maxIterations)
        changed = updated
          .join(labels.withColumnRenamed("cluster_id", "prev"), Seq("node"))
          .filter(col("cluster_id") =!= col("prev")).count()
      labels = updated
    }
    edges.unpersist(blocking = false)
    // wrong clusters must never be emitted silently: with pointer
    // jumping, hitting the cap means ~2^maxIterations-hop components —
    // if that ever happens, fail rather than return non-canonical ids
    if (changed > 0) throw new IllegalStateException(
      s"dupClusters did not converge in $maxIterations rounds — raise maxIterations")
    labels.select(col("node").as("doc_id"), col("cluster_id")).orderBy("doc_id")
  }

  /** The end-to-end training-data cleaning pipeline in ONE plan:
    * length gate → exact dedup (canonical = min doc_id per text) →
    * near-dup removal (drop the higher id of every verified LSH pair)
    * → per-survivor stats. Every stage is the oracle-checked operator
    * from this file, chained — the flagship LLM-pipeline composite.
    * Same caching contract as [[nearDupPairs]] (persists `canonical`
    * for the lifetime of the returned lazy frame).
    *
    * `pairs`: same contract as [[cleaningPipelineClustered]]'s —
    * an already-verified pair list (raw-corpus frames welcome) is
    * restricted to this pipeline's canonical ids before the loser
    * projection; None self-computes. The restriction matters for the
    * SAME reason as there: a raw pair (a, b) whose b is canonical but
    * whose a is not would still delete b, where the canonical-frame
    * cascade never produces that pair.
    */
  def cleaningPipeline(docs: DataFrame, minTokens: Int = 10,
                       jaccardThreshold: Double = 0.2,
                       maxBucketSize: Option[Int] = None,
                       pairs: Option[DataFrame] = None): DataFrame = {
    val gated = docs.filter(size(split(col("text"), " ")) >= minTokens)
    // read twice (shingle cascade + final anti-join) — persist so the
    // exact-dedup pass runs once; keepers via the md5-keyed aggregate
    // (exactKeeperIds), so no text crosses the dedup exchange
    val canonical = gated.select("doc_id", "text")
      .join(exactKeeperIds(gated), Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verified = pairs match {
      case Some(supplied) =>
        val ids = canonical.select("doc_id")
        supplied.select("id_a", "id_b")
          .join(ids.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_semi")
          .join(ids.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_semi")
      case None =>
        nearDupPairs(canonical, jaccardThreshold, maxBucketSize = maxBucketSize)
    }
    val dupLosers = verified.select(col("id_b").as("doc_id")).distinct()
    canonical.join(dupLosers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        md5(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** Paragraph stream: one row per (doc_id, pos, para). The driver
    * corpus is single-line token text, so the paragraph stand-in is a
    * deterministic fixed-width chunk of `tokensPerPara` tokens (a
    * newline-delimited corpus would split on the separator instead —
    * only this projection changes, the dedup below is agnostic).
    * Narrow per-row transform, no shuffle.
    */
  def paragraphs(docs: DataFrame, tokensPerPara: Int = 20): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, int(ceil(size(tk) / ${tokensPerPara}D)) - 1), " +
          s"i -> concat_ws(' ', slice(tk, i * $tokensPerPara + 1, $tokensPerPara)))")))
      .withColumnRenamed("col", "para")

  /** Cross-document paragraph-level exact dedup (the C4/RefinedWeb
    * cleaning stage the document-level cascade doesn't cover): a
    * paragraph is dropped from EVERY document when its fingerprint
    * appears in more than one distinct document — boilerplate headers,
    * license blocks, navigation chrome. Per document the result is the
    * surviving-paragraph count and an order-preserving fingerprint of
    * the reassembled text (md5 over the kept paragraph fps in
    * position order), so the cleaned corpus is checkable without
    * shipping the text itself.
    *
    * Scale shape: the dup vocabulary is a hash aggregate on
    * (fp → distinct-doc count) — 16-byte rows; marking is an equi-join
    * on fp. The only array in the plan is the per-document
    * collect_list of kept (pos, fp) pairs for the reassembly
    * fingerprint — ~33 bytes per paragraph, a 20× reduction over the
    * text it summarizes, bounded by document length (the same bound
    * any reassembly must pay).
    *
    * With fixed-width chunking, shared text is only detected when
    * aligned to chunk boundaries — exact-duplicate and
    * prefix-duplicate documents hit this; a shifted quote does not
    * (a sentence-boundary split would catch it; same plan shape).
    */
  def paragraphDedup(docs: DataFrame, tokensPerPara: Int = 20): DataFrame = {
    val paras = paragraphs(docs, tokensPerPara)
      .select(col("doc_id"), col("pos"), md5(col("para")).as("fp"))
    val shared = paras.groupBy("fp")
      .agg(countDistinct("doc_id").as("ndocs"))
      .filter(col("ndocs") > 1)
      .select(col("fp"), lit(1).as("dup"))
    paras.join(shared, Seq("fp"), "left")
      .withColumn("is_dup", col("dup").isNotNull)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_paras"),
        sum(when(col("is_dup"), 1).otherwise(0)).cast("int").as("n_dropped"),
        md5(concat_ws("|", expr(
          "transform(array_sort(collect_list(CASE WHEN NOT is_dup THEN struct(pos, fp) END)), x -> x.fp)")))
          .as("cleaned_fp"))
      .orderBy("doc_id")
  }

  /** Incremental-ingest dedup: admit only the documents of a new batch
    * that duplicate neither the existing corpus nor each other (keep
    * the lowest doc_id within the batch). Fingerprints are the
    * whitespace/case-normalized md5 of [[TextAnalysis.fingerprints]].
    *
    * This is the backfill/daily-crawl stage of a training-data
    * pipeline: at 100 TB the corpus side reduces to one 16-byte
    * fingerprint row per existing document (distinct, hash-aggregated
    * map-side), the batch side to one row per new doc, and admission
    * is a hash anti-join on the fingerprint — work ∝ batch size +
    * distinct corpus fingerprints, never a text comparison. Identical
    * semantics to re-running [[exactDedup]] over corpus ∪ batch, at a
    * fraction of the cost (spec-asserted) — the re-run touches the
    * full corpus text, this touches its fingerprints once.
    */
  /** Bloom sizing for [[incrementalDedupBloom]]'s auto path: the next
    * power of two above ~10 bits/item (≈1% fpp at the optimal hash
    * count), floored at 8192 bits (1 KiB — below that the literal is
    * noise either way) and capped at 2^26 (8 MiB). At 10 bits/item the
    * cap engages around ~6.7M items, so beyond that the fpp degrades
    * (more candidate traffic into the exact verify join — still
    * correct, just less admission pruning); a caller past that point
    * should shard the corpus or pass an explicit budget rather than
    * ship a bigger per-task literal.
    */
  private[graft] def bloomBitsFor(items: Long): Long = {
    val want = math.max(8192L, items * 10L)
    var bits = 8192L
    while (bits < want && bits < (1L << 26)) bits <<= 1
    bits
  }

  def incrementalDedup(corpus: DataFrame, batch: DataFrame): DataFrame = {
    def fp(df: DataFrame) =
      df.select(col("doc_id"), TextAnalysis.fingerprintCol.as("fingerprint"))
    // r18 (guide §2.4 "a distinct on data that is already unique" —
    // here: a distinct an anti-join doesn't need): left_anti matches
    // EXISTENCE, so deduplicating the corpus side first only paid an
    // extra corpus-wide aggregate exchange for the same result. The
    // anti-join's own shuffle still dedups nothing — and needs to.
    val corpusFp = fp(corpus).select("fingerprint")
    fp(batch)
      .groupBy("fingerprint").agg(min("doc_id").as("doc_id"))
      .join(corpusFp, Seq("fingerprint"), "left_anti")
      .select("doc_id", "fingerprint")
      .orderBy("doc_id")
  }

  /** Bloom-filter admission variant of [[incrementalDedup]] — the
    * 100 TB shape: the exact anti-join shuffles the corpus's DISTINCT
    * fingerprint set every run, while a Bloom filter is built by a
    * SHUFFLE-FREE scan (partial aggregates merge byte arrays; no
    * distinct needed — Bloom insertion is idempotent) and admits most
    * of the batch without touching the corpus again. Exactness is
    * preserved: `might_contain = false` is a Bloom GUARANTEE of
    * absence (admit immediately); only the `maybe` remainder — true
    * duplicates plus the false-positive fraction (~`fpp` of genuinely
    * new docs) — pays the exact anti-join, against a corpus side that
    * could itself be pre-filtered at scale. Results are spec-asserted
    * identical to [[incrementalDedup]].
    *
    * The filter itself is `numBits/8` bytes on the driver and ships
    * to executors as a literal — the bounded-driver-state exception
    * of the same class as a broadcast dimension, so its SIZE is a
    * per-task serialization tax and must track the actual corpus,
    * not a worst case: at the defaults (0 = auto) the corpus is
    * counted first (one narrow column scan — trivially cheaper than
    * the bloom-build aggregation that follows it) and the filter gets
    * the next power of two above ~10 bits/doc (≈1% fpp), floored at
    * 1 KiB and capped at 8 MiB — a 5k-doc test corpus pays a 8 KiB
    * literal, a 10M-doc production corpus the 8 MiB one, and an
    * over-full filter degrades to more exact-join traffic, never to
    * wrong results. Callers that already know their corpus cardinality
    * pass `expectedItems`/`numBits` explicitly and skip the count.
    * Uses Spark's native
    * `BloomFilterAggregate`/`BloomFilterMightContain` (the runtime
    * join-pruning machinery) via the expression bridge, so the probe
    * stays codegen'd.
    */
  def incrementalDedupBloom(corpus: DataFrame, batch: DataFrame,
                            expectedItems: Long = 0L,
                            numBits: Long = 0L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    def fp(df: DataFrame) =
      df.select(col("doc_id"), TextAnalysis.fingerprintCol.as("fingerprint"))
    val corpusFps = fp(corpus).select("fingerprint")
    val items =
      if (expectedItems > 0L) expectedItems
      else math.max(corpusFps.count(), 1L)
    val bits = if (numBits > 0L) numBits else bloomBitsFor(items)
    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expressionEager(xxhash64(col("fingerprint"))),
        Literal(items), Literal(bits)).toAggregateExpression())
    val bfBytes = corpusFps.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    val batchFp = fp(batch)
      .groupBy("fingerprint").agg(min("doc_id").as("doc_id"))
      .withColumn("maybe",
        if (bfBytes == null) lit(false) // empty corpus → everything new
        else ColumnBridge.column(BloomFilterMightContain(
          Literal(bfBytes, BinaryType),
          ColumnBridge.expressionEager(xxhash64(col("fingerprint"))))))
    val definitelyNew = batchFp.filter(!col("maybe"))
    val needExact = batchFp.filter(col("maybe"))
      .join(corpusFps.distinct(), Seq("fingerprint"), "left_anti")
    definitelyNew.unionByName(needExact)
      .select("doc_id", "fingerprint")
      .orderBy("doc_id")
  }

  /** The cluster-canonical variant of [[cleaningPipeline]] — the
    * C4/RefinedWeb convention: near-dup removal keeps exactly ONE
    * representative per connected component of the verified-pair
    * graph (the min doc_id), where the pair-based rule ("drop the
    * higher id of each pair") keeps every document that only ever
    * appears as a pair's lower id. The two diverge on star shapes —
    * pairs (A,C),(B,C) with A≁B: pair-based keeps A AND B, clusters
    * keep only A — so chains and stars can't leak multiple
    * near-identical representatives into the training set
    * (spec-pinned divergence case). Costs one [[dupClusters]] run on
    * the exact-deduped corpus instead of a pair projection.
    *
    * `pairs`: a production pipeline that has ALREADY run the verify
    * cascade (e.g. to report [[nearDupPairs]], or the materialized
    * [[nearDupPairsCached]] frame) injects it here instead of
    * recomputing shingles+signatures from scratch. Supplied pairs MAY
    * cover the raw corpus: any pair with an id outside this
    * pipeline's canonical set (the min-doc_id representative of each
    * distinct gated text) is dropped by two semi-joins BEFORE
    * clustering — necessary, not cosmetic, because a sub-gate or
    * non-canonical id inside a cluster could otherwise become the
    * component min and silently mark a canonical keeper as a loser.
    * With that restriction the result is identical to self-computing
    * `nearDupPairs` on the canonical frame, because the cascade is
    * pair-local (see [[cleaningPipelineClusteredCached]]'s proof
    * sketch; spec-asserted). None (the default) self-computes.
    * `checkpointDir` is passed through to the CC rounds (see
    * [[dupClusters]]).
    *
    * `cohesionFloorBp`: the q245→q251 chain-merge guard, opt-in — a
    * cluster whose verified-edge density (exact basis points) falls
    * below the floor is suspected of transitive over-merging and is
    * NOT cleaned: all its members survive. Density is computed from
    * the same `verified` frame the clustering consumed (one extra
    * #clusters-bounded aggregate); 2-doc clusters are always cliques,
    * so pairwise dedup is never blocked.
    */
  def cleaningPipelineClustered(docs: DataFrame, minTokens: Int = 10,
                                jaccardThreshold: Double = 0.2,
                                maxBucketSize: Option[Int] = None,
                                pairs: Option[DataFrame] = None,
                                checkpointDir: Option[String] = None,
                                cohesionFloorBp: Option[Long] = None): DataFrame = {
    val gated = docs.filter(size(split(col("text"), " ")) >= minTokens)
    // md5-keyed keepers (see exactKeeperIds): no text on the exchange
    val canonical = gated.select("doc_id", "text")
      .join(exactKeeperIds(gated), Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verified = pairs match {
      case Some(supplied) =>
        val ids = canonical.select("doc_id")
        supplied.select("id_a", "id_b")
          .join(ids.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_semi")
          .join(ids.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_semi")
      case None =>
        nearDupPairs(canonical, jaccardThreshold, maxBucketSize = maxBucketSize)
    }
    val labels = dupClustersFromPairs(verified, checkpointDir = checkpointDir)
    val condemned = labels
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id", "cluster_id")
    val losers = cohesionFloorBp match {
      case Some(floorBp) =>
        // edge attribution via one endpoint suffices (both share the
        // cluster by construction — the q245 argument); low-density
        // clusters are exempted from cleaning wholesale
        val lowCohesion = verified.select("id_a")
          .join(labels.select(col("doc_id").as("id_a"), col("cluster_id")),
            Seq("id_a"))
          .groupBy("cluster_id")
          .agg(count(lit(1)).cast("bigint").as("n_edges"))
          .join(labels.groupBy("cluster_id")
            .agg(count(lit(1)).cast("bigint").as("n_docs")), Seq("cluster_id"))
          .filter(expr("CAST((n_edges * 2 * 10000) div " +
            s"(n_docs * (n_docs - 1)) AS BIGINT) < ${floorBp}L"))
          .select("cluster_id")
        condemned.join(lowCohesion, Seq("cluster_id"), "left_anti")
          .select("doc_id")
      case None => condemned.select("doc_id")
    }
    canonical.join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        md5(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** 32-bit SimHash: per-token 32-bit hash from the first 8 hex chars
    * of md5, per-bit ±1 votes summed per document, sign of each vote
    * sets the bit. Duplicate tokens vote multiple times (multiset
    * semantics) — deterministic and engine-neutral.
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val tokenHash = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
    val bitVotes = (0 until 32).map { bIdx =>
      sum(when(shiftright(col("h"), bIdx).bitwiseAND(lit(1L)) === lit(1L), 1).otherwise(-1))
        .as(s"bit$bIdx")
    }
    val votes = tokenHash.groupBy("doc_id").agg(bitVotes.head, bitVotes.tail: _*)
    val sig: Column = (0 until 32)
      .map(bIdx => when(col(s"bit$bIdx") > 0, lit(1L << bIdx)).otherwise(lit(0L)))
      .reduce(_ + _)
    votes.select(col("doc_id"), sig.as("simhash")).orderBy("doc_id")
  }

  /** SimHash near-dup pairs: all pairs within `maxHamming` bit flips
    * of each other, found WITHOUT an all-pairs comparison via
    * pigeonhole banding — the 32-bit signature splits into 4 byte
    * blocks, and two signatures differing in ≤3 bits must agree on at
    * least one whole block (3 flips can touch at most 3 of 4 blocks),
    * so candidate generation is an exact-recall equi-join on
    * (block index, block value). Verification is one codegen'd
    * `bit_count(xor)` per candidate. Same LSH discipline as the
    * MinHash cascade: work ∝ block collisions, never n².
    * `maxHamming` ≤ 3 is required — it is what makes the 4-block
    * pigeonhole complete (wider radii need more/smaller blocks).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // validate BEFORE the persist: a rejected radius must not leave a
    // registered cache entry behind (review r18)
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-block pigeonhole banding guarantees full recall only for maxHamming <= 3")
    // the signature frame feeds 4 block branches on each side of the
    // candidate join plus both verification joins — persist so the
    // token explode + 32-sum aggregate runs once (same contract as
    // nearDupPairs; caller clearCache applies)
    val sig = simhashSignatures(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    simhashPairsFromSig(sig, maxHamming)
  }

  /** Per-byte-block rows of a signature frame — the pigeonhole
    * banding's candidate key, shared by the one-shot build and the
    * append's union-vs-batch join. */
  private def simhashBlocks(sig: DataFrame): DataFrame =
    (0 until 4).map(b =>
        sig.select(col("doc_id"), col("simhash"), lit(b).as("blk"),
          shiftright(col("simhash"), b * 8).bitwiseAND(lit(255L)).as("bv")))
      .reduce(_.unionByName(_))

  /** [[simhashPairs]]'s banding + verify from an already-built
    * signature frame — factored (the `verifyCandidatePairs` pattern)
    * so the materialized build resumes from a committed `sig` tier and
    * the incremental append never re-hashes the resident corpus.
    * Row-identical to the one-shot operator: signatures are longs, so
    * the parquet roundtrip is exact.
    */
  def simhashPairsFromSig(sig: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-block pigeonhole banding guarantees full recall only for maxHamming <= 3")
    // r18: verify fused into the banding join (the q211 rewrite) —
    // the 8-byte signature rides the block row, so the Hamming check
    // runs per collision and the ≤ maxHamming filter prunes the
    // fan-out BEFORE the pair distinct; the two signature back-joins
    // are gone. Identical rows: a pair colliding in several blocks
    // computes the same hamming each time, distinct collapses them.
    val blocks = simhashBlocks(sig)
    blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("CAST(bit_count(a.simhash ^ b.simhash) AS INT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** MLlib-built-in near-dup variant (SURVEY §2.13): term-presence
    * vectors via binary HashingTF → `MinHashLSH` →
    * `approxSimilarityJoin` under a Jaccard-distance threshold. Same
    * banded-join discipline as [[minhashCandidatePairs]], with MLlib
    * owning the hash family; kept alongside the md5 cascade because
    * the latter is engine-neutral (DuckDB-checkable) while this one
    * interops with the rest of spark.ml. Same caching contract as
    * [[nearDupPairs]] (the feature frame stays persisted while the
    * returned join is alive).
    */
  def minhashLshMllib(docs: DataFrame, distanceThreshold: Double = 0.8,
                      numHashTables: Int = 4): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    // 3-token shingles (same universe as the md5 cascade): unigram
    // token sets saturate on small vocabularies, shingles discriminate.
    // Project to (doc_id, shingles) before featurization: nothing
    // downstream reads any other column (r19, guide §2.3).
    // NO spread on the scan: measured both ways at sf0.1/32 after the
    // narrow-join rewrite (r19 A/B, 3 reps) — spread 1.75–2.29 s vs
    // plain 1.54–1.56 s: the exchange plus the extra fit/transform job
    // launches cost more than the explode parallelism buys, the same
    // shape the r18 LSH-input spread experiment measured. At 100 TB
    // the scan arrives multi-split and the helper would be a no-op
    // anyway.
    val shingled = docs
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 3)
      .withColumn("shingles",
        expr("transform(sequence(0, size(tk) - 3), i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))"))
      .select("doc_id", "shingles")
    val tf = new HashingTF().setInputCol("shingles").setOutputCol("features")
      .setBinary(true).setNumFeatures(1 << 18)
    val featured = tf.transform(shingled)
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setSeed(42L)
    val model = lsh.fit(featured)
    // r19 rewrite (guide §2.3/§3, the §8 narrow-proxy rule): MLlib
    // still owns the hash family end to end — `model.transform`
    // computes exactly the hashes `approxSimilarityJoin` would — but
    // the join mechanics are native and narrow. approxSimilarityJoin
    // joins full-row STRUCTS on an (entry, DenseVector) key and runs
    // `distinct()` over structs carrying shingles+features+hashes
    // before its per-pair distance UDF; here the candidate join and
    // the pair distinct carry only (doc_id, entry, hash-as-double) —
    // 20-ish bytes per row instead of the whole document — and the
    // exact jaccard verify runs once per DISTINCT candidate pair as a
    // codegen'd array_intersect over per-doc nonzero-index arrays
    // (extracted once per DOC, not decoded per pair). Output-
    // equivalence with the MLlib join is pinned by LshAndBucketingSpec
    // on the real corpus.
    val nzIdx = udf((v: org.apache.spark.ml.linalg.Vector) => v match {
      case s: org.apache.spark.ml.linalg.SparseVector =>
        (0 until s.indices.length).collect {
          case j if s.values(j) != 0.0 => s.indices(j) }.toArray
      case d: org.apache.spark.ml.linalg.DenseVector =>
        (0 until d.size).filter(i => d.values(i) != 0.0).toArray
    })
    val hashed = model.transform(featured)
      .select(col("doc_id"), nzIdx(col("features")).as("idx"), col("hashes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hv = hashed.select(col("doc_id"),
        posexplode(col("hashes")).as(Seq("entry", "h")))
      .select(col("doc_id"), col("entry"),
        org.apache.spark.ml.functions.vector_to_array(col("h")).getItem(0).as("hv"))
    val cand = hv.as("a").join(hv.as("b"),
        col("a.entry") === col("b.entry") && col("a.hv") === col("b.hv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // MinHashLSHModel.keyDistance, verbatim semantics: jaccard
    // distance over the nonzero-index SETS of the two binary feature
    // vectors (a SparseVector's indices are unique, so the arrays ARE
    // the sets), computed as 1 - |A∩B| / (|A| + |B| - |A∩B|) with the
    // division and subtraction in the same order (bit-identical
    // doubles), then the same strict `< threshold` filter the MLlib
    // join applies before this query's round(4)
    val feats = hashed.select(col("doc_id"), col("idx"))
    val inter = size(array_intersect(col("fa.idx"), col("fb.idx"))).cast("double")
    val union = (size(col("fa.idx")) + size(col("fb.idx"))).cast("double") - inter
    cand.join(feats.as("fa"), col("id_a") === col("fa.doc_id"))
      .join(feats.as("fb"), col("id_b") === col("fb.doc_id"))
      .withColumn("jaccard_dist", lit(1.0) - inter / union)
      .filter(col("jaccard_dist") < distanceThreshold)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard_dist"), 4).as("jaccard_dist"))
      .orderBy("id_a", "id_b")
  }

  /** Embedding-cosine near-dup: pairs of vectors above a cosine
    * threshold, candidate-limited to shared LSH buckets (see
    * [[Similarity.lshBucketId]]) — the vector-space analogue of the
    * MinHash cascade, again no all-pairs join.
    */
  def embeddingNearDup(emb: DataFrame, threshold: Double = 0.95): DataFrame = {
    val withBucket = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"),
      Similarity.lshBucketId(col("embedding").cast("array<double>")).as("bucket_id"))
    val a = withBucket.select(col("vec_id").as("id_a"), col("v").as("va"), col("bucket_id"))
    val b = withBucket.select(col("vec_id").as("id_b"), col("v").as("vb"), col("bucket_id"))
    a.join(b, Seq("bucket_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("id_a", "id_b")
  }

  /** Per-document duplicated n-gram fraction — the substring-level dup
    * signal between whole-document dedup and [[paragraphDedup]]: what
    * share of a document's distinct n-grams also appear in at least
    * one OTHER document. A high fraction flags boilerplate and
    * cross-document template text that survives both exact and
    * near-dup removal because no single pair clears the Jaccard bar.
    *
    * Scale shape, same contract as the cascade: the native shingle
    * generator streams (doc_id, n-gram) rows, the shared-gram
    * vocabulary is a hash aggregate on the gram (after the per-doc
    * dropDuplicates, a plain count IS the distinct-doc count), and
    * marking is a semi-join back on the gram string — no array ever
    * crosses a shuffle, work ∝ total distinct (doc, gram) rows.
    * Documents shorter than n tokens have no n-grams and are absent
    * from the output (there is no fraction to report).
    */
  def dupNgramFraction(docs: DataFrame, n: Int = 5): DataFrame = {
    val grams = shingleDocs(graft.engine.Tables.spreadNarrowCompute(docs), n)
      .dropDuplicates("doc_id", "shingle")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shared = grams.groupBy("shingle")
      .agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") > 1)
      .select("shingle")
    val total = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val dup = grams.join(shared, Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    total.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_grams"), 4)
          .as("dup_fraction"))
      .orderBy("doc_id")
  }

  /** End-to-end embedding semantic dedup: [[embeddingNearDup]] pairs →
    * [[dupClustersFromPairs]] connected components → one canonical
    * keeper (min vec_id) per cluster — the embedding-space twin of
    * [[cleaningPipelineClustered]]'s C4 convention, so transitive
    * near-duplicate chains (A≈B≈C with A̸≈C) collapse to a single
    * representative instead of leaking pairwise survivors. Emits every
    * vector with its cluster id (its own id when unclustered) and the
    * keep verdict, audit-style, rather than silently dropping rows.
    *
    * Cost is the bucketed pair generation plus CC on the pair graph —
    * both already bounded (LSH buckets, (long, long) CC rows); the
    * final labeling is a broadcast-sized left join at any realistic
    * cluster count, and Catalyst picks broadcast from the label-side
    * size statistics.
    */
  def semanticDedup(emb: DataFrame, threshold: Double = 0.95,
                    checkpointDir: Option[String] = None): DataFrame = {
    val pairs = embeddingNearDup(emb, threshold).select("id_a", "id_b")
    val labels = dupClustersFromPairs(pairs, checkpointDir = checkpointDir)
      .withColumnRenamed("doc_id", "vec_id")
    semanticDedupFromLabels(emb, labels)
  }

  /** The label-join half of [[semanticDedup]], shared with the
    * materialized path: every vector gets its cluster id (its own id
    * when unclustered) and the min-id keep verdict.
    */
  private def semanticDedupFromLabels(emb: DataFrame, labels: DataFrame): DataFrame =
    emb.select(col("vec_id"))
      .join(labels, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"),
        (coalesce(col("cluster_id"), col("vec_id")) === col("vec_id")).as("keep"))
      .orderBy("vec_id")

  /** Content-addressed location for the MATERIALIZED embedding-CC
    * label frame of one embeddings table at one cosine threshold —
    * the [[cascadeDir]] discipline applied to the embedding side:
    * `dir/labels` holds the [[dupClustersFromPairs]] output over
    * [[embeddingNearDup]] pairs (vec_id, cluster_id). The prefix bakes
    * the threshold in, so a frame can never be served at a setting it
    * was not built with.
    *
    * Why materialize: the CC pointer-jumping loop is MANY SMALL JOBS —
    * the most load-sensitive shape in the engine (each round is a
    * join + aggregate + convergence count whose scheduling overhead a
    * co-tenant burst multiplies) — while its output is a pure function
    * of the corpus: (long, long) rows that parquet roundtrips exactly.
    * Production re-dedups a 100 TB embedding corpus once per snapshot
    * and probes the labels from every audit; re-running the iteration
    * per invocation is the anti-pattern the text-side cascade already
    * retired.
    */
  def semCcDir(spark: org.apache.spark.sql.SparkSession, dataPath: String,
               base: String, threshold: Double = 0.3,
               variant: String = ""): String = {
    // `variant` keys a SLICE of the same embedding files (the address
    // signs files, not filters) — q265's yesterday-corpus frame; it
    // trails the threshold so prebuildSemanticCc's setting check
    // (`contains("semcc_t<t>_")`) holds for every variant
    val t = math.rint(threshold * 1000).toInt
    ContentAddress.dirFor(spark, dataPath, base,
      s"semcc_t${t}_$variant", "semCcDir")
  }

  /** Build the embedding-CC label frame now iff not already committed
    * (the [[prebuildCascade]] pattern — called from Bench warm-up so
    * the one-time build is accounted as `scc` on the builds line,
    * never inside q79's measured time). Returns true iff a build
    * happened.
    */
  def prebuildSemanticCc(emb: DataFrame, dir: String,
                         threshold: Double = 0.3,
                         labels: Boolean = true): Boolean = {
    // labels = false skips the CC tier (the prebuildCascade rule):
    // q265's OLD-slice fixture needs only the pairs tier — the append
    // re-closes CC over the union
    // the dir's prefix bakes the threshold ([[semCcDir]]); a caller
    // pairing a dir built for one threshold with another would be
    // served a committed frame from the WRONG setting — exactly the
    // staleness the content address exists to prevent, so reject the
    // mismatch instead of honoring the dir
    require(dir.contains(s"semcc_t${math.rint(threshold * 1000).toInt}_"),
      s"prebuildSemanticCc: dir $dir was not addressed for threshold $threshold")
    // two tiers committing independently (the prebuildCascade resume
    // semantics): a run that died between them resumes by building
    // labels FROM the committed pairs instead of re-running the
    // bucketed cosine join; the pairs tier also serves the τ sweep
    // (q263) directly
    val spark = emb.sparkSession
    val pairsFresh = ContentAddress.commitOnce(spark, s"$dir/pairs")(
      embeddingNearDup(emb, threshold))
    val labelsFresh = labels && ContentAddress.commitOnce(spark, s"$dir/labels")(
      dupClustersFromPairs(spark.read.parquet(s"$dir/pairs").select("id_a", "id_b"))
        .withColumnRenamed("doc_id", "vec_id"))
    pairsFresh || labelsFresh
  }

  /** Incremental SEMANTIC append — [[appendToCascade]]'s embedding
    * twin: a batch of NEW vectors lands on a committed semcc frame
    * ([[prebuildSemanticCc]]) bit-identical to a full rebuild over
    * the union, re-verifying ONLY batch-touching pairs. The identity
    * mirrors the lexical one: the LSH bucket is a pure per-vector
    * function, so two OLD vectors collide in the union iff they
    * collided before ⇒ new pairs are exactly those with ≥1 batch
    * endpoint — one bucket equi-join of the union's bucketed vectors
    * against the BATCH's (build side = the batch), cosine-verified
    * with the rebuild's exact expression (term order identical, so
    * the round-6 value is bit-equal); labels re-close globally from
    * the union pair frame (a batch vector can merge old clusters).
    * At 100 TB: the daily embedding delta costs a map-side bucketing
    * of the corpus plus a batch-sized join — never the corpus-wide
    * bucket self-join again — and the write side (r18) links the
    * resident pair history instead of rewriting it
    * ([[graft.engine.Landing.landDelta]]).
    * Preconditions mirror [[appendToCascade]]:
    * committed old pairs, batch vec_ids disjoint from `oldEmb`.
    * Returns true iff any tier was built.
    */
  def appendToSemanticCc(batch: DataFrame, oldEmb: DataFrame,
                         oldDir: String, newDir: String,
                         threshold: Double = 0.3): Boolean = {
    val spark = batch.sparkSession
    val t = math.rint(threshold * 1000).toInt
    Seq(oldDir, newDir).foreach(d => require(d.contains(s"semcc_t${t}_"),
      s"appendToSemanticCc: dir $d was not addressed for threshold $threshold"))
    require(committed(spark, oldDir, "pairs"),
      s"appendToSemanticCc requires a committed pairs tier at $oldDir")
    if (committed(spark, newDir, "pairs", "labels")) return false
    require(batch.select("vec_id")
        .join(oldEmb.select("vec_id"), Seq("vec_id"), "left_semi").isEmpty,
      "appendToSemanticCc: batch vec_ids overlap the old corpus")
    def bucketed(e: DataFrame) = e.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"),
      Similarity.lshBucketId(col("embedding").cast("array<double>")).as("bucket_id"))
    val bBatch = bucketed(batch)
    val bUnion = bucketed(oldEmb).unionByName(bBatch)
    // batch-batch pairs arrive in both orders; values are bit-equal
    // (cosine is a commutative per-term product in identical index
    // order), so the (id_a, id_b) dedup keeps the rebuild's single row
    val newPairs = bUnion.as("a").join(bBatch.as("b"),
        col("a.bucket_id") === col("b.bucket_id") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("cos", Similarity.cosine(col("a.v"), col("b.v")))
      .filter(col("cos") >= threshold)
      .select(least(col("a.vec_id"), col("b.vec_id")).as("id_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("id_b"),
        round(col("cos"), 6).as("cos_sim"))
      .dropDuplicates("id_a", "id_b")
    // delta landing (r18, the appendToCascade discipline): the new
    // pairs tier = the old tier's files hard-linked + only the
    // batch-endpoint pairs as fresh part files — the resident pair
    // history never rides through Spark again (at 100 TB the r17
    // union-rewrite paid a full history copy per batch). Disjointness
    // keeps the layout row-equal to the rebuild: every delta pair has
    // ≥1 batch endpoint, which no old pair can have.
    if (!committed(spark, newDir, "pairs"))
      graft.engine.Landing.landDelta(newPairs,
        s"$oldDir/pairs", s"$newDir/pairs")
    // labels: full (narrow, cheap) rebuild — CC re-closes globally
    ContentAddress.commitOnce(spark, s"$newDir/labels")(
      dupClustersFromPairs(spark.read.parquet(s"$newDir/pairs").select("id_a", "id_b"))
        .withColumnRenamed("doc_id", "vec_id"))
    true
  }

  /** q265: the semantic append AS A QUERY — q264's embedding twin.
    * The daily vector batch (`vec_id % 10 == 7`) lands on yesterday's
    * committed semcc frame via [[appendToSemanticCc]] into the UNION
    * corpus's address (the frame q79/q263 probe, so their oracles
    * re-check the bit-identical contract), then reports the
    * batch-attributable verified pairs.
    */
  def semanticAppendNewPairs(emb: DataFrame, oldDir: String, newDir: String,
                             threshold: Double = 0.3): DataFrame = {
    val old = emb.filter(col("vec_id") % 10 =!= 7)
    prebuildSemanticCc(old, oldDir, threshold, labels = false)
    appendToSemanticCc(emb.filter(col("vec_id") % 10 === 7), old,
      oldDir, newDir, threshold)
    emb.sparkSession.read.parquet(s"$newDir/pairs")
      .filter(col("id_a") % 10 === 7 || col("id_b") % 10 === 7)
      .orderBy("id_a", "id_b")
  }

  /** q263: the semantic τ knob chosen on evidence — the
    * [[dedupThresholdSweep]] discipline on the EMBEDDING side: for
    * every candidate cosine threshold at or above the frame's verify
    * floor, the pairs firing, the vectors dropped under the pairwise
    * loser convention (higher vec_id — the [[semanticDedupPrefix]]
    * arrival-order semantics collapsed to id order), and survivors.
    * With q262 this completes the pair: the lexical and semantic
    * dedup knobs are both swept against their materialized pair
    * frames instead of being guessed.
    *
    * Thresholds are exact q6 BIGINTs against the stored round-6
    * cosine quantized through floor(x·10⁶+½) — the ANN-oracle chain,
    * no double comparison anywhere. The grid must start at the
    * frame's verify floor (pairs below it were never generated).
    */
  def semanticThresholdSweep(emb: DataFrame, dir: String,
                             thresholdsQ6: Seq[Long] =
                               Seq(300000L, 400000L, 500000L, 600000L,
                                 700000L, 800000L, 900000L),
                             verifyThreshold: Double = 0.3): DataFrame = {
    require(thresholdsQ6.nonEmpty &&
      thresholdsQ6.min >= math.rint(verifyThreshold * 1e6).toLong,
      "sweep grid must start at or above the frame's verify threshold")
    prebuildSemanticCc(emb, dir, verifyThreshold)
    val spark = emb.sparkSession
    import spark.implicits._
    val p = spark.read.parquet(s"$dir/pairs")
      .select(col("id_b"),
        floor(col("cos_sim") * 1e6 + 0.5).cast("long").as("c6"))
    val swept = p
      .select(col("id_b"), col("c6"),
        explode(typedLit(thresholdsQ6)).as("t6"))
      .filter(col("c6") >= col("t6"))
      .groupBy("t6")
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
        countDistinct(col("id_b")).cast("bigint").as("n_dropped"))
    val totals = emb.agg(count(lit(1)).cast("bigint").as("n_vecs"))
    thresholdsQ6.toDF("t6")
      .join(swept, Seq("t6"), "left")
      .crossJoin(broadcast(totals))
      .select((col("t6").cast("double") / 1e6).as("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_vecs") - coalesce(col("n_dropped"), lit(0L)))
          .cast("bigint").as("n_survivors"))
      .orderBy("threshold")
  }

  /** [[semanticDedup]] served from the materialized label frame —
    * identical rows (the labels are (long, long): the parquet
    * roundtrip is exact, and the keep verdict recomputes probe-side),
    * built on first use. The probe is one labels scan + the vec_id
    * equi-join; the CC iteration never runs inside a measured query.
    */
  def semanticDedupCached(emb: DataFrame, dir: String,
                          threshold: Double = 0.3): DataFrame = {
    prebuildSemanticCc(emb, dir, threshold)
    semanticDedupFromLabels(emb,
      emb.sparkSession.read.parquet(s"$dir/labels"))
  }

  /** ARRIVAL-ORDER semantic dedup — the batch twin of
    * [[graft.streaming.StreamPipeline.semanticDedupStream]]: a vector
    * is a duplicate iff some EARLIER vector (vec_id <, the arrival
    * order) in its sign-LSH bucket is within `threshold` cosine.
    * Unlike [[semanticDedup]] (global connected components — the
    * whole-corpus re-dedup), this is the ingest-time semantics: each
    * arrival is judged against the prefix before it, which is exactly
    * what a streaming deduper can decide on the spot, and the two
    * agree on keep-sets when clusters arrive contiguously. Reports
    * (vec_id, is_dup, dup_of = earliest prior match, n_prior).
    *
    * Scale: candidate pairs are bucket-bounded (the
    * [[embeddingNearDup]] equi-join — never all-pairs), the verdict
    * aggregate shuffles (id, id) longs only, and the final left join
    * restores the full corpus frame.
    */
  def semanticDedupPrefix(emb: DataFrame, threshold: Double = 0.3): DataFrame = {
    val hits = embeddingNearDup(emb, threshold)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min("id_a").as("dup_of"), count(lit(1)).as("n_prior"))
    emb.select(col("vec_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("dup_of").isNull, 0).otherwise(1).as("is_dup"),
        col("dup_of"), coalesce(col("n_prior"), lit(0L)).as("n_prior"))
      .orderBy("vec_id")
  }

  /** Shared-run EXCISION — the removal half of the substring-dedup
    * story ([[sharedRunLengths]] is the forensics half): delete every
    * maximal token run of ≥ `minRun` tokens that appears verbatim in
    * more than one document, keeping the surrounding text. This is
    * the Lee-et-al-style repeated-substring cut a training corpus
    * gets where whole-document dedup can't fire (boilerplate headers,
    * license blocks, quoted spans) — and `minRun` is the guard that
    * keeps incidental short n-gram collisions (common phrases) from
    * shredding documents.
    *
    * Mechanics: positional 60-bit gram hashes (the native
    * [[graft.functions.GramHashGenerator]]) → shared-gram vocabulary
    * (hash aggregate on 8-byte keys, distinct-doc count > 1) →
    * covered token positions via a bounded n-way explode of the
    * shared STARTS → consecutive-coverage runs inside natural doc_id
    * window partitions → drop covered runs ≥ minRun → rebuild text
    * from the kept tokens (doc-local sort_array(collect_list)).
    * Only hashes and (doc, pos) pairs cross shuffles — never text
    * until the final doc-local rebuild.
    */
  def exciseSharedRuns(docs: DataFrame, n: Int = 3, minRun: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = docs.select(col("doc_id"),
        graft.functions.GramHashGenerator.gramHashes(col("text"), n).as(Seq("pos", "h")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shared = grams.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd")).filter(col("nd") > 1).select("h")
    val covered = grams.join(shared, Seq("h"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("j"))
      .distinct()
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("j", "tok")))
    val flagged = toks
      .join(covered.withColumn("cov", lit(1)), Seq("doc_id", "j"), "left")
      .withColumn("cov", coalesce(col("cov"), lit(0)))
    val runs = flagged.withColumn("grp",
        col("j") - row_number().over(
          Window.partitionBy("doc_id", "cov").orderBy("j")))
      .withColumn("rsz", count(lit(1)).over(
        Window.partitionBy("doc_id", "cov", "grp")))
      .withColumn("keep", col("cov") === 0 || col("rsz") < minRun)
    runs.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("keep"), 0).otherwise(1)).cast("bigint").as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("j"), col("tok"))))),
          s => s.getField("tok"))).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Cross-source duplication matrix — the provenance diagnostic a
    * multi-source corpus needs before mixture weighting: for every
    * source pair (a ≤ b), how many distinct content fingerprints
    * appear in both. The diagonal (a = b) counts fingerprints
    * duplicated WITHIN a source (≥ 2 copies); off-diagonal cells
    * reveal sources crawling each other — double-counted content that
    * silently skews any per-source mixture recipe.
    *
    * `level` picks the fingerprint granularity: "doc" hashes the full
    * text (the strict matrix — only whole-document copies light up);
    * "paragraph" hashes [[paragraphs]]-style 20-token chunks, the
    * C4-tier signal that catches shared boilerplate/quotes between
    * sources long before whole documents coincide.
    *
    * Scale shape: the map-side (fp, source) pre-aggregation means the
    * self-join shuffles one 16-byte-keyed row per distinct
    * (fingerprint, source) — never documents — and a fingerprint's
    * join fan-out is bounded by #sources² (single digits), so there
    * is no skew amplification even for a fingerprint present in every
    * source. Output is #source² rows — driver-safe by construction.
    */
  def crossSourceDups(docs: DataFrame, level: String = "doc"): DataFrame = {
    val fps = level match {
      case "doc" => docs.select(col("source"), md5(col("text")).as("fp"))
      case "paragraph" =>
        docs.select(col("source"), split(col("text"), " ").as("tk"))
          .select(col("source"), explode(expr(
            "transform(sequence(0, int(ceil(size(tk) / 20D)) - 1), " +
              "i -> concat_ws(' ', slice(tk, i * 20 + 1, 20)))")).as("para"))
          .select(col("source"), md5(col("para")).as("fp"))
      case other => throw new IllegalArgumentException(
        s"crossSourceDups level must be 'doc' or 'paragraph', got $other")
    }
    val perSource = fps
      .groupBy("fp", "source").agg(count(lit(1)).as("n"))
    val a = perSource.select(col("fp"), col("source").as("source_a"), col("n").as("n_a"))
    val b = perSource.select(col("fp"), col("source").as("source_b"))
    a.join(b, Seq("fp"))
      .filter(col("source_a") < col("source_b") ||
        (col("source_a") === col("source_b") && col("n_a") >= 2))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared_fps"))
      .orderBy("source_a", "source_b")
  }

  /** q249: the q102 provenance matrix lifted to the NEAR-dup tier —
    * per source pair (a ≤ b), how many VERIFIED near-dup clusters
    * contain documents from both sources (diagonal: clusters holding
    * ≥ 2 documents of that source). q102 lights up only when whole
    * fingerprints coincide; this is the "who paraphrases whom" matrix
    * — cross-source near-duplication that skews mixture weights
    * without ever being an exact copy. Answered OFF THE MATERIALIZED
    * cluster labels (the q240 probe-the-frame precedent): no cascade
    * re-run.
    *
    * Scale shape (q102's argument, transposed to clusters): the
    * (cluster, source) pre-aggregation means the self-join shuffles
    * one narrow row per distinct (cluster, source) — never documents —
    * and a cluster's join fan-out is bounded by #sources², so a
    * mega-cluster cannot amplify. Output ≤ #sources² rows.
    */
  def nearDupSourceMatrix(docs: DataFrame, dir: String): DataFrame = {
    // no (threshold, bands) knobs HERE by design: `dir` already
    // encodes them ([[cascadeDir]]'s prefix), so a probe-side param
    // that disagreed with the dir would silently read frames built at
    // the other setting — the probe reads whatever the address holds
    val labeled = dupClustersCached(docs, dir)
      .join(docs.select("doc_id", "source"), "doc_id")
    val perSource = labeled.groupBy("cluster_id", "source")
      .agg(count(lit(1)).as("n"))
    val a = perSource.select(col("cluster_id"),
      col("source").as("source_a"), col("n").as("n_a"))
    val b = perSource.select(col("cluster_id"), col("source").as("source_b"))
    a.join(b, Seq("cluster_id"))
      .filter(col("source_a") < col("source_b") ||
        (col("source_a") === col("source_b") && col("n_a") >= 2))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared_clusters"))
      .orderBy("source_a", "source_b")
  }

  /** Size distribution of the near-dup clusters — the dedup-
    * aggressiveness audit: a heavy tail of large clusters means the
    * threshold is catching template families, a wall of 2s means it
    * is only catching exact-ish copies. Runs the full LSH → verify →
    * CC cascade ([[dupClusters]]) and then two tiny aggregations over
    * the (node, cluster) label frame; only edge-connected documents
    * appear (singletons are not clusters). The label frame is one row
    * per clustered doc — everything after the cascade is negligible
    * at any scale.
    */
  def clusterSizeDistribution(docs: DataFrame, threshold: Double = 0.2,
                              checkpointDir: Option[String] = None): DataFrame =
    dupClusters(docs, threshold, checkpointDir = checkpointDir)
      .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** Edit-distance (fuzzy) near-dup pairs — the character-level
    * verifier of the dedup cascade: catches typo/OCR mutations and
    * reports HOW different two near-copies are in edits, where
    * Jaccard reports shared-token mass. Candidate generation is the
    * SAME LSH banding as [[nearDupPairs]] ([[minhashCandidatePairs]]
    * — bucket equi-join, output-bounded, hot buckets cappable);
    * verification is `levenshtein` in Spark's early-exit threshold
    * form on a `prefixLen`-char prefix, so each comparison is
    * O(prefixLen · maxDist) and the joined rows carry ~`prefixLen`
    * bytes however long the documents are.
    *
    * A first cut blocked on length bands instead (every pair within
    * 32 chars of each other): correct, but quadratic inside a band —
    * 18.3 s at sf0.1 against ~1 s for this cascade form, and the gap
    * widens with corpus size. Length is not content: the blocking
    * that survives 100× is the one whose candidates are bounded by
    * actual shared text. Like the whole minhash family, the md5
    * banding is deterministic, so the composed operator stays
    * exact-oracle-checkable.
    *
    * On the synthetic corpus the candidate-pair distance distribution
    * is sharply bimodal (mutated copies at ≤ 4 edits on the 200-char
    * prefix, unrelated docs at ≥ 38), so the default threshold sits
    * in the silent valley.
    */
  def fuzzyDupPairs(docs: DataFrame, prefixLen: Int = 200, maxDist: Int = 20,
                    bands: Int = 4, maxBucketSize: Option[Int] = None,
                    cand: Option[DataFrame] = None): DataFrame = {
    val candidates = cand.map(_.select("id_a", "id_b"))
      .getOrElse(minhashCandidatePairs(docs, bands, maxBucketSize))
    val d = docs.select(col("doc_id"),
      substring(col("text"), 1, prefixLen).as("p"), col("n_chars"))
    candidates
      .join(d.select(col("doc_id").as("id_a"), col("p").as("pa"),
        col("n_chars").as("len_a")), Seq("id_a"))
      .join(d.select(col("doc_id").as("id_b"), col("p").as("pb"),
        col("n_chars").as("len_b")), Seq("id_b"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        levenshtein(col("pa"), col("pb"), maxDist).as("dist"),
        col("len_a"), col("len_b"))
      .filter(col("dist").between(0, maxDist)) // threshold form: -1 = above
      .orderBy("doc_a", "doc_b")
  }

  /** Source-priority paragraph dedup: when the same paragraph (the
    * [[paragraphs]] 20-token chunk convention) appears more than once
    * across the corpus, name the copy from the most trusted source
    * tier (curated < books < web here: src0–4, src5–9, rest) as the
    * keeper instead of [[paragraphDedup]]'s drop-everywhere rule —
    * the merge policy a multi-source corpus actually wants for shared
    * boilerplate: keep ONE copy, and keep the curated one, because it
    * carries the better provenance even when the bytes tie. Output is
    * one row per duplicated fingerprint (singletons are not merge
    * decisions) with the keeper's location and the copy count.
    *
    * One shuffle on the 16-byte paragraph fingerprint; the md5 is
    * computed in the scan-side projection, so no paragraph text ever
    * crosses the exchange, and both window functions share the one
    * partition spec. The (tier, doc_id, pos) order makes the keeper a
    * pure function of the corpus.
    */
  def priorityDedup(docs: DataFrame, tokensPerPara: Int = 20): DataFrame = {
    val tier = least(floor(expr("cast(substring(source, 4) as int)") / 5), lit(2))
      .cast("int")
    val paras = docs
      .select(col("doc_id"), col("source"), tier.as("tier"),
        split(col("text"), " ").as("tk"))
      .select(col("doc_id"), col("source"), col("tier"), posexplode(expr(
        s"transform(sequence(0, int(ceil(size(tk) / ${tokensPerPara}D)) - 1), " +
          s"i -> concat_ws(' ', slice(tk, i * $tokensPerPara + 1, $tokensPerPara)))")))
      .select(col("doc_id"), col("source"), col("tier"), col("pos"),
        md5(col("col")).as("fp"))
    val byFp = Window.partitionBy("fp")
    paras
      .withColumn("rn", row_number().over(byFp.orderBy("tier", "doc_id", "pos")))
      .withColumn("n_copies", count(lit(1)).over(byFp))
      .filter(col("rn") === 1 && col("n_copies") > 1)
      .select(col("fp").as("fingerprint"), col("doc_id").as("keeper_id"),
        col("source").as("keeper_source"), col("tier"),
        col("pos").as("keeper_pos"), col("n_copies"))
      .orderBy("fingerprint")
  }

  /** EXACT set-similarity self-join via prefix filtering (SSJoin /
    * PPJoin family): every pair of documents whose distinct-shingle
    * sets have Jaccard ≥ `threshold` — no MinHash approximation, no
    * banding false negatives. The prefix principle: order every set
    * by global token rarity (df asc, then token); a set of size n
    * keeps only its first n − ⌈t·n⌉ + 1 rarest tokens as its
    * "prefix"; any pair with J ≥ t MUST share a prefix token, so the
    * prefix-prefix equi-join is a complete candidate generator —
    * empirically proven here because the DuckDB oracle computes the
    * answer from ALL shared-token pairs (a dropped true pair would
    * hash-mismatch).
    *
    * Scale: candidates are CONTENT-bounded (rarest ~0.2·n shingles
    * per doc — exactly the tokens with the fewest collisions), never
    * attribute-bounded; the verify join computes intersections only
    * for candidate pairs via (doc, shingle) hash joins. Every join is
    * an equi-join; shuffles carry (id, shingle-hash)-narrow rows.
    * This is the exact-answer complement to the q32/q33 MinHash
    * cascade: same blocking philosophy, zero recall loss.
    */
  /** Distinct 60-bit-hashed shingle sets — the shared scan-side frame
    * of the exact set-similarity family ([[prefixJaccardJoin]],
    * [[containmentJoin]], [[noveltyScore]]): shingle text collapses to
    * a 60-bit md5-derived key in the projection, so set sizes, df
    * counts, and intersection counts are hash-invariant and every
    * downstream shuffle carries (long, long) rows instead of ~30-char
    * strings (the fingerprints-not-documents rule; 3.8 s → see
    * SCALE.md). Collision odds over #distinct-shingles are ~2⁻⁴⁰ per
    * corpus, and the oracles compute from RAW shingles, so a collision
    * would be caught, not absorbed. PERSISTED — each operator reads it
    * 3–5 times (df counts, sizes, prefix, both verify sides);
    * unpersisted, the shingle UDTF + md5 + distinct replay each time.
    * ONE definition on purpose: the hash width and key shape must stay
    * in lock-step with the DuckDB oracles across all three operators.
    */
  private def hashedShingleSets(docs: DataFrame): DataFrame =
    shingleDocs(docs)
      .select(col("doc_id"),
        conv(substring(md5(col("shingle")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The prefix-filtering principle's candidate prefix: each doc's
    * `n − ⌈t·n⌉ + 1` globally RAREST shingles (df asc, h asc rank) —
    * any pair meeting the threshold must collide inside this prefix.
    * Shared by the symmetric (Jaccard) and asymmetric (containment)
    * joins so the rarity-rank definition cannot de-sync.
    */
  private def rarityPrefix(sh: DataFrame, sz: DataFrame,
                           threshold: Double): DataFrame = {
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(dfreq, "h")
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df").asc, col("h").asc)))
      .join(sz, "doc_id")
      .where(col("pos") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select(col("doc_id"), col("h"), col("n"))
  }

  /** Exact |A∩B| per candidate pair via two (doc, h) equi-joins —
    * the verify stage both exact set-similarity joins share.
    */
  private def pairIntersections(cand: DataFrame, sh: DataFrame): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("h")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))

  def prefixJaccardJoin(docs: DataFrame, threshold: Double = 0.8,
                        shSets: Option[DataFrame] = None): DataFrame = {
    val sh = shSets.getOrElse(hashedShingleSets(docs))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pref = rarityPrefix(sh, sz, threshold)
    // candidate join adds SSJoin's length filter: J ≥ t forces
    // t·|B| ≤ |A| ≤ |B|/t, so size-mismatched prefix collisions are
    // dropped BEFORE the verify pays for their intersections (the
    // filter prunes ~half the candidates on a low-entropy corpus
    // where rare-shingle prefixes alone are weakly selective)
    val cand = pref.as("a")
      .join(pref.as("b"), col("a.h") === col("b.h")
        && col("a.doc_id") < col("b.doc_id")
        && col("a.n") >= ceil(lit(threshold) * col("b.n"))
        && col("b.n") >= ceil(lit(threshold) * col("a.n")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact verify on candidates only
    pairIntersections(cand, sh)
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .withColumn("jaccard",
        col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("inter"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** EXACT shingle-containment join: every DIRECTED pair (a, b) with
    * C(a→b) = |S(a)∩S(b)| / |S(a)| ≥ `threshold` — the asymmetric
    * complement of [[prefixJaccardJoin]]. Containment is what catches
    * quotes, wrapped articles, and boilerplate-padded reposts:
    * a 4-shingle doc fully embedded in a 40-shingle doc has C = 1.0
    * but J ≈ 0.1, invisible to any symmetric-Jaccard cascade.
    *
    * Prefix principle, asymmetric form: C(a→b) ≥ t forces
    * |a∩b| ≥ ⌈t·|a|⌉, so at most |a| − ⌈t·|a|⌉ of a's shingles miss
    * b — a's ⌊|a| − ⌈t·|a|⌉⌋ + 1 globally-rarest shingles MUST hit
    * b's FULL set. Candidates are therefore a-prefix ⋈ b-full on the
    * shingle key (complete, proven by the all-pairs oracle), plus the
    * size bound |b| ≥ ⌈t·|a|⌉ (|a∩b| ≤ |b|). Same 60-bit hashed
    * shingle keys and (long, long) shuffle rows as the Jaccard join;
    * the b-full side is the corpus (doc, h) table itself, keyed on h —
    * rare-shingle prefixes keep the candidate volume content-bounded.
    */
  def containmentJoin(docs: DataFrame, threshold: Double = 0.9,
                      shSets: Option[DataFrame] = None): DataFrame = {
    val sh = shSets.getOrElse(hashedShingleSets(docs))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pref = rarityPrefix(sh, sz, threshold)
    val cand = pref.as("a")
      .join(sh.join(sz, "doc_id").as("b"), col("a.h") === col("b.h")
        && col("a.doc_id") =!= col("b.doc_id")
        && col("b.n") >= ceil(lit(threshold) * col("a.n")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    pairIntersections(cand, sh)
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .withColumn("containment", col("inter") / col("n_a"))
      .where(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("inter"), round(col("containment"), 4).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** Per-document novelty: the fraction of a doc's distinct shingles
    * whose FIRST corpus occurrence (min doc_id — ingestion order) is
    * the doc itself. A crawl-freshness / repetition-over-time
    * diagnostic: novelty ≈ 1 is genuinely new text, ≈ 0 is re-crawled
    * or templated content — the streaming-ingest complement of the
    * batch dedup cascade (a doc the cascade would drop scores ~0 here
    * before any pair is ever materialized).
    *
    * Scale: one min-aggregate keyed on the 60-bit hashed shingle and
    * one join back on the same key — no pair generation at all, so
    * cost is linear in distinct (doc, shingle) rows; shuffles carry
    * (long, long) rows (the fingerprints-not-documents rule).
    */
  def noveltyScore(docs: DataFrame,
                   shSets: Option[DataFrame] = None): DataFrame = {
    val sh = shSets.getOrElse(hashedShingleSets(docs))
    val first = sh.groupBy("h").agg(min("doc_id").as("first_doc"))
    sh.join(first, "h")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", round(col("n_novel") / col("n_shingles"), 4))
      .orderBy("doc_id")
  }

  /** Winnowing fingerprint matching (Schleimer/Wilkerson/Aiken, the
    * MOSS algorithm; arXiv-free classic, SIGMOD '03): per document,
    * hash every n-token shingle IN POSITION ORDER, slide a window of
    * `w` consecutive hashes, and select each window's MINIMUM — the
    * selected set has expected density 2/(w+1) of the k-gram stream
    * yet is guaranteed to catch any shared run of ≥ n+w−1 tokens
    * (the winnowing guarantee the fixed-stride samplers lack). The
    * report is the MOSS output: document pairs ranked by how many
    * selected fingerprints they share.
    *
    * Determinism / oracle parity: the hash is the first 15 hex chars
    * of md5(shingle). Spark compares it as a 60-bit LONG, the DuckDB
    * oracle as the raw hex string — fixed-width lowercase hex orders
    * identically under binary collation and numerically, so both
    * engines select the SAME window minima; the emitted pair counts
    * never contain the hash, so the long-vs-string representation
    * difference is invisible to the driver's hash check. Windows are
    * complete (`pos ≥ w−1`) so a document with fewer than w shingles
    * contributes nothing in either engine.
    *
    * Scale: selection happens INSIDE the per-document window pass —
    * the cross-document join sees only the winnowed ~2/(w+1)
    * fraction, and each (doc, fingerprint) pair is distinct before
    * the join, so fan-out is bounded by true fingerprint sharing
    * (boilerplate-hot fingerprints cappable upstream by the same
    * bucket-cap pattern as LSH). The per-doc window sort is the only
    * ordered step and it partitions by doc_id — no global sort at
    * any scale. Shuffles carry (long, long) rows throughout.
    */
  /** Sorted-neighborhood near-dup detection (SNM, Hernández/Stolfo) —
    * the third blocking family next to LSH banding (q33) and prefix
    * filtering (q135): documents sort by a normalized key and only
    * WINDOW-ADJACENT documents become candidates. SNM catches what
    * hash blocking can't be tuned for — near-identical PREFIXES with
    * long divergent tails (template-generated text) — at a cost
    * linear in corpus size, and it degrades predictably: a true pair
    * further than `windowSize` apart in sort order is missed, which
    * is why production SNM is MULTI-PASS. Two passes here: the
    * normalized head (prefix-sorted) and the reversed tail
    * (suffix-sorted); their candidate union feeds the same
    * count-based exact-Jaccard verify as q33.
    *
    * Scale: sorting is NEVER global — documents bucket by the key's
    * first two characters and each window pass sorts within its
    * bucket only (pairs straddling a bucket edge are part of SNM's
    * documented recall trade, recovered in practice by the second
    * pass's different bucketing). Windows carry (bucket, key-prefix,
    * doc_id) rows; the verify joins shuffle only (long, long) shingle
    * hashes. Prefix-skewed buckets ("the ...") are the operator's
    * known hot spot — the key length keeps bucket sort scope bounded
    * and the verify cost is candidate-bounded either way.
    */
  def snmNearDups(docs: DataFrame, threshold: Double = 0.2,
                  windowSize: Int = 4, keyLen: Int = 24,
                  shSets: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0, "threshold must be > 0")
    val norm = substring(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), 1, keyLen)
    def pass(key: Column) = {
      val keyed = docs.select(col("doc_id"), key.as("k"))
        .withColumn("bkt", substring(col("k"), 1, 2))
      val w = Window.partitionBy("bkt").orderBy("k", "doc_id")
      (1 until windowSize).map { j =>
        keyed.select(col("doc_id").as("x"),
            lead(col("doc_id"), j).over(w).as("y"))
          .filter(col("y").isNotNull)
          .select(least(col("x"), col("y")).as("id_a"),
            greatest(col("x"), col("y")).as("id_b"))
      }.reduce(_.unionByName(_))
    }
    val cand = pass(norm)
      .unionByName(pass(substring(reverse(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")), 1, keyLen)))
      .distinct()
    // r19 (VERDICT item 5): the verify runs on the 60-bit HASHED
    // shingle-set frame — the same tier prefix-Jaccard and containment
    // already share (injected by snmNearDupsCached, so the fam build
    // scans/shingles the corpus once for all three set-similarity
    // families), and the verify joins shuffle 8-byte longs instead of
    // shingle strings. Same collision argument as the other two
    // consumers: ~2⁻⁴⁰ per corpus, and the oracle recomputes from RAW
    // shingles, so a collision would be caught, not absorbed.
    val sh = shSets.getOrElse(hashedShingleSets(docs))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    cand
      .join(sizes.select(col("doc_id").as("id_a"), col("nsh").as("na")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("nsh").as("nb")), Seq("id_b"))
      .join(sh.select(col("doc_id").as("id_a"), col("h")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("h")), Seq("id_b", "h"))
      .groupBy("id_a", "id_b", "na", "nb").agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Longest shared token run per candidate pair — the forensic twin
    * of the Jaccard verify (q33): Jaccard says HOW MUCH two documents
    * share, this says whether they share one long VERBATIM passage or
    * many scattered phrases — the distinction between quotation /
    * wrapper reuse and topical similarity, and the signal
    * substring-level dedup (Lee et al.'s exact-substring rule) keys
    * on. Computed only on the q32 LSH candidate pairs, never all
    * pairs.
    *
    * Method: positional trigram hashes, restricted to grams UNIQUE
    * within their document (a repeated gram has no single diagonal —
    * dropping them makes every match row unambiguous and bounds the
    * pair join at one row per shared gram; runs through a repeated
    * gram split in two, so the reported length is a conservative
    * lower bound). Matched (pa, pb) positions on the same diagonal
    * pa−pb with consecutive pa form a run — the classic
    * islands-and-gaps grouping key pa − row_number. max_run_tokens =
    * max_run_grams + n − 1.
    *
    * Scale: candidate generation is the LSH banding join (uncapped
    * here to keep q183's oracle CTE identical; a boilerplate-heavy
    * corpus would pass [[minhashCandidatePairs]]' `maxBucketSize` and
    * mirror the cap in the oracle); the
    * unique-gram filter is a partial-aggregated groupBy; matches
    * shuffle (long, long, long) rows; the islands window partitions
    * by (pair, diagonal). Pairs with no unique shared gram drop.
    */
  def sharedRunLengths(docs: DataFrame, bands: Int = 4,
                       n: Int = 3, cand: Option[DataFrame] = None): DataFrame = {
    val pairs = cand.map(_.select("id_a", "id_b"))
      .getOrElse(minhashCandidatePairs(docs, bands))
    // native positional gram hashes (graft.functions.GramHashGenerator):
    // same 0-based positions and 60-bit keys as the composable
    // transform+posexplode+md5 form — spec-asserted — without
    // materializing a gram-string array per document
    val grams = docs.select(col("doc_id"),
      graft.functions.GramHashGenerator.gramHashes(col("text"), n)
        .as(Seq("pos", "h")))
    val uniq = grams.groupBy("doc_id", "h")
      .agg(count(lit(1)).as("c"), min("pos").as("pos"))
      .filter(col("c") === 1).drop("c")
    val matches = pairs
      .join(uniq.select(col("doc_id").as("id_a"), col("pos").as("pa"),
        col("h")), "id_a")
      .join(uniq.select(col("doc_id").as("id_b"), col("pos").as("pb"),
        col("h")), Seq("id_b", "h"))
    matches
      .withColumn("d", col("pa") - col("pb"))
      .withColumn("rid", col("pa") - row_number().over(
        Window.partitionBy("id_a", "id_b", "d").orderBy("pa")))
      .groupBy("id_a", "id_b", "d", "rid").agg(count(lit(1)).as("rg"))
      .groupBy("id_a", "id_b")
      .agg(max(col("rg")).cast("int").as("max_run_grams"))
      .withColumn("max_run_tokens", col("max_run_grams") + (n - 1))
      .orderBy("id_a", "id_b")
  }

  /** Content-defined chunking + cross-document chunk dedup — the
    * storage-dedup trick (Rabin/Gear CDC) applied to corpus forensics:
    * a chunk boundary falls BEFORE token i wherever the trigram
    * starting at i hashes to 0 mod `divisor`, so boundaries are
    * functions of CONTENT, not offsets — insert a sentence and only
    * the chunks around the edit change, where fixed-size chunking
    * (q100) re-chunks the whole tail. Each doc reports how many of
    * its chunks also appear verbatim in some OTHER document — the
    * sub-document duplication signal paragraph dedup (q63) can only
    * see when authors agree on paragraph breaks.
    *
    * Plumbing: boundaries, chunk spans, and chunk texts are all built
    * INSIDE per-row array expressions (the guarded starts/next-start
    * pattern — `try_element_at` for the lookahead, explicit empty-
    * array branches, and `sequence` never called with to < from, the
    * descending-sequence trap); chunks then explode map-side and
    * collapse to md5 fingerprints immediately, so the only thing that
    * ever shuffles is (doc_id, fingerprint) — chunk text dies inside
    * the scan stage. Mean chunk length ≈ divisor tokens.
    *
    * Exactness: whole pipeline is integer/string-deterministic; the
    * one division is the final shared-fraction round(4).
    */
  def cdcChunkShare(docs: DataFrame, n: Int = 3,
                    divisor: Int = 8): DataFrame = {
    // native one-pass chunker (graft.functions.ChunkGenerator): same
    // boundary rule as the composable HOF form — spec-asserted
    // equivalent — at ~18× its speed (timed per query, 5 000 docs / 16
    // threads: 17.6 s composable → 0.9 s native; chunk text still
    // dies in the scan stage, only (doc_id, idx, fp) ever shuffles).
    // PERSISTED (the hashedShingleSets contract): both the
    // docs-per-fingerprint aggregate and the join probe read this
    // frame — unpersisted, the chunking chain replays per consumer.
    val fps = docs
      .select(col("doc_id"),
        graft.functions.ChunkGenerator.cdcChunks(col("text"), n, divisor)
          .as(Seq("chunk_idx", "chunk_text")))
      .select(col("doc_id"), col("chunk_idx"),
        md5(col("chunk_text")).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val docsPerFp = fps.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    fps.join(docsPerFp, "fp")
      .groupBy("doc_id").agg(
        count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac", round(col("n_shared") / col("n_chunks"), 4))
      .orderBy("doc_id")
  }

  def winnowedPairs(docs: DataFrame, n: Int = 3, w: Int = 4,
                    minShared: Int = 2): DataFrame = {
    // native one-pass selection (graft.functions.WinnowGenerator):
    // identical window minima to the composable posexplode + doc_id
    // window form — spec-asserted — with NO shuffle before the pair
    // join (the window form exchanges + sorts every gram row by
    // doc_id first); only (doc_id, fp) ever leaves the scan stage
    val selected = docs
      .select(col("doc_id"),
        graft.functions.WinnowGenerator.winnowed(col("text"), n, w).as("fp"))
    val a = selected.toDF("doc_a", "fp")
    val b = selected.toDF("doc_b", "fp")
    a.join(b, "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
  }

  // ────────────────── materialized cascade (shared across consumers) ──────────────────

  /** Content-addressed location for the MATERIALIZED dedup cascade of
    * one corpus at one (threshold, bands) setting: `dir/cand` holds
    * the [[minhashCandidatePairs]] frame (the pre-verification tier
    * the fuzzy/forensic consumers block on), `dir/pairs` the verified
    * [[nearDupPairs]] frame (id_a, id_b, jaccard), `dir/labels` the
    * [[dupClustersFromPairs]] connected-component
    * frame (doc_id, cluster_id). Same discipline as the IVF index
    * ([[graft.operators.Similarity.ivfIndexDir]]): the address is a
    * hash of the corpus files' (path, size, mtime) plus the cascade
    * parameters, so a changed corpus or setting can never reuse a
    * stale cascade, and superseded content revisions are pruned.
    *
    * This is the production shape: nobody re-LSHes a 100 TB corpus to
    * audit cluster sizes after deduplicating it — the pair/label
    * frames are built ONCE per corpus snapshot and probed by every
    * consumer (pair reporting, cluster labeling, size audits, the
    * cluster-canonical cleaning pipeline). On a cluster the base
    * would be a durable FS path; here it is the bench tmpdir.
    */
  def cascadeDir(spark: org.apache.spark.sql.SparkSession, dataPath: String,
                 base: String, threshold: Double = 0.2, bands: Int = 4,
                 variant: String = ""): String = {
    // `variant` distinguishes cascades built over a SLICE of the same
    // corpus files (the content address signs files, not filters) —
    // e.g. q264's yesterday-corpus cascade ("oldm10r7") next to the
    // full-corpus one. Empty keeps every pre-existing address.
    val t = math.rint(threshold * 1000).toInt
    ContentAddress.dirFor(spark, dataPath, base,
      s"cc$variant${t}b${bands}_", "cascadeDir")
  }

  /** Every `dir/<tier>` of `tiers` is committed. */
  private def committed(spark: org.apache.spark.sql.SparkSession, dir: String,
                        tiers: String*): Boolean =
    tiers.forall(t => ContentAddress.hasSuccess(spark, s"$dir/$t"))

  /** Build the cascade's candidate, pair, and label frames now if
    * (and only if) they are not already committed — the bench/deploy
    * warm-up hook that keeps the one-time build out of probe-query
    * measurements (the `prebuildIvfIndex` pattern). The frames commit
    * independently, each through
    * [[graft.engine.ContentAddress.commitOnce]]: a run that died
    * between them resumes by building labels FROM the committed pairs
    * instead of re-running the LSH cascade. Returns true when any
    * build actually happened, false on full reuse.
    */
  def prebuildCascade(docs: DataFrame, dir: String,
                      threshold: Double = 0.2, bands: Int = 4,
                      labels: Boolean = true): Boolean = {
    // labels = false skips the CC tier — the pointer-jumping loop is
    // the suite's most burst-sensitive shape, and the q264 OLD-slice
    // fixture never reads its labels (the append re-closes CC over
    // the UNION pairs); everything that consumes labels keeps the
    // default
    // sub-paths via string interpolation, NOT java.io.File: File
    // mangles a URI base (hdfs://x -> /cwd/hdfs:/x), which would pin
    // these prebuilds to the local FS despite the gate's portability
    val spark = docs.sparkSession
    val candFresh = ContentAddress.commitOnce(spark, s"$dir/cand")(
      minhashCandidatePairs(docs, bands))
    // the decontamination family's shared scan-side frame
    // (threshold-independent: distinct string 3-grams) — built BEFORE
    // the pairs tier since r17, because the verify below reads it
    val sh3Fresh = prebuildShingles3(docs, dir)
    // pairs verify FROM the two committed tiers, not from raw text:
    // (a) a run that died after cand committed RESUMES here without
    // re-running the LSH cascade (the last tier pair that still
    // rebuilt from raw shingles — labels already resumed from pairs,
    // the semcc address resumes from its pairs tier); (b) even a
    // fully fresh build stops paying the banding twice (cand's
    // self-join used to run again inside nearDupPairs). Value-identity
    // with nearDupPairs is spec-proven and oracle-checked (q33 hashes
    // the frame this writes).
    val pairsFresh = ContentAddress.commitOnce(spark, s"$dir/pairs")(
      verifyCandidatePairs(spark.read.parquet(s"$dir/sh$DefaultShingleN"),
        spark.read.parquet(s"$dir/cand"), threshold))
    val labelsFresh = labels && ContentAddress.commitOnce(spark, s"$dir/labels")(
      dupClustersFromPairs(spark.read.parquet(s"$dir/pairs").select("id_a", "id_b")))
    // the exact set-similarity family's shared scan-side frame
    // (threshold-independent: 60-bit hashed distinct shingle sets)
    val shFresh = prebuildShingleSets(docs, dir)
    candFresh || pairsFresh || labelsFresh || shFresh || sh3Fresh
  }

  /** The shingle width every cascade tier is built at (and the
    * untagged-frame default the width validator assumes). */
  private[graft] val DefaultShingleN = 3

  /** Exact Jaccard verification of a CANDIDATE pair frame against a
    * distinct (doc_id, shingle) frame — [[nearDupPairs]]'s verify
    * tail factored out so it can run from COMMITTED tiers: the
    * cascade's pairs build resumes from `cand`+`sh3` instead of
    * re-shingling ([[prebuildCascade]]), and the incremental append
    * verifies only the batch-touching candidates
    * ([[appendToCascade]]). Row-identical to [[nearDupPairs]] on the
    * same corpus (spec-proven; q33's oracle hashes the output): the
    * same size-ratio prefilter with the same rounding slack, the same
    * narrow intersection join, the same round-4 jaccard cut. Shuffle
    * contract unchanged — (long, long)/(long, string) rows only, no
    * array ever crosses an exchange.
    */
  def verifyCandidatePairs(sh: DataFrame, cand: DataFrame,
                           threshold: Double = 0.2): DataFrame = {
    require(threshold > 0, "threshold must be > 0 (a 0-similarity pair is not a near-dup)")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val candSized = cand.select("id_a", "id_b")
      .join(sizes.select(col("doc_id").as("id_a"), col("nsh").as("na")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("nsh").as("nb")), Seq("id_b"))
      .filter(least(col("na"), col("nb")).cast("double") >=
        lit(threshold - 0.5e-4) * greatest(col("na"), col("nb")).cast("double") - lit(1e-9))
    candSized
      .join(sh.select(col("doc_id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b", "na", "nb").agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", round(
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Per-band LSH rows (doc_id, band, mh) computed from an
    * already-distinct (doc_id, shingle) FRAME — the same seeds and
    * shape as [[minhashCandidatePairs]]'s interior, but sourced from
    * the materialized `sh3` tier so the append path never re-shingles
    * raw text.
    */
  private def bandRowsFromShingles(sh: DataFrame, bands: Int): DataFrame = {
    val aggs = (0 until bands).map(b =>
      min(md5(concat(lit(s"b$b:"), col("shingle")))).as(s"mh$b"))
    val sig = sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    (0 until bands)
      .map(b => sig.select(col("doc_id"), lit(b).as("band"), col(s"mh$b").as("mh")))
      .reduce(_.unionByName(_))
  }

  /** Incremental cascade APPEND — the batch-arrival twin of
    * [[incrementalDedup]] (q65) at the MATERIALIZED-FRAME level,
    * mirroring [[graft.operators.Similarity.appendToIvfIndex]]'s
    * bit-identical-to-rebuild contract: given a fully committed
    * cascade for yesterday's corpus at `oldDir` and today's batch of
    * NEW documents, commit the union corpus's cascade at `newDir`
    * re-shingling ONLY the batch. Tier identities (spec-proven
    * row-equal to `prebuildCascade` over the union):
    *
    *  - `sh3`/`shsets` are per-document → old frame ∪ batch frame;
    *  - `cand`: a pair of OLD docs collides in the union iff it
    *    collided in the old corpus (band minima are per-document), so
    *    new candidates are exactly the pairs with ≥1 batch endpoint —
    *    one (band, mh) equi-join of the union's band rows against the
    *    BATCH's band rows (build side = the small batch);
    *  - `pairs`: jaccard is a pure function of the two docs' shingle
    *    sets → old pairs ∪ verify(new candidates) via
    *    [[verifyCandidatePairs]];
    *  - `labels`: connected components must re-close globally (one
    *    batch doc can merge two old clusters) — rebuilt from the
    *    union pair frame by [[dupClustersFromPairs]], the cheap tier
    *    (narrow id pairs, no text).
    *
    * At 100 TB this is the daily-crawl landing path on BOTH axes:
    * compute — the corpus-wide explode + LSH self-join (the dominant
    * cost) is paid once per HISTORY, not once per day; and I/O (r18) —
    * every resident tier enters the new address by hard link
    * ([[graft.engine.Landing.landDelta]], zero data bytes) with only
    * the batch delta written as fresh part files, where the r17 form
    * re-read and re-wrote the full corpus-sized union per batch.
    * Preconditions: the old cascade's four
    * scan-side tiers are committed, and batch doc_ids are disjoint
    * from the old corpus (guarded against the old sh3 tier — docs too
    * short to shingle are invisible to the guard, so the caller owns
    * true disjointness, same as [[incrementalDedup]]). Returns true
    * iff any tier was built (false = full reuse, the prebuild
    * convention).
    */
  def appendToCascade(batch: DataFrame, oldDir: String, newDir: String,
                      threshold: Double = 0.2, bands: Int = 4): Boolean = {
    val spark = batch.sparkSession
    // the cascadeDir prefix bakes (threshold, bands) AFTER the variant
    // (cc<variant><t>b<bands>_): reject dirs addressed for another
    // setting — the semcc guard's lexical twin, so a mismatched call
    // can never commit t=0.3-verified pairs into a t=0.2 address that
    // q33/q68/q72/q104 trust
    val setting = s"${math.rint(threshold * 1000).toInt}b${bands}_"
    Seq(oldDir, newDir).foreach(d => require(d.contains(setting),
      s"appendToCascade: dir $d was not addressed for (threshold=$threshold, bands=$bands)"))
    val sh3 = s"sh$DefaultShingleN"
    Seq(sh3, "shsets", "cand", "pairs").foreach(t => require(committed(spark, oldDir, t),
      s"appendToCascade requires a committed $t tier at $oldDir"))
    if (committed(spark, newDir, sh3, "shsets", "cand", "pairs", "labels")) return false
    val shOld = spark.read.parquet(s"$oldDir/$sh3")
    // disjointness guard on the batch's raw ids vs the COMMITTED old
    // tier — checked BEFORE any batch shingling, so the throwing path
    // computes (and caches) nothing it would leak
    require(batch.select("doc_id")
        .join(shOld.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
        .isEmpty,
      "appendToCascade: batch doc_ids overlap the old corpus")
    val shB = shingleDocs(batch).dropDuplicates("doc_id", "shingle")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // try/finally (ADVICE r17): a tier write or verify join that
    // throws mid-append must not leak the cached batch-shingle blocks
    // for the life of the session
    try {
      // DELTA LANDING (r18): every per-document/per-pair tier lands as
      // the OLD tier's files hard-linked + the batch delta's part
      // files ([[graft.engine.Landing.landDelta]]) — the resident
      // history never moves through Spark again. The r17 form
      // (read(old).unionByName(delta).write(new)) was compute-
      // incremental but paid a full-corpus READ+WRITE per batch; at
      // 100 TB that is a daily corpus copy. Delta disjointness makes
      // the layout row-equal to the rebuild: sh3/shsets deltas carry
      // only batch doc_ids, cand/pairs deltas only pairs with ≥1
      // batch endpoint — exactly the rows the old tier cannot contain.
      if (!committed(spark, newDir, sh3))
        graft.engine.Landing.landDelta(shB, s"$oldDir/$sh3", s"$newDir/$sh3")
      if (!committed(spark, newDir, "shsets")) {
        val hb = hashedShingleSets(batch)
        graft.engine.Landing.landDelta(hb, s"$oldDir/shsets", s"$newDir/shsets")
        hb.unpersist(blocking = false)
      }
      // new candidates: union band rows ⋈ batch band rows on (band, mh);
      // least/greatest restores the id_a < id_b contract for both
      // old-batch and batch-batch collisions (the latter arrive in both
      // orders — distinct collapses them, same as the rebuild's)
      val bandB = bandRowsFromShingles(shB, bands)
      val bandAll = bandRowsFromShingles(spark.read.parquet(s"$newDir/$sh3"), bands)
      val newCand = bandAll.as("a").join(bandB.as("b"),
          col("a.band") === col("b.band") && col("a.mh") === col("b.mh") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
        .distinct()
      if (!committed(spark, newDir, "cand"))
        graft.engine.Landing.landDelta(newCand, s"$oldDir/cand", s"$newDir/cand")
      if (!committed(spark, newDir, "pairs"))
        graft.engine.Landing.landDelta(
          verifyCandidatePairs(
            spark.read.parquet(s"$newDir/$sh3"), newCand, threshold),
          s"$oldDir/pairs", s"$newDir/pairs")
      // labels stay a full (cheap, narrow) rebuild: connected
      // components must re-close globally — one batch doc can merge
      // two old clusters, so no per-batch delta of the label frame
      // exists to land
      ContentAddress.commitOnce(spark, s"$newDir/labels")(
        dupClustersFromPairs(spark.read.parquet(s"$newDir/pairs").select("id_a", "id_b")))
    } finally shB.unpersist(blocking = false)
    true
  }

  /** q264: the incremental append AS A QUERY — the verified near-dup
    * pairs a daily batch (`doc_id % 10 == 7` stands in for today's
    * crawl) introduces when it lands on yesterday's committed cascade
    * (the other 90%, at `oldDir`). Routes through [[appendToCascade]]
    * into the UNION corpus's cascade address (`newDir` — the same
    * frame every other cascade consumer probes, so the append's
    * bit-identical-to-rebuild contract is re-checked by every one of
    * their oracles), then reports exactly the batch-attributable
    * pairs: id ordering makes "≥1 endpoint in batch" ⇔ either id ≡ 7
    * (mod 10).
    */
  def cascadeAppendNewPairs(docs: DataFrame, oldDir: String, newDir: String,
                            threshold: Double = 0.2, bands: Int = 4): DataFrame = {
    prebuildCascade(docs.filter(col("doc_id") % 10 =!= 7), oldDir, threshold, bands,
      labels = false)
    appendToCascade(docs.filter(col("doc_id") % 10 === 7), oldDir, newDir,
      threshold, bands)
    docs.sparkSession.read.parquet(s"$newDir/pairs")
      .filter(col("id_a") % 10 === 7 || col("id_b") % 10 === 7)
      .orderBy("id_a", "id_b")
  }

  /** The cascade's five tier names, in the presentation order q268
    * reports them — single source of truth for [[compactCascade]] and
    * [[cascadeCompactTierCounts]]. */
  private[graft] val CascadeTiers =
    Seq("cand", "labels", "pairs", s"sh$DefaultShingleN", "shsets")

  /** COMPACT a committed cascade address: rewrite every tier of
    * `oldDir` into right-sized files at `newDir`
    * ([[graft.engine.Landing.compactTier]]) — the maintenance
    * operation that closes the delta-landing lifecycle. The append
    * chain ([[appendToCascade]]) grows each tier by one part-file set
    * per batch (linked base + delta, zero resident bytes); compaction
    * periodically folds the accumulated sets back into
    * ~`bytesPerFile`-sized files so readers stop paying per-file open
    * cost, and day-N+1's append lands on the COMPACTED address
    * unchanged (same tier names and commit gate, content row-equal —
    * spec-proven, and every cascade oracle re-checks it through the
    * compacted frame). Tiers commit independently: a death
    * mid-compaction resumes by compacting only the uncommitted tiers.
    * At 100 TB this is the weekly OPTIMIZE job next to the daily
    * append — the corpus rewrite is paid once per maintenance
    * interval, never per batch. Returns true iff any tier rewrote.
    */
  def compactCascade(spark: org.apache.spark.sql.SparkSession,
                     oldDir: String, newDir: String,
                     threshold: Double = 0.2, bands: Int = 4,
                     bytesPerFile: Long = 128L << 20): Boolean = {
    // same setting-in-the-prefix guard as the append: a compacted
    // revision must carry the (threshold, bands) its tiers were
    // verified at — addresses are the only roster the frames have
    val setting = s"${math.rint(threshold * 1000).toInt}b${bands}_"
    Seq(oldDir, newDir).foreach(d => require(d.contains(setting),
      s"compactCascade: dir $d was not addressed for (threshold=$threshold, bands=$bands)"))
    CascadeTiers.map(t =>
      graft.engine.Landing.compactTier(spark, s"$oldDir/$t", s"$newDir/$t",
        bytesPerFile)).exists(identity)
  }

  /** [[compactCascade]] for the SimHash family: fold the `sig` and
    * `pairs` tiers into right-sized files; [[appendToSimhashPairs]]
    * continues on the compacted address unchanged. */
  def compactSimhash(spark: org.apache.spark.sql.SparkSession,
                     oldDir: String, newDir: String, maxHamming: Int = 3,
                     bytesPerFile: Long = 128L << 20): Boolean = {
    val setting = s"sh${maxHamming}_"
    Seq(oldDir, newDir).foreach(d => require(d.contains(setting),
      s"compactSimhash: dir $d was not addressed for maxHamming=$maxHamming"))
    Seq("sig", "pairs").map(t =>
      graft.engine.Landing.compactTier(spark, s"$oldDir/$t", s"$newDir/$t",
        bytesPerFile)).exists(identity)
  }

  /** [[compactCascade]] for the semantic-CC family: fold the `pairs`
    * and `labels` tiers; [[appendToSemanticCc]] continues on the
    * compacted address unchanged. */
  def compactSemanticCc(spark: org.apache.spark.sql.SparkSession,
                        oldDir: String, newDir: String,
                        threshold: Double = 0.3,
                        bytesPerFile: Long = 128L << 20): Boolean = {
    val setting = s"semcc_t${math.rint(threshold * 1000).toInt}_"
    Seq(oldDir, newDir).foreach(d => require(d.contains(setting),
      s"compactSemanticCc: dir $d was not addressed for threshold=$threshold"))
    Seq("pairs", "labels").map(t =>
      graft.engine.Landing.compactTier(spark, s"$oldDir/$t", s"$newDir/$t",
        bytesPerFile)).exists(identity)
  }

  /** q269: the maintenance half CLOSED over every materialized family
    * — each one now has both an ingest path (q264–q267 + the IVF
    * append) and a compaction path, and this query reads all four
    * compacted revisions at once: per-(family, tier) row counts off
    * the compacted SimHash, semantic-CC, PQ, and IVF addresses,
    * hash-exact against a DuckDB re-derivation of every count from
    * the raw tables. One report, seven tiers, four layouts (flat
    * link+delta tiers and the bucket-partitioned IVF dir) — compaction
    * is content-identity everywhere or this query's oracle breaks.
    */
  def familyCompactionReport(docs: DataFrame, emb: DataFrame,
                             simMain: String, simCmp: String,
                             semMain: String, semCmp: String,
                             pqMain: String, pqCmp: String,
                             ivfMain: String, ivfCmp: String): DataFrame = {
    val spark = docs.sparkSession
    prebuildSimhashPairs(docs, simMain)
    compactSimhash(spark, simMain, simCmp)
    prebuildSemanticCc(emb, semMain)
    compactSemanticCc(spark, semMain, semCmp)
    Similarity.prebuildPqIndex(emb, pqMain)
    Similarity.compactPqIndex(spark, pqMain, pqCmp)
    Similarity.prebuildIvfIndex(emb, ivfMain)
    Similarity.compactIvfIndex(spark, ivfMain, ivfCmp)
    def cnt(fam: String, tier: String, dir: String) =
      spark.read.parquet(dir).agg(count(lit(1)).as("n_rows"))
        .select(lit(fam).as("family"), lit(tier).as("tier"), col("n_rows"))
    Seq(
      cnt("ivf", "index", ivfCmp),
      cnt("pq", "books", s"$pqCmp/books"),
      cnt("pq", "codes", s"$pqCmp/codes"),
      cnt("semcc", "labels", s"$semCmp/labels"),
      cnt("semcc", "pairs", s"$semCmp/pairs"),
      cnt("simhash", "pairs", s"$simCmp/pairs"),
      cnt("simhash", "sig", s"$simCmp/sig"))
      .reduce(_.unionByName(_))
      .orderBy("family", "tier")
  }

  /** q268: compaction AS A QUERY — per-tier row counts of the cascade
    * read from the COMPACTED address. The main cascade (the frame
    * q33/q68/q72/q104 probe, and the address q264's append lands
    * into) compacts once into the `cmp_` variant; the report proves
    * ALL five tiers survived the rewrite row-complete, hash-exact
    * against a DuckDB oracle that re-derives every tier count from
    * raw text (LSH cascade + jaccard verify + recursive CC). File
    * counts are the spec's job (bounded by construction); the QUERY
    * pins the part that needs an oracle — compaction is content-
    * identity.
    */
  def cascadeCompactTierCounts(docs: DataFrame, mainDir: String,
                               cmpDir: String, threshold: Double = 0.2,
                               bands: Int = 4): DataFrame = {
    prebuildCascade(docs, mainDir, threshold, bands)
    compactCascade(docs.sparkSession, mainDir, cmpDir, threshold, bands)
    CascadeTiers.map(t =>
      docs.sparkSession.read.parquet(s"$cmpDir/$t")
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(t).as("tier"), col("n_rows")))
      .reduce(_.unionByName(_))
      .orderBy("tier")
  }

  /** Build the threshold-independent DISTINCT (doc_id, 3-gram) string
    * shingle frame into `dir/sh3` iff missing — the scan-side frame
    * the whole decontamination family re-derived per invocation
    * (q58's overlap ratios, q238's provenance transpose, q258/q260's
    * n-gram quadrant flag all start from exactly this explode +
    * dropDuplicates over the corpus). Production materializes the
    * shingle table once per corpus snapshot — nobody re-explodes
    * 100 TB of text per contamination report; here the frame rides
    * the cascade's content address as a second threshold-independent
    * tier next to `shsets`. Strings roundtrip parquet exactly, so
    * cached ≡ self-computing row-identical. Returns true iff a build
    * happened.
    */
  def prebuildShingles3(docs: DataFrame, dir: String, n: Int = 3): Boolean =
    ContentAddress.commitOnce(docs.sparkSession, s"$dir/sh$n")(
      shingleDocs(docs, n).dropDuplicates("doc_id", "shingle"))

  /** The materialized distinct (doc_id, shingle) frame, built on
    * first use ([[prebuildShingles3]]). NOT persisted here: consumers
    * scan it 1–2 times per plan and the parquet sits in page cache
    * (pre-touched in the bench; re-readable at production scale),
    * so pinning executor memory per caller would be the leak pattern
    * the round-15 ADVICE flagged.
    */
  def shingleDocsCached(docs: DataFrame, dir: String, n: Int = 3): DataFrame = {
    prebuildShingles3(docs, dir, n)
    docs.sparkSession.read.parquet(s"$dir/sh$n")
  }

  /** Build ONLY the threshold-independent `shsets` frame (60-bit
    * hashed distinct shingle sets) into `dir/shsets` if missing.
    * Deliberately does NOT build the cand/pairs/labels tiers: those
    * depend on (threshold, bands), and an exact-family consumer must
    * never commit them with defaults into a directory whose
    * content-address promises another setting — committing a
    * mismatched tier would let a later `nearDupPairsCached` at that
    * setting silently serve wrong pairs. Returns true iff a build
    * happened.
    */
  def prebuildShingleSets(docs: DataFrame, dir: String): Boolean =
    // one write reads the frame once: drop hashedShingleSets' own
    // persist up front, so the build caches nothing
    ContentAddress.commitOnce(docs.sparkSession, s"$dir/shsets")(
      hashedShingleSets(docs).unpersist(blocking = false))

  /** The materialized [[hashedShingleSets]] frame, persisted for the
    * consumer's multi-read pattern (df counts, sizes, prefix, both
    * verify sides). Builds only the threshold-independent `shsets`
    * tier ([[prebuildShingleSets]]) — the exact family takes no
    * (threshold, bands), so it must not commit LSH tiers at defaults
    * into a dir addressed for another setting. */
  def hashedShingleSetsCached(docs: DataFrame, dir: String): DataFrame = {
    prebuildShingleSets(docs, dir)
    docs.sparkSession.read.parquet(s"$dir/shsets")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Build-once-probe-many for a pair family's VERIFIED output frame.
    * A family's tier is `dir/sub`: the content-addressed `dir` keys the
    * corpus snapshot, `sub` keys the family AND its parameters (so a
    * frame can never be served at a setting it wasn't built with). The
    * `*Cached` probes commit their tier on first use and serve the
    * parquet roundtrip, which is exact for these frames (long ids,
    * integer counts, round-4 doubles). The same amortization story as
    * the cascade/simhash/IVF tiers: production computes each family
    * once per corpus snapshot and every audit probes it; here
    * q135/q140/q176/q184 and the q234 scaling audit share one build
    * per family. Each family's `*Tier` def carries its probe's
    * defaults, so [[prebuildPairFamilies]] commits exactly the subdirs
    * the probes read.
    */
  private final case class PairTier(sub: String, build: () => DataFrame)

  private def commitTier(docs: DataFrame, dir: String, tier: PairTier): Boolean =
    ContentAddress.commitOnce(docs.sparkSession, s"$dir/${tier.sub}")(tier.build())

  private def servedTier(docs: DataFrame, dir: String, tier: PairTier): DataFrame = {
    commitTier(docs, dir, tier)
    docs.sparkSession.read.parquet(s"$dir/${tier.sub}")
  }

  private def pjTier(docs: DataFrame, dir: String, threshold: Double = 0.8): PairTier =
    PairTier(s"pjpairs_t${math.round(threshold * 100)}", () => prefixJaccardJoin(docs,
      threshold, shSets = Some(hashedShingleSetsCached(docs, dir))))

  private def cjTier(docs: DataFrame, dir: String, threshold: Double = 0.9): PairTier =
    PairTier(s"cjpairs_t${math.round(threshold * 100)}", () => containmentJoin(docs,
      threshold, shSets = Some(hashedShingleSetsCached(docs, dir))))

  private def snmTier(docs: DataFrame, dir: String, threshold: Double = 0.2): PairTier =
    PairTier(s"snmpairs_t${math.round(threshold * 100)}", () => snmNearDups(docs,
      threshold, shSets = Some(hashedShingleSetsCached(docs, dir))))

  private def winTier(docs: DataFrame, n: Int = 3, w: Int = 4): PairTier =
    PairTier(s"winpairs_n${n}_w$w", () => winnowedPairs(docs, n, w))

  private def capTier(docs: DataFrame, cap: Int = 50): PairTier =
    PairTier(s"candcap_$cap", () => minhashCandidatePairs(docs, maxBucketSize = Some(cap)))

  private def fineTier(docs: DataFrame, bands: Int = 4, r: Int = 2): PairTier =
    PairTier(s"candr2_b${bands}r$r", () => minhashCandidatePairsFine(docs, bands, r))

  /** Build every pair-family frame the queries probe iff missing
    * (called from Bench warm-up so the builds are accounted as
    * `fam_build_sec`, never inside a probe's measured time); returns
    * true iff any build happened. Parameters are the query defaults.
    */
  def prebuildPairFamilies(docs: DataFrame, dir: String): Boolean = {
    // the threshold-independent shingle-set tier FIRST, sequentially —
    // both verify-join builders read it, and landing it up front means
    // the concurrent family builds below never race on one directory.
    // Its build flag joins the return value (ADVICE r18): a run that
    // rebuilt only this tier is a real build, not a reuse no-op, and
    // fam_build accounting must say so.
    val shBuilt = prebuildShingleSets(docs, dir)
    // the six family builds are independent jobs writing to six
    // DISTINCT content-addressed subdirs: overlap them (actions are
    // only sequential because the driver calls them sequentially), so
    // one family's straggler tail back-fills with the next family's
    // tasks. 3 in flight keeps the box busy without the builds
    // fighting each other for cores; each build's rows are untouched.
    val built = runBuildPool(Seq(pjTier(docs, dir), cjTier(docs, dir),
        snmTier(docs, dir), winTier(docs), capTier(docs), fineTier(docs))
      .map(t => () => commitTier(docs, dir, t)))
    shBuilt || built
  }

  /** Run independent gated builds in a 3-wide fixed pool (guide §2.6 —
    * one build's straggler tail back-fills with the next build's
    * tasks); true iff any of them wrote. Rethrows the UNDERLYING build
    * failure rather than the pool's ExecutionException wrapper (ADVICE
    * r18: callers under the old sequential path saw the Spark
    * exception itself, and Bench/driver error reporting keys off that
    * type/message).
    */
  private[operators] def runBuildPool(builds: Seq[() => Boolean]): Boolean = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      import scala.jdk.CollectionConverters._
      val tasks: Seq[java.util.concurrent.Callable[Boolean]] = builds.map(b =>
        new java.util.concurrent.Callable[Boolean] { def call(): Boolean = b() })
      pool.invokeAll(tasks.asJava).asScala.map { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException
              if e.getCause != null => throw e.getCause
        }
      }.exists(identity)
    } finally pool.shutdown()
  }

  /** [[prefixJaccardJoin]] / [[containmentJoin]] / [[noveltyScore]]
    * served from materialized frames — the verify join runs once per
    * corpus snapshot; probes re-apply the contract ordering (parquet
    * keeps values, not order). */
  def prefixJaccardJoinCached(docs: DataFrame, dir: String,
                              threshold: Double = 0.8): DataFrame =
    servedTier(docs, dir, pjTier(docs, dir, threshold)).orderBy("doc_a", "doc_b")

  def containmentJoinCached(docs: DataFrame, dir: String,
                            threshold: Double = 0.9): DataFrame =
    servedTier(docs, dir, cjTier(docs, dir, threshold)).orderBy("doc_a", "doc_b")

  /** The q234 audit's capped candidate tier served from its
    * materialized frame. */
  def cappedCandidatePairsCached(docs: DataFrame, dir: String,
                                 cap: Int = 50): DataFrame =
    servedTier(docs, dir, capTier(docs, cap)).orderBy("id_a", "id_b")

  /** The q234 audit's AND-amplified r=2 candidate tier served from
    * its materialized frame. */
  def fineCandidatePairsCached(docs: DataFrame, dir: String,
                               bands: Int = 4, r: Int = 2): DataFrame =
    servedTier(docs, dir, fineTier(docs, bands, r)).orderBy("id_a", "id_b")

  /** [[snmNearDups]] served from its materialized frame. */
  def snmNearDupsCached(docs: DataFrame, dir: String,
                        threshold: Double = 0.2): DataFrame =
    servedTier(docs, dir, snmTier(docs, dir, threshold)).orderBy("id_a", "id_b")

  /** [[winnowedPairs]] served from its materialized frame. */
  def winnowedPairsCached(docs: DataFrame, dir: String,
                          n: Int = 3, w: Int = 4): DataFrame =
    servedTier(docs, dir, winTier(docs, n, w))
      .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))

  def noveltyScoreCached(docs: DataFrame, dir: String): DataFrame =
    noveltyScore(docs, shSets = Some(hashedShingleSetsCached(docs, dir)))

  /** LSH candidate pairs served from the materialized cascade — the
    * pre-verification tier every blocking consumer shares (q32 pair
    * reporting, fuzzy edit-distance verify, shared-run forensics).
    */
  def minhashCandidatePairsCached(docs: DataFrame, dir: String,
                                  threshold: Double = 0.2, bands: Int = 4): DataFrame = {
    prebuildCascade(docs, dir, threshold, bands)
    docs.sparkSession.read.parquet(s"$dir/cand").orderBy("id_a", "id_b")
  }

  /** [[fuzzyDupPairs]] probing the materialized candidate frame. */
  def fuzzyDupPairsCached(docs: DataFrame, dir: String,
                          prefixLen: Int = 200, maxDist: Int = 20,
                          threshold: Double = 0.2, bands: Int = 4): DataFrame = {
    prebuildCascade(docs, dir, threshold, bands)
    fuzzyDupPairs(docs, prefixLen, maxDist,
      cand = Some(docs.sparkSession.read.parquet(s"$dir/cand")))
  }

  /** [[sharedRunLengths]] probing the materialized candidate frame. */
  def sharedRunLengthsCached(docs: DataFrame, dir: String, n: Int = 3,
                             threshold: Double = 0.2, bands: Int = 4): DataFrame = {
    prebuildCascade(docs, dir, threshold, bands)
    sharedRunLengths(docs, bands, n,
      cand = Some(docs.sparkSession.read.parquet(s"$dir/cand")))
  }

  /** Verified near-dup pairs served from the materialized cascade —
    * identical rows to [[nearDupPairs]] (the parquet roundtrip is
    * exact: long ids, round-4 double jaccard), built on first use.
    */
  def nearDupPairsCached(docs: DataFrame, dir: String,
                         threshold: Double = 0.2, bands: Int = 4): DataFrame = {
    prebuildCascade(docs, dir, threshold, bands)
    docs.sparkSession.read.parquet(s"$dir/pairs").orderBy("id_a", "id_b")
  }

  /** Connected-component labels served from the materialized cascade —
    * identical rows to [[dupClusters]].
    */
  def dupClustersCached(docs: DataFrame, dir: String,
                        threshold: Double = 0.2, bands: Int = 4): DataFrame = {
    prebuildCascade(docs, dir, threshold, bands)
    docs.sparkSession.read.parquet(s"$dir/labels").orderBy("doc_id")
  }

  /** q262: dedup THRESHOLD sweep — the jaccard knob chosen on
    * evidence (the q254 discipline applied to deduplication): for
    * every candidate threshold at or above the cascade's verify floor,
    * the corpus-size consequence of adopting it — verified pairs
    * firing, documents dropped under the pairwise loser convention
    * (the higher id of each pair, the [[cleaningPipeline]] semantics),
    * and survivors. Complements q199 (MinHash band calibration = the
    * probability a pair becomes a CANDIDATE) with the downstream
    * answer a curation owner actually needs: what does each threshold
    * COST in documents.
    *
    * Thresholds are exact q4 BIGINTs compared against the stored
    * round-4 jaccard quantized through floor(j·10⁴+½) — no double
    * comparison anywhere, both engines bit-identical. The grid must
    * start at the cascade's verify threshold (pairs below it were
    * never verified — sweeping lower would silently read as "no
    * cost"); the default grid spans 0.2–0.9 by 0.1 on the default
    * cascade.
    *
    * Scale: one pass over the (id, id, jaccard) pair frame (already
    * materialized per corpus snapshot), an 8-way grid explode of
    * pair-bounded rows, one grouped aggregate, and a broadcast
    * constant-size grid/total join — never touches text.
    */
  def dedupThresholdSweep(docs: DataFrame, dir: String,
                          thresholdsQ4: Seq[Long] =
                            Seq(2000L, 3000L, 4000L, 5000L, 6000L,
                              7000L, 8000L, 9000L),
                          verifyThreshold: Double = 0.2,
                          bands: Int = 4): DataFrame = {
    require(thresholdsQ4.nonEmpty &&
      thresholdsQ4.min >= math.rint(verifyThreshold * 1e4).toLong,
      "sweep grid must start at or above the cascade's verify threshold")
    val spark = docs.sparkSession
    import spark.implicits._
    val p = nearDupPairsCached(docs, dir, verifyThreshold, bands)
      .select(col("id_b"),
        floor(col("jaccard") * 1e4 + 0.5).cast("long").as("j4"))
    val swept = p
      .select(col("id_b"), col("j4"),
        explode(typedLit(thresholdsQ4)).as("t4"))
      .filter(col("j4") >= col("t4"))
      .groupBy("t4")
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
        countDistinct(col("id_b")).cast("bigint").as("n_dropped"))
    val totals = docs.agg(count(lit(1)).cast("bigint").as("n_docs"))
    thresholdsQ4.toDF("t4")
      .join(swept, Seq("t4"), "left")
      .crossJoin(broadcast(totals))
      .select((col("t4").cast("double") / 1e4).as("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_docs") - coalesce(col("n_dropped"), lit(0L)))
          .cast("bigint").as("n_survivors"))
      .orderBy("threshold")
  }

  /** [[clusterSizeDistribution]] probing the materialized label frame:
    * two tiny aggregations over (long, long) rows instead of a third
    * full LSH → verify → CC cascade per audit pass.
    */
  def clusterSizeDistributionCached(docs: DataFrame, dir: String,
                                    threshold: Double = 0.2, bands: Int = 4): DataFrame =
    dupClustersCached(docs, dir, threshold, bands)
      .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** q245: cluster-cohesion audit — the CHAIN-MERGE diagnostic for
    * CC-based dedup, the known failure mode of transitive clustering:
    * A≈B and B≈C force A into C's cluster even when jaccard(A, C) ≈ 0,
    * so a "cluster" can be a long chain of pairwise-similar documents
    * whose ends share nothing — and cluster-canonical cleaning (q72)
    * would then deduplicate documents that are NOT duplicates. Per
    * verified near-dup cluster: size, verified-edge count, edge
    * density in basis points (2E·10⁴ div n(n−1) — an exact integer;
    * 10 000 = a clique, low = a chain), and the min / mean verified
    * Jaccard along its edges. The report a curation owner reads
    * before trusting cluster-level dedup: a big low-density
    * low-min-jaccard cluster gets a tighter threshold or a diameter
    * cap, not a canonical wipe.
    *
    * Exactness (the q240 discipline): per-edge jaccard — already
    * round(·, 4) — quantizes to a q4 BIGINT before any sum, so the
    * mean closes with ONE divide; min needs no summation; density is
    * integer arithmetic end to end.
    *
    * Scale: probes the MATERIALIZED cascade frames (pairs + labels —
    * never a cascade re-run); edge attribution is one id-keyed
    * equi-join (both endpoints share the cluster by construction, so
    * joining id_a suffices); the report is two aggregates bounded by
    * #clusters, never doc volume.
    */
  def clusterCohesion(docs: DataFrame, dir: String): DataFrame = {
    // no (threshold, bands) knobs HERE by design — see
    // [[nearDupSourceMatrix]]: `dir` already encodes them, the probe
    // must read what the address holds
    val pairs = nearDupPairsCached(docs, dir)
    val labels = dupClustersCached(docs, dir)
    val edges = pairs
      .join(labels.select(col("doc_id").as("id_a"), col("cluster_id")),
        Seq("id_a"))
      .select(col("cluster_id"),
        floor(col("jaccard") * 1e4 + 0.5).cast("long").as("j4"))
    val sizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).cast("bigint").as("n_docs"))
    val edgeAgg = edges.groupBy("cluster_id")
      .agg(count(lit(1)).cast("bigint").as("n_edges"),
        sum("j4").cast("bigint").as("sum_j4"),
        min("j4").cast("bigint").as("min_j4"))
    sizes.join(edgeAgg, Seq("cluster_id"))
      .selectExpr("cluster_id", "n_docs", "n_edges",
        "CAST((n_edges * 2 * 10000) div (n_docs * (n_docs - 1)) AS BIGINT) AS density_bp",
        "CAST(min_j4 AS DOUBLE) / 1e4 AS min_jaccard",
        "floor(CAST(sum_j4 AS DOUBLE) / n_edges + 0.5) / 1e4 AS mean_jaccard")
      .orderBy("cluster_id")
  }

  /** q251: cohesion-guarded canonical cleaning — the pipeline stage
    * that ACTS on q245's chain-merge audit instead of leaving it a
    * report: a verified near-dup cluster whose edge density (exact
    * basis points, the [[clusterCohesion]] number) falls below
    * `densityFloorBp` is treated as a suspected chain merge and NOT
    * canonical-cleaned — all its members survive, flagged
    * `keep_guarded`, for a tighter-threshold re-pass. Dense clusters
    * clean as q72 does: the root (min doc_id — the CC label itself)
    * survives as `keep_canonical`, every other member is `drop_dup`;
    * documents in no cluster are `keep_unique`. A 2-doc cluster is
    * always a clique (density 10⁴), so the guard can never block the
    * plain pairwise dedup tier.
    *
    * Scale: probes the MATERIALIZED cascade frames (never a cascade
    * re-run); density is the q245 aggregate (#clusters-bounded); the
    * verdict is one labels⋈density equi-join plus one left join back
    * onto the id-only corpus scan.
    */
  def guardedCanonicalClean(docs: DataFrame, dir: String,
                            densityFloorBp: Long = 5000L): DataFrame = {
    val labels = dupClustersCached(docs, dir)
    val density = clusterCohesion(docs, dir)
      .select("cluster_id", "density_bp")
    val verdicts = labels.join(density, "cluster_id")
      .withColumn("action",
        when(col("density_bp") < densityFloorBp, lit("keep_guarded"))
          .when(col("doc_id") === col("cluster_id"), lit("keep_canonical"))
          .otherwise(lit("drop_dup")))
      .select("doc_id", "cluster_id", "action")
    docs.select("doc_id")
      .join(verdicts, Seq("doc_id"), "left")
      .withColumn("action", coalesce(col("action"), lit("keep_unique")))
      .orderBy("doc_id")
  }

  /** q252: the guard's DELTA report — per source, what
    * [[guardedCanonicalClean]] actually changed vs an unguarded
    * canonical clean: `n_dropped` documents the clean removes,
    * `n_spared` documents the cohesion guard rescued (keep_guarded
    * members that are NOT their cluster's root — exactly the rows an
    * unguarded clean would have dropped), and the guard's share of
    * the would-be drops in exact basis points. This is the number a
    * curation review asks before trusting the floor: "how much data
    * did the chain-merge guard keep, and from where?"
    *
    * Exactness: pure integer counts; the share is integer `div` with
    * a zero-denominator CASE (a source with no clustered docs reads
    * 0). Scale: rides the materialized labels + the #clusters-bounded
    * density aggregate (never a cascade re-run); the rollup is
    * #sources rows.
    */
  def guardDelta(docs: DataFrame, dir: String,
                 densityFloorBp: Long = 5000L): DataFrame =
    docs.select(col("doc_id"), col("source"))
      .join(guardedCanonicalClean(docs, dir, densityFloorBp), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("action") === "drop_dup", 1L).otherwise(0L))
          .cast("bigint").as("n_dropped"),
        sum(when(col("action") === "keep_guarded" &&
            col("doc_id") =!= col("cluster_id"), 1L).otherwise(0L))
          .cast("bigint").as("n_spared"))
      .withColumn("spared_share_bp",
        when(col("n_dropped") + col("n_spared") === 0L, lit(0L))
          .otherwise(expr(
            "CAST((n_spared * 10000) div (n_dropped + n_spared) AS BIGINT)")))
      .orderBy("source")

  /** q240: duplication level × quality interaction — the curation
    * diagnostic behind the "duplicates are disproportionately
    * low-quality boilerplate" folklore, measured instead of assumed:
    * per duplication band (`unique` = in no verified near-dup
    * cluster, `small` = cluster size 2–4, `large` = 5+), the doc
    * count, mean quality score, and Gopher-gate pass rate. If the
    * large band gates worse, dedup and the quality gate are partly
    * redundant and the cheaper one should run first; if it doesn't,
    * dedup is removing GOOD text and the thresholds deserve a look.
    *
    * Exactness: per-doc quality (the q27 terms) quantizes to a q4
    * BIGINT before any sum — band means are exact-integer sums with
    * ONE closing divide (the q213 discipline); the gate is the q106
    * boolean. Scale: probes the materialized cluster labels (never a
    * cascade re-run), sizes fold on the #clusters frame, and the
    * band rollup is a 3-row aggregate.
    */
  def dupQualityInteraction(docs: DataFrame, dir: String,
                            threshold: Double = 0.2,
                            bands: Int = 4): DataFrame = {
    val labels = dupClustersCached(docs, dir, threshold, bands)
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    val docSz = labels.join(sizes, "cluster_id").select("doc_id", "sz")
    val q4 = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"),
        floor(col("quality") * 1e4 + 0.5).cast("long").as("q4"))
    val gated = TextAnalysis.gopherGateFilter(docs)
      .select(col("doc_id"), lit(1L).as("g"))
    docs.select("doc_id")
      .join(docSz, Seq("doc_id"), "left")
      .join(q4, "doc_id")
      .join(gated, Seq("doc_id"), "left")
      .withColumn("band",
        when(col("sz").isNull, "unique")
          .when(col("sz") <= 4, "small").otherwise("large"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"),
        sum("q4").cast("bigint").as("sum_q4"),
        sum(coalesce(col("g"), lit(0L))).cast("bigint").as("n_gated"))
      .selectExpr("band", "n_docs",
        "floor(CAST(sum_q4 AS DOUBLE) / n_docs + 0.5) / 1e4 AS mean_quality",
        "n_gated",
        "floor(CAST(n_gated AS DOUBLE) * 1e4 / n_docs + 0.5) / 1e4 AS gate_rate")
      .orderBy("band")
  }

  /** [[cleaningPipelineClustered]] probing the materialized RAW-corpus
    * pair frame instead of re-running the cascade on the canonical
    * frame. Correct because `nearDupPairs` is PAIR-LOCAL end to end —
    * a document's shingles, per-band signatures, and any pair's
    * Jaccard depend only on the two texts involved, never on the rest
    * of the corpus (banding buckets only ADD candidates; capBuckets is
    * off on both sides) — so the pairs among canonical documents are
    * the same whether the cascade ran on the raw corpus or on the
    * canonical subset, and `nearDupPairs(canonical) =
    * nearDupPairs(raw) ∩ canonical²`. The ∩ is
    * [[cleaningPipelineClustered]]'s own canonical-id restriction of
    * supplied pairs (two semi-joins against its persisted canonical
    * frame); equivalence vs the self-computing path is spec-asserted
    * on a fixture with gated-out, exact-duplicate, and star-shaped
    * documents, and hash-proven by the driver oracle.
    */
  /** [[cleaningPipeline]] (pair-based rule) probing the materialized
    * raw-corpus pair frame — same restriction proof as the clustered
    * variant below.
    */
  def cleaningPipelineCached(docs: DataFrame, dir: String,
                             minTokens: Int = 10,
                             jaccardThreshold: Double = 0.2,
                             bands: Int = 4): DataFrame = {
    prebuildCascade(docs, dir, jaccardThreshold, bands)
    cleaningPipeline(docs, minTokens, jaccardThreshold,
      pairs = Some(docs.sparkSession.read.parquet(s"$dir/pairs")))
  }

  def cleaningPipelineClusteredCached(docs: DataFrame, dir: String,
                                      minTokens: Int = 10,
                                      jaccardThreshold: Double = 0.2,
                                      bands: Int = 4): DataFrame = {
    prebuildCascade(docs, dir, jaccardThreshold, bands)
    cleaningPipelineClustered(docs, minTokens, jaccardThreshold,
      pairs = Some(docs.sparkSession.read.parquet(s"$dir/pairs")))
  }

  /** Golden-record survivorship: one merged master row per near-dup
    * cluster — the entity-resolution step AFTER clustering, where the
    * cluster's members are collapsed into the record the pipeline
    * keeps. Survivorship rule: the longest text wins (`n_chars` desc),
    * ties broken by the smallest `doc_id` — a deterministic stand-in
    * for the usual trust-ranked source precedence. Alongside the
    * survivor, the merged row carries the provenance breadth a data
    * steward audits (member count, distinct sources/langs, the
    * length range) so a cluster that fused records it shouldn't have
    * is visible as an implausibly wide row.
    *
    * Scale: `labels` is #docs-in-clusters rows of (long, long); the
    * attribute join is an equi-join on `doc_id` (text never moves —
    * only the survivorship features), and both the aggregate and the
    * row_number window partition on `cluster_id`, whose cardinality
    * LSH verification already bounded. No cross join, no global sort
    * before the final #clusters-row output.
    */
  def goldenRecords(docs: DataFrame, labels: DataFrame): DataFrame = {
    val m = labels.join(
      docs.select("doc_id", "source", "lang", "n_chars"), Seq("doc_id"))
    val agg = m.groupBy("cluster_id").agg(
      count(lit(1)).as("n_members"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"))
    val surv = m.withColumn("rk", row_number().over(
        Window.partitionBy("cluster_id")
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("survivor_id"),
        col("source").as("survivor_source"))
    agg.join(surv, Seq("cluster_id")).orderBy("cluster_id")
  }

  /** [[goldenRecords]] fed from the materialized cascade's label
    * frame — the q68/q72/q104 amortization: survivorship is a probe
    * over the one LSH → verify → CC build, never a fourth cascade.
    */
  def goldenRecordsCached(docs: DataFrame, dir: String,
                          threshold: Double = 0.2, bands: Int = 4): DataFrame = {
    prebuildCascade(docs, dir, threshold, bands)
    goldenRecords(docs, docs.sparkSession.read.parquet(s"$dir/labels"))
  }

  /** Cross-family near-dup agreement — which dedup tier catches what:
    * the Jaccard-verified LSH pairs (the cascade's exact tier) vs the
    * SimHash Hamming-≤3 pairs, as a 1-row confusion summary with the
    * overlap coefficient |A∩B| / min(|A|,|B|). This is the audit that
    * justifies (or kills) running a cheaper family alone at scale:
    * simhash-only pairs are its false-positive surface against the
    * exact tier, jaccard-only pairs are its misses.
    *
    * Scale: both pair frames are LSH/pigeonhole-bounded (never n²);
    * the comparison is one (id, id) full-outer equi-join collapsing
    * straight into a 1-row conditional aggregate. The Jaccard side
    * probes the materialized cascade via the cached entry — the
    * fifth consumer of the one build.
    */
  def dedupFamilyAgreement(pairsJ: DataFrame, pairsS: DataFrame): DataFrame = {
    val j = pairsJ.select(col("id_a"), col("id_b")).withColumn("inj", lit(1))
    val s = pairsS.select(col("id_a"), col("id_b")).withColumn("ins", lit(1))
    j.join(s, Seq("id_a", "id_b"), "full_outer")
      .agg(sum(coalesce(col("inj"), lit(0))).cast("bigint").as("n_jaccard"),
        sum(coalesce(col("ins"), lit(0))).cast("bigint").as("n_simhash"),
        sum(when(col("inj").isNotNull && col("ins").isNotNull, 1).otherwise(0))
          .cast("bigint").as("n_both"))
      .selectExpr("n_jaccard", "n_simhash", "n_both",
        "n_jaccard - n_both AS jaccard_only",
        "n_simhash - n_both AS simhash_only",
        "CASE WHEN least(n_jaccard, n_simhash) = 0 THEN CAST(NULL AS DOUBLE) " +
          "ELSE floor(CAST(n_both AS DOUBLE) / least(n_jaccard, n_simhash) * 1e4 + 0.5) / 1e4 " +
          "END AS overlap_coefficient")
  }

  /** [[dedupFamilyAgreement]] with BOTH sides served from their
    * materialized frames — the cascade's verified pairs and the
    * [[simhashPairsCached]] frame. */
  def dedupFamilyAgreementCached(docs: DataFrame, ccDir: String, shDir: String,
                                 threshold: Double = 0.2, bands: Int = 4,
                                 maxHamming: Int = 3): DataFrame = {
    prebuildCascade(docs, ccDir, threshold, bands)
    dedupFamilyAgreement(
      docs.sparkSession.read.parquet(s"$ccDir/pairs"),
      simhashPairsCached(docs, shDir, maxHamming))
  }

  /** Content-addressed home of the corpus's SimHash pair frame —
    * the [[cascadeDir]] discipline for the simhash family: q71 and
    * q229 both consume the banding + Hamming verify, so the build is
    * a corpus-level one-off probed by every consumer.
    */
  def simhashDir(spark: org.apache.spark.sql.SparkSession, dataPath: String,
                 base: String, maxHamming: Int = 3,
                 variant: String = ""): String =
    // `variant` keys a SLICE of the same document files (the semCcDir
    // convention, trailing the setting) — q267's yesterday-corpus frame
    ContentAddress.dirFor(spark, dataPath, base,
      s"sh${maxHamming}_$variant", "simhashDir")

  /** Build the simhash frame now iff not already committed — TWO tiers
    * since r18: `sig` (doc_id, simhash — the pure per-document
    * signatures, 16 bytes/doc) and `pairs` built FROM the committed
    * sig tier (the cascade's resume semantics: a run that dies between
    * them resumes without re-hashing the corpus, and the sig tier is
    * what lets [[appendToSimhashPairs]] land a batch without ever
    * touching resident text). Pairs are row-identical to the one-shot
    * operator (long signatures roundtrip parquet exactly — q71's
    * oracle keeps hashing the same frame).
    */
  def prebuildSimhashPairs(docs: DataFrame, dir: String,
                           maxHamming: Int = 3): Boolean = {
    val spark = docs.sparkSession
    val sigFresh = ContentAddress.commitOnce(spark, s"$dir/sig")(simhashSignatures(docs))
    val pairsFresh = ContentAddress.commitOnce(spark, s"$dir/pairs")(
      simhashPairsFromSig(spark.read.parquet(s"$dir/sig"), maxHamming))
    sigFresh || pairsFresh
  }

  /** Incremental SimHash append — the q264/q265/q266 contract on the
    * byte-block-banded family: a batch of NEW documents lands on a
    * committed simhash frame hashing ONLY the batch. The signature is
    * a pure per-document function, so two OLD docs share a byte block
    * in the union iff they did before ⇒ new candidates are exactly
    * the pairs with ≥1 batch endpoint — one (blk, bv) equi-join of
    * the union's block rows against the BATCH's; Hamming verification
    * reads signatures from the landed union `sig` tier. Both tiers
    * delta-land ([[graft.engine.Landing.landDelta]]): resident files
    * enter by hard link, the batch rides as fresh part files — at
    * 100 TB a daily crawl costs a batch hash + a batch-sided join and
    * zero resident bytes. Preconditions (the [[appendToCascade]]
    * discipline): committed old sig+pairs, batch doc_ids disjoint
    * from the old corpus. Returns true iff any tier was built.
    */
  def appendToSimhashPairs(batch: DataFrame, oldDir: String, newDir: String,
                           maxHamming: Int = 3): Boolean = {
    val spark = batch.sparkSession
    // the prefix bakes the radius (sh<maxHamming>_): a mismatched call
    // must never commit radius-2-verified pairs into a radius-3
    // address that q71/q229 trust
    val setting = s"sh${maxHamming}_"
    Seq(oldDir, newDir).foreach(d => require(d.contains(setting),
      s"appendToSimhashPairs: dir $d was not addressed for maxHamming=$maxHamming"))
    Seq("sig", "pairs").foreach(t => require(committed(spark, oldDir, t),
      s"appendToSimhashPairs requires a committed $t tier at $oldDir"))
    if (committed(spark, newDir, "sig", "pairs")) return false
    require(batch.select("doc_id")
        .join(spark.read.parquet(s"$oldDir/sig").select("doc_id"),
          Seq("doc_id"), "left_semi").isEmpty,
      "appendToSimhashPairs: batch doc_ids overlap the old corpus")
    val sigB = simhashSignatures(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (!committed(spark, newDir, "sig"))
        graft.engine.Landing.landDelta(sigB, s"$oldDir/sig", s"$newDir/sig")
      if (!committed(spark, newDir, "pairs")) {
        val sigAll = spark.read.parquet(s"$newDir/sig")
        // batch-batch collisions arrive in both orders; least/greatest
        // restores id_a < id_b and distinct collapses the mirror row
        // r18: verify fused into the collide join (the q211 rewrite;
        // hamming is symmetric, so computing it before least/greatest
        // restores id order is exact) — the signature back-joins are
        // gone and the ≤ maxHamming filter prunes before distinct
        val newPairs = simhashBlocks(sigAll).as("a")
          .join(simhashBlocks(sigB).as("b"),
            col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
              col("a.doc_id") =!= col("b.doc_id"))
          .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"),
            expr("CAST(bit_count(a.simhash ^ b.simhash) AS INT)").as("hamming"))
          .filter(col("hamming") <= maxHamming)
          .distinct()
        graft.engine.Landing.landDelta(newPairs,
          s"$oldDir/pairs", s"$newDir/pairs")
      }
    } finally sigB.unpersist(blocking = false)
    true
  }

  /** q267: the SimHash append AS A QUERY — q264's byte-block-banded
    * sibling. The daily batch (`doc_id % 10 == 7`) lands on
    * yesterday's committed frame via [[appendToSimhashPairs]] into the
    * UNION corpus's address (the frame q71/q229/q234 probe, so their
    * oracles re-check the bit-identical contract), then reports the
    * batch-attributable pairs.
    */
  def simhashAppendNewPairs(docs: DataFrame, oldDir: String, newDir: String,
                            maxHamming: Int = 3): DataFrame = {
    prebuildSimhashPairs(docs.filter(col("doc_id") % 10 =!= 7), oldDir, maxHamming)
    appendToSimhashPairs(docs.filter(col("doc_id") % 10 === 7), oldDir, newDir,
      maxHamming)
    docs.sparkSession.read.parquet(s"$newDir/pairs")
      .filter(col("id_a") % 10 === 7 || col("id_b") % 10 === 7)
      .orderBy("id_a", "id_b")
  }

  /** [[simhashPairs]] served from the materialized frame. */
  def simhashPairsCached(docs: DataFrame, dir: String,
                         maxHamming: Int = 3): DataFrame = {
    prebuildSimhashPairs(docs, dir, maxHamming)
    docs.sparkSession.read.parquet(s"$dir/pairs").orderBy("id_a", "id_b")
  }

  /** Corpus-level source-overlap matrix: n-gram-set Jaccard and
    * containment between every pair of ingest sources — the
    * which-feeds-duplicate-each-other audit that decides whether a
    * new source is worth its ingest cost BEFORE doc-level dedup ever
    * runs (q102 answers "which documents collide"; this answers
    * "which SOURCES are the same corpus"). Containment (shared / the
    * smaller side) is what flags a feed that is a strict subset
    * mirror even when the size imbalance keeps Jaccard low.
    *
    * Scale: the corpus collapses to DISTINCT (source, gram-hash) —
    * 8-byte keys off the native [[graft.functions.GramHashGenerator]],
    * partial-aggregated map-side, text never shuffles. The
    * intersection self-join keys on the gram hash, so its cost is
    * Σ_g (#sources containing g)², bounded by |S|² per gram — never
    * n². The closed matrix is |S|²/2 rows via a broadcast cross of
    * the |S|-row size frame, zeros included (a zero-overlap claim is
    * an audit RESULT, not an absent row).
    */
  def sourceOverlapMatrix(docs: DataFrame, n: Int = 8): DataFrame = {
    val sets = graft.engine.Tables.spreadNarrowCompute(docs).select(col("source"),
        graft.functions.GramHashGenerator.gramHashes(col("text"), n).as(Seq("pos", "h")))
      .select("source", "h").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sets.groupBy("source").agg(count(lit(1)).as("n_grams"))
    val inter = sets.as("a").join(sets.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    val pairs = sizes.select(col("source").as("source_a"), col("n_grams").as("grams_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n_grams").as("grams_b"))),
        col("source_a") < col("source_b"))
    pairs.join(inter, Seq("source_a", "source_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .selectExpr("source_a", "source_b", "grams_a", "grams_b", "n_shared",
        "floor(CAST(n_shared AS DOUBLE) / (grams_a + grams_b - n_shared) * 1e6 + 0.5) / 1e6 AS jaccard",
        "floor(CAST(n_shared AS DOUBLE) / least(grams_a, grams_b) * 1e6 + 0.5) / 1e6 AS containment")
      .orderBy("source_a", "source_b")
  }

  /** Scaling-exponent audit: one row per blocking family with the
    * size of its emitted pair set and the pairs-per-thousand-docs
    * density — the driver-checkable evidence behind the "no quadratic
    * blowup" claim. Run at two scale factors, the ratio of
    * `pairs_per_kdoc` IS the family's scaling exponent minus one: a
    * family whose candidate tier degenerated to ~n² would show the
    * density growing ~linearly with corpus size, while a properly
    * blocked family holds it near-constant (SCALE.md records the
    * measured sf0.01 → sf0.1 table).
    *
    * Every family is counted from the SAME function the family's own
    * query runs (the materialized frames where one exists), so the
    * audit can never drift from what q32/q33/q71/q135/q140/q176/q184
    * actually emit; the oracle likewise wraps each family's own
    * DuckDB twin as a counted subquery.
    *
    * Scale: seven 1-row aggregates unioned plus a broadcast 1-row
    * docs count — the per-family counts are partial-aggregated scans
    * of frames the cascade has already bounded.
    */
  def scalingAudit(docs: DataFrame, ccDir: String, shDir: String): DataFrame = {
    def cnt(fam: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).cast("bigint").as("n_pairs"))
        .select(lit(fam).as("family"), col("n_pairs"))
    val fams = Seq(
      cnt("containment", containmentJoinCached(docs, ccDir)),
      cnt("minhash_cand", minhashCandidatePairsCached(docs, ccDir)),
      // the scale mitigation measured next to the thing it mitigates:
      // on a low-entropy corpus the uncapped band join degenerates
      // toward n² via hot buckets of DISSIMILAR docs sharing a band
      // minhash (the verified tier stays linear — the blowup is all
      // candidate-precision loss); the cap bounds any bucket's fan-out
      cnt("minhash_cand_capped", cappedCandidatePairsCached(docs, ccDir)),
      // the saturation remedy measured alongside: AND-amplified r=2
      // band keys (collision prob j² per band) — when cand density
      // grows but cand_capped tracks it (no skew) and cand_r2 stays
      // flat, the diagnosis is signature-space saturation and the
      // fix is finer keys, not caps
      cnt("minhash_cand_r2", fineCandidatePairsCached(docs, ccDir)),
      cnt("minhash_verified", nearDupPairsCached(docs, ccDir)),
      cnt("prefix_jaccard", prefixJaccardJoinCached(docs, ccDir)),
      cnt("simhash", simhashPairsCached(docs, shDir)),
      cnt("snm", snmNearDupsCached(docs, ccDir)),
      // the round-12 video pair family joins the audit the day it
      // ships — every pair-generating family stays measured
      cnt("video_frames", Multimodal.videoNearDups(docs)),
      cnt("winnow", winnowedPairsCached(docs, ccDir)))
    val nd = docs.agg(count(lit(1)).cast("bigint").as("n_docs"))
    fams.reduce(_ unionByName _)
      .crossJoin(broadcast(nd))
      .selectExpr("family", "n_docs", "n_pairs",
        "floor(CAST(n_pairs AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e3 AS pairs_per_kdoc")
      .orderBy("family")
  }
}
