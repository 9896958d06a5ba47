package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.ContentAddress

/** Similarity search over an embedding column (array<float>):
  *
  *  - brute-force cosine top-k against a small broadcast query set —
  *    the correctness baseline; one linear scan of the corpus, no
  *    shuffle of the big side;
  *  - sign-random-projection LSH bucketing — the scale path: an
  *    8-plane signature buckets the corpus so candidate generation is
  *    an equi-join on bucket_id (IVF-style), probing ~1/2^8 of the
  *    data per query instead of all of it.
  *
  * Dot products use zip_with + aggregate (sequential left fold), a
  * deterministic evaluation order that DuckDB's list_dot_product
  * reproduces bit-for-bit — so even the floating-point cosine results
  * are hash-oracle-checkable.
  *
  * The projection hyperplanes are generated from a fixed seed at
  * class-load; the SAME constants are inlined into the oracle SQL
  * ([[graft.OracleSql]]), keeping Spark and DuckDB in exact agreement.
  */
object Similarity {

  val dim = 64
  val numPlanes = 8

  /** Deterministic pseudo-random hyperplanes in [-1, 1]^dim. */
  lazy val planes: Seq[Seq[Double]] = {
    val rng = new java.util.Random(42L)
    Seq.fill(numPlanes)(Seq.fill(dim)(rng.nextDouble() * 2.0 - 1.0))
  }

  /** Sequential-fold dot product from built-in higher-order functions —
    * the composable baseline; [[dot]] is the fused native expression
    * with identical accumulation order (bit-equal results, asserted in
    * ScalaTest).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)))

  /** Native codegen'd dot product ([[graft.functions.DotProduct]]) —
    * one fused loop, no intermediate array.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotProduct(a, b)

  /** Native one-pass cosine ([[graft.functions.CosineSimilarity]]). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineSim(a, b)

  /** 8-bit LSH bucket id: bit i = sign(v · plane_i). */
  def lshBucketId(v: Column): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(v, typedLit(p)) >= lit(0.0), lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Brute-force cosine top-k: queries (vec_id < nQueries) are
    * broadcast against the full corpus; ranking via a window
    * partitioned by query. Exact — the recall baseline for ANN.
    */
  def bruteForceTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = base.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("v"), col("qv")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos_sim"), col("rk"))
      .orderBy("q_id", "rk")
  }

  /** Per-vector LSH bucket assignment (the IVF index build). */
  def lshBuckets(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        lshBucketId(col("embedding").cast("array<double>")).as("bucket_id"))
      .orderBy("vec_id")

  /** Multi-probe ANN: probe the query's own bucket PLUS every bucket
    * at Hamming distance 1 (one sign bit flipped) — 9 probes over 256
    * buckets ≈ 3.5% of the corpus, recovering most of the recall that
    * single-probe loses at the bucket boundaries. The probe list
    * explodes on the (tiny, broadcast) query side; the corpus side
    * stays a bucket equi-join.
    */
  def annTopKMultiProbe(emb: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"),
      lshBucketId(col("embedding").cast("array<double>")).as("bucket_id"))
    val probeBuckets = (0 until numPlanes).foldLeft(array(col("bucket_id"))) {
      (acc, i) => concat(acc, array(col("bucket_id").bitwiseXOR(lit(1 << i))))
    }
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(probeBuckets).as("bucket_id"))
    probeAndRank(base, q, k)
  }

  /** Per-label mean embedding (IVF coarse-centroid build): posexplode
    * to (label, dim, value) and average — fully distributed, and
    * flat enough for an exact SQL oracle. The typed
    * [[graft.functions.CentroidAggregator]] computes the same result
    * in one pass without the explode (asserted equal in tests) — the
    * shape to prefer when dimensions are wide.
    */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding").cast("array<double>")))
      .groupBy("label", "pos")
      .agg(round(avg("col"), 6).as("dim_mean"))
      .orderBy("label", "pos")

  /** MLlib-built-in ANN variant (SURVEY §2.13):
    * `BucketedRandomProjectionLSH` over the embedding vectors
    * (euclidean buckets; for unit-norm embeddings euclidean rank order
    * = cosine rank order). approxSimilarityJoin against a small query
    * set keeps the same bucket-equi-join shape as [[annTopK]].
    */
  def annMllib(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
               bucketLength: Double = 2.0, numHashTables: Int = 3): DataFrame = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.functions.array_to_vector
    val base = emb.select(col("vec_id"),
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables).setSeed(42L)
    val model = lsh.fit(base)
    val queries = base.filter(col("vec_id") < nQueries)
    // r19 rewrite (the q52 pattern): MLlib still owns the hash family
    // (model.transform computes exactly the hashes the
    // approxSimilarityJoin would), but the join mechanics are native
    // and narrow — the candidate join and pair distinct carry
    // (vec_id, entry, hash-as-double) instead of full-row structs
    // with 64-dim vectors, and the euclidean verify (keyDistance
    // verbatim: sqrt(Vectors.sqdist)) runs once per DISTINCT
    // candidate pair after id-keyed back-joins attach the two
    // vectors. Output equality with the MLlib join is pinned by
    // LshAndBucketingSpec on the real corpus.
    def hv(df: DataFrame, idAs: String) = model.transform(df)
      .select(col("vec_id").as(idAs),
        posexplode(col("hashes")).as(Seq("entry", "h")))
      .select(col(idAs), col("entry"),
        org.apache.spark.ml.functions.vector_to_array(col("h")).getItem(0).as("hv"))
    val cand = hv(queries, "q_id").join(hv(base, "neighbor_id"), Seq("entry", "hv"))
      .select("q_id", "neighbor_id").distinct()
    val euclid = udf((x: org.apache.spark.ml.linalg.Vector,
                      y: org.apache.spark.ml.linalg.Vector) =>
      math.sqrt(org.apache.spark.ml.linalg.Vectors.sqdist(x, y)))
    val feats = base.select(col("vec_id"), col("features"))
    val w = Window.partitionBy("q_id").orderBy(col("dist"), col("neighbor_id"))
    cand.join(feats.as("fa"), col("q_id") === col("fa.vec_id"))
      .join(feats.as("fb"), col("neighbor_id") === col("fb.vec_id"))
      .withColumn("rawd", euclid(col("fa.features"), col("fb.features")))
      .filter(col("rawd") < 2.0)
      .select(col("q_id"), col("neighbor_id"), round(col("rawd"), 6).as("dist"))
      .filter(col("q_id") =!= col("neighbor_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .orderBy("q_id", "rk")
  }

  /** IVF with a MATERIALIZED index: write the corpus partitioned by
    * LSH bucket (one directory per bucket — the inverted file), then
    * probe by joining the partitioned table to the broadcast query set
    * on `bucket_id`. Because `bucket_id` is the partition column and
    * the probe side is broadcast, Spark's dynamic partition pruning
    * rewrites the scan to read ONLY the probed buckets' directories —
    * at 100 TB the probe does not even READ the other 255/256ths of
    * the corpus, where [[annTopK]] (in-memory bucketing) must still
    * scan everything to compute bucket ids. Index build is a one-off
    * repartition-by-bucket write (≤ one file per bucket, no
    * small-file explosion); results are identical to [[annTopK]]
    * (spec-asserted), and the pruned scan is asserted in
    * PlanAuditSpec.
    *
    * Like any index, the build is amortized: it runs only when
    * `indexDir` has no committed index yet (or `rebuild = true`).
    * Callers must rebuild when the corpus changes — the index is a
    * materialized view of `emb`, not a cache Spark invalidates.
    */
  /** Content-addressed index location: `base`/ivf_<hash of the source
    * files' (path, size, mtime)>. A changed or different corpus
    * changes the address, so the amortized-build path of
    * [[annTopKIvf]] can never serve a stale index — the reuse check
    * and the data identity are the same key.
    */
  /** `base` must be dedicated to ONE logical corpus: superseded
    * `ivf_*` siblings (previous content hashes of the same corpus)
    * are pruned here, so the tmp footprint stays bounded at one index
    * per corpus rather than one per content revision.
    *
    * The identity is taken from `dataPath`'s files directly (path,
    * size, mtime via the Hadoop FS), NOT from `DataFrame.inputFiles`:
    * the latter reads the analyzed plan's scan leaves, which cache
    * substitution replaces with InMemoryRelation — a frame someone
    * else cached would silently report no files and either fail or,
    * worse, collapse every corpus to one address.
    */
  def ivfIndexDir(spark: org.apache.spark.sql.SparkSession,
                  dataPath: String, base: String,
                  variant: String = ""): String =
    // `variant` keys a revision over the same embedding files (the
    // semCcDir convention) — q269's compacted index lives as a
    // prefix-extending sibling the content address prunes/rebuilds on
    // the same corpus-change trigger as the main
    ContentAddress.dirFor(spark, dataPath, base,
      s"ivf_$variant", "ivfIndexDir")

  /** Bucket-tagged projection of the corpus; also the index row
    * layout. Ensures the partitioned index exists and returns the
    * index-backed corpus frame (bucket_id is the partition column, so
    * a probe join prunes to the probed partitions via DPP).
    */
  private def ensureIvfIndex(emb: DataFrame, indexDir: String,
                             rebuild: Boolean): (DataFrame, DataFrame) = {
    val withBucket = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"),
      lshBucketId(col("embedding").cast("array<double>")).as("bucket_id"))
    if (rebuild || !ContentAddress.hasSuccess(emb.sparkSession, indexDir))
      withBucket.repartition(col("bucket_id"))
        .write.mode("overwrite").partitionBy("bucket_id").parquet(indexDir)
    (withBucket, emb.sparkSession.read.parquet(indexDir))
  }

  /** Build the content-addressed IVF index now if (and only if) it
    * does not already exist — the bench/deploy warm-up hook that keeps
    * the one-time build cost out of probe-query measurements. Returns
    * true when a build actually happened, false on reuse.
    */
  def prebuildIvfIndex(emb: DataFrame, indexDir: String): Boolean = {
    val existed = ContentAddress.hasSuccess(emb.sparkSession, indexDir)
    if (!existed) ensureIvfIndex(emb, indexDir, rebuild = false)
    !existed
  }

  /** INCREMENTAL index maintenance — append a batch of new vectors to
    * an existing IVF index without touching the resident partitions:
    * because the coarse quantizer is the FIXED sign-LSH family (not a
    * trained k-means), a new vector's bucket is a pure function of the
    * vector, so appended files land only in the buckets the batch
    * actually hits and the result is bit-identical to a full rebuild
    * over old ∪ new (spec-proven: probe equality + untouched-partition
    * file sets). This is the production ingest path: nobody rewrites a
    * 100 TB index to add a day of vectors — they append bucket files
    * and let dynamic partition pruning keep probing the same way.
    *
    * Deliberately NOT for content-addressed bench dirs
    * ([[ivfIndexDir]] addresses a frozen corpus snapshot — a mutated
    * snapshot must get a new address); this is the mutable-index
    * deployment API, taking the index path directly.
    */
  /** Ingest discipline (two production hazards closed here):
    * (1) id-disjointness is ENFORCED, not assumed — a re-appended
    * resident vec_id would silently duplicate index rows and
    * double-report neighbors in probeAndRank, so the batch is
    * anti-joined against the resident id column first (a column-pruned
    * vec_id-only scan, cheap relative to the write);
    * (2) the batch is STAGED outside the live directory and its part
    * files moved in last (atomic per-file rename on a posix fs), so a
    * reader probing mid-append never sees a torn parquet file. A
    * reader CAN still see only a prefix of a multi-file batch for the
    * duration of the moves — per-file, not per-byte, granularity; a
    * manifest/snapshot layer (Delta/Iceberg-style) is the full fix and
    * out of scope for a plain-parquet index.
    */
  def appendToIvfIndex(newVecs: DataFrame, indexDir: String): Unit = {
    require(ContentAddress.hasSuccess(newVecs.sparkSession, indexDir),
      s"appendToIvfIndex requires an existing index at $indexDir")
    val resident = newVecs.sparkSession.read.parquet(indexDir).select("vec_id")
    // deterministic staging (review r18, the Landing.landDelta fix): a
    // crash between the staging write and the finally-cleanup must
    // leave an orphan the NEXT append reclaims (overwrite + finally
    // delete), not a UUID-named dir nothing ever prunes. Single-writer
    // by contract — the whole mutable-index API is.
    val staging = indexDir + ".append-staging"
    newVecs.join(resident, Seq("vec_id"), "left_anti")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        lshBucketId(col("embedding").cast("array<double>")).as("bucket_id"))
      .repartition(col("bucket_id"))
      .write.mode("overwrite").partitionBy("bucket_id").parquet(staging)
    val stagingDir = new java.io.File(staging)
    try {
      stagingDir.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bucket_id="))
        .foreach { part =>
          val dest = new java.io.File(indexDir, part.getName)
          dest.mkdirs()
          part.listFiles().filter(_.getName.endsWith(".parquet")).foreach { pf =>
            java.nio.file.Files.move(pf.toPath,
              new java.io.File(dest, pf.getName).toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
        }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(stagingDir)
  }

  /** Broadcast-probe the corpus on bucket_id and rank cosine top-k —
    * the shared tail of every ANN variant.
    */
  private def probeAndRank(corpus: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val scored = corpus.join(broadcast(q), Seq("bucket_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("v"), col("qv")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos_sim"), col("rk"))
      .orderBy("q_id", "rk")
  }

  def annTopKIvf(emb: DataFrame, indexDir: String,
                 nQueries: Int = 8, k: Int = 5,
                 rebuild: Boolean = false): DataFrame = {
    val (withBucket, corpus) = ensureIvfIndex(emb, indexDir, rebuild)
    val q = withBucket.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket_id"))
    probeAndRank(corpus, q, k)
  }

  /** Multi-probe over the MATERIALIZED index — the scale-path answer
    * to single-probe's boundary recall loss: each query probes its own
    * bucket plus the 8 at Hamming distance 1 (one sign bit flipped),
    * and because the probe list explodes on the tiny broadcast query
    * side while bucket_id is the index's partition column, dynamic
    * partition pruning restricts the ONE shared scan to the UNION of
    * all queries' probe lists — 9 partitions for a single query, up
    * to min(9·nQueries, 256) for a batch (72/256 at the default 8
    * queries; a large batch degrades toward a full scan, at which
    * point batch-by-bucket-locality or per-query probing is the right
    * call). Per-query CANDIDATE work is always 9 buckets regardless.
    * Results are deterministic (fixed hyperplanes), so this is
    * exact-oracle-checked (q74) and spec-asserted equal to the
    * in-memory [[annTopKMultiProbe]].
    */
  def annTopKIvfMultiProbe(emb: DataFrame, indexDir: String,
                           nQueries: Int = 8, k: Int = 5,
                           rebuild: Boolean = false): DataFrame = {
    val (withBucket, corpus) = ensureIvfIndex(emb, indexDir, rebuild)
    val probeBuckets = (0 until numPlanes).foldLeft(array(col("bucket_id"))) {
      (acc, i) => concat(acc, array(col("bucket_id").bitwiseXOR(lit(1 << i))))
    }
    val q = withBucket.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(probeBuckets).as("bucket_id"))
    probeAndRank(corpus, q, k)
  }

  /** ANN top-k: probe only the query's own bucket (single-probe IVF).
    * Trades recall for a 2^numPlanes candidate reduction; recall vs
    * [[bruteForceTopK]] is asserted in ScalaTest.
    */
  /** Symmetric int8 quantization of the embedding column — the
    * storage/bandwidth stage of a production ANN pipeline (4× smaller
    * vectors; per-vector `scale = max|v_i| / 127`, zero-point-free).
    * Pure per-row higher-order functions (aggregate for the max-abs,
    * transform for the rounding) — codegen'd, no shuffle, no UDF —
    * so at 100 TB it is a scan-speed rewrite of the corpus.
    * Reconstruction error is ≤ scale/2 per component
    * (spec-asserted); an all-zero vector quantizes to zeros with
    * scale 0 and dequantizes to itself.
    */
  def quantizeEmbeddings(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val maxAbs = aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x)))
    val scale = (maxAbs / lit(127.0)).as("scale")
    emb.select(col("vec_id"), scale,
      when(maxAbs === lit(0.0), transform(v, _ => lit(0).cast("byte")))
        .otherwise(transform(v, x =>
          round(x / (maxAbs / lit(127.0))).cast("byte"))).as("qvec"))
  }

  /** Inverse of [[quantizeEmbeddings]]: `q_i * scale` per component. */
  def dequantizeEmbeddings(q: DataFrame): DataFrame =
    q.select(col("vec_id"),
      transform(col("qvec"), x => x.cast("double") * col("scale")).as("embedding"))

  /** Quantize → dequantize validation report (the q76 driver entry):
    * per vector the rounded scale, integer code statistics, and the
    * max reconstruction error against the original — every number a
    * deterministic fold, so the whole pair of operators is
    * exact-oracle-checkable. The original is re-joined on vec_id;
    * that is the VALIDATION harness shape (run on a sample after a
    * quantization pass), not the production write path, which stores
    * (scale, qvec) and never joins back.
    */
  def quantizationRoundtrip(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val q = quantizeEmbeddings(emb, vecCol)
    val dv = dequantizeEmbeddings(q).withColumnRenamed("embedding", "dv")
    emb.select(col("vec_id"), col(vecCol).cast("array<double>").as("orig"))
      .join(q, Seq("vec_id")).join(dv, Seq("vec_id"))
      .select(
        col("vec_id"),
        round(col("scale"), 6).as("scale_r"),
        aggregate(col("qvec"), lit(0L), (a, x) => a + x.cast("long")).as("q_sum"),
        aggregate(col("qvec"), lit(127), (a, x) => least(a, x.cast("int"))).as("q_min"),
        aggregate(col("qvec"), lit(-127), (a, x) => greatest(a, x.cast("int"))).as("q_max"),
        round(aggregate(zip_with(col("orig"), col("dv"), (a, b) => abs(a - b)),
          lit(0.0), (a, x) => greatest(a, x)), 6).as("max_abs_err"))
      .orderBy("vec_id")
  }

  /** Brute-force cosine top-k DIRECTLY over the int8 codes from
    * [[quantizeEmbeddings]] — the consumption path that makes the
    * quantized store useful: search never touches the float corpus.
    * The per-vector scales cancel out of the cosine
    * (cos = (s_a s_b Σq_a q_b) / (s_a‖q_a‖ · s_b‖q_b‖)), so the score
    * is a pure INTEGER dot over integer norms: every product ≤ 127²,
    * every 64-element sum < 2³⁰ — exact in long and in the double it
    * is finally divided in. No float accumulation order exists to
    * disagree on, which is what makes a quantized ANN result
    * hash-oracle-checkable at all. Same broadcast-queries / linear
    * corpus scan shape as [[bruteForceTopK]]; at 100 TB the win is the
    * 4× smaller scan plus integer SIMD.
    */
  def quantizedTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    def idot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
        lit(0L), (acc, x) => acc + x)
    // r18: hoist the self-norms OUT of the scored fan-out — the HOF
    // dot product is interpreted (no whole-stage codegen), and the
    // original shape evaluated THREE of them per (vector, query) row
    // (‖v‖² and ‖q‖² recomputed 8× resp. 8000×). Computing each side's
    // norm once before the crossJoin leaves one idot per scored row —
    // identical arithmetic, identical output. spreadNarrowCompute: the
    // fan-out otherwise runs on the one-file scan's single task.
    val base = graft.engine.Tables.spreadNarrowCompute(
        quantizeEmbeddings(emb).select(col("vec_id"), col("qvec")))
      .withColumn("nn", idot(col("qvec"), col("qvec")))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("qvec").as("qq"),
        col("nn").as("qn"))
    val nn = col("nn")
    val qn = col("qn")
    val scored = base.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("qcos",
        when(nn === 0L || qn === 0L, lit(0.0)).otherwise(
          idot(col("qvec"), col("qq")).cast("double") /
            (sqrt(nn.cast("double")) * sqrt(qn.cast("double")))))
    val w = Window.partitionBy("q_id").orderBy(col("qcos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(col("qcos"), 6).as("qcos_sim"), col("rk"))
      .orderBy("q_id", "rk")
  }

  /** Matryoshka-style dimension truncation: keep the first `dTrunc`
    * components and L2-renormalize — the standard embedding-pipeline
    * step for trading dimensions against index cost when the encoder
    * was trained with nested representations. Pure per-row HOFs over
    * the scan (slice + fold), no shuffle. The report is built from
    * ORDER-FREE reductions only (norms are sums of squares of exact
    * inputs in one sequential fold; min/max/element-pick commute), so
    * it exact-oracle-checks: per vector the full norm, the energy
    * ratio ‖v[..d]‖/‖v‖ (how much signal truncation keeps), and the
    * renormalized first/min/max components.
    */
  def normalizeTruncate(emb: DataFrame, dTrunc: Int = 16,
                        vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val t = slice(v, 1, dTrunc)
    val normFull = sqrt(dotHof(v, v))
    val normT = sqrt(dotHof(t, t))
    val renorm = transform(t, x => x / normT)
    emb.select(
        col("vec_id"),
        round(normFull, 6).as("norm_full"),
        round(normT / normFull, 6).as("energy_ratio"),
        round(element_at(renorm, 1), 6).as("t_first"),
        round(aggregate(renorm, lit(Double.MaxValue), (a, x) => least(a, x)), 6)
          .as("t_min"),
        round(aggregate(renorm, lit(Double.MinValue), (a, x) => greatest(a, x)), 6)
          .as("t_max"))
      .orderBy("vec_id")
  }

  def annTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"),
      lshBucketId(col("embedding").cast("array<double>")).as("bucket_id"))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket_id"))
    probeAndRank(base, q, k)
  }

  /** Hard-negative mining for contrastive training: per anchor, the
    * top-k most-similar vectors whose LABEL DIFFERS from the
    * anchor's — the near-miss examples a retrieval/embedding trainer
    * pairs against each positive. Same broadcast-anchor / linear-scan
    * shape as [[bruteForceTopK]] with the label inequality folded
    * into the join predicate, so same-label rows die before any score
    * is computed; the ranking window is group-limited (top-k per
    * anchor, never a full per-group sort). Cosine is the native
    * codegen kernel — deterministic, so the mined negatives are
    * exact-oracle-checked, not spot-checked. At scale, compose with
    * the IVF index exactly like [[annTopKIvf]] when approximate
    * negatives suffice (they usually do).
    */
  def hardNegatives(emb: DataFrame, nAnchors: Int = 8, k: Int = 5): DataFrame = {
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    val anchors = base.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("label").as("q_label"))
    val scored = base.join(broadcast(anchors), col("label") =!= col("q_label"))
      .withColumn("cos", cosine(col("v"), col("qv")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("label").as("n_label"),
        round(col("cos"), 6).as("cos_sim"), col("rk"))
      .orderBy("q_id", "rk")
  }

  /** Embedding-quality outlier gate: the `worstK` vectors FARTHEST
    * from their own label's centroid (lowest cosine) — the mislabeled
    * or off-distribution rows an embedding-training pipeline routes
    * to review before they poison a contrastive batch. The centroid
    * build is [[labelCentroids]] (per-dim mean, rounded to 6 decimals
    * so both engines quantize the ONE order-sensitive reduction
    * identically) reassembled into an array by `pos`; the centroid
    * frame is #labels rows and broadcasts back, so the corpus side is
    * a single narrow scan + one per-row cosine. Ranking is a
    * group-limited window per label (WindowGroupLimit pushes the
    * top-k before the sort), never a full per-label sort.
    */
  def centroidOutliers(emb: DataFrame, worstK: Int = 5): DataFrame = {
    val cents = labelCentroids(emb)
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("dim_mean")))),
        s => s.getField("dim_mean")).as("cv"))
    val base = emb.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val scored = base.join(broadcast(cents), Seq("label"))
      .withColumn("cos", cosine(col("v"), col("cv")))
    val w = Window.partitionBy("label").orderBy(col("cos").asc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= worstK)
      .select(col("label"), col("vec_id"),
        round(col("cos"), 6).as("cos_centroid"), col("rk"))
      .orderBy("label", "rk")
  }

  /** kNN label prediction — the consumer side of the similarity
    * search: per query vector, the majority label among its
    * [[bruteForceTopK]] neighbors (self excluded), ties broken toward
    * the smaller label. All-integer voting on top of deterministic
    * neighbor sets, so the prediction is exact-oracle-checkable
    * end-to-end. Same broadcast-query / linear-scan shape as the
    * top-k baseline; at scale swap the neighbor source for
    * [[annTopKIvf]] and the vote logic is unchanged.
    */
  def knnPredict(emb: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame = {
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("label").as("true_label"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    val neighbors = base.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("v"), col("qv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
    val votes = neighbors.groupBy("q_id", "true_label", "label")
      .agg(count(lit(1)).cast("int").as("votes"))
    val vw = Window.partitionBy("q_id").orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("vr", row_number().over(vw))
      .filter(col("vr") === 1)
      .select(col("q_id"), col("true_label"), col("label").as("pred_label"),
        col("votes"))
      .orderBy("q_id")
  }

  /** Bucket-balanced diversity sampling — SemDeDup-style coverage
    * control: cap each LSH bucket (a deterministic partition of the
    * embedding space) at `perBucket` vectors chosen by md5-hash
    * order, so the subsample spans every populated region instead of
    * letting dense clusters dominate a uniform draw. Selection runs
    * on the custom heap-based [[graft.plans.TopKPerKey]] physical
    * operator (its second production call site after
    * `TrainingData.sourceCap`): one shuffle on bucket_id, O(n log k)
    * per-partition selection, no rank column, no per-bucket sort.
    * Hash-order choice keeps the subsample a pure function of the
    * ids — rerun-stable and exact-oracle-checkable.
    */
  def diversitySample(emb: DataFrame, perBucket: Int = 4): DataFrame = {
    val base = emb.select(col("vec_id"),
      lshBucketId(col("embedding").cast("array<double>")).as("bucket_id"),
      md5(col("vec_id").cast("string")).as("h"))
    graft.plans.TopK.perKey(base, Seq("bucket_id"),
        Seq(col("h").asc, col("vec_id").asc), perBucket)
      .select("bucket_id", "vec_id")
      .orderBy("bucket_id", "vec_id")
  }

  /** ANN quality report: per-query recall@k of the bucketed
    * [[annTopK]] against the exact [[bruteForceTopK]] ground truth.
    * Both sides are deterministic, so the recall numbers are
    * exact-oracle-checked — the index-tuning feedback loop (probe
    * more buckets? more planes?) becomes a driver-verifiable query
    * instead of a one-off notebook. The join is nQueries×k rows a
    * side; at production scale the ground-truth side is a fixed
    * held-out query panel, so the report stays tiny regardless of
    * corpus size.
    */
  def annRecall(emb: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val exact = bruteForceTopK(emb, nQueries, k)
      .select(col("q_id"), col("neighbor_id"))
    val approx = annTopK(emb, nQueries, k)
      .select(col("q_id").as("a_qid"), col("neighbor_id").as("a_nid"))
    exact.join(approx,
        col("q_id") === col("a_qid") && col("neighbor_id") === col("a_nid"),
        "left")
      .groupBy("q_id")
      .agg(count(lit(1)).cast("int").as("k_exact"),
        count(col("a_nid")).cast("int").as("hits"))
      .withColumn("recall",
        round(col("hits") / col("k_exact").cast("double"), 4))
      .orderBy("q_id")
  }

  /** q244: graded nDCG@10 + MRR of the two index-served ANN arms
    * (single-probe [[annTopKIvf]], Hamming-1 [[annTopKIvfMultiProbe]])
    * against the exact [[bruteForceTopK]] ground truth — the
    * q237-style QUALITY metric for the ANN family: [[annRecall]]
    * (q93) counts set overlap, this scores RANK placement with graded
    * gains, so "the approximation found the right docs but in the
    * wrong order" finally shows up as a number. Relevance grades come
    * from the exact ranking itself: rel = 2 for true top-3 neighbors,
    * 1 for true top-10 — deterministic, hence exact-oracled.
    *
    * Exactness is the q237 ladder discipline
    * ([[TextAnalysis.rankQualityClose]]): integer rank-discount
    * weights, BIGINT DCG, closed-form integer IDCG, one closing
    * divide per float.
    *
    * Scale: the two arms probe the materialized index (bucket DPP,
    * the q64/q74 plans); the brute-force side is the AUDIT tier —
    * a fixed query panel against the corpus, same as q93/q194, run
    * on a sampled panel in production. Metric assembly is per-q_id
    * aggregates over ≤ k rows.
    */
  def annQuality(emb: DataFrame, indexDir: String, nQueries: Int = 8,
                 k: Int = 10, gtDir: Option[String] = None): DataFrame = {
    require(k == 10, "rank-discount literals are derived for depth 10")
    require(gtDir.isEmpty || nQueries == 8,
      "the materialized ground truth is built at the 8-query panel")
    // graded ground truth: from the materialized frame when a gtDir is
    // given (one narrow scan per consumer subtree — the exact-ranking
    // kernel runs ONCE per corpus snapshot, the production recall-
    // dashboard shape), else self-computed (spec-asserted identical)
    val rel = gtDir match {
      case Some(d) =>
        prebuildAnnGroundTruth(emb, d)
        emb.sparkSession.read.parquet(s"$d/rel")
      case None => annGroundTruth(emb, nQueries, k)
    }
    def arm(df: DataFrame): DataFrame =
      df.select(col("q_id"), col("neighbor_id").as("doc_id"), col("rk"))
    TextAnalysis.rankQualityClose(
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").cast("bigint").as("q_id")),
      Seq("ivf" -> arm(annTopKIvf(emb, indexDir, nQueries, k)),
        "multiprobe" -> arm(annTopKIvfMultiProbe(emb, indexDir, nQueries, k))),
      rel)
  }

  /** The graded exact ground truth q244 scores against: rel(q, d) = 2
    * for the true top-3 neighbors, 1 for the true top-10.
    */
  private def annGroundTruth(emb: DataFrame, nQueries: Int,
                             k: Int): DataFrame =
    bruteForceTopK(emb, nQueries, k)
      .select(col("q_id"), col("neighbor_id").as("doc_id"),
        when(col("rk") <= 3, 2).otherwise(1).as("rel"))

  /** Content-addressed home of the embeddings table's exact graded
    * ANN ground truth — the frozen audit panel a production
    * recall/quality dashboard re-probes across index rebuilds (the
    * exact kernel is the expensive side of q244; the arms are cheap
    * index probes). The [[ivfIndexDir]] discipline.
    */
  def annGtDir(spark: org.apache.spark.sql.SparkSession, dataPath: String,
               base: String): String =
    // n8k10 bakes the frozen panel's constants into the address (the
    // cascadeDir convention) — a panel change re-addresses, never
    // serves a stale ground truth
    ContentAddress.dirFor(spark, dataPath, base, "anngt_n8k10_",
      "annGtDir", legacyPrefixes = Seq("anngt_"))

  /** Build the materialized ground truth under `dir/rel` iff missing
    * ([[graft.engine.ContentAddress.commitOnce]]). Types are (BIGINT,
    * BIGINT, INT) — exact parquet roundtrip.
    */
  def prebuildAnnGroundTruth(emb: DataFrame, dir: String): Boolean =
    ContentAddress.commitOnce(emb.sparkSession, s"$dir/rel")(
      annGroundTruth(emb, nQueries = 8, k = 10))

  /** Matryoshka-style truncation recall sweep: top-k recall of
    * brute-force cosine on PREFIX-TRUNCATED embeddings (dims 8/16/32
    * of 64) against the full-dimension ground truth — the audit that
    * decides how small a cheap pre-filter dimension can go before it
    * stops finding the real neighbors (truncate → shortlist → re-rank
    * at full dim is the standard two-stage ANN cost lever).
    *
    * Per dim the candidate ranking is capped inside the scan stage by
    * [[graft.plans.TopK.perKey]] (no full sort, no unbounded window);
    * the recall join then runs on #dims·#queries·k rows. The
    * brute-force pass is the AUDIT tier — production serves from the
    * IVF/PQ index and runs this sweep on a sampled panel exactly like
    * this one.
    */
  def truncationRecallSweep(emb: DataFrame, dims: Seq[Int] = Seq(8, 16, 32),
                            nQueries: Int = 8, k: Int = 5): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    import emb.sparkSession.implicits._
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def topkAt(slicer: Column => Column): DataFrame = {
      val b = base.select(col("vec_id"), slicer(col("v")).as("w"))
      val q = b.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("w").as("qw"))
      val scored = b.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", cosine(col("w"), col("qw")))
      graft.plans.TopK.perKey(scored, Seq("q_id"),
        Seq(col("cos").desc, col("vec_id").asc), k)
        .select(col("q_id"), col("vec_id").as("nid"))
    }
    val exact = topkAt(identity)
    val sweeps = dims.map(d =>
        topkAt(v => slice(v, 1, d)).withColumn("dim", lit(d)))
      .reduce(_ unionByName _)
      .select(col("dim").as("s_dim"), col("q_id").as("s_qid"), col("nid").as("s_nid"))
    val expected = exact.crossJoin(
      broadcast(dims.toDF("dim")))
    expected.join(sweeps,
        expected("dim") === sweeps("s_dim") && expected("q_id") === sweeps("s_qid") &&
          expected("nid") === sweeps("s_nid"), "left")
      .groupBy(expected("dim"))
      .agg(count(lit(1)).cast("int").as("n_expected"),
        count(col("s_nid")).cast("int").as("hits"))
      .selectExpr("dim", "n_expected", "hits",
        "floor(CAST(hits AS DOUBLE) / CAST(n_expected AS DOUBLE) * 1e4 + 0.5) / 1e4 AS recall")
      .orderBy("dim")
  }

  /** Sign-LSH index-health audit: bucket-size skew and the candidate-
    * pair cost the bucketing actually buys. `candidate_pairs` =
    * Σ n_b·(n_b−1)/2 is EXACTLY the number of comparisons a
    * same-bucket join performs; `cand_frac` (vs brute n·(n−1)/2) is
    * the speedup factor, and `imbalance` (max bucket vs mean) is the
    * straggler warning — a hot bucket is where a 1000-executor job
    * loses its tail latency, and this one row says so before the job
    * runs. Complements [[graft.operators.Dedup.lshRecallReport]]
    * (which audits the RECALL side of the same trade).
    *
    * One narrow scan → #buckets-row aggregate → 1 row; every stat is
    * an exact integer until the two closing divisions.
    */
  def bucketBalanceAudit(emb: DataFrame): DataFrame =
    emb.select(lshBucketId(col("embedding").cast("array<double>")).as("bucket_id"))
      .groupBy("bucket_id").agg(count(lit(1)).as("n"))
      .agg(sum("n").as("n_vecs"), count(lit(1)).as("n_buckets"),
        max("n").as("max_bucket"), sum(col("n") * (col("n") - 1)).as("cand2"))
      .selectExpr("n_vecs", "n_buckets", "max_bucket",
        "cand2 DIV 2 AS candidate_pairs",
        "n_vecs * (n_vecs - 1) DIV 2 AS brute_pairs",
        "floor(CAST(cand2 AS DOUBLE) / CAST(n_vecs * (n_vecs - 1) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cand_frac",
        "floor(CAST(max_bucket AS DOUBLE) / (CAST(n_vecs AS DOUBLE) / CAST(n_buckets AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS imbalance")

  /** Deterministic sparse-sign random projection (Achlioptas-style,
    * signs only): rp[j] = Σ_i v[i]·sign(i, j) with sign(i, j) = +1
    * when the first hex digit of md5("j:i") < '8', else −1. The
    * "matrix" is a hash function, not data — nothing is broadcast,
    * nothing is trained, and both engines derive the identical sign
    * from the identical md5 — so the projection is exact-oracle-
    * checkable. One narrow projection per row, no shuffle; output is
    * (vec_id, rp_dim, rp_val) rows so the driver's dump stays flat.
    * Preserves pairwise geometry at k ≪ d for cheap pre-filtering in
    * front of exact cosine.
    *
    * Evolution of the hot loop (the native-extension ladder, each
    * step measured): md5 inside the row fold recomputed the identical
    * outDim×dim matrix per row (51M md5 calls at sf0.1 — 22.8 s);
    * hoisting the signs to a plan literal made the fold pure
    * arithmetic but still INTERPRETED (outDim·d boxed HOF nodes per
    * row — ~3 s); the shipped form is a native generator holding the
    * sign matrix as instance state and running the whole product as
    * one JVM loop per row (sub-second). `maxInputDim` bounds the
    * matrix (~32 KB at the defaults); a longer input fails LOUDLY
    * rather than projecting on a silently-truncated basis.
    */
  def randomProjection(emb: DataFrame, outDim: Int = 16,
                       maxInputDim: Int = 256): DataFrame =
    // native generator (graft.functions.SignProjectGenerator): the
    // whole outDim×d product runs as one JVM loop per row where the
    // composable transform/aggregate form evaluated outDim·d
    // INTERPRETED nodes per row (~5M per bench pass, measured ~3 s →
    // sub-second). Identical signs, fold order, and rounding —
    // spec-asserted against the composable reference, oracle unchanged
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"),
        graft.functions.SignProjectGenerator.signProject(col("v"), outDim, maxInputDim)
          .as(Seq("rp_dim", "rp_val")))
      .orderBy("vec_id", "rp_dim")

  /** Lloyd's k-means over the embedding corpus — deterministic and
    * DuckDB-oracle-exact: init is the first `k` vectors by vec_id,
    * `iters` FIXED iterations (no convergence test), and every
    * centroid coordinate re-synchronizes to 6 decimals after each
    * update, so the engines' group-sum orderings can never drift the
    * trajectories apart (the q137 unrolled-recurrence discipline
    * applied to an argmin-carrying loop). The learned centroids are
    * what an IVF index WANTS as its coarse quantizer — this is the
    * training step the q64 LSH-bucketed index approximates away.
    *
    * Scale: assignment is pure map-side — the k×dim centroid matrix
    * travels as ONE broadcast row, each vector computes k distances
    * with sequential HOF folds (zip_with → aggregate, codegen'd,
    * same fold order as DuckDB's list_reduce) and takes argmin as
    * array_position(array_min) — no shuffle, no window, no pair
    * blow-up; ties go to the lowest cluster id in both engines
    * (first-match semantics). The update shuffles only (cluster, dim)
    * partial averages — k·dim rows per partition after map-side
    * combine. Cluster id = 1-based position in the centroid array,
    * and the positions are STABLE: a cluster that loses all members
    * mid-run keeps its previous centroid rather than letting the
    * survivors renumber underneath the ids already assigned.
    */
  def kmeans(emb: DataFrame, k: Int = 4, iters: Int = 3): DataFrame =
    kmeansFromCells(kmCells(emb, k, iters))

  /** The full assignment frame (vec_id, v, cluster, d, dist_r) the
    * whole k-means family derives from — [[kmeans]]'s labels are its
    * (vec_id, cluster, dist_r) projection, the silhouette reads the
    * per-centroid distance array `d`, SemDeDup pairs within `cluster`
    * over `v`. Train + assign run once here; every column is exact
    * under a parquet roundtrip (BIGINT/INT ids, round-6 doubles), so
    * the materialized copy ([[prebuildKmeansCells]]) serves all three
    * consumers hash-identically.
    */
  private[graft] def kmCells(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val base = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    kmAssign(base, kmTrain(base, k, iters))
      .select(col("vec_id"), col("v"), col("cluster"), col("d"), col("dist_r"))
  }

  private def kmeansFromCells(cells: DataFrame): DataFrame =
    cells
      .select(col("vec_id"), col("cluster"), round(col("dist_r"), 4).as("dist2"))
      .orderBy("vec_id")

  /** Content-addressed home of one embedding corpus' materialized
    * k-means cells — the training step q142 deliberately times was
    * re-running on EVERY invocation of q142/q155/q208; one build per
    * corpus snapshot is what a production IVF/SemDeDup pipeline does
    * with its coarse quantizer. The prefix bakes (k, iters) in, the
    * cascadeDir `cc${t}b${bands}_` convention.
    */
  def kmCellsDir(spark: org.apache.spark.sql.SparkSession, dataPath: String,
                 base: String, k: Int = 4, iters: Int = 3): String =
    ContentAddress.dirFor(spark, dataPath, base,
      s"km_k${k}i${iters}_", "kmCellsDir")

  /** Build the materialized cells frame under `dir/cells` iff missing
    * ([[graft.engine.ContentAddress.commitOnce]]; `km_build_sec` in
    * the bench warm-up).
    */
  def prebuildKmeansCells(emb: DataFrame, dir: String, k: Int = 4,
                          iters: Int = 3): Boolean =
    ContentAddress.commitOnce(emb.sparkSession, s"$dir/cells")(
      kmCells(emb, k, iters))

  /** [[kmeans]] probing the materialized cells (spec-asserted ≡
    * self-computing — the roundtrip is exact).
    */
  def kmeansCached(emb: DataFrame, dir: String, k: Int = 4,
                   iters: Int = 3): DataFrame = {
    prebuildKmeansCells(emb, dir, k, iters)
    kmeansFromCells(emb.sparkSession.read.parquet(s"$dir/cells"))
  }

  /** Simplified-silhouette cluster-quality audit over the
    * deterministic [[kmeans]] cells — the index-health number that
    * says whether an IVF/SemDeDup partitioning is actually separating
    * structure or slicing noise: per point, a = distance to own
    * centroid, b = distance to the nearest OTHER centroid,
    * s = (b−a)/max(a,b) (the centroid-based silhouette — O(n·k)
    * instead of O(n²), the only formulation that scales), reported
    * per cluster with point counts and mean centroid distance.
    * s ≈ 1 = tight well-separated cells; s ≈ 0 = boundary mush (a
    * multi-probe/recall warning for q64-style probes).
    *
    * Exactness: per-centroid squared distances are the SAME round-6
    * quantized values the trainer uses (one arithmetic, no drift);
    * per-point s is quantized to 1e-6 before the BIGINT mean sums;
    * duplicate centroids give b = a → s = 0 on both engines.
    * Scale: one broadcast of k centroids, one map pass, a k-row
    * aggregate.
    */
  def simplifiedSilhouette(emb: DataFrame, k: Int = 4, iters: Int = 3): DataFrame = {
    require(k >= 2, "silhouette needs at least 2 clusters")
    silhouetteFromCells(kmCells(emb, k, iters))
  }

  /** [[simplifiedSilhouette]] probing the materialized cells frame
    * (spec-asserted ≡ self-computing).
    */
  def simplifiedSilhouetteCached(emb: DataFrame, dir: String, k: Int = 4,
                                 iters: Int = 3): DataFrame = {
    require(k >= 2, "silhouette needs at least 2 clusters")
    prebuildKmeansCells(emb, dir, k, iters)
    silhouetteFromCells(emb.sparkSession.read.parquet(s"$dir/cells"))
  }

  private def silhouetteFromCells(cells: DataFrame): DataFrame =
    cells
      .withColumn("ds", array_sort(col("d")))
      .selectExpr("cluster",
        "CAST(floor(sqrt(element_at(ds, 1)) * 1e6 + 0.5) AS BIGINT) AS aq",
        "CAST(floor(CASE WHEN greatest(sqrt(element_at(ds, 1)), sqrt(element_at(ds, 2))) = 0 THEN 0.0 " +
          "ELSE (sqrt(element_at(ds, 2)) - sqrt(element_at(ds, 1))) / " +
          "greatest(sqrt(element_at(ds, 1)), sqrt(element_at(ds, 2))) END * 1e6 + 0.5) AS BIGINT) AS sq")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_points"), sum("aq").as("sa"), sum("sq").as("ss"))
      .selectExpr("cluster", "n_points",
        "floor(CAST(sa AS DOUBLE) / CAST(n_points AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS mean_dist",
        "floor(CAST(ss AS DOUBLE) / CAST(n_points AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS mean_silhouette")
      .orderBy("cluster")

  /** One Lloyd assignment pass of `base` (vec_id, v) against a 1-row
    * centroid frame (cs) — shared by [[kmeans]]'s final assign and
    * the PQ encoder. */
  private def kmAssign(base: DataFrame, cents: DataFrame): DataFrame =
    base.crossJoin(broadcast(cents))
      .withColumn("d", transform(col("cs"), c =>
        round(aggregate(zip_with(col("v"), c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, t) => acc + t), 6)))
      .withColumn("cluster", array_position(col("d"), array_min(col("d"))).cast("int"))
      .withColumn("dist_r", array_min(col("d")))

  /** [[kmeans]]'s training loop alone: returns the final centroids as
    * ONE broadcastable row (cs = array of ≤ k centroid arrays, slot =
    * 1-based cluster id) — the codebook consumers (PQ's ADC tables)
    * need, where [[kmeans]] itself only returns assignments. All the
    * determinism notes on [[kmeans]] apply verbatim.
    */
  private[graft] def kmTrain(base: DataFrame, k: Int, iters: Int): DataFrame = {
    def assign(cents: DataFrame): DataFrame = kmAssign(base, cents)
    // init = the k LOWEST vec_ids PRESENT (TakeOrdered, k rows), not
    // `vec_id < k`: a filtered subset (e.g. the pipeline's
    // lexical-survivor embeddings) may be missing ids 0..k−1
    // entirely, and a short centroid array crashed the slot rebuild.
    // On a dense-id table the two inits coincide, so q142's unrolled
    // oracle is unchanged.
    var cents = base.orderBy("vec_id").limit(k)
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("vec_id"), col("v")))),
        s => s.getField("v")).as("cs"))
    for (_ <- 1 to iters) {
      // An emptied cluster (possible when duplicate init vectors make
      // two centroids coincide — ties all drain to the lower id) keeps
      // its PREVIOUS centroid: collect the survivors into a map and
      // coalesce per slot, so ids stay stable instead of the remaining
      // centroids silently renumbering through collect_list positions.
      // try_element_at: a plain element_at on a map throws under ANSI
      // for the very missing-key case this guard exists for.
      cents = assign(cents)
        .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cluster", "dim").agg(round(avg("x"), 6).as("m"))
        .groupBy("cluster")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m")).as("c"))
        .groupBy()
        .agg(map_from_entries(collect_list(struct(col("cluster"), col("c")))).as("cm"))
        .crossJoin(broadcast(cents))
        // slots run over the ACTUAL centroid count (≤ k when the
        // input has fewer vectors than clusters), not a literal k
        .select(transform(sequence(lit(1), size(col("cs"))), i =>
          coalesce(try_element_at(col("cm"), i), element_at(col("cs"), i))).as("cs"))
        // eager localCheckpoint (the q137 TextRank pattern): the
        // centroid frame is ONE row, but lazily it embeds the whole
        // previous iteration's DAG — by iteration 3 the final assign
        // would replay a dozen stages (twice, when a consumer like
        // semDedup self-joins). Materializing the row per iteration
        // keeps lineage depth constant; values are identical (the
        // checkpoint stores exactly the round(6)-synced coordinates).
        .localCheckpoint()
    }
    cents
  }

  /** Subspace slice of a vector column: subspace `s` (0-based, of `m`)
    * covers dims [s·⌊d/m⌋+1 ..], the LAST subspace takes any
    * remainder — mirrored exactly by the oracle's `//`-sliced CTEs.
    */
  private def subSlice(v: Column, s: Int, m: Int): Column = {
    val w = (size(v) / lit(m)).cast("int")
    val len = if (s == m - 1) size(v) - lit(s) * w else w
    slice(v, lit(s) * w + 1, len)
  }

  /** Product-quantization codes (Jégou/Douze/Schmid, the IVF+PQ
    * memory-scale standard): the vector splits into `m` contiguous
    * subspaces, each trained with its OWN deterministic [[kmeans]]
    * codebook of `k` centroids, and a vector's code in subspace s is
    * its nearest sub-centroid — m·log₂k bits replace d floats, which
    * is what lets a 100 TB ANN corpus keep its vectors IN MEMORY
    * (int8 (q76) compresses 4×; PQ compresses 100×+ and its ADC
    * distance needs no decode). Deterministic end to end (first-k
    * init, fixed iterations, round-6 resync), so every code and
    * residual is DuckDB-hash-exact — not a property MLlib's seeded
    * KMeans can offer.
    *
    * Output: (vec_id, sub, code, dist2) — dist2 is the subspace
    * quantization residual, whose per-corpus sum is the PQ
    * distortion audit.
    *
    * Scale: each subspace's train/encode is the map-only broadcast-
    * centroid shape of [[kmeans]] on a NARROWER vector; the m
    * sub-results union column-compatibly. Nothing here shuffles more
    * than (cluster, dim) partial means.
    */
  def pqCodes(emb: DataFrame, m: Int = 2, k: Int = 4, iters: Int = 3): DataFrame =
    (0 until m).map { s =>
      val sub = emb.select(col("vec_id"),
          subSlice(col("embedding").cast("array<double>"), s, m).as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // dist2 display-rounds via the quantized floor form (the
      // moneyRound convention), NOT round(,4): Spark's round goes
      // through the double's SHORTEST string repr while DuckDB rounds
      // the raw double, so a residual landing on a .xxxx5 boundary
      // (one does, on this corpus's subspace slices) would hash-split
      // the engines; floor(x·10⁴ + 0.5) is the same IEEE ops on the
      // same double in both
      kmAssign(sub, kmTrain(sub, k, iters))
        .select(col("vec_id"), lit(s).as("sub"), col("cluster").as("code"),
          (floor(col("dist_r") * 1e4 + 0.5) / 1e4).as("dist2"))
    }.reduce(_.unionByName(_)).orderBy("vec_id", "sub")

  /** PQ ANN via asymmetric distance computation (ADC): queries stay
    * EXACT, corpus vectors are their PQ codes, and the query-to-code
    * distance is a sum of per-subspace lookup-table entries — the
    * scan never touches a corpus float. The LUT is (nQueries · m · k)
    * rows built from the codebooks (tiny, broadcast); the corpus-side
    * work is one equi-join of (vec_id, sub, code) rows against it
    * plus a group-limited rank — no vector arithmetic per corpus row
    * at probe time, which is the entire point of PQ at scale (and it
    * composes with the q64 IVF partition pruning: prune to probed
    * buckets, THEN ADC-scan only those).
    *
    * Determinism: per-subspace LUT distances are round-6 doubles
    * promoted to integer MICRO-units before the cross-subspace sum
    * (a 3+-term double sum would re-associate across engines; the
    * BIGINT sum cannot), ranks tie-break on vec_id.
    */
  def pqAnn(emb: DataFrame, m: Int = 2, k: Int = 4, iters: Int = 3,
            nQueries: Int = 8, topK: Int = 5): DataFrame = {
    val parts = (0 until m).map { s =>
      val sub = emb.select(col("vec_id"),
          subSlice(col("embedding").cast("array<double>"), s, m).as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cents = kmTrain(sub, k, iters)
      val codes = kmAssign(sub, cents)
        .select(col("vec_id"), lit(s).as("sub"), col("cluster").as("code"))
      // posexplode is 0-based; cluster ids are 1-based array slots
      val centRows = cents.select(posexplode(col("cs")).as(Seq("pos", "cv")))
        .select(lit(s).as("sub"), (col("pos") + 1).cast("int").as("code"), col("cv"))
      val qs = sub.filter(col("vec_id") < nQueries)
        .select(lit(s).as("sub"), col("vec_id").as("q_id"), col("v").as("qv"))
      (codes, centRows, qs)
    }
    val codes = parts.map(_._1).reduce(_.unionByName(_))
    val cents = parts.map(_._2).reduce(_.unionByName(_))
    val qs = parts.map(_._3).reduce(_.unionByName(_))
    // the identical round-6 squared-distance kernel as kmAssign, then
    // micro-unit integers so the m-term ADC sum is order-independent
    val lut = qs.join(cents, Seq("sub"))
      .select(col("q_id"), col("sub"), col("code"),
        round(round(aggregate(zip_with(col("qv"), col("cv"),
            (x, y) => (x - y) * (x - y)), lit(0.0), (acc, t) => acc + t), 6)
          * 1e6).cast("long").as("pdm"))
    val w = Window.partitionBy("q_id").orderBy(col("adcm").asc, col("vec_id").asc)
    codes.join(broadcast(lut), Seq("sub", "code"))
      .groupBy("q_id", "vec_id").agg(sum("pdm").as("adcm"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      // 4-decimal display from integer micro-units by INTEGER
      // half-up division — no double round boundary can exist
      .select(col("q_id"), col("vec_id"),
        (floor((col("adcm") + 50) / 100).cast("double") / 10000).as("adc_dist2"),
        col("rk").cast("int").as("rk"))
      .orderBy("q_id", "rk")
  }

  /** Content-addressed home of a corpus's MATERIALIZED PQ index —
    * codes (vec_id, sub, code, dist2) and codebooks (sub, code, cv) —
    * keyed like the IVF index and the dedup cascade: corpus file
    * signature + the (m, k, iters) setting, stale revisions pruned.
    * Production persists exactly this: codebooks train once per
    * corpus snapshot, every ADC consumer probes them.
    */
  def pqIndexDir(spark: org.apache.spark.sql.SparkSession, dataPath: String,
                 base: String, m: Int = 2, k: Int = 4, iters: Int = 3,
                 variant: String = ""): String =
    // `variant` keys a SLICE of the same embedding files (the address
    // signs files, not filters) — q266's yesterday-corpus index and
    // its appended twin; it trails the setting, the semCcDir
    // convention (prefix-extending siblings survive pruning)
    ContentAddress.dirFor(spark, dataPath, base,
      s"pq${m}x${k}i${iters}_$variant", "pqIndexDir")

  /** Every `dir/<tier>` of `tiers` is committed. */
  private def committed(spark: org.apache.spark.sql.SparkSession, dir: String,
                        tiers: String*): Boolean =
    tiers.forall(t => ContentAddress.hasSuccess(spark, s"$dir/$t"))

  /** Build the PQ index now iff absent (the `prebuildIvfIndex` /
    * `prebuildCascade` warm-up hook): ONE train per subspace feeds
    * both the code and the codebook frames — where the self-computing
    * q192/q193/q194 entries would train 3× each per bench pass. That
    * shared training run is why the two tiers are written here rather
    * than through two [[graft.engine.ContentAddress.commitOnce]]
    * calls. Returns true when a build happened.
    */
  def prebuildPqIndex(emb: DataFrame, dir: String, m: Int = 2, k: Int = 4,
                      iters: Int = 3): Boolean = {
    // interpolated sub-paths (not java.io.File): File mangles a URI
    // base (hdfs://x -> /cwd/hdfs:/x) and would pin the prebuild local
    val codesDir = s"$dir/codes"
    val booksDir = s"$dir/books"
    val fresh = !committed(emb.sparkSession, dir, "codes", "books")
    if (fresh) {
      val parts = (0 until m).map { s =>
        val sub = emb.select(col("vec_id"),
            subSlice(col("embedding").cast("array<double>"), s, m).as("v"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cents = kmTrain(sub, k, iters)
        val codes = kmAssign(sub, cents)
          .select(col("vec_id"), lit(s).as("sub"), col("cluster").as("code"),
            (floor(col("dist_r") * 1e4 + 0.5) / 1e4).as("dist2"))
        val books = cents.select(posexplode(col("cs")).as(Seq("pos", "cv")))
          .select(lit(s).as("sub"), (col("pos") + 1).cast("int").as("code"), col("cv"))
        (codes, books)
      }
      parts.map(_._1).reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(codesDir)
      parts.map(_._2).reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(booksDir)
    }
    fresh
  }

  /** `Dedup.compactCascade` for the PQ family: fold the `codes` and
    * `books` tiers into right-sized files
    * ([[graft.engine.Landing.compactTier]]); [[appendToPqIndex]]
    * continues on the compacted address unchanged. */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession,
                     oldDir: String, newDir: String,
                     m: Int = 2, k: Int = 4, iters: Int = 3,
                     bytesPerFile: Long = 128L << 20): Boolean = {
    val setting = s"pq${m}x${k}i${iters}_"
    Seq(oldDir, newDir).foreach(d => require(d.contains(setting),
      s"compactPqIndex: dir $d was not addressed for (m=$m, k=$k, iters=$iters)"))
    Seq("codes", "books").map(t =>
      graft.engine.Landing.compactTier(spark, s"$oldDir/$t", s"$newDir/$t",
        bytesPerFile)).exists(identity)
  }

  /** Compaction for the bucket-PARTITIONED IVF index: after K
    * [[appendToIvfIndex]] ingests each touched `bucket_id=` partition
    * carries K part files — this rewrites the index so every bucket's
    * rows cluster back into one file per shuffle target (the same
    * repartition-on-bucket + partitionBy write as the original build,
    * but from the STORED rows: no vector re-hashes through the LSH).
    * Unlike the flat-tier `coalesce` form this pays one shuffle — the
    * per-partition-directory layout requires clustering by the
    * partition column — which is exactly the rebuild's shuffle minus
    * the bucket computation, paid once per maintenance interval.
    * Probes over the compacted index are identical (same rows, same
    * partition pruning). Returns true iff a rewrite happened. The
    * `partitionBy` write is why this does not go through
    * [[graft.engine.ContentAddress.commitOnce]]; the gate is the same.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      oldIndexDir: String, newIndexDir: String): Boolean = {
    if (ContentAddress.hasSuccess(spark, newIndexDir)) return false
    require(ContentAddress.hasSuccess(spark, oldIndexDir),
      s"compactIvfIndex requires a committed index at $oldIndexDir")
    spark.read.parquet(oldIndexDir)
      .repartition(col("bucket_id"))
      .write.mode("overwrite").partitionBy("bucket_id").parquet(newIndexDir)
    true
  }

  /** Encode vectors against a committed index's FROZEN codebooks —
    * the append-path encoder: per subspace, the stored (sub, code, cv)
    * rows repack into the one-row centroid frame [[kmAssign]] takes
    * (array_sort on the (code, cv) struct restores the 1-based slot
    * order bit-exactly: round-6 centroid doubles roundtrip parquet),
    * so a vector's code/dist2 here is bit-equal to what [[pqCodes]]
    * computes with the live centroids. Map-only per subspace — one
    * broadcast centroid row against the batch — the shape that makes
    * a daily ingest a trivial job at any corpus size.
    */
  private[graft] def encodeAgainstBooks(vecs: DataFrame, indexDir: String,
                                        m: Int): DataFrame = {
    val books = vecs.sparkSession.read.parquet(s"$indexDir/books")
    (0 until m).map { s =>
      val cents = books.filter(col("sub") === s)
        .groupBy()
        .agg(transform(array_sort(collect_list(struct(col("code"), col("cv")))),
          e => e.getField("cv")).as("cs"))
      val sub = vecs.select(col("vec_id"),
        subSlice(col("embedding").cast("array<double>"), s, m).as("v"))
      kmAssign(sub, cents)
        .select(col("vec_id"), lit(s).as("sub"), col("cluster").as("code"),
          (floor(col("dist_r") * 1e4 + 0.5) / 1e4).as("dist2"))
    }.reduce(_.unionByName(_))
  }

  /** Incremental PQ-index APPEND — the last mutable-index family's
    * ingest path (q264/q265's contract on the PQ tier): a batch of NEW
    * vectors lands on a committed index ([[prebuildPqIndex]]) with the
    * codebooks FROZEN — codes are a pure per-vector function of the
    * books, so the batch encodes map-only ([[encodeAgainstBooks]],
    * bit-equal to the build-time encoder) and no retraining or
    * resident I/O ever happens. Delta landing throughout
    * ([[graft.engine.Landing]]): `books` enters the new address as a
    * pure hard-link tier (an append never changes it), `codes` as the
    * old files linked + the batch's part files — at 100 TB the daily
    * ingest writes batch-sized data and zero resident bytes. ADC
    * probes over the appended index are bit-identical to an index
    * whose codes were all encoded against the same books (spec-proven;
    * q193/q194's oracles pin the probe math itself).
    *
    * Preconditions (the [[appendToCascade]] discipline): committed
    * old codes+books, batch vec_ids disjoint from the resident codes.
    * Returns true iff the append built the new address (false = both
    * tiers already committed — the reuse no-op).
    */
  def appendToPqIndex(newVecs: DataFrame, oldDir: String, newDir: String,
                      m: Int = 2, k: Int = 4, iters: Int = 3): Boolean = {
    val spark = newVecs.sparkSession
    // the prefix bakes the FULL (m, k, iters) setting ([[pqIndexDir]]);
    // reject a dir addressed for any other — a 2-subspace batch
    // landing in a 4-subspace address would serve half-width codes,
    // and k=4-trained codes in a k=8 address would serve the wrong
    // codebook cardinality to every ADC consumer (review r18: the
    // first cut checked only the m fragment)
    Seq(oldDir, newDir).foreach(d => require(d.contains(s"pq${m}x${k}i${iters}_"),
      s"appendToPqIndex: dir $d was not addressed for (m=$m, k=$k, iters=$iters)"))
    require(committed(spark, oldDir, "codes", "books"),
      s"appendToPqIndex requires a committed index at $oldDir")
    if (committed(spark, newDir, "codes", "books")) return false
    require(newVecs.select("vec_id")
        .join(spark.read.parquet(s"$oldDir/codes").select("vec_id").distinct(),
          Seq("vec_id"), "left_semi").isEmpty,
      "appendToPqIndex: batch vec_ids overlap the resident index")
    if (!committed(spark, newDir, "books"))
      graft.engine.Landing.linkTier(s"$oldDir/books", s"$newDir/books")
    if (!committed(spark, newDir, "codes"))
      graft.engine.Landing.landDelta(encodeAgainstBooks(newVecs, oldDir, m),
        s"$oldDir/codes", s"$newDir/codes")
    true
  }

  /** q266: the PQ append AS A QUERY — q264/q265's index-tier sibling.
    * The daily vector batch (`vec_id % 10 == 7`) encodes against
    * yesterday's frozen codebooks and lands next to yesterday's codes
    * by delta files ([[appendToPqIndex]]); reports the batch's landed
    * codes read back from the appended address. The oracle re-trains
    * yesterday's books from scratch (the q192 kmeans recurrence over
    * the OLD slice) and assigns the batch — so the whole chain
    * (frozen-book repack, map-only encode, delta landing, read-back)
    * is hash-exact against an independent engine.
    */
  def pqAppendBatchCodes(emb: DataFrame, oldDir: String, newDir: String,
                         m: Int = 2, k: Int = 4, iters: Int = 3): DataFrame = {
    prebuildPqIndex(emb.filter(col("vec_id") % 10 =!= 7), oldDir, m, k, iters)
    appendToPqIndex(emb.filter(col("vec_id") % 10 === 7), oldDir, newDir,
      m, k, iters)
    emb.sparkSession.read.parquet(s"$newDir/codes")
      .filter(col("vec_id") % 10 === 7)
      .orderBy("vec_id", "sub")
  }

  /** [[pqCodes]] served from the materialized index — identical rows
    * (long/int/floor-rounded-double roundtrip parquet exactly). */
  def pqCodesCached(emb: DataFrame, dir: String, m: Int = 2, k: Int = 4,
                    iters: Int = 3): DataFrame = {
    prebuildPqIndex(emb, dir, m, k, iters)
    emb.sparkSession.read.parquet(s"$dir/codes").orderBy("vec_id", "sub")
  }

  /** [[pqAnn]] probing the materialized index: the LUT builds from
    * the stored codebooks, the scan from the stored codes — NO
    * k-means work at probe time, which is the deployed shape.
    */
  def pqAnnCached(emb: DataFrame, dir: String, m: Int = 2, k: Int = 4,
                  iters: Int = 3, nQueries: Int = 8, topK: Int = 5): DataFrame = {
    prebuildPqIndex(emb, dir, m, k, iters)
    val spark = emb.sparkSession
    val codes = spark.read.parquet(s"$dir/codes").select("vec_id", "sub", "code")
    val books = spark.read.parquet(s"$dir/books")
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val qs = (0 until m).map { s =>
      base.filter(col("vec_id") < nQueries)
        .select(lit(s).as("sub"), col("vec_id").as("q_id"),
          subSlice(col("v"), s, m).as("qv"))
    }.reduce(_.unionByName(_))
    val lut = qs.join(books, Seq("sub"))
      .select(col("q_id"), col("sub"), col("code"),
        round(round(aggregate(zip_with(col("qv"), col("cv"),
            (x, y) => (x - y) * (x - y)), lit(0.0), (acc, t) => acc + t), 6)
          * 1e6).cast("long").as("pdm"))
    val w = Window.partitionBy("q_id").orderBy(col("adcm").asc, col("vec_id").asc)
    codes.join(broadcast(lut), Seq("sub", "code"))
      .groupBy("q_id", "vec_id").agg(sum("pdm").as("adcm"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("vec_id"),
        (floor((col("adcm") + 50) / 100).cast("double") / 10000).as("adc_dist2"),
        col("rk").cast("int").as("rk"))
      .orderBy("q_id", "rk")
  }

  /** [[pqRecall]] with the approx side from the materialized index
    * (the exact side is the audit itself and stays live). */
  def pqRecallCached(emb: DataFrame, dir: String, m: Int = 2, k: Int = 4,
                     iters: Int = 3, nQueries: Int = 8, topK: Int = 5): DataFrame =
    pqRecallFrom(pqAnnCached(emb, dir, m, k, iters, nQueries, topK),
      emb, nQueries, topK)

  /** ADC-vs-exact recall audit for the PQ tier — the q93 ANN-recall
    * discipline applied to [[pqAnn]]: per panel query, how many of
    * the EXACT L2 top-k the code-only ADC scan recovered. The number
    * a deployment tunes (m, k) against before trusting the 100×
    * compression; deterministic end to end, so the recall fractions
    * themselves are oracle-exact. Exact side is the broadcast-panel
    * linear scan (bounded: nQueries·n rows, group-limited rank) — the
    * audit runs on a sample in production, like q93.
    */
  def pqRecall(emb: DataFrame, m: Int = 2, k: Int = 4, iters: Int = 3,
               nQueries: Int = 8, topK: Int = 5): DataFrame =
    pqRecallFrom(pqAnn(emb, m, k, iters, nQueries, topK), emb, nQueries, topK)

  /** The recall computation over ANY ADC result frame — shared by the
    * self-computing and index-probing forms. */
  private def pqRecallFrom(ann: DataFrame, emb: DataFrame,
                           nQueries: Int, topK: Int): DataFrame = {
    val approx = ann.select(col("q_id"), col("vec_id"))
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val qs = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy("q_id").orderBy(col("d2").asc, col("vec_id").asc)
    val exact = base.crossJoin(broadcast(qs))
      .withColumn("d2", round(aggregate(zip_with(col("v"), col("qv"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, t) => acc + t), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select("q_id", "vec_id")
    val hits = exact.join(approx, Seq("q_id", "vec_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    qs.select("q_id").join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / topK).as("recall"))
      .orderBy("q_id")
  }

  /** SemDeDup-style cluster-bounded semantic deduplication (Abbas et
    * al. 2023, arXiv:2303.09540): pairwise cosine comparison runs ONLY
    * within [[kmeans]] clusters, so the candidate count drops from
    * n²/2 to Σ|cluster|²/2 — the trick that makes embedding-level
    * dedup feasible at corpus scale, where the exact all-pairs q37/
    * brute-force form cannot run. A document is DROPPED when some
    * LOWER-id member of its cluster sits above the cosine threshold
    * (keep-first-seen, deterministic — no RNG representative choice);
    * output is one row per dropped doc with its keeper and the
    * strongest similarity that condemned it.
    *
    * Scale: the deterministic k-means assignment is map-only (one
    * broadcast centroid row), the within-cluster self-join is an
    * EQUI-join on cluster id (hash partition on ≤k keys — at real
    * scale k grows ∝ corpus so clusters stay bounded; never a
    * cartesian), and cosines are sequential HOF folds — the identical
    * IEEE op order as DuckDB's list_reduce, so even the threshold
    * compare on the RAW cosine agrees bit-for-bit (the q37
    * precedent). τ defaults to 0.35 because the synthetic corpus's
    * cosine ceiling is ~0.5 (production near-dup τ ≈ 0.9 would be
    * vacuously green here); the parameter, not the plan, carries the
    * semantics.
    */
  def semDedup(emb: DataFrame, tau: Double = 0.35, k: Int = 4,
               iters: Int = 3): DataFrame =
    semDedupFromCells(kmCells(emb, k, iters).select("vec_id", "cluster", "v"),
      tau)

  /** [[semDedup]] probing the materialized cells frame — assignments
    * AND vectors ride the one narrow parquet scan (spec-asserted ≡
    * self-computing).
    */
  def semDedupCached(emb: DataFrame, dir: String, tau: Double = 0.35,
                     k: Int = 4, iters: Int = 3): DataFrame = {
    prebuildKmeansCells(emb, dir, k, iters)
    semDedupFromCells(emb.sparkSession.read.parquet(s"$dir/cells")
      .select("vec_id", "cluster", "v"), tau)
  }

  private def semDedupFromCells(cellsVc: DataFrame, tau: Double): DataFrame = {
    // norms are computed ONCE per vector, not per pair, and the pair
    // stage uses the fused native dot (bit-equal to the HOF fold —
    // VectorExpressionsSpec) — 3 allocating HOF evaluations per pair
    // collapsed to one codegen'd loop: 15 s → ~1 s at sf0.1, same
    // bits. sqrt(na)·sqrt(nb) in the same op order as cosineHof, so
    // the raw-threshold compare still agrees with DuckDB exactly.
    // persisted: BOTH sides of the pair self-join read this frame —
    // unpersisted, each side would re-execute the full iterative
    // k-means lineage (measured 2× the whole operator's cost). One
    // narrow row per vector; the caller/bench releases it via
    // clearCache, the same interior-frame contract as the LSH cascade.
    val members = cellsVc
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = members.select(col("cluster"), col("vec_id").as("keep_id"),
        col("v").as("kv"), col("nrm").as("knrm"))
      .join(members.select(col("cluster"), col("vec_id").as("drop_id"),
        col("v").as("dv"), col("nrm").as("dnrm")), "cluster")
      .filter(col("keep_id") < col("drop_id"))
      .withColumn("cos", dot(col("kv"), col("dv")) / (col("knrm") * col("dnrm")))
      .filter(col("cos") >= tau)
    pairs.groupBy("drop_id")
      .agg(min("keep_id").as("kept_by"), round(max("cos"), 4).as("max_cos"))
      .orderBy("drop_id")
  }

  /** Per-dimension embedding health audit — the check run before
    * trusting a new embedding model or ANN index: dead dimensions
    * (variance ≈ 0 contribute nothing to distance), anisotropy
    * (variance concentrating in a few dimensions collapses cosine
    * contrast and starves LSH/IVF of discriminative planes). Emits
    * per-dimension mean, variance, the dimension's SHARE of total
    * variance, and its variance rank.
    *
    * The q145/q147 fixed-point discipline: components quantize to
    * integer micro-units (·1e6), per-dimension (n, Σq, Σq²) are exact
    * decimal sums, and the variance NUMERATOR n·S2 − S1² stays an
    * exact integer — so the share and the rank (the decision values)
    * are ratios of exact integers, bit-stable in both engines. One
    * posexplode + one d-row groupBy; the rank/share window runs over
    * the d-row stats frame (64 rows — metadata, not data), never the
    * corpus.
    */
  def embeddingDimStats(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = emb
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .select(col("dim"), floor(col("x") * 1000000 + 0.5).cast("long").as("xq"))
    val stats = q.groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("xq").cast("decimal(38,0)")).as("S1"),
        sum((col("xq") * col("xq")).cast("decimal(38,0)")).as("S2"))
      .withColumn("vnum", col("n") * col("S2") - col("S1") * col("S1"))
    // 64-row stats frame: the unpartitioned window is over metadata
    val all = Window.partitionBy()
    val rnk = Window.partitionBy().orderBy(col("vnum").desc, col("dim").asc)
    stats
      .withColumn("vtot", sum(col("vnum")).over(all))
      .withColumn("var_rank", row_number().over(rnk))
      .selectExpr("dim", "n",
        "floor(CAST(S1 AS DOUBLE) / n / 1000000.0 * 1000000 + 0.5) / 1000000 AS mean",
        "floor(CAST(vnum AS DOUBLE) / (CAST(n AS DOUBLE) * n) / 1000000000000.0 * 1000000 + 0.5) / 1000000 AS variance",
        "floor(CAST(vnum AS DOUBLE) / CAST(vtot AS DOUBLE) * 10000 + 0.5) / 10000 AS var_share",
        "var_rank")
      .orderBy("dim")
  }

  /** MMR diversity re-ranking (Carbonell & Goldstein 1998): greedy
    * maximal-marginal-relevance selection of `k` results from each
    * query's `pool`-deep relevance shortlist — score(d) = λ·rel(q,d)
    * − (1−λ)·max_{s∈S} sim(d,s) — the standard retrieval/RAG move
    * against near-duplicate result lists that plain top-k can't make.
    *
    * Mechanics: the shortlist is the q37 broadcast-panel scan
    * (rk ≤ pool); the intra-shortlist sim matrix is pool²·|panel|
    * rows; each greedy step is then a frame-only argmax (penalty =
    * max-sim join against the selected set, rank window per q_id,
    * rk = 1) — k is a compile-time bound, so the plan is a fixed
    * k-deep chain on broadcast-sized frames and the corpus is
    * scanned exactly once. At 100 TB the shortlist generator swaps
    * for the IVF/PQ probe; the re-rank stage is unchanged.
    *
    * Engine parity: every cosine is the bit-reproducible sequential
    * fold q37 hash-matches on; λ-arithmetic is identical single IEEE
    * ops; ranking happens on the raw doubles with vec_id tiebreaks,
    * round(6) only in the projection.
    */
  def mmrRerank(emb: DataFrame, nQueries: Int = 8, pool: Int = 20,
                k: Int = 5, lambda: Double = 0.7,
                oneMinusLambda: Double = 0.3): DataFrame = {
    // both weights are explicit literals: 1.0 − 0.7 evaluates to
    // 0.30000000000000004 in IEEE — computing the complement instead
    // of passing it would silently diverge from the oracle's 3e-1
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val wRel = Window.partitionBy("q_id").orderBy(col("rel").desc, col("vec_id"))
    val cand = base.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("rel", cosine(col("v"), col("qv")))
      .withColumn("rk", row_number().over(wRel))
      .filter(col("rk") <= pool)
      .select(col("q_id"), col("vec_id"), col("v"), col("rel"))
    // The greedy phase runs as ONE mapGroups pass: the pool is
    // bounded (`pool` rows per query) BY CONSTRUCTION, so per-query
    // MMR is a local O(k·pool²) loop — a frame-per-step formulation
    // of the same greedy costs ~5 shuffle stages per pick (measured
    // 11 s of pure stage-scheduling at sf0.1); this is the genuine
    // per-group-imperative case the typed API exists for. The local
    // cosine replays CosineSimilarity.nullSafeEval's sequential fold
    // (≡ DuckDB's list_dot_product closing formula) bit-for-bit.
    val session = emb.sparkSession
    import session.implicits._
    cand.as[(Long, Long, Array[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Array[Double], Double)]) =>
        val p = it.toArray.sortBy(_._2) // ascending vec_id: ties resolve to the smallest id
        def cos(a: Array[Double], b: Array[Double]): Double = {
          val n = math.min(a.length, b.length)
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
          dot / (math.sqrt(na) * math.sqrt(nb))
        }
        val m = p.length
        val sim = Array.ofDim[Double](m, m)
        var i = 0
        while (i < m) {
          var j = 0
          while (j < m) { if (i != j) sim(i)(j) = cos(p(i)._3, p(j)._3); j += 1 }
          i += 1
        }
        val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
        (1 to math.min(k, m)).iterator.map { t =>
          var best = -1
          var bestScore = Double.NegativeInfinity
          var c = 0
          while (c < m) {
            if (!chosen.contains(c)) {
              val score =
                if (chosen.isEmpty) p(c)._4 * lambda
                else {
                  var pen = Double.NegativeInfinity
                  chosen.foreach(s => if (sim(c)(s) > pen) pen = sim(c)(s))
                  p(c)._4 * lambda - pen * oneMinusLambda
                }
              // strict > with ascending-id iteration ⇒ score ties keep
              // the smallest vec_id (the frame formulation's ORDER BY
              // score DESC, vec_id)
              if (score > bestScore) { bestScore = score; best = c }
            }
            c += 1
          }
          chosen += best
          (qid, t, p(best)._2,
            math.floor(p(best)._4 * 1e6 + 0.5) / 1e6,
            math.floor(bestScore * 1e6 + 0.5) / 1e6)
        }
      }
      .toDF("q_id", "pick", "neighbor_id", "relevance", "mmr_score")
      .orderBy("q_id", "pick")
  }

  /** q243: label-centroid drift matrix — pairwise cosine between the
    * per-label embedding centroids, the embedding-space separability
    * report a mixture/eval owner reads before trusting label-based
    * sampling (two labels whose centroids cosine ≈ 1 are one concept
    * wearing two names; a drifting re-embed run shows up as the whole
    * matrix shifting). Grouping key is the embeddings table's `label`;
    * the same code serves any categorical column.
    *
    * Exactness: centroids never exist as float means. Components
    * quantize to q6 BIGINTs, sum exactly per (label, dim), and the
    * centroid is the FLOORED integer mean at the same q6 scale
    * (floor(s/n) via one double divide of exactly-representable
    * integers — |s| < 2^53 up to ~10⁹ vectors per label). Dots and
    * norms over the q6 centroids are exact BIGINTs (≤ dim·10¹² —
    * overflow-free by construction); cosine is ONE closing divide,
    * round 6. Scale: one generator pass to (label, dim) partial
    * sums — #labels·dim rows — and every later frame is bounded by
    * #labels²·dim. The corpus is scanned once.
    */
  def labelCentroidDrift(emb: DataFrame): DataFrame = {
    val q = emb.select(col("label"), posexplode(col("embedding")))
      .select(col("label"), (col("pos") + 1).as("i"),
        floor(col("col").cast("double") * 1e6 + 0.5).cast("long").as("qv"))
    val m = q.groupBy("label", "i")
      .agg(sum("qv").as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("i"),
        floor(col("s").cast("double") / col("n")).cast("long").as("m"),
        col("n"))
    val norms = m.groupBy("label").agg(
      max("n").cast("bigint").as("n_vecs"),
      sum(expr("m * m")).cast("bigint").as("nrm"))
    m.as("a").join(m.as("b"),
        col("a.i") === col("b.i") && col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
      .agg(sum(expr("a.m * b.m")).cast("bigint").as("dot"))
      .join(norms.select(col("label").as("label_a"),
        col("n_vecs").as("n_a"), col("nrm").as("nrm_a")), "label_a")
      .join(norms.select(col("label").as("label_b"),
        col("n_vecs").as("n_b"), col("nrm").as("nrm_b")), "label_b")
      .selectExpr("label_a", "label_b", "n_a", "n_b",
        "round(CAST(dot AS DOUBLE) / " +
          "nullif(sqrt(CAST(nrm_a AS DOUBLE) * CAST(nrm_b AS DOUBLE)), 0.0), 6)" +
          " AS cos_centroid")
      .orderBy("label_a", "label_b")
  }

  /** q255: semantic decontamination review queue — the top-`topN`
    * corpus vectors ranked by max cosine to ANY eval-set vector, each
    * with its nearest eval item. The embedding-level complement of the
    * n-gram decontamination ([[TrainingData.evalDecontaminate]] /
    * q238's provenance): shingles catch verbatim leakage, this
    * surfaces paraphrase — and it is deliberately THRESHOLD-FREE: on
    * real corpora the right cosine cutoff is unknowable a priori (and
    * on near-orthogonal synthetic data any fixed τ is vacuous), so the
    * operator emits the ranked queue a decontamination review actually
    * reads top-down, cutting where the similarity story dies.
    *
    * The eval panel is the `vec_id % modulus == 0` stand-in (the
    * testdata ships no separate eval table); a real run substitutes
    * its benchmark embeddings. Exactness: per-pair cosine quantizes to
    * q6 BIGINT (floor(x·10⁶ + ½) — the established engine-identical
    * chain: one fused dot/norm pass here, `list_dot_product` in the
    * oracle), argmax per corpus vector breaks ties on eval_id, the
    * global cut breaks ties on vec_id.
    *
    * Scale: eval benchmarks are constant-size by nature (suites of
    * 10²–10⁴ items) — the panel broadcasts and the corpus side is ONE
    * linear scan with a map-side per-vector argmax; the global top-N
    * is a TakeOrdered (per-partition heaps, no global sort). Nothing
    * here is corpus × corpus.
    */
  def decontamQueue(emb: DataFrame, modulus: Int = 23,
                    topN: Int = 50): DataFrame = {
    val wDoc = Window.partitionBy("vec_id")
      .orderBy(col("c6").desc, col("eval_id").asc)
    val perDoc = evalScoredPairs(emb, modulus)
      .withColumn("r", row_number().over(wDoc))
      .filter(col("r") === 1)
    // TakeOrdered bounds the frame to topN BEFORE the rank window
    val wCut = Window.orderBy(col("c6").desc, col("vec_id").asc)
    perDoc.orderBy(col("c6").desc, col("vec_id").asc).limit(topN)
      .withColumn("rk", row_number().over(wCut))
      .select(col("rk"), col("vec_id"), col("label"), col("eval_id"),
        (col("c6").cast("double") / 1e6).as("max_cos"))
      .orderBy("rk")
  }

  /** q257: the q255 queue rolled up to the number a curation owner
    * asks next — per SOURCE, how close is this source to the eval
    * set: corpus docs scored, the max and the exact-integer mean of
    * each document's best eval cosine (doc_id ↔ vec_id, the
    * established [[graft.apps.CorpusPipeline]] semantic-tier
    * convention). A source whose max_cos spikes while its mean stays
    * flat leaked a few items (review the q255 queue); a source whose
    * MEAN is elevated is distributionally close to eval (a sampling
    * bias question, not a leak). Exactness: per-doc max over q6
    * BIGINT pair scores; the mean is floor(Σ/n + ½) over exact
    * integers — the q245 idiom. Scale: unlike the queue, no window —
    * the per-doc max is a partial-aggregating groupBy (map-side
    * combine on the broadcast-join output), then an id equi-join to
    * documents and a vocabulary-bounded rollup.
    */
  def decontamBySource(emb: DataFrame, docs: DataFrame,
                       modulus: Int = 23): DataFrame =
    evalScoredPairs(emb, modulus)
      .groupBy("vec_id").agg(max("c6").as("mc6"))
      .join(docs.select(col("doc_id").as("vec_id"), col("source")),
        Seq("vec_id"))
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        (max("mc6").cast("double") / 1e6).as("max_cos"),
        (floor(sum("mc6").cast("double") / count(lit(1)) + 0.5) / 1e6)
          .as("mean_cos"))
      .orderBy("source")

  /** The q255 queue ACTED ON with an explicit eval-embedding frame —
    * the ids a semantic-decontamination cut removes: the `topK`
    * corpus vectors by max cosine to ANY eval vector (ties low
    * vec_id, rerun-stable). No window: grouped per-doc max (map-side
    * combine) then a TakeOrdered cut. This is the
    * [[graft.apps.CorpusPipeline]] tier's kernel (the queue's oracled
    * math — q255 — against a real benchmark frame instead of the
    * testdata modulus stand-in); review the ranked [[decontamQueue]]
    * first to SET topK.
    *
    * `minCos` (opt-in): a minimum-cosine FLOOR under the rank cut. The
    * pure rank-based cut always drops exactly topK surviving docs,
    * even when the best cosine anywhere is ~0 — an overestimated K
    * would discard clearly clean documents. With the floor set, a doc
    * is only droppable when its best eval cosine reaches `minCos`, so
    * the cut can never extend past any plausible similarity; the
    * default stays floor-free because the right cutoff is corpus
    * knowledge the queue review produces (set both from the same
    * review).
    */
  def decontamDropIds(emb: DataFrame, evalEmb: DataFrame,
                      topK: Int = 50,
                      minCos: Option[Double] = None): DataFrame = {
    // self-norms hoisted out of the corpus × panel fan-out — the
    // evalScoredPairsFrames argument: bit-identical op order, EQUAL
    // vector dims required (see the precondition note there)
    val corpus = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("vn", sqrt(dot(col("v"), col("v"))))
    val panel = evalEmb.select(col("vec_id").as("eval_id"),
        col("embedding").cast("array<double>").as("ev"))
      .withColumn("evn", sqrt(dot(col("ev"), col("ev"))))
    val perDoc = corpus.crossJoin(broadcast(panel))
      .select(col("vec_id"),
        floor(dot(col("v"), col("ev")) / (col("vn") * col("evn"))
          * 1e6 + 0.5).cast("long").as("c6"))
      .groupBy("vec_id").agg(max("c6").as("mc6"))
    // the floor quantizes through the SAME q6 chain as the scores, so
    // floor-vs-rank agreement is exact at the quantization boundary
    val floored = minCos match {
      case Some(t) =>
        perDoc.filter(col("mc6") >= math.floor(t * 1e6 + 0.5).toLong)
      case None => perDoc
    }
    floored
      .orderBy(col("mc6").desc, col("vec_id").asc)
      .limit(topK)
      .select("vec_id")
  }

  /** q258: leak TYPOLOGY — the two decontamination levels judged over
    * the SAME eval panel (ids ≡ 0 mod `modulus`, documents for the
    * 3-gram side, embeddings for the cosine side) and reconciled per
    * document into the quadrant a contamination review triages by:
    *   - `verbatim`    — in the q255 top-K queue AND shares ≥ 1 eval
    *                     3-gram: confirmed both ways, remove;
    *   - `paraphrase`  — queue-only: semantically close with zero
    *                     lexical overlap, exactly what n-gram
    *                     decontamination cannot see;
    *   - `boilerplate` — n-gram-only: shared surface text the
    *                     embedding does not consider close (template/
    *                     boilerplate coincidence, usually keep);
    *   - `clean`       — neither.
    * Both flags are threshold-free in the q255 sense: queue
    * membership is the rank-based cut, the n-gram flag is "shares ANY
    * eval 3-gram" (exact). Per quadrant: doc count, exact-integer
    * mean of the per-doc max cosine (q6) and of the contamination
    * share (bp). Documents too short to shingle (< n tokens) count as
    * zero overlap rather than vanishing.
    *
    * Scale: the n-gram side is [[TrainingData.evalDecontaminate]]'s
    * shingle-keyed equi-join (work ∝ matching shingles); the cosine
    * side is the broadcast-panel grouped max; the reconciliation is
    * two id equi-joins and a 4-row rollup.
    *
    * Caching contract (the [[TrainingData.evalDecontaminate]] /
    * pipelineFunnel convention): the narrow per-doc (id, max) frame is
    * persisted for the lifetime of the returned lazy frame so the
    * panel scan runs once across its two consumers — a caller invoking
    * this repeatedly in a long-lived session releases it via
    * `catalog.clearCache()` (or lets GC reclaim the blocks).
    */
  def leakTypology(emb: DataFrame, docs: DataFrame, modulus: Int = 23,
                   topK: Int = 50, n: Int = 3,
                   shingles: Option[DataFrame] = None): DataFrame =
    leakQuadrants(
        emb.filter(col("vec_id") % modulus =!= 0),
        emb.filter(col("vec_id") % modulus === 0),
        docs.filter(col("doc_id") % modulus =!= 0),
        docs.filter(col("doc_id") % modulus === 0),
        topK, n,
        corpusShingles = shingles.map(_.filter(col("doc_id") % modulus =!= 0)),
        evalShingles = shingles.map(_.filter(col("doc_id") % modulus === 0)))
      .groupBy("quadrant")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        (floor(sum("mc6").cast("double") / count(lit(1)) + 0.5) / 1e6)
          .as("mean_cos"),
        floor(sum("cbp").cast("double") / count(lit(1)) + 0.5).cast("long")
          .as("mean_contam_bp"))
      .orderBy("quadrant")

  /** The per-document quadrant frame under [[leakTypology]] (its
    * rollup input) and [[leakTypologyDropIds]] (its filter input),
    * with EXPLICIT corpus/eval frames — the [[decontamDropIds]]
    * convention, so a production run scores its real benchmark
    * vectors + documents instead of the testdata modulus stand-in.
    * One row per embedded corpus doc: (vec_id, quadrant, mc6 = q6 max
    * eval cosine, cbp = exact contamination bp). Same caching
    * contract as [[leakTypology]] (the per-doc max frame persists for
    * the lifetime of the returned lazy frame; two consumers read it).
    */
  def leakQuadrants(emb: DataFrame, evalEmb: DataFrame,
                    corpusDocs: DataFrame, evalDocs: DataFrame,
                    topK: Int = 50, n: Int = 3,
                    corpusShingles: Option[DataFrame] = None,
                    evalShingles: Option[DataFrame] = None): DataFrame = {
    val ngram = TrainingData
      .evalDecontaminate(corpusDocs, n, evalDocs = Some(evalDocs),
        shingles = corpusShingles, evalShingles = evalShingles)
      .select(col("doc_id").as("vec_id"),
        expr("CAST((n_overlap * 10000) div n_shingles AS BIGINT)")
          .as("contam_bp"))
    // two consumers (the frame itself + the queue cut) — persist the
    // narrow (id, max) frame so the panel scan runs ONCE; a long-lived
    // session (repeated q258/q260 probes) releases it with
    // `catalog.clearCache()`
    val perDoc = evalScoredPairsFrames(emb, evalEmb)
      .groupBy("vec_id").agg(max("c6").as("mc6"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queue = perDoc.orderBy(col("mc6").desc, col("vec_id").asc)
      .limit(topK).select(col("vec_id"), lit(true).as("in_queue"))
    perDoc
      .join(queue, Seq("vec_id"), "left")
      .join(ngram, Seq("vec_id"), "left")
      .select(col("vec_id"), col("mc6"),
        coalesce(col("in_queue"), lit(false)).as("inq"),
        coalesce(col("contam_bp"), lit(0L)).as("cbp"))
      .withColumn("quadrant",
        when(col("inq") && col("cbp") > 0, "verbatim")
          .when(col("inq"), "paraphrase")
          .when(col("cbp") > 0, "boilerplate")
          .otherwise("clean"))
  }

  /** q260: the q258 typology ACTED ON — the ids a typology-based
    * decontamination cut removes, closing the review queue's verdict
    * into the pipeline the way q255's rank cut did (q256 for the
    * budget plan). Policy: `verbatim` docs (queue ∩ shared eval
    * n-gram — confirmed both ways) always go; `paraphrase` docs
    * (queue-only) go when `dropParaphrase` (the flag a policy review
    * sets — paraphrase leakage is real contamination but rank-only
    * evidence); `boilerplate` docs (n-gram-only surface coincidence)
    * are NEVER dropped by this cut — that is the whole point of
    * reconciling the two levels instead of unioning them: a pure
    * n-gram decontam would delete template text the embedding says is
    * not close to eval. Emits (vec_id, quadrant) ordered by vec_id so
    * the cut is rerun-stable and auditable.
    *
    * Scale: the [[leakQuadrants]] frame (shingle equi-join +
    * broadcast-panel grouped max + two id equi-joins) and a filter —
    * nothing new shuffles.
    */
  def leakTypologyDropIds(emb: DataFrame, evalEmb: DataFrame,
                          corpusDocs: DataFrame, evalDocs: DataFrame,
                          topK: Int = 50, n: Int = 3,
                          dropParaphrase: Boolean = true,
                          corpusShingles: Option[DataFrame] = None,
                          evalShingles: Option[DataFrame] = None): DataFrame =
    leakQuadrants(emb, evalEmb, corpusDocs, evalDocs, topK, n,
        corpusShingles, evalShingles)
      .filter(col("quadrant") === "verbatim" ||
        (lit(dropParaphrase) && col("quadrant") === "paraphrase"))
      .select(col("vec_id"), col("quadrant"))
      .orderBy("vec_id")

  /** [[leakTypologyDropIds]] over the testdata modulus stand-in panel
    * — the q258 convention, so the drop set is oracle-checkable on the
    * shipped tables.
    */
  def leakTypologyDropIdsQ(emb: DataFrame, docs: DataFrame,
                           modulus: Int = 23, topK: Int = 50,
                           n: Int = 3,
                           dropParaphrase: Boolean = true,
                           shingles: Option[DataFrame] = None): DataFrame =
    leakTypologyDropIds(
      emb.filter(col("vec_id") % modulus =!= 0),
      emb.filter(col("vec_id") % modulus === 0),
      docs.filter(col("doc_id") % modulus =!= 0),
      docs.filter(col("doc_id") % modulus === 0),
      topK, n, dropParaphrase,
      corpusShingles = shingles.map(_.filter(col("doc_id") % modulus =!= 0)),
      evalShingles = shingles.map(_.filter(col("doc_id") % modulus === 0)))

  /** Every (corpus vector, eval vector) cosine at q6 — the shared
    * pair frame under [[decontamQueue]] (argmax window) and
    * [[decontamBySource]] (grouped max): corpus × PANEL, never
    * corpus × corpus; the panel side broadcasts.
    */
  private def evalScoredPairs(emb: DataFrame, modulus: Int): DataFrame = {
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    // self-norms hoisted out of the corpus × panel fan-out — the
    // evalScoredPairsFrames argument: bit-identical op order, EQUAL
    // vector dims required (see the precondition note there)
    val ev = base.filter(col("vec_id") % modulus === 0)
      .select(col("vec_id").as("eval_id"), col("v").as("ev"))
      .withColumn("evn", sqrt(dot(col("ev"), col("ev"))))
    base.filter(col("vec_id") % modulus =!= 0)
      .withColumn("vn", sqrt(dot(col("v"), col("v"))))
      .crossJoin(broadcast(ev))
      .withColumn("c6",
        floor(dot(col("v"), col("ev")) / (col("vn") * col("evn"))
          * 1e6 + 0.5).cast("long"))
      .select(col("vec_id"), col("label"), col("eval_id"), col("c6"))
  }

  /** [[evalScoredPairs]] with EXPLICIT corpus/eval frames (the
    * [[decontamDropIds]] scoring shape): every (corpus vector, eval
    * vector) cosine at q6 through the identical fused-kernel +
    * floor(x·10⁶+½) chain. No `label` requirement — a production
    * embedding frame carries only (vec_id, embedding).
    */
  private def evalScoredPairsFrames(emb: DataFrame,
                                    evalEmb: DataFrame): DataFrame = {
    // self-norms hoisted out of the |corpus| × |panel| fan-out (the
    // q81 lever): each vector's √(v·v) is computed ONCE per side
    // instead of once per pair, and the per-pair work drops to the
    // single fused dot. Bit-identical to the one-pass cosine:
    // DotProduct(v, v) accumulates xi·xi in the same index order as
    // CosineSimilarity's na/nb, and the final expression keeps the
    // identical op order dot / (√na · √nb).
    // PRECONDITION (ADVICE r18, all three hoist sites): corpus and
    // panel vectors must have EQUAL dims — the fused CosineSimilarity
    // truncates dot/na/nb to min(numElements) of the two arrays while
    // the hoisted norms run over each full vector, so a variable-dim
    // embedding source would silently change scores. Every producer
    // emits fixed-dim embeddings; VectorExpressionsSpec pins the
    // equal-dims invariant on the real tables.
    val ev = evalEmb.select(col("vec_id").as("eval_id"),
        col("embedding").cast("array<double>").as("ev"))
      .withColumn("evn", sqrt(dot(col("ev"), col("ev"))))
    emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("vn", sqrt(dot(col("v"), col("v"))))
      .crossJoin(broadcast(ev))
      .withColumn("c6",
        floor(dot(col("v"), col("ev")) / (col("vn") * col("evn"))
          * 1e6 + 0.5).cast("long"))
      .select(col("vec_id"), col("eval_id"), col("c6"))
  }
}
