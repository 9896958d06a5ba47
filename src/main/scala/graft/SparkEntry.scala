package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{Tables, Tiers}
import graft.ml.MlQueries
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry delegates to a documented operator in graft.operators /
  * graft.ml; the oracle twins live in [[OracleSql]]. Queries without an
  * oracle entry (RNG-dependent ML/sampling, approximate sketches,
  * LSH-probed ANN) get the driver's rows-only check and are verified by
  * ScalaTest instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Hourly activity rollup — the SURVEY §7 minimum slice (scan → hour()
    * → groupBy → count/avg → orderBy).
    */
  def entry(spark: SparkSession): DataFrame =
    Aggregates.hourlyActivity(Tables.events(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // aggregation layer (A, X2/X3)
    "q01_hourly_agg"       -> ((s, d) => Aggregates.hourlyActivity(Tables.events(s, d))),
    "q05_filtered_avg"     -> ((s, d) => Projections.filteredAvg(Tables.events(s, d))),
    "q06_dow_agg"          -> ((s, d) => Aggregates.dowActivity(Tables.events(s, d))),
    "q07_status_pct"       -> ((s, d) => Aggregates.statusDistribution(Tables.orders(s, d))),
    "q08_multi_avg"        -> ((s, d) => Aggregates.avgByGroup(Tables.lineitem(s, d))),
    "q09_null_counts"      -> ((s, d) => Aggregates.nullCounts(Tables.events(s, d))),
    "q10_describe"         -> ((s, d) => Aggregates.describeStats(Tables.lineitem(s, d))),
    "q11_quantiles"        -> ((s, d) => Aggregates.quantilesByGroup(Tables.lineitem(s, d))),
    "q12_approx_quantiles" -> ((s, d) => Aggregates.approxQuantilesByGroup(Tables.lineitem(s, d))),
    "q13_correlations"     -> ((s, d) => Aggregates.correlations(Tables.lineitem(s, d))),
    "q14_confusion"        -> ((s, d) => Aggregates.confusionMatrix(Tables.events(s, d))),
    "q15_hour_window"      -> ((s, d) => Aggregates.hourWindowCounts(Tables.events(s, d))),
    // projection / filter / scalar layer (P, F, X)
    "q02_project_cast"     -> ((s, d) => Projections.projectAndCast(Tables.lineitem(s, d))),
    "q03_filter_conj"      -> ((s, d) => Projections.thresholdFilter(Tables.lineitem(s, d))),
    "q04_price_bands"      -> ((s, d) => Projections.priceBands(Tables.lineitem(s, d))),
    // union / dedup / window / sort (U, W)
    "q16_union_dedup_reid" -> ((s, d) => SetOps.unionDedupReid(Tables.orders(s, d))),
    "q17_top_per_group"    -> ((s, d) => SetOps.topNPerGroup(Tables.orders(s, d))),
    "q18_top_orders"       -> ((s, d) => SetOps.topOrders(Tables.orders(s, d))),
    // joins (J1)
    "q19_join_revenue"     -> ((s, d) => Joins.revenueByNation(Tables.lineitem(s, d),
                                Tables.orders(s, d), Tables.customer(s, d),
                                Tables.nation(s, d), Tables.region(s, d))),
    "q20_join_left"        -> ((s, d) => Joins.ordersPerCustomer(Tables.customer(s, d), Tables.orders(s, d))),
    "q21_join_semi"        -> ((s, d) => Joins.customersWithFinishedOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "q22_join_anti"        -> ((s, d) => Joins.customersWithoutPendingOrders(Tables.customer(s, d), Tables.orders(s, d))),
    // JSON / struct / routing (X7-X9, T2)
    "q23_json_roundtrip"   -> ((s, d) => JsonRouting.jsonRoundTrip(Tables.events(s, d))),
    "q24_validity_routing" -> ((s, d) => JsonRouting.validityRouting(Tables.events(s, d))),
    "q25_response_envelope" -> ((s, d) => JsonRouting.responseEnvelope(Tables.events(s, d))),
    // text analysis
    "q26_text_stats"       -> ((s, d) => TextAnalysis.textStats(Tables.documents(s, d))),
    "q27_quality_score"    -> ((s, d) => TextAnalysis.qualityScore(Tables.documents(s, d))),
    "q28_lang_id"          -> ((s, d) => TextAnalysis.langIdAgreement(Tables.documents(s, d))),
    "q29_fingerprints"     -> ((s, d) => TextAnalysis.fingerprints(Tables.documents(s, d))),
    // dedup cascade
    "q30_exact_dedup"      -> ((s, d) => Dedup.exactDedup(Tables.documents(s, d))),
    "q31_minhash_sig"      -> ((s, d) => Dedup.minhashSignatures(Tables.documents(s, d))),
    "q32_minhash_pairs"    -> ((s, d) =>
      Dedup.minhashCandidatePairsCached(Tables.documents(s, d), Tiers.cc(s, d))),
    // verified near-dup pairs, served from the materialized cascade
    // (content-addressed; q33/q68/q72/q104 share ONE build — the
    // IVF index pattern: production runs the LSH cascade once per
    // corpus snapshot and probes it from every consumer)
    "q33_near_dup"         -> ((s, d) =>
      Dedup.nearDupPairsCached(Tables.documents(s, d), Tiers.cc(s, d))),
    "q34_simhash"          -> ((s, d) => Dedup.simhashSignatures(Tables.documents(s, d))),
    // multimodal plumbing
    "q35_binary_meta"      -> ((s, d) => Multimodal.binaryMeta(Tables.documents(s, d))),
    "q36_frame_sample"     -> ((s, d) => Multimodal.sampleFrames(Tables.documents(s, d))),
    // similarity search
    "q37_cosine_topk"      -> ((s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d))),
    "q38_lsh_buckets"      -> ((s, d) => Similarity.lshBuckets(Tables.embeddings(s, d))),
    "q39_ann_topk"         -> ((s, d) => Similarity.annTopK(Tables.embeddings(s, d))),
    "q40_embedding_neardup" -> ((s, d) => Dedup.embeddingNearDup(Tables.embeddings(s, d), threshold = 0.3)),
    // ML / sampling (rows-only: RNG-dependent)
    "q41_ml_confusion"     -> ((s, d) => MlQueries.trainEvalConfusion(s, d)),
    "q42_sample_split"     -> ((s, d) => MlQueries.sampleSplitCounts(s, d)),
    // set ops / analytics extensions
    "q43_intersect"        -> ((s, d) => SetOps.customersInBothStatuses(Tables.orders(s, d))),
    "q44_except"           -> ((s, d) => SetOps.customersOnlyFinished(Tables.orders(s, d))),
    "q45_rollup"           -> ((s, d) => Aggregates.rollupFlagStatus(Tables.lineitem(s, d))),
    "q46_pivot"            -> ((s, d) => Aggregates.pivotDowByType(Tables.events(s, d))),
    "q47_sessionize"       -> ((s, d) => Aggregates.sessionize(Tables.events(s, d))),
    "q48_distinct_users"   -> ((s, d) => Aggregates.distinctUsersByType(Tables.events(s, d))),
    "q49_approx_distinct"  -> ((s, d) => Aggregates.approxDistinctUsersByType(Tables.events(s, d))),
    "q50_tfidf_top_term"   -> ((s, d) => TextAnalysis.tfidfTopTerm(
      Tables.documents(s, d),
      tfIn = Some(TextAnalysis.tokenTfCached(Tables.documents(s, d),
        Tiers.tok(s, d))))),
    "q51_salted_agg"       -> ((s, d) => SetOps.saltedEventTypeCounts(Tables.events(s, d))),
    // MLlib LSH variants (model-based hash families ⇒ rows-only)
    "q52_minhash_mllib"    -> ((s, d) => Dedup.minhashLshMllib(Tables.documents(s, d))),
    "q53_ann_mllib"        -> ((s, d) => Similarity.annMllib(Tables.embeddings(s, d))),
    "q54_label_centroids"  -> ((s, d) => Similarity.labelCentroids(Tables.embeddings(s, d))),
    // flagship LLM-pipeline composite: gate → dedup → near-dup removal
    // pair-based cleaning, probing the shared materialized cascade
    // (restriction to canonical ids inside — see q72's note)
    "q55_cleaning_pipeline" -> ((s, d) =>
      Dedup.cleaningPipelineCached(Tables.documents(s, d), Tiers.cc(s, d))),
    // training-data corpus management (deterministic split, eval-set
    // decontamination, repetition quality gate)
    "q57_deterministic_split" -> ((s, d) => TrainingData.deterministicSplit(Tables.documents(s, d))),
    "q58_decontaminate"    -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TrainingData.evalDecontaminate(docs,
        shingles = Some(Dedup.shingleDocsCached(docs, Tiers.cc(s, d))))
    }),
    "q59_repetition_ratio" -> ((s, d) => TrainingData.repetitionRatio(Tables.documents(s, d))),
    // as-of join composed from built-ins (union + window carry-forward)
    "q60_asof_attribution" -> ((s, d) => Joins.clickAttribution(Tables.events(s, d))),
    // native session_window aggregate (batch twin of the streaming form)
    "q61_session_window"   -> ((s, d) => Aggregates.sessionWindowAgg(Tables.events(s, d))),
    // deterministic per-source mixture sampling (nested samples)
    "q62_mixture_sample"   -> ((s, d) => TrainingData.mixtureSample(Tables.documents(s, d))),
    // cross-document paragraph-level exact dedup (C4-style cleaning tier)
    "q63_paragraph_dedup"  -> ((s, d) => Dedup.paragraphDedup(Tables.documents(s, d))),
    // cluster-canonical cleaning: one survivor per near-dup component;
    // probes the materialized raw-corpus pair frame (restricted to the
    // canonical ids inside — pair-local cascade ⇒ identical result,
    // spec-asserted + hash-proven)
    "q72_cleaning_clustered" -> ((s, d) =>
      Dedup.cleaningPipelineClusteredCached(Tables.documents(s, d), Tiers.cc(s, d))),
    // simhash near-dup pairs via pigeonhole block banding
    // served from the materialized simhash frame (content-addressed;
    // q71/q229 share ONE banding + Hamming-verify build)
    "q71_simhash_pairs"    -> ((s, d) =>
      Dedup.simhashPairsCached(Tables.documents(s, d), Tiers.sh(s, d))),
    // near-dup clustering: connected components over verified pairs,
    // canonical representative = component min doc_id
    "q68_dup_clusters"     -> ((s, d) =>
      Dedup.dupClustersCached(Tables.documents(s, d), Tiers.cc(s, d))),
    // per-source mixture controls: deterministic cap (runs on the
    // custom TopKPerKey heap operator) + token accounting
    "q69_source_cap"       -> ((s, d) => TrainingData.sourceCap(Tables.documents(s, d))),
    "q70_token_budget"     -> ((s, d) => TrainingData.tokenBudget(Tables.documents(s, d))),
    // deterministic shard layout + sequence packing for training runs
    "q66_shard_assign"     -> ((s, d) => TrainingData.shardAssign(Tables.documents(s, d))),
    "q67_sequence_pack"    -> ((s, d) => TrainingData.sequencePack(Tables.documents(s, d))),
    // incremental-ingest dedup: new batch (source src2 stand-in)
    // admitted against the existing corpus by fingerprint anti-join
    "q65_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      import org.apache.spark.sql.functions.col
      Dedup.incrementalDedup(
        docs.filter(col("source") =!= "src2"),
        docs.filter(col("source") === "src2"))
    }),
    // IVF ANN over a materialized bucket-partitioned index: the probe
    // scan is dynamically partition-pruned to the queried buckets;
    // the index dir is content-addressed so it can never be stale
    "q64_ann_ivf"          -> ((s, d) =>
      Similarity.annTopKIvf(Tables.embeddings(s, d), Tiers.ivf(s, d))),
    // multi-probe over the SAME materialized index (shared base ⇒ the
    // build amortizes across q64/q74): own bucket + 8 Hamming-1
    // neighbors per query, DPP-pruned to the union of the probe lists
    // (≤ 72/256 partitions for this 8-query batch)
    "q74_ann_multiprobe" -> ((s, d) =>
      Similarity.annTopKIvfMultiProbe(Tables.embeddings(s, d), Tiers.ivf(s, d))),
    // custom physical operator (LogicalPlan+Strategy+SparkPlan): heap top-k
    "q56_topk_custom"      -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      graft.plans.TopK.perKey(Tables.orders(s, d), Seq("o_custkey"),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
    }),
    // PII scrub (C4/Pile-style redaction stage); the synthetic corpus
    // has no PII, so deterministic identifiers are seeded first —
    // identically in the oracle — and the scrub is exercised for real
    "q73_pii_scrub"        -> ((s, d) =>
      TextAnalysis.piiScrub(TextAnalysis.seedPii(Tables.documents(s, d)))),
    // Gopher-style composite quality gate with per-rule reason audit
    "q75_gopher_gate"      -> ((s, d) => TextAnalysis.gopherGate(Tables.documents(s, d))),
    // int8 quantize → dequantize roundtrip: per-vector scale, code
    // stats, and reconstruction error (deterministic folds throughout)
    "q76_quant_rt"         -> ((s, d) => Similarity.quantizationRoundtrip(Tables.embeddings(s, d))),
    // Bloom-admission incremental dedup: same contract as q65 (results
    // are identical by construction — the Bloom filter only decides who
    // SKIPS the exact anti-join), so it shares q65's oracle SQL. The
    // filter auto-sizes from a corpus count (~10 bits/doc), so the
    // plan literal every task serializes is KBs here, 8 MiB only at
    // tens of millions of corpus docs; sizing is semantics-free — a
    // false positive only routes that row to the exact anti-join
    "q77_bloom_dedup"      -> ((s, d) => {
      val docs = Tables.documents(s, d)
      import org.apache.spark.sql.functions.col
      Dedup.incrementalDedupBloom(
        docs.filter(col("source") =!= "src2"),
        docs.filter(col("source") === "src2"))
    }),
    // RefinedWeb-style duplicated n-gram fraction: the substring-level
    // dup signal between doc-level dedup and paragraph dedup
    "q78_dup_ngram_fraction" -> ((s, d) => Dedup.dupNgramFraction(Tables.documents(s, d))),
    // embedding semantic dedup end-to-end: near-dup pairs → connected
    // components → one canonical keeper per cluster, audit-style output
    "q79_semantic_dedup"   -> ((s, d) =>
      Dedup.semanticDedupCached(Tables.embeddings(s, d), Tiers.scc(s, d),
        threshold = 0.3)),
    // corpus-wide boilerplate mining: top n-grams by document frequency
    "q80_boilerplate_ngrams" -> ((s, d) =>
      TextAnalysis.boilerplateNgrams(Tables.documents(s, d))),
    // ANN directly over the int8 codes (scales cancel in the cosine ⇒
    // pure integer arithmetic ⇒ exact-oracle-checkable quantized search)
    "q81_quantized_topk"   -> ((s, d) => Similarity.quantizedTopK(Tables.embeddings(s, d))),
    // per-source quality calibration: gate vs own-source median
    "q82_source_quality_gate" -> ((s, d) =>
      TextAnalysis.sourceQualityGate(Tables.documents(s, d))),
    // matryoshka truncation report: energy retained + renormalized stats
    "q83_normalize_truncate" -> ((s, d) =>
      Similarity.normalizeTruncate(Tables.embeddings(s, d))),
    // consuming the mined boilerplate list: per-doc coverage fraction
    "q84_boilerplate_coverage" -> ((s, d) =>
      TextAnalysis.boilerplateCoverage(Tables.documents(s, d))),
    // contrastive-training data prep: top-k cross-label near misses
    "q85_hard_negatives"   -> ((s, d) => Similarity.hardNegatives(Tables.embeddings(s, d))),
    // temperature-based mixture reweighting (T=2 ⇒ sqrt rates, exact
    // oracle): deterministic md5-bucket admission per language group
    "q86_temperature_mixture" -> ((s, d) =>
      TrainingData.temperatureMixture(Tables.documents(s, d))),
    // embedding-quality outlier gate: worst-k per label by cosine to
    // the own-label centroid (broadcast centroid frame, one scan)
    "q87_centroid_outliers" -> ((s, d) =>
      Similarity.centroidOutliers(Tables.embeddings(s, d))),
    // kNN majority-vote label prediction over the exact top-k
    // neighbors — all-integer voting, exact-oracle end-to-end
    "q88_knn_predict"      -> ((s, d) => Similarity.knnPredict(Tables.embeddings(s, d))),
    // sequential-Poisson PPS sampling: fixed-size length-weighted
    // subsample, priority = md5-uniform / n_chars (single division)
    "q89_pps_sample"       -> ((s, d) => TrainingData.ppsSample(Tables.documents(s, d))),
    // corpus snapshot diff: deterministic rev2 stand-in (every 11th
    // doc dropped, every 13th edited, residue-3 ids "new"), diffed on
    // 16-byte fingerprint rows — identically derived in the oracle
    "q90_snapshot_diff"    -> ((s, d) => {
      val docs = Tables.documents(s, d)
      import org.apache.spark.sql.functions._
      val oldSnap = docs.filter(col("doc_id") % 11 =!= 3)
      val newSnap = docs.filter(col("doc_id") % 11 =!= 0)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" (rev2)"))).otherwise(col("text")))
      TrainingData.snapshotDiff(oldSnap, newSnap)
    }),
    // mixture-epoch expansion: per-source fractional repeat factors
    // materialized via md5-bucket admission + a per-row generator
    "q91_epoch_expand"     -> ((s, d) => TrainingData.epochExpand(Tables.documents(s, d))),
    // bucket-balanced diversity sampling on the TopKPerKey heap
    // operator: md5-ordered cap per LSH bucket
    "q92_diversity_sample" -> ((s, d) =>
      Similarity.diversitySample(Tables.embeddings(s, d))),
    // ANN recall@k vs the exact ground truth — both deterministic,
    // so the index-quality report itself is exact-oracle-checked
    "q93_ann_recall"       -> ((s, d) => Similarity.annRecall(Tables.embeddings(s, d))),
    // CUBE over (flag, status): all four grouping sets in one pass,
    // grouping() indicators disambiguate super-aggregate rows
    "q94_cube"             -> ((s, d) => Aggregates.cubeFlagStatus(Tables.lineitem(s, d))),
    // trailing-window anomaly detection (frame excludes current row)
    "q95_moving_zscore"    -> ((s, d) => Aggregates.movingZscore(Tables.events(s, d))),
    // ntile / percent_rank / cume_dist family within priority class
    "q96_rank_family"      -> ((s, d) => Aggregates.priceRankFamily(Tables.orders(s, d))),
    // deterministic sparse-sign random projection: the md5-derived
    // sign "matrix" is a hash function, so the projection is exact
    "q97_random_projection" -> ((s, d) => Similarity.randomProjection(Tables.embeddings(s, d))),
    // Unicode-conservative normalization audit (lengths + md5 only)
    "q98_normalize_text"   -> ((s, d) => TextAnalysis.normalizeText(Tables.documents(s, d))),
    // per-document character entropy, shuffle-free HOF fold
    "q99_char_entropy"     -> ((s, d) => TextAnalysis.charEntropy(Tables.documents(s, d))),
    // sliding-window RAG chunking: generate-over-scan, fp per chunk
    "q100_chunk_docs"      -> ((s, d) => TrainingData.chunkDocuments(Tables.documents(s, d))),
    // CDC latest-per-key as a partial-aggregatable max(struct)
    "q101_latest_per_key"  -> ((s, d) => TrainingData.latestPerKey(Tables.events(s, d))),
    // provenance diagnostic: fingerprints shared between source pairs
    // (diagonal = within-source duplication); paragraph level — the
    // C4-tier signal that actually lights up on this corpus (the
    // synthetic sources share boilerplate chunks, not whole docs)
    "q102_cross_source_dups" -> ((s, d) =>
      Dedup.crossSourceDups(Tables.documents(s, d), level = "paragraph")),
    // sequence-length histogram + cumulative coverage (sizes seqLen)
    "q103_length_histogram" -> ((s, d) => TrainingData.lengthHistogram(Tables.documents(s, d))),
    // dedup-aggressiveness audit: near-dup cluster size distribution
    "q104_cluster_sizes"   -> ((s, d) =>
      Dedup.clusterSizeDistributionCached(Tables.documents(s, d), Tiers.cc(s, d))),
    // skew audit: top-k hottest keys with corpus share, via TakeOrdered
    "q105_hot_keys"        -> ((s, d) => Aggregates.hotKeys(Tables.events(s, d), "user_id")),
    // per-source stage-attrition funnel (gate → exact dedup →
    // decontaminate), the light exact-oracled audit tier; eval set =
    // the evalDecontaminate %10 convention
    "q106_pipeline_funnel" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      import org.apache.spark.sql.functions.col
      TrainingData.pipelineFunnel(docs, docs.filter(col("doc_id") % 10 === 0))
    }),
    // range join via interval bucketization: 200 overlapping intervals
    // matched as an equi-join on bucket_id + residual BETWEEN — never
    // a nested-loop product
    "q107_range_join"      -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val intervals = s.range(200).select(
        col("id").as("interval_id"),
        (col("id") * 0.5).as("lo"),
        (col("id") * 0.5 + 2.0).as("hi"))
      Joins.rangeBucketJoin(Tables.events(s, d), intervals, "value", 1.0)
        .groupBy("interval_id", "lo", "hi")
        .agg(count(lit(1)).as("n_events"),
          round(min("value"), 4).as("v_min"),
          round(max("value"), 4).as("v_max"))
        .orderBy("interval_id")
    }),
    // salted fact⋈fact join: identical result to the plain join, hot
    // orderkeys spread over 8 reducers; forced shuffle (merge hints)
    "q108_salted_join"     -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Joins.saltedJoin(Tables.lineitem(s, d), Tables.orders(s, d),
          "l_orderkey", "o_orderkey",
          concat_ws(":", col("l_orderkey"), col("l_linenumber")))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty_sum"))
        .orderBy("o_orderstatus")
    }),
    // within-source quality percent-rank: one threshold, same meaning
    // across sources with different quality distributions
    "q109_quality_quantile" -> ((s, d) =>
      TextAnalysis.qualityQuantileNormalize(Tables.documents(s, d))),
    // LSH recall audit: exact all-pairs truth on a bounded sample vs
    // the banded cascade, per Jaccard band — the calibration query
    "q110_lsh_recall"      -> ((s, d) => Dedup.lshRecallReport(Tables.documents(s, d))),
    // per-source PPS budgets on the TopKPerKey heap (3rd production
    // site): every source draws its own fixed-size weighted sample
    "q111_pps_per_source"  -> ((s, d) =>
      TrainingData.ppsSamplePerSource(Tables.documents(s, d))),
    // per-type exact-quantile clipping with audit flags (broadcast
    // bounds frame; rounded-bound comparisons for cross-engine parity)
    "q112_winsorize"       -> ((s, d) => Aggregates.winsorize(Tables.events(s, d))),
    // sensor-gap LOCF imputation (deterministic %7 gap seeding like
    // q73's PII convention; leading gaps stay null loudly)
    "q113_locf_impute"     -> ((s, d) => Aggregates.locfImpute(Tables.events(s, d))),
    // ordered min-time conversion funnel (view → click → purchase)
    "q114_event_funnel"    -> ((s, d) => EventAnalytics.funnel(Tables.events(s, d))),
    // first-touch weekly cohort retention triangle
    "q115_retention_cohort" -> ((s, d) => EventAnalytics.retentionCohorts(Tables.events(s, d))),
    // first-order Markov transition matrix over event types
    "q116_event_transitions" -> ((s, d) => EventAnalytics.eventTransitions(Tables.events(s, d))),
    // OLS daily-activity trend per event type (regr_* aggregates)
    "q117_trend_regression" -> ((s, d) => EventAnalytics.activityTrend(Tables.events(s, d))),
    // binned two-sample Kolmogorov-Smirnov: view vs purchase values
    "q118_ks_test"         -> ((s, d) => EventAnalytics.ksTest(Tables.events(s, d))),
    // edit-distance fuzzy near-dup pairs (length-band blocked,
    // threshold levenshtein verify on a bounded prefix)
    "q119_fuzzy_dedup"     -> ((s, d) =>
      Dedup.fuzzyDupPairsCached(Tables.documents(s, d), Tiers.cc(s, d))),
    // source-priority paragraph dedup: trusted-tier keeper per
    // duplicated paragraph fingerprint
    "q120_priority_dedup"  -> ((s, d) => Dedup.priorityDedup(Tables.documents(s, d))),
    // char-bigram LM likelihood / perplexity gibberish screen
    "q121_bigram_lm"       -> ((s, d) =>
      TextAnalysis.bigramLmScoreCached(Tables.documents(s, d),
        Tiers.blm(s, d))),
    // character-weighted median document length per source
    "q122_weighted_median" -> ((s, d) => TrainingData.weightedMedianLength(Tables.documents(s, d))),
    // exact rolling 7-day active users via presence-pair fan-out
    "q123_rolling_wau"     -> ((s, d) => EventAnalytics.rollingActiveUsers(Tables.events(s, d))),
    // chi-square independence: event type x ISO day-of-week
    "q124_chi_square"      -> ((s, d) => EventAnalytics.chiSquare(Tables.events(s, d))),
    // time-to-convert p50/p90 per first-touch weekly cohort
    "q125_conversion_latency" -> ((s, d) => EventAnalytics.conversionLatency(Tables.events(s, d))),
    // robust stats: per-source MAD outlier gate over doc lengths
    "q126_mad_outliers"    -> ((s, d) => RobustStats.madOutliers(Tables.documents(s, d))),
    // Gini concentration of customer spend per nation
    "q127_gini_spend"      -> ((s, d) => RobustStats.giniByNation(Tables.orders(s, d), Tables.customer(s, d))),
    // Zipf rank-frequency slope over the top-200 tokens
    "q128_zipf_slope"      -> ((s, d) => RobustStats.zipfSlope(Tables.documents(s, d))),
    // Shannon entropy of the per-day event-type mix
    "q129_type_entropy"    -> ((s, d) => RobustStats.eventTypeEntropy(Tables.events(s, d))),
    // PMI collocations over the top-50 vocabulary
    "q130_token_pmi"       -> ((s, d) =>
      TextAnalysis.tokenPmiCached(Tables.documents(s, d), Tiers.tok(s, d))),
    // per-user LOCF time-weighted average of the value signal
    "q131_time_weighted"   -> ((s, d) => EventAnalytics.timeWeightedAvg(Tables.events(s, d))),
    // Z-order clustering-key layout audit (part x supplier interleave)
    "q132_zorder_layout"   -> ((s, d) => Layout.zorderLayout(Tables.lineitem(s, d))),
    // file-stats manifest + min/max skipping decision per month bucket
    "q133_stats_manifest"  -> ((s, d) => Layout.statsManifest(Tables.orders(s, d))),
    // Count-Min sketch heavy hitters: estimate vs truth audit
    "q134_countmin"        -> ((s, d) => Sketches.countMinHeavyHitters(Tables.events(s, d))),
    // EXACT Jaccard set-similarity self-join via prefix filtering
    "q135_prefix_jaccard"  -> ((s, d) =>
      Dedup.prefixJaccardJoinCached(Tables.documents(s, d), Tiers.cc(s, d))),
    // PSI distribution drift of each source vs the corpus
    "q136_psi_drift"       -> ((s, d) => RobustStats.psiDrift(Tables.documents(s, d))),
    // TextRank keywords: PageRank over the token co-occurrence graph,
    // probing the materialized converged ranks (built once per corpus
    // snapshot from the materialized token-tf frame)
    "q137_textrank"        -> ((s, d) =>
      TextAnalysis.textRankMaterialized(Tables.documents(s, d),
        Tiers.tr(s, d),
        tf = Some(TextAnalysis.tokenTfCached(Tables.documents(s, d),
          Tiers.tok(s, d))))),
    // BM25 top-k retrieval: first 8 docs as queries, inverted-index probe
    "q138_bm25_topk"       -> ((s, d) =>
      TextAnalysis.bm25TopKCached(Tables.documents(s, d), Tiers.arm(s, d))),
    // inverted-index build: df/cf + heap-capped posting lists
    "q139_inverted_index"  -> ((s, d) =>
      TextAnalysis.invertedIndexCached(Tables.documents(s, d), Tiers.tok(s, d))),
    // EXACT directed shingle-containment join (quote/wrapper detection)
    "q140_containment"     -> ((s, d) =>
      Dedup.containmentJoinCached(Tables.documents(s, d), Tiers.cc(s, d))),
    // per-doc shingle novelty vs ingestion order (crawl freshness)
    "q141_novelty"         -> ((s, d) =>
      Dedup.noveltyScoreCached(Tables.documents(s, d), Tiers.cc(s, d))),
    // deterministic Lloyd's k-means (IVF coarse-quantizer training)
    "q142_kmeans"          -> ((s, d) =>
      Similarity.kmeansCached(Tables.embeddings(s, d), Tiers.km(s, d))),
    // hourly OHLC bars per event type (struct-ordered arg-min/max agg)
    "q143_ohlc_bars"       -> ((s, d) => EventAnalytics.ohlcBars(Tables.events(s, d))),
    // triangle census of the token co-occurrence graph
    "q144_triangles"       -> ((s, d) =>
      TextAnalysis.tokenTrianglesCached(Tables.documents(s, d), Tiers.tok(s, d))),
    // fastText-style hashed linear classifier (map-only inference)
    "q145_hashed_classifier" -> ((s, d) => TextAnalysis.hashedClassifier(Tables.documents(s, d))),
    // OOV occurrence rate vs the corpus top-16 vocabulary head
    "q146_oov_rate"        -> ((s, d) =>
      TextAnalysis.oovRateCached(Tables.documents(s, d), Tiers.tok(s, d))),
    // anchored power-sum moments (mergeable sufficient statistics)
    "q147_power_moments"   -> ((s, d) => RobustStats.powerMoments(Tables.events(s, d))),
    // per-dimension embedding health audit (dead dims, anisotropy)
    "q148_embedding_dims"  -> ((s, d) => Similarity.embeddingDimStats(Tables.embeddings(s, d))),
    // date-ordered compaction groups over the per-day file manifest
    "q149_compaction_plan" -> ((s, d) => Layout.compactionPlan(Tables.orders(s, d))),
    // market-basket association rules over user event histories
    "q150_event_assoc"     -> ((s, d) => EventAnalytics.eventAssociations(Tables.events(s, d))),
    // per-source corpus health dashboard (volume, langs, median, dups)
    "q151_corpus_report"   -> ((s, d) => TrainingData.corpusReport(Tables.documents(s, d))),
    // BM25 + hashed-dense reciprocal-rank fusion (hybrid retrieval)
    "q152_hybrid_rrf"      -> ((s, d) =>
      TextAnalysis.hybridRrfTopKCached(Tables.documents(s, d), Tiers.arm(s, d))),
    // SCD Type-2 state history: validity intervals from the event feed
    "q153_scd_history"     -> ((s, d) => EventAnalytics.scdHistory(Tables.events(s, d))),
    // GROUPING SETS: both marginal breakdowns in one fact-table scan
    "q154_grouping_sets"   -> ((s, d) => Aggregates.marginalsGroupingSets(Tables.orders(s, d))),
    // SemDeDup: cluster-bounded semantic dedup over kmeans cells
    "q155_semdedup"        -> ((s, d) =>
      Similarity.semDedupCached(Tables.embeddings(s, d), Tiers.km(s, d))),
    // Heaps-law vocabulary growth over ingestion-order tranches
    "q156_vocab_growth"    -> ((s, d) => TextAnalysis.vocabGrowth(Tables.documents(s, d))),
    // leakage-safe content-keyed k-fold assignment + balance audit
    "q157_kfold_audit"     -> ((s, d) => TrainingData.leakageSafeFolds(Tables.documents(s, d))),
    // hourly p50/p90/p99 monitor on a fixed-grid histogram (streamable)
    "q158_hist_percentiles" -> ((s, d) => EventAnalytics.histogramPercentilesHourly(Tables.events(s, d))),
    // Benford first-digit forensics on the money column
    "q159_benford"          -> ((s, d) => Aggregates.benfordAudit(Tables.orders(s, d))),
    // per-user bounded-lookback EWMA level at the last event
    "q160_ewma_level"       -> ((s, d) => EventAnalytics.ewmaLastPerUser(Tables.events(s, d))),
    // lag-1/2 autocorrelation of the hourly count series per type
    "q161_autocorr"         -> ((s, d) => EventAnalytics.autocorrHourly(Tables.events(s, d))),
    // Theil–Sen robust hourly trend per event type
    "q162_theil_sen"        -> ((s, d) => RobustStats.theilSenTrend(Tables.events(s, d))),
    // Flesch reading-ease proxy per document (regex-count readability)
    "q163_readability"      -> ((s, d) => TextAnalysis.readability(Tables.documents(s, d))),
    // Goh–Barabási burstiness of per-user inter-arrival gaps, by type
    "q164_burstiness"       -> ((s, d) => EventAnalytics.burstiness(Tables.events(s, d))),
    // hours at ≥2× their (type, hour-of-day) seasonal baseline
    "q165_seasonal_anomaly" -> ((s, d) => EventAnalytics.seasonalAnomalies(Tables.events(s, d))),
    // Deequ-style one-scan data-quality expectation suite
    "q166_expectations"     -> ((s, d) => Aggregates.expectationsAudit(Tables.orders(s, d))),
    // Neyman-allocation stratified sample (exact integer Hamilton quotas)
    "q167_neyman_sample"    -> ((s, d) => TrainingData.neymanSample(Tables.documents(s, d))),
    // k-anonymity / l-diversity audit on the customer quasi-identifiers
    "q168_k_anonymity"      -> ((s, d) => Aggregates.kAnonymityAudit(Tables.customer(s, d))),
    // DSIR hashed importance selection toward the held-out target slice
    "q169_dsir_select"      -> ((s, d) => TrainingData.dsirSelect(Tables.documents(s, d))),
    // pivot (long → wide): monthly counts spread across status columns
    "q170_pivot_status"     -> ((s, d) => Aggregates.pivotMonthlyStatus(Tables.orders(s, d))),
    // unpivot (wide → long) + per-metric quantized-exact profile
    "q171_unpivot_metrics"  -> ((s, d) => Aggregates.unpivotMetricSummary(Tables.lineitem(s, d))),
    // referential-integrity audit over the two fact→parent FK edges
    "q172_ref_integrity"    -> ((s, d) => Joins.refIntegrityAudit(
      Tables.orders(s, d), Tables.customer(s, d), Tables.lineitem(s, d))),
    // schema-on-read JSON map mining over the open props column,
    // served from the materialized parsed-props frame (Tiers.props)
    "q173_props_profile"    -> ((s, d) =>
      JsonRouting.propsProfileCached(Tables.events(s, d), Tiers.props(s, d))),
    // Dataset.intersect / except over two sources' fingerprint sets
    "q174_set_relations"    -> ((s, d) => SetOps.setRelations(Tables.documents(s, d))),
    // point-in-time SCD2 state lookup for purchase events
    "q175_scd_lookup"       -> ((s, d) => EventAnalytics.scdLookup(Tables.events(s, d))),
    // MOSS winnowing: window-min fingerprint selection + shared-pair report
    "q176_winnow_pairs"     -> ((s, d) =>
      Dedup.winnowedPairsCached(Tables.documents(s, d), Tiers.cc(s, d))),
    // CUSUM level-shift changepoint per event type, exact integer argmax
    "q177_cusum_changepoint" -> ((s, d) => EventAnalytics.cusumChangepoint(Tables.events(s, d))),
    // multi-touch attribution: dyadic time-decay credit, exactly summable
    "q178_multi_touch"      -> ((s, d) => EventAnalytics.multiTouchAttribution(Tables.events(s, d))),
    // sweep-line daily peak concurrency over gap-based sessions
    "q179_peak_concurrency" -> ((s, d) => EventAnalytics.peakConcurrency(Tables.events(s, d))),
    // whole-journey session paths, ordered collect, TakeOrdered top-k
    "q180_session_paths"    -> ((s, d) => EventAnalytics.topSessionPaths(Tables.events(s, d))),
    // content-defined chunking + cross-doc chunk dedup share
    "q181_cdc_chunks"       -> ((s, d) => Dedup.cdcChunkShare(Tables.documents(s, d))),
    // Hill tail-index of the doc-length distribution (top-k TakeOrdered)
    "q182_hill_tail"        -> ((s, d) => RobustStats.hillTailIndex(Tables.documents(s, d))),
    // longest shared verbatim run per LSH candidate pair (diagonal islands)
    "q183_shared_runs"      -> ((s, d) =>
      Dedup.sharedRunLengthsCached(Tables.documents(s, d), Tiers.cc(s, d))),
    // sorted-neighborhood (SNM) blocking, two passes + exact Jaccard verify
    "q184_snm_neardups"     -> ((s, d) =>
      Dedup.snmNearDupsCached(Tables.documents(s, d), Tiers.cc(s, d))),
    // order-free per-source dataset fingerprints (XOR of row hashes)
    "q185_source_fingerprints" -> ((s, d) => Aggregates.sourceFingerprints(Tables.documents(s, d))),
    // two-sided as-of: linear interpolation at probe times, LOCF/backfill edges
    "q186_interpolate"      -> ((s, d) => EventAnalytics.interpolateAtProbes(Tables.events(s, d))),
    // md5-registered HyperLogLog: the sketch itself is oracle-exact
    "q187_hll_exact"        -> ((s, d) => Sketches.hllUsersByType(Tables.events(s, d))),
    // incremental view maintenance: merged partials ≡ full recompute
    "q188_incremental_hourly" -> ((s, d) => {
      val ev = Tables.events(s, d)
      import org.apache.spark.sql.functions.col
      Aggregates.applyHourlyDelta(
        Aggregates.hourlyPartials(ev.filter(col("event_id") % 10 =!= 0)),
        ev.filter(col("event_id") % 10 === 0))
    }),
    // right-to-be-forgotten: anti-join scrub + self-proving audit
    "q189_forget_audit"     -> ((s, d) => {
      val ev = Tables.events(s, d)
      import org.apache.spark.sql.functions.col
      Aggregates.forgetUsersAudit(ev,
        ev.filter(col("user_id") % 53 === 0).select("user_id").distinct())
    }),
    // deterministic two-sample permutation test — md5 relabelings,
    // exact integer exceedance, oracle-checkable p-value
    "q190_permutation_test" -> ((s, d) => RobustStats.permutationTest(Tables.events(s, d))),
    // HLL set algebra: register-max union + inclusion–exclusion overlap
    "q191_hll_overlap"      -> ((s, d) => Sketches.hllOverlap(Tables.events(s, d))),
    // product-quantization codes: per-subspace deterministic-k-means
    // codebooks — the 100×-compression tier IVF+PQ stacks on q64's
    // coarse index; every code exact-oracled (unrolled CTE chains)
    // (codes/books served from the materialized PQ index — one train
    // per subspace per corpus snapshot, the IVF index discipline;
    // q192/q193/q194 all probe it)
    "q192_pq_codes"         -> ((s, d) =>
      Similarity.pqCodesCached(Tables.embeddings(s, d), Tiers.pq(s, d))),
    // PQ ADC top-k: per-subspace LUT distances summed in integer
    // micro-units — probe-time scan touches codes, never vectors
    "q193_pq_ann"           -> ((s, d) =>
      Similarity.pqAnnCached(Tables.embeddings(s, d), Tiers.pq(s, d))),
    // PQ recall audit: |ADC top-k ∩ exact-L2 top-k| / k per panel
    // query — the m/k tuning gauge, itself oracle-exact
    "q194_pq_recall"        -> ((s, d) =>
      Similarity.pqRecallCached(Tables.embeddings(s, d), Tiers.pq(s, d))),
    // per-type OLS drift line over quantized daily means — slope /
    // intercept / r², integer sufficient statistics, oracle-exact
    "q195_ols_trend"        -> ((s, d) => RobustStats.dailyOlsTrend(Tables.events(s, d))),
    // positional-postings phrase search: top trigram phrases with
    // df/occurrences and TopKPerKey-capped top documents
    "q196_phrase_search"    -> ((s, d) =>
      TextAnalysis.phraseSearchCached(Tables.documents(s, d), Tiers.post(s, d))),
    // matryoshka truncation sweep: prefix-dim top-k recall vs the
    // full-dim ground truth — the two-stage ANN cost-lever audit
    "q197_truncation_recall" -> ((s, d) => Similarity.truncationRecallSweep(Tables.embeddings(s, d))),
    // sign-LSH bucket-size skew + exact candidate-pair cost: the
    // COST side of the LSH trade (q110 lsh_recall audits the recall side)
    "q198_bucket_balance"   -> ((s, d) => Similarity.bucketBalanceAudit(Tables.embeddings(s, d))),
    // MinHash estimator calibration: E|J-hat − J| measured against the
    // exact Jaccard on the CASCADE's verified pair frame (the pairs
    // the pipeline operates on, served from the materialized cascade)
    "q199_minhash_calibration" -> ((s, d) =>
      Dedup.minhashCalibrationCached(Tables.documents(s, d), Tiers.cc(s, d))),
    // native greedy subword segmentation (maximal munch, fixed
    // vocab): per-doc token counts + fertility, exact-oracled via a
    // DuckDB recursive CTE running the identical recurrence
    "q200_subword_stats"    -> ((s, d) => TextAnalysis.subwordStats(Tables.documents(s, d))),
    // tokenizer-fitness rollup: fertility + UNK rate by language
    "q201_subword_fertility" -> ((s, d) => TextAnalysis.subwordFertility(Tables.documents(s, d))),
    // arrival-order semantic dedup (the streaming-ingest semantics,
    // batch-computed): dup verdict vs the vec_id prefix per LSH bucket
    "q202_semantic_prefix_dedup" -> ((s, d) =>
      Dedup.semanticDedupPrefix(Tables.embeddings(s, d))),
    // trailing-24h distinct users per hour, entirely in HLL register
    // arithmetic (one data pass; the merge is a bounded sketch-row
    // explode) — exact trailing distinct rides along as the audit
    "q203_hll_sliding"      -> ((s, d) => Sketches.hllSlidingDistinct(Tables.events(s, d))),
    // double-fire audit: same (user, type) within 60 s of the
    // previous event — the at-least-once-ingest inflation rate
    "q204_duplicate_events" -> ((s, d) => EventAnalytics.duplicateEventAudit(Tables.events(s, d))),
    // CUPED-adjusted A/B lift: pre-period covariate variance
    // reduction, deterministic hash-bucket assignment, 1-row report
    "q205_cuped_lift"       -> ((s, d) => RobustStats.cupedAdjustedLift(Tables.events(s, d))),
    // RFM customer-value grid: quartile thresholds via one broadcast
    // percentile aggregate, never a global ntile sort
    "q206_rfm_segments"     -> ((s, d) => EventAnalytics.rfmSegments(Tables.events(s, d))),
    // the BPE trainer's next-merge report: adjacent-subword pair
    // counts under the current vocab's segmentation, top-N
    "q207_bpe_merges"       -> ((s, d) => TextAnalysis.bpeMergeCandidates(Tables.documents(s, d))),
    // centroid-based silhouette over the deterministic k-means cells:
    // the O(n·k) cluster-separation audit for IVF/SemDeDup health
    "q208_silhouette"       -> ((s, d) =>
      Similarity.simplifiedSilhouetteCached(Tables.embeddings(s, d), Tiers.km(s, d))),
    // repeated-substring excision (Lee et al.): cut >= minRun-token
    // runs that appear verbatim in more than one document
    "q209_excise_runs"      -> ((s, d) => Dedup.exciseSharedRuns(Tables.documents(s, d))),
    // perceptual average-hash over the binary payloads (sampled-byte
    // thumbnail stand-in; exact-integer threshold bits)
    "q210_image_ahash"      -> ((s, d) =>
      Multimodal.imageAHashCached(Tables.documents(s, d), Tiers.ah(s, d))),
    // aHash near-dup pairs via 6-block pigeonhole banding + one
    // bit_count(xor) verify per candidate — image near-dup at scale
    "q211_ahash_pairs"      -> ((s, d) =>
      Multimodal.ahashPairsCached(Tables.documents(s, d), Tiers.ah(s, d))),
    // golden-record survivorship over the cascade's CC labels:
    // longest-text-wins master row + provenance breadth per cluster,
    // probing the one materialized LSH → verify → CC build
    "q212_golden_record"    -> ((s, d) =>
      Dedup.goldenRecordsCached(Tables.documents(s, d), Tiers.cc(s, d))),
    // rank-biased overlap (p = 1/2, depth 10) between the BM25 and
    // raw tf·idf rankings — exact-integer suffix weights, one
    // equi-join per query instead of a depth loop
    "q213_rbo_rankings"     -> ((s, d) =>
      TextAnalysis.rboRankingsCached(Tables.documents(s, d), Tiers.arm(s, d))),
    // CDC log compaction: I/U/D ops per entity → last-writer-wins
    // final state with tombstones — the SCD1 MERGE maintenance pass
    "q214_cdc_compact"      -> ((s, d) => EventAnalytics.cdcCompact(Tables.events(s, d))),
    // source×source 8-gram-set Jaccard/containment matrix — which
    // FEEDS are the same corpus, zeros included, 8-byte keys only
    "q215_source_overlap"   -> ((s, d) => Dedup.sourceOverlapMatrix(Tables.documents(s, d))),
    // leakage-safe churn training set: observation-window features,
    // holdout-window label, temporal split enforced by construction
    "q216_churn_labels"     -> ((s, d) => EventAnalytics.churnLabels(Tables.events(s, d))),
    // Kaplan–Meier time-to-conversion with right-censoring: the
    // not-converted-YET-aware funnel-latency curve
    "q217_km_conversion"    -> ((s, d) => RobustStats.kmConversion(Tables.events(s, d))),
    // stationary distribution of the q116 journey chain by exact
    // integer power iteration — probabilities never exist as floats
    "q218_markov_stationary" -> ((s, d) => EventAnalytics.markovStationary(Tables.events(s, d))),
    // MMR diversity re-ranking over the q37 shortlist: greedy
    // λ·rel − (1−λ)·max-sim selection, fixed k-deep broadcast chain
    "q219_mmr_rerank"       -> ((s, d) => Similarity.mmrRerank(Tables.embeddings(s, d))),
    // Poisson bootstrap CI for the mean purchase value: 41 replicates
    // in ONE data pass via per-(row, replicate) md5-Poisson weights;
    // exact-index order-statistic CI, no resampling shuffle
    "q220_poisson_bootstrap" -> ((s, d) => RobustStats.poissonBootstrap(Tables.events(s, d))),
    // WOE/IV feature-power audit over the leakage-safe churn frame:
    // quintile bins from one broadcast percentile, 5-row output
    "q221_woe_audit"        -> ((s, d) => EventAnalytics.woeAudit(Tables.events(s, d))),
    // half-over-half trending props keys: smoothed log-lift, top-N
    // via TakeOrdered — the what-took-off screen, probing the
    // materialized parsed-props frame (no per-row JSON in the probe)
    "q222_trending_keys"    -> ((s, d) =>
      EventAnalytics.trendingKeysCached(Tables.events(s, d), Tiers.props(s, d))),
    // lead-lag cross-correlation of daily purchase vs error volumes
    // over the zero-filled calendar — q161's bivariate sibling
    "q223_cross_correlation" -> ((s, d) => EventAnalytics.crossCorrelation(Tables.events(s, d))),
    // difference-in-differences with deterministic arms + midpoint
    // intervention: one conditional aggregate, 1-row report
    "q224_did_estimate"     -> ((s, d) => RobustStats.didEstimate(Tables.events(s, d))),
    // F2 self-join size estimation from a 1-in-10 md5 KEY sample vs
    // the exact second moment — the pre-join shuffle-blowup statistic
    "q225_selfjoin_estimate" -> ((s, d) => Aggregates.selfJoinSizeEstimate(Tables.lineitem(s, d))),
    // no-split greedy packing waste curve at 128/256/512/1024 —
    // one flatMapGroups pass folds all four lengths per shard;
    // oracle replays the recurrence as a recursive CTE
    "q226_packing_sweep"    -> ((s, d) => TrainingData.packingSweep(Tables.documents(s, d))),
    // SLA-aware funnel: each step within 1 h of the previous,
    // greedy-earliest anchoring, median step latency per stage
    "q227_timed_funnel"     -> ((s, d) => EventAnalytics.timedFunnel(Tables.events(s, d))),
    // session entry/exit/bounce profile over the q47 gap sessions —
    // the landing-page report, one row per event type
    "q228_session_entries"  -> ((s, d) => EventAnalytics.sessionEntryExit(Tables.events(s, d))),
    // which dedup tier catches what: cascade exact pairs vs simhash
    // hamming<=3, 1-row confusion + overlap coefficient (the fifth
    // consumer of the one materialized cascade build)
    "q229_dedup_agreement"  -> ((s, d) =>
      Dedup.dedupFamilyAgreementCached(Tables.documents(s, d),
        Tiers.cc(s, d), Tiers.sh(s, d))),
    // inter-arrival SLO tail report: p50/p90/p99 gap per type over
    // the q164 per-(user, type) gap stream
    "q230_latency_slo"      -> ((s, d) => EventAnalytics.latencySlo(Tables.events(s, d))),
    // URL canonicalization: deterministic messy synthetic URLs →
    // lowercased/stripped/param-sorted canonical form + host/domain
    "q231_url_canonicalize" -> ((s, d) => UrlCuration.urlCanonicalize(Tables.documents(s, d))),
    // mirror-page dedup on the canonical page key + per-site cap —
    // the RefinedWeb curation recipe, all-integer per-host report
    "q232_per_host_cap"     -> ((s, d) => UrlCuration.perHostCap(Tables.documents(s, d))),
    // per-site concentration audit: exact basis-point doc/char
    // shares, size rank, cumulative share, head/torso/tail tier
    "q233_host_share"       -> ((s, d) => UrlCuration.hostShareAudit(Tables.documents(s, d))),
    // scaling-exponent audit: per blocking family, emitted pair count
    // + pairs-per-kdoc density off the SAME functions the family
    // queries run — the driver-checkable "no quadratic blowup" row set
    "q234_scaling_audit"    -> ((s, d) =>
      Dedup.scalingAudit(Tables.documents(s, d), Tiers.cc(s, d), Tiers.sh(s, d))),
    // multi-iteration BPE trainer: k merge-adopt-resegment steps over
    // the distinct-word frame; oracle unrolls the loop as chained
    // non-recursive CTEs
    "q235_bpe_train"        -> ((s, d) => TextAnalysis.bpeTrain(Tables.documents(s, d))),
    // per-source attrition funnel with the URL stage first (q106 +
    // the RefinedWeb ordering): input → URL keepers → Gopher gate →
    // exact dedup → decontamination, each stage on the previous one's
    // survivors — the CorpusPipeline urlHostCap composition's report
    "q236_url_funnel"       -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      UrlCuration.urlPipelineFunnel(docs, docs.filter(col("doc_id") % 10 === 0))
    }),
    // retrieval-quality rank metrics: nDCG@10 + MRR of the BM25 and
    // hybrid-RRF arms against the deterministic shared-shingle
    // relevance band — integer-weight DCG, closed-form IDCG, one
    // closing divide (the q213 discipline)
    "q237_retrieval_quality" -> ((s, d) =>
      TextAnalysis.retrievalQualityCached(Tables.documents(s, d), Tiers.arm(s, d))),
    // eval-side contamination provenance: per eval doc, hit count,
    // compromised count, and the worst offender — q65's question
    // transposed to the benchmark owner's side
    "q238_contam_provenance" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TrainingData.contaminationProvenance(docs,
        shingles = Some(Dedup.shingleDocsCached(docs, Tiers.cc(s, d))))
    }),
    // video keyframe near-dup: per-frame content fingerprints +
    // heap-capped inverted-index co-occurrence — q211's pair tier
    // for the video payload family
    "q239_video_neardups"   -> ((s, d) =>
      Multimodal.videoNearDups(Tables.documents(s, d))),
    // duplication level x quality: per near-dup band (unique/small/
    // large cluster), exact mean quality + Gopher pass rate — the
    // "are dups low-quality" folklore, measured off the cached labels
    "q240_dup_quality"      -> ((s, d) =>
      Dedup.dupQualityInteraction(Tables.documents(s, d), Tiers.cc(s, d))),
    // Mann-Whitney U on the q117 bin grid: exact 2U/tie integers from
    // per-bin counts, one float z at the close — no global rank sort
    "q241_mann_whitney"     -> ((s, d) =>
      RobustStats.mannWhitney(Tables.events(s, d))),
    // per-host quality audit: q233's size view joined with exact mean
    // quality + gate rate — the domain-blocklist cut table
    "q242_host_quality"     -> ((s, d) =>
      UrlCuration.hostQualityAudit(Tables.documents(s, d))),
    // label-centroid drift matrix: pairwise cosine of exact-integer
    // per-label centroids — the embedding-space separability report
    "q243_centroid_drift"   -> ((s, d) =>
      Similarity.labelCentroidDrift(Tables.embeddings(s, d))),
    // graded nDCG@10 + MRR of both index-served ANN arms vs the exact
    // ranking — rank-placement quality, q93's set-recall companion;
    // the exact graded ground truth is a materialized frame
    "q244_ann_quality"      -> ((s, d) =>
      Similarity.annQuality(Tables.embeddings(s, d), Tiers.ivf(s, d),
        gtDir = Some(Tiers.gt(s, d)))),
    // per-cluster cohesion audit: edge density + min/mean verified
    // jaccard — the chain-merge diagnostic behind cluster-canonical
    // cleaning, off the materialized cascade frames
    "q245_cluster_cohesion" -> ((s, d) =>
      Dedup.clusterCohesion(Tables.documents(s, d), Tiers.cc(s, d))),
    // pairwise RBO matrix across all three materialized retrieval arms
    "q246_arm_agreement"    -> ((s, d) =>
      TextAnalysis.armAgreement(Tables.documents(s, d), Tiers.arm(s, d))),
    // data-budget epoching plan: temperature weights → allocation →
    // forced epoch count per source, over-epoch flag at 4 epochs
    "q247_data_budget"      -> ((s, d) =>
      TrainingData.dataBudgetPlan(Tables.documents(s, d))),
    // hot-block audit for the aHash pair family: per-bucket candidate
    // volume + share — the find half of the q105→q108 skew pair
    "q248_ahash_hot_blocks" -> ((s, d) =>
      Multimodal.ahashHotBlocksCached(Tables.documents(s, d), Tiers.ah(s, d))),
    // q102's provenance matrix at the NEAR-dup tier, off the cached
    // cluster labels: who paraphrases whom
    "q249_neardup_sources"  -> ((s, d) =>
      Dedup.nearDupSourceMatrix(Tables.documents(s, d), Tiers.cc(s, d))),
    // q247's budget plan ACTED ON: per-(source, epoch) docs/tokens of
    // the epoch-expanded corpus — full passes + a deterministic
    // hash-drawn fractional epoch, map-only (no per-source window)
    "q250_budget_epochs"    -> ((s, d) =>
      TrainingData.epochExpandByPlan(Tables.documents(s, d))),
    // q245's cohesion audit ACTED ON: canonical cleaning that spares
    // suspected chain-merge clusters (density below the floor)
    "q251_guarded_clean"    -> ((s, d) =>
      Dedup.guardedCanonicalClean(Tables.documents(s, d), Tiers.cc(s, d))),
    // q251's action column closed as the review-facing delta: per
    // source, docs the clean drops vs docs the cohesion guard spared
    "q252_guard_delta"      -> ((s, d) =>
      Dedup.guardDelta(Tables.documents(s, d), Tiers.cc(s, d))),
    // q247's over-epoch flag ACTED ON: per-source epoch cap + one
    // pro-rata redistribution round, spill reported
    "q253_capped_budget"    -> ((s, d) =>
      TrainingData.cappedBudgetPlan(Tables.documents(s, d))),
    // the q253 knob chosen on evidence: the cap swept 1-4 epochs, one
    // row per cap with sources bound / spill / achieved budget
    "q254_cap_sweep"        -> ((s, d) =>
      TrainingData.capSweep(Tables.documents(s, d))),
    // embedding-level decontamination: the ranked review queue of
    // corpus vectors nearest ANY eval-panel vector (paraphrase
    // complement of the n-gram decontam q143/q238)
    "q255_decontam_queue"   -> ((s, d) =>
      Similarity.decontamQueue(Tables.embeddings(s, d))),
    // q253's capped plan ACTED ON: the q250 expansion rollup computed
    // from the post-redistribution allocation (the corpus a capped
    // run actually materializes)
    "q256_capped_epochs"    -> ((s, d) =>
      TrainingData.cappedEpochExpand(Tables.documents(s, d))),
    // q255 rolled up per source: leak spike (max) vs distributional
    // closeness (mean) of each source against the eval panel
    "q257_decontam_sources" -> ((s, d) =>
      Similarity.decontamBySource(Tables.embeddings(s, d),
        Tables.documents(s, d))),
    // both decontamination levels reconciled per doc over ONE eval
    // panel: verbatim / paraphrase / boilerplate / clean quadrants
    "q258_leak_typology"    -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Similarity.leakTypology(Tables.embeddings(s, d), docs,
        shingles = Some(Dedup.shingleDocsCached(docs, Tiers.cc(s, d))))
    }),
    // source-mixture drift between the q90 snapshot pair: share
    // deltas in exact bp — the silent reweighting a crawl refresh
    // applies to every downstream mixture
    "q259_mixture_drift"    -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      val oldSnap = docs.filter(col("doc_id") % 11 =!= 3)
      val newSnap = docs.filter(col("doc_id") % 11 =!= 0)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" (rev2)"))).otherwise(col("text")))
      TrainingData.mixtureDrift(oldSnap, newSnap)
    }),
    // the q258 typology ACTED ON: the ids a typology-based
    // decontamination cut removes — verbatim always, paraphrase by
    // policy, boilerplate spec-proven NEVER
    "q260_leak_drop_ids"    -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Similarity.leakTypologyDropIdsQ(Tables.embeddings(s, d), docs,
        shingles = Some(Dedup.shingleDocsCached(docs, Tiers.cc(s, d))))
    }),
    // near-dup-leakage-safe split: the md5 draw keyed on the CC
    // cluster so a 95%-identical twin can never straddle train/test
    "q261_cluster_safe_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TrainingData.clusterSafeSplit(docs,
        Dedup.dupClustersCached(docs, Tiers.cc(s, d)))
    }),
    // the dedup threshold chosen on evidence: per candidate jaccard
    // cut, verified pairs firing + docs dropped + survivors
    "q262_threshold_sweep"  -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dedupThresholdSweep(docs, Tiers.cc(s, d))
    }),
    // q262's embedding-side twin: the semantic τ knob swept against
    // the materialized cosine pair frame
    "q263_semantic_sweep"   -> ((s, d) =>
      Dedup.semanticThresholdSweep(Tables.embeddings(s, d),
        Tiers.scc(s, d))),
    // incremental cascade append: the daily batch (doc_id % 10 == 7)
    // lands on yesterday's committed cascade without re-shingling the
    // corpus; reports the batch-attributable verified pairs out of
    // the union cascade (bit-identical to a full rebuild — every
    // other cascade consumer's oracle re-checks that contract)
    "q264_cascade_append"   -> ((s, d) =>
      Dedup.cascadeAppendNewPairs(Tables.documents(s, d),
        Tiers.cco(s, d), Tiers.cc(s, d))),
    // q264's embedding twin: the daily vector batch lands on
    // yesterday's committed semcc frame bit-identical to a rebuild,
    // re-verifying only batch-touching pairs
    "q265_semcc_append"     -> ((s, d) =>
      Dedup.semanticAppendNewPairs(Tables.embeddings(s, d),
        Tiers.scco(s, d), Tiers.scc(s, d))),
    // the PQ-index ingest path: the daily vector batch encodes
    // map-only against yesterday's FROZEN codebooks and lands as
    // delta files next to yesterday's codes (zero resident I/O);
    // reports the batch's codes read back from the appended address
    "q266_pq_append"        -> ((s, d) =>
      Similarity.pqAppendBatchCodes(Tables.embeddings(s, d),
        Tiers.pqo(s, d), Tiers.pqapn(s, d))),
    // the byte-block-banded family's ingest path: the daily batch
    // hashes alone, collides against the union's block rows, and both
    // tiers land as linked base + batch delta into the address
    // q71/q229/q234 probe
    "q267_simhash_append"   -> ((s, d) =>
      Dedup.simhashAppendNewPairs(Tables.documents(s, d),
        Tiers.sho(s, d), Tiers.sh(s, d))),
    // the delta-landing lifecycle's maintenance half: the main
    // cascade compacts once into right-sized files (the weekly
    // OPTIMIZE next to q264's daily append); per-tier row counts off
    // the compacted address prove the rewrite content-complete
    "q268_compact_tiers"    -> ((s, d) =>
      Dedup.cascadeCompactTierCounts(Tables.documents(s, d),
        Tiers.cc(s, d), Tiers.cccmp(s, d))),
    // the maintenance half closed over every materialized family:
    // SimHash, semantic-CC, PQ, and the bucket-partitioned IVF index
    // each compact into a cmp_ revision; one report reads all four
    "q269_compact_families" -> ((s, d) =>
      Dedup.familyCompactionReport(
        Tables.documents(s, d), Tables.embeddings(s, d),
        Tiers.sh(s, d), Tiers.shcmp(s, d),
        Tiers.scc(s, d), Tiers.scccmp(s, d),
        Tiers.pq(s, d), Tiers.pqcmp(s, d),
        Tiers.ivf(s, d), Tiers.ivfcmp(s, d))),
    // the token family's ingest path — the simplest append instance
    // (pure per-document aggregate, map-side landing); the batch's
    // landed rows read back from the address q130/q137/q139/q144/q146
    // probe
    "q270_tokentf_append"   -> ((s, d) =>
      TextAnalysis.tokenTfAppendBatchRows(Tables.documents(s, d),
        Tiers.toko(s, d), Tiers.tok(s, d)))
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (approximate sketches, RNG-dependent ML) → driver records a weaker
    * rows-only check.
    */
  def oracleSql: Map[String, String] = OracleSql.all

  /** A query's number: 114 for `q114_event_funnel`. Numbers are unique
    * and contiguous; numeric order is the order every main runs in
    * (lexicographic order would put q100 before q10). */
  def number(name: String): Int = name.drop(1).takeWhile(_.isDigit).toInt

  /** Every query name, in numeric order. */
  def names: Seq[String] = queries.keys.toSeq.sortBy(n => (number(n), n))

  /** The query names `spec` selects, in numeric order. `spec` is a
    * comma-separated list whose items are each an exact name, a bare
    * `qN`/`qNN` (the query numbered N: `q1` is `q01_hourly_agg`) or a
    * name prefix (`q24_`). An item that selects nothing fails.
    */
  def select(spec: String): Seq[String] = {
    val all = names
    val items = spec.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    require(items.nonEmpty, s"no query names in '$spec'")
    items.flatMap { s =>
      val hit =
        if (all.contains(s)) Seq(s)
        else if (s.matches("q\\d+")) all.filter(number(_) == s.drop(1).toInt)
        else all.filter(_.startsWith(s))
      require(hit.nonEmpty, s"no query matches '$s'")
      hit
    }.distinct.sortBy(n => (number(n), n))
  }

  /** The local session every main (Bench, Verify, Probe,
    * CorpusPipeline, EdaMain) runs in: `local[SPARK_GRAFT_CPUS]`
    * (default 4) with as many shuffle partitions, UTC, no UI. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every SQL-cache entry and every persisted RDD (MLlib fit
    * internals and CC checkpoints, which `clearCache` misses), blocking,
    * so the next query starts from the same empty state instead of
    * paying its predecessor's eviction and GC. */
  def dropAllState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
