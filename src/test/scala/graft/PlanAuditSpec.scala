package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audit over the driver-contract queries: the assertions
  * here encode the shapes SCALE.md promises — no cartesian products
  * outside the intentionally-broadcast top-k probe, partial
  * aggregation before every shuffle, take-ordered for global top-k —
  * so a regression in plan quality fails CI, not a 100 TB run.
  */
class PlanAuditSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("aggregations use partial (map-side) aggregation before the shuffle") {
    for (q <- Seq("q01_hourly_agg", "q08_multi_avg", "q30_exact_dedup")) {
      val p = plan(q)
      assert(p.contains("HashAggregate") || p.contains("SortAggregate"), s"$q:\n$p")
      assert(p.contains("partial_"), s"$q missing partial aggregation:\n$p")
    }
  }

  test("global top-k compiles to TakeOrderedAndProject, not a full sort") {
    val p = plan("q18_top_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("minhash banding is an equi hash join, not a nested-loop join") {
    // q32 now serves from the materialized cascade (probe shape pinned
    // in the "cascade probes" test below) — the BUILD shape is audited
    // on the self-computing operator, which is what prebuildCascade runs
    val p = graft.operators.Dedup
      .minhashCandidatePairs(graft.engine.Tables.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join") || p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
  }

  test("phrase search: postings adjacency is equi-join on (doc_id, pos); ranking is capped") {
    val p = plan("q196_phrase_search")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TopKPerKey"), s"per-phrase doc cap must be the custom operator:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the panel must broadcast:\n$p")
  }

  test("truncation recall sweep: every per-dim ranking is TopKPerKey, queries broadcast") {
    val p = plan("q197_truncation_recall")
    // one capped ranking per tier: ground truth + 3 sweep dims
    assert("TopKPerKey".r.findAllIn(p).length >= 4, p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("WindowExec"), s"no unbounded window may rank the corpus:\n$p")
  }

  test("minhash calibration: signature joins are equi-joins, no product, fingerprints only") {
    val p = plan("q199_minhash_calibration")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("collect_set") && !p.contains("collect_list"), p)
  }

  test("subword stats: map-only segmentation into a partial-aggregated groupBy") {
    val p = plan("q200_subword_stats")
    assert(p.contains("SubwordGenerator") || p.contains("Generate"), p)
    assert(p.contains("partial_"), s"q200 missing partial aggregation:\n$p")
    assert(!p.contains("Join"), s"segmentation must not join:\n$p")
  }

  test("semantic prefix dedup: bucket equi-join, never all-pairs") {
    val p = plan("q202_semantic_prefix_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("bucket_id"), p)
  }

  test("RFM: quartile thresholds broadcast; no global ntile/row_number sort of the user population") {
    val p = plan("q206_rfm_segments")
    assert(p.contains("percentile"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), s"thresholds must broadcast:\n$p")
    // ntile/row_number scoring would compile to a WindowExec over the
    // user population ("percentile(" contains "ntile(", so name
    // matching is useless here — match the operator)
    assert(!p.contains("Window"),
      s"scoring must use broadcast thresholds, not a rank window:\n$p")
  }

  test("BPE merges: row-local pair join on the generator frame, capped report, no product") {
    val p = plan("q207_bpe_merges")
    assert(p.contains("Generate"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), s"top-N must not global-sort:\n$p")
  }

  test("embedding near-dup joins on the LSH bucket key — no all-pairs product") {
    val p = plan("q40_embedding_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("bucket_id"), p)
  }

  test("dup-ngram fraction: semi-join vocabulary, no cartesian, no array aggregate") {
    val p = plan("q78_dup_ngram_fraction")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("collect_set") && !p.contains("collect_list"), p)
    assert(p.contains("LeftSemi"), p) // shared-gram marking is a semi-join
  }

  test("semantic dedup: labels joined back without a product") {
    // the pair-generation half (LSH bucket equi-join) is pinned by the
    // q40 test above; by the time q79's final plan exists, the CC loop
    // has run and its checkpoint truncated that lineage — this plan is
    // the label join, which must be an equi-join on vec_id
    val p = plan("q79_semantic_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftOuter"), p)
  }

  test("the only cross join in top-k is against the broadcast 8-row query set") {
    val p = plan("q37_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bucketed fact tables join with NO Exchange — co-location is real") {
    // the SCALE.md §Joins claim, proven: bucket both sides on the join
    // key into the same bucket count, disable broadcast so the test
    // can't pass for the wrong reason, and the join plan must contain
    // no shuffle at all
    import org.apache.spark.sql.functions.col
    val li = graft.engine.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity")
    val ord = graft.engine.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_totalprice")
    graft.engine.ParquetSink.writeBucketed(li, "li_bucketed", "l_orderkey", 4)
    graft.engine.ParquetSink.writeBucketed(ord, "ord_bucketed", "o_orderkey", 4)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("li_bucketed").join(
        spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
      j.collect() // finalize the adaptive plan
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("star joins broadcast the dimension tables") {
    val p = plan("q19_join_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("near-dup verify never aggregates arrays (no collect_set in plan)") {
    // the 100 TB contract from SCALE.md: |A∩B| via narrow-row joins,
    // never an array payload through a shuffle — regression guard for
    // the round-2 scale-killer. q33 now serves from the materialized
    // cascade, so the BUILD shape is audited on the operator directly
    // (it is what prebuildCascade runs); q55 still self-computes.
    // q33 and q55 now serve from the materialized cascade, so the
    // BUILD shapes are audited on the self-computing operators
    // directly (they are what prebuildCascade runs)
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val build = graft.operators.Dedup.nearDupPairs(docs)
      .queryExecution.executedPlan.toString
    val buildClean = graft.operators.Dedup.cleaningPipeline(docs)
      .queryExecution.executedPlan.toString
    for ((q, p) <- Seq("q33_near_dup(build)" -> build,
        "q55_cleaning_pipeline(build)" -> buildClean)) {
      assert(!p.contains("collect_set"), s"$q ships array payloads:\n$p")
      assert(!p.contains("array_intersect"), s"$q compares array cells:\n$p")
    }
  }

  test("cascade probes scan the materialized frame — no shingle generate, no band join") {
    // the amortization contract: once the content-addressed cascade
    // exists, q33/q68/q104 are parquet probes (plus tiny aggregates),
    // NOT a third LSH → verify → CC rebuild. The Generate/Exchange-free
    // label scan is the 100 TB story — auditing cluster sizes reads
    // the (long, long) label frame, never re-shingles the corpus.
    graft.engine.Tiers.cc.build(spark, sfDir)
    for (q <- Seq("q32_minhash_pairs", "q33_near_dup", "q68_dup_clusters",
        "q104_cluster_sizes")) {
      val p = plan(q)
      assert(!p.contains("Generate"), s"$q re-shingles the corpus:\n$p")
      assert(!p.toLowerCase.contains("join"), s"$q re-runs the band join:\n$p")
      assert(p.contains("Scan parquet") || p.contains("FileScan"),
        s"$q does not scan the materialized frame:\n$p")
    }
    // q55/q72 keep their canonical gate + semi-join restriction +
    // anti-join finish, and the exact set-similarity family
    // (q135/q140/q141) keeps its prefix/verify joins over the
    // materialized shingle-set frame — none may re-shingle. q176/q184
    // joined the materialized-pair discipline this round: probes must
    // be frame scans too.
    graft.engine.Tiers.fam.build(spark, sfDir)
    for (q <- Seq("q55_cleaning_pipeline", "q72_cleaning_clustered",
        "q135_prefix_jaccard", "q140_containment", "q141_novelty",
        "q176_winnow_pairs", "q184_snm_neardups")) {
      val p = plan(q)
      assert(!p.contains("Generate"), s"$q re-shingles the corpus:\n$p")
    }
  }

  test("props probes scan the materialized parsed frame — no JSON parse in the plan") {
    // the q173/q222 amortization contract (round-12): once the
    // content-addressed props frame exists, both consumers are narrow
    // parquet probes — the per-row from_json/get_json_object and the
    // timestamp truncation live ONLY in the one-off build. This is the
    // structural close of the r10/r11 q222 driver-run pathology: the
    // expensive expression no longer exists in the probe plan.
    graft.engine.Tiers.props.build(spark, sfDir)
    for (q <- Seq("q173_props_profile", "q222_trending_keys")) {
      val p = plan(q)
      assert(!p.contains("from_json") && !p.contains("get_json_object"),
        s"$q re-parses JSON in the probe:\n$p")
      assert(!p.contains("date_trunc"), s"$q re-derives the day column:\n$p")
      assert(p.contains("Scan parquet") || p.contains("FileScan"),
        s"$q does not scan the materialized frame:\n$p")
    }
  }

  test("token-family probes scan the materialized tf frame — no re-explode in the plan") {
    // the round-13 token amortization contract: once the
    // content-addressed tf frame exists, q130/q137/q139/q146 are
    // narrow parquet probes — the text explode lives ONLY in the
    // one-off build (q144 keeps one bounded Generate: the
    // vocab-bounded triangle explode, asserted separately)
    graft.engine.Tiers.tok.build(spark, sfDir)
    for (q <- Seq("q130_token_pmi", "q137_textrank",
        "q139_inverted_index", "q146_oov_rate")) {
      val p = plan(q)
      assert(!p.contains("Generate"), s"$q re-explodes the corpus:\n$p")
      assert(p.contains("Scan parquet") || p.contains("FileScan") ||
        p.contains("ExistingRDD"), // q137's checkpointed iteration leaves
        s"$q does not scan the materialized frame:\n$p")
    }
    val pt = plan("q144_triangles")
    assert(pt.contains("Scan parquet") || pt.contains("FileScan"),
      s"q144 does not scan the materialized frame:\n$pt")
  }

  test("cohesion/agreement/ann-quality probes stay on materialized frames") {
    // q245 probes the cascade's pairs+labels (no shingle Generate, no
    // CC re-run); q246 probes the arm rankings (no rank window);
    // q244's ANN arms probe the partitioned index
    val pc = plan("q245_cluster_cohesion")
    assert(!pc.contains("CartesianProduct"), pc)
    assert(!pc.contains("Generate"), s"q245 re-shingles the corpus:\n$pc")
    assert(pc.contains("Scan parquet") || pc.contains("FileScan"), pc)
    val pa = plan("q246_arm_agreement")
    assert(!pa.contains("CartesianProduct"), pa)
    assert(!pa.contains("Window ["), s"q246 re-ranks in the probe:\n$pa")
    assert(!pa.contains("Generate"), s"q246 re-parses text:\n$pa")
    val pq = plan("q244_ann_quality")
    assert(!pq.contains("CartesianProduct"), pq)
    assert(pq.contains("dynamicpruning") && pq.contains("bucket_id"),
      s"q244's index arms lost dynamic partition pruning:\n$pq")
  }

  test("URL funnel: equi/semi joins only; retrieval quality broadcasts its panels") {
    // q236: the gate is one (host, page_key) groupBy + a per-host
    // window; every stage filter is an id-keyed semi-join — no
    // products anywhere in the composed funnel
    val pf = plan("q236_url_funnel")
    assert(!pf.contains("CartesianProduct"), s"q236 plans a product:\n$pf")
    assert(pf.contains("LeftSemi"), s"q236 lost its semi-join stages:\n$pf")
    // q237 (round-13): arms AND the relevance labels come from the
    // materialized frames, so the probe carries no rank window and no
    // shingle explode — metric assembly over parquet scans only
    val pq = plan("q237_retrieval_quality")
    assert(!pq.contains("CartesianProduct"), s"q237 plans a product:\n$pq")
    assert(!pq.contains("Window ["), s"q237 re-ranks in the probe:\n$pq")
    assert(pq.contains("Scan parquet") || pq.contains("FileScan"),
      s"q237 does not scan the materialized frames:\n$pq")
  }

  test("tf-idf folds the corpus count into the plan as a broadcast 1-row aggregate") {
    val p = plan("q50_tfidf_top_term")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("rank-filtered window sites plan a WindowGroupLimit (bounded per-partition rows)") {
    // these sites keep the rank column in their output, so the
    // TopKRewriteRule can never fire on them; they are scale-safe only
    // because Spark's InferWindowGroupLimit bounds each partition to
    // the top k rows BEFORE the window sort. Pin that inference so a
    // future conf or Spark change can't silently reintroduce full
    // per-group sorts at these five sites.
    for (q <- Seq("q37_cosine_topk", "q39_ann_topk", "q50_tfidf_top_term",
        "q53_ann_mllib", "q64_ann_ivf")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"), s"$q lost its group-limit bound:\n$p")
    }
    // annTopKMultiProbe is not a driver query; audit it directly
    val mp = graft.operators.Similarity.annTopKMultiProbe(
      graft.engine.Tables.embeddings(spark, sfDir))
    assert(mp.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("runtime bloom-filter pruning fires on a filtered fact-to-fact shuffle join") {
    // the fact⋈fact analogue of dynamic partition pruning: when the
    // filtered side of a shuffle join is selective, Spark injects a
    // bloom filter from it into the big side's scan, so most probe rows
    // die before the exchange. At 100 TB (thresholds at their
    // defaults: 10 MB creation side, 10 GB application side) this is
    // exactly the join q19-style workloads compile to; the sf0.1
    // fixture only needs the thresholds lowered to show the same plan.
    import graft.engine.Tables
    val conf = spark.conf
    val savedBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAppSide = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
      val ord = Tables.orders(spark, sfDir)
        .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
        .select("o_orderkey")
      val joined = li.join(ord,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"), s"no bloom runtime filter injected:\n$p")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        savedAppSide)
    }
  }

  test("boilerplate mining: take-ordered global rank over a partial aggregate") {
    // SCALE.md's q80 shape: each doc's vote collapses map-side, and
    // the top-20 cut never materializes a full sort of the vocabulary
    val p = plan("q80_boilerplate_ngrams")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_"), p)
  }

  test("quantized top-k: broadcast query set, no cartesian product") {
    val p = plan("q81_quantized_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("source quality gate broadcasts the per-source threshold frame") {
    // the fact side must never shuffle for the join: thresholds are a
    // one-row-per-source frame broadcast back onto the documents
    val p = plan("q82_source_quality_gate")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("centroid outliers: broadcast centroid frame + group-limited window") {
    // the corpus side must not shuffle for the centroid join (the
    // centroid frame is #labels rows), and the worst-k filter must
    // push a WindowGroupLimit instead of fully sorting each label
    val p = plan("q87_centroid_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("kNN prediction: the only product is against the broadcast query set") {
    val p = plan("q88_knn_predict")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("PPS sampling selects via TakeOrdered, never a full global sort") {
    val p = plan("q89_pps_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("snapshot diff shuffles fingerprint rows, not documents") {
    // both sides must project to (id, md5) BEFORE the exchange: the
    // executed plan's exchange inputs carry the fp column, and no
    // exchange carries the text column
    val p = plan("q90_snapshot_diff")
    assert(p.contains("md5"), p)
    val exchangeCarriesText = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .exists(_.contains("text"))
    assert(!exchangeCarriesText, p)
  }

  test("epoch expansion is generate-over-scan: no shuffle before the generator") {
    // the explode must sit directly on the projected scan; the only
    // exchange in the plan is the final presentation orderBy
    val p = plan("q91_epoch_expand")
    assert(p.contains("Generate"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("moving z-score windows over a BOUNDED row frame, never the whole partition") {
    // the trailing baseline must be a RowFrame [-10, -1]: an unbounded
    // frame would both change semantics (outlier absorbs itself) and
    // buffer entire partitions at scale
    val p = plan("q95_moving_zscore")
    assert(p.contains("specifiedwindowframe(RowFrame, -10, -1)"), p)
  }

  test("latest-per-key aggregates partially before the shuffle (no sort-the-world window)") {
    val p = plan("q101_latest_per_key")
    assert(p.contains("partial_max") || p.contains("partial_"), p)
    assert(!p.contains("Window"), p) // the max(struct) form, not row_number
  }

  test("doc chunking is generate-over-scan: no shuffle before the generator") {
    val p = plan("q100_chunk_docs")
    assert(p.contains("Generate"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("cross-source dups: fingerprint equi-join, no product, partial agg") {
    val p = plan("q102_cross_source_dups")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("hot keys select via TakeOrdered with the total as a broadcast 1-row frame") {
    val p = plan("q105_hot_keys")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("range join is an equi-join on bucket_id — no nested-loop product") {
    val p = plan("q107_range_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Generate"), p) // interval → bucket explode
  }

  test("salted join shuffles on (key, salt) — a real exchange, not broadcast") {
    val p = plan("q108_salted_join")
    assert(p.contains("SortMergeJoin"), p)
    val saltedExchange = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).exists(_.contains("salt"))
    assert(saltedExchange, p)
  }

  test("random projection's sign matrix is a plan literal — no per-row md5") {
    // the signs depend only on (j, i): recomputing md5 inside the row
    // fold costs outDim×dim hashes per ROW (measured 22.8 s at sf0.1
    // vs sub-second with the literal); the plan must carry the
    // materialized matrix, not the hash calls
    val p = plan("q97_random_projection")
    assert(!p.contains("md5"), p)
  }

  test("cube expands grouping sets map-side with partial aggregation") {
    val p = plan("q94_cube")
    assert(p.contains("Expand"), p)
    assert(p.contains("partial_"), p)
  }

  test("diversity sample runs on the custom TopKPerKey heap operator") {
    val p = plan("q92_diversity_sample")
    assert(p.contains("TopKPerKey"), p)
    assert(!p.contains("Window"), p) // heap selection, not a rank window
  }

  test("per-source PPS runs on the TopKPerKey heap, not a rank window") {
    val p = plan("q111_pps_per_source")
    assert(p.contains("TopKPerKey"), p)
    assert(!p.contains("Window"), p)
  }

  test("ANN recall report: every join is broadcast-sized, no cartesian") {
    val p = plan("q93_ann_recall")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("funnel: the per-user window chain shares ONE user_id exchange") {
    // three conditional-min window stages over the same partition key
    // must not re-shuffle per stage; the only other exchange feeds the
    // #steps-row funnel frame (SinglePartition), which is bounded by
    // the funnel definition, not the data
    val p = plan("q114_event_funnel")
    val userExchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning(user_id")).size
    assert(userExchanges == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cohorts, transitions, latency reuse the user partition; aggregates stay partial") {
    for (q <- Seq("q115_retention_cohort", "q116_event_transitions",
                  "q125_conversion_latency")) {
      val p = plan(q)
      assert(p.linesIterator
        .filter(_.contains("Exchange hashpartitioning(user_id")).size == 1, s"$q:\n$p")
      assert(p.contains("partial_"), s"$q missing partial aggregation:\n$p")
    }
  }

  test("KS test: the only ordered window runs over the post-aggregation bins frame") {
    // the histogram must aggregate (with map-side partials) BEFORE the
    // cumulative window, and the totals frame joins back via broadcast
    val p = plan("q118_ks_test")
    assert(p.contains("partial_"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    val windowAboveRaw = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning(event_type")).nonEmpty
    assert(!windowAboveRaw, p) // nothing re-shuffles raw events by type
  }

  test("fuzzy dedup: LSH-banded candidates, equi-joins only, no product") {
    // the driver query probes the materialized candidate frame — its
    // verify tail must stay equi-join-only with no re-shingling
    val p = plan("q119_fuzzy_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Generate"), p)
    assert(p.contains("cand"), p) // scans the cascade's candidate frame
    // the BUILD shape (self-computing form): banded md5 candidates
    val build = graft.operators.Dedup
      .fuzzyDupPairs(graft.engine.Tables.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!build.contains("CartesianProduct"), build)
    assert(!build.contains("BroadcastNestedLoopJoin"), build)
    assert(build.contains("md5"), build)
  }

  test("priority dedup: only 16-byte fingerprints cross the exchange, never text") {
    val p = plan("q120_priority_dedup")
    assert(p.contains("md5"), p)
    val exchangeCarriesText = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .exists(_.contains("text"))
    assert(!exchangeCarriesText, p)
  }

  test("bigram LM: the model joins back via broadcast; no array aggregation") {
    val p = plan("q121_bigram_lm")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("collect_list") && !p.contains("collect_set"), p)
  }

  test("count-min: counter matrix broadcasts; both aggregates stay partial") {
    // the depth×width counter frame must be the broadcast side of the
    // probe join (it is sketch-sized, never data-sized), and both the
    // sketch build and the truth count must partial-aggregate
    val p = plan("q134_countmin")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("prefix-Jaccard join: all equi-joins, no cartesian anywhere") {
    // candidate generation is the prefix-prefix hash join; the verify
    // is (doc, shingle) hash joins — a cartesian (or a broadcast
    // nested loop from the < predicate) means the blocking regressed.
    // q135 serves from its materialized frame, so the BUILD shape is
    // audited on the self-computing operator (what prebuildPairFamilies
    // runs) — the q33 discipline
    val p = graft.operators.Dedup.prefixJaccardJoin(
        graft.engine.Tables.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("containment join: a-prefix vs b-full stays equi-keyed, no cartesian") {
    // asymmetric prefix filter: the b-full side is the corpus (doc, h)
    // table keyed on h — a cartesian or nested loop means the
    // candidate generator regressed to all-pairs. BUILD shape audited
    // directly (q140 probes its materialized frame)
    val p = graft.operators.Dedup.containmentJoin(
        graft.engine.Tables.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("novelty: no pair generation — one min-agg and one equi-join back") {
    val p = plan("q141_novelty")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_min"), p)
  }

  test("kmeans: q142 probes the materialized cells; self-computing assignment is map-only broadcast") {
    // q142 now probes the content-addressed cells frame: the plan must
    // be a narrow parquet scan + projection + sort — no join of any
    // kind, no Window, no aggregate (the train ran once at build time)
    val p = plan("q142_kmeans")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(p.contains("Scan parquet"), p)
    // the self-computing path keeps the map-only shape: centroids
    // travel as one broadcast row; distances + argmin are per-row
    // HOFs. Since the eager-localCheckpoint change the update
    // aggregates run in their own per-iteration jobs, so the FINAL
    // plan must be exactly the map-side assignment: broadcast +
    // project, no Window, no CartesianProduct, and no aggregate at
    // all (an aggregate here would mean lineage truncation regressed
    // and an update stage leaked back into the replayed plan)
    val sp = graft.operators.Similarity
      .kmeans(graft.engine.Tables.embeddings(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!sp.contains("CartesianProduct"), sp)
    assert(!sp.contains("Window"), sp)
    assert(sp.contains("BroadcastNestedLoopJoin") || sp.contains("BroadcastExchange"), sp)
    assert(!sp.contains("HashAggregate"), sp)
  }

  test("PQ ADC probe: broadcast LUT equi-join, group-limited rank, no cartesian") {
    // the scale contract: the corpus side carries (vec_id, sub, code)
    // rows against a BROADCAST LUT (nQueries·m·k rows), the top-k rank
    // is group-limited, and nothing is a cartesian product (the 1-row
    // centroid broadcasts inside the encoder are BNLJ by design)
    val p = plan("q193_pq_ann")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("OHLC bars: struct arg-min/max is a partial aggregate, not a window") {
    // min/max over the (second, event_id, value) struct must map-side
    // combine — a Window node here means every event crosses the wire
    val p = plan("q143_ohlc_bars")
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_min"), p)
  }

  test("triangles: vocab-bounded ordered-triple joins, no cartesian") {
    val p = plan("q144_triangles")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("PSI drift: bin frames join broadcast; raw scan aggregates partially") {
    val p = plan("q136_psi_drift")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("textRank probe reads the materialized converged ranks — no graph, no iteration") {
    // the round-15 materialization (the q142/q196 discipline): the 10
    // damped rounds run once per corpus snapshot at prebuild; the
    // probe is a ≤-vocab-row parquet scan + round + TopK — no join,
    // no aggregate, no Generate, no window anywhere in the plan
    val p = plan("q137_textrank")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan parquet") || p.contains("FileScan"), p)
    assert(!p.contains("Join"), s"q137 rebuilds the graph in the probe:\n$p")
    assert(!p.contains("HashAggregate"), s"q137 iterates in the probe:\n$p")
    assert(!p.contains("Generate"), s"q137 re-tokenizes in the probe:\n$p")
  }

  test("bm25/hybrid probes scan the materialized arm — no ranking window, no text parse") {
    // the round-13 arm amortization contract (the props-pin pattern):
    // ranks were assigned once at build time, so the q138/q152 probes
    // are narrow parquet scans — no row_number window, no explode of
    // the text column, no corpus aggregate anywhere in the probe plan.
    // (PipelineOpsSpec-adjacent build pins live on the self-computing
    // operators, whose plans are unchanged.)
    for (q <- Seq("q138_bm25_topk", "q152_hybrid_rrf")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("Window ["), s"$q re-ranks in the probe:\n$p")
      assert(!p.contains("Generate"), s"$q re-parses text in the probe:\n$p")
      assert(p.contains("Scan parquet") || p.contains("FileScan"),
        s"$q does not scan the materialized arm:\n$p")
    }
  }

  test("inverted index: postings capped on the heap before any collect") {
    // the stopword-posting hazard: collect_list may only ever see the
    // TopKPerKey-capped frame, so the heap node must sit below the
    // list aggregate
    val p = plan("q139_inverted_index")
    assert(p.contains("TopKPerKey"), p)
    // collect_list must be PRESENT for the ordering assert to mean
    // anything (indexOf = -1 would pass it vacuously)
    assert(p.contains("collect_list"), p)
    assert(p.indexOf("TopKPerKey") > p.indexOf("collect_list"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("driver contract: oracle keys name real queries; qNN prefixes unique") {
    // the driver joins oracleSql to queries by key, and Bench's main
    // line keys results by the qNN prefix — both only work if every
    // oracle key resolves and no two queries share a prefix
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracle SQL with no query: $orphans")
    val prefixes = SparkEntry.queries.keys.toSeq.map(_.takeWhile(_ != '_'))
    val dups = prefixes.groupBy(identity).collect { case (p, v) if v.size > 1 => p }
    assert(dups.isEmpty, s"duplicate qNN prefixes: $dups")
  }

  test("hashed classifier: scoring stays map-only — one Exchange, the presentation sort") {
    // inference is a per-row transform/aggregate fold; any Exchange
    // beyond the final orderBy means the classifier started shuffling
    // the corpus (PipelineOpsSpec pins the same shape; this pin runs
    // at the driver-contract surface)
    val p = plan("q145_hashed_classifier")
    assert("(?i)exchange".r.findAllIn(p).size == 1, p)
  }

  test("power moments: anchors broadcast back; both aggregates stay partial") {
    // the 5-row anchor frame must come back as a broadcast, and the
    // power-sum aggregate must map-side combine — a sort-based or
    // shuffle-everything shape would defeat the mergeable-sums design
    val p = plan("q147_power_moments")
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("OOV rate: vocab head is TakeOrdered + broadcast, corpus side partial") {
    val p = plan("q146_oov_rate")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("partial_"), p)
  }

  test("association rules: distinct-first, equi-join on user, no cartesian pair blowup") {
    // the only cross joins are the broadcast 1-row totals; the pair
    // join must stay keyed on user_id
    val p = plan("q150_event_assoc")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("partial_"), p)
  }

  test("compaction plan: the only window runs over the per-day metadata frame") {
    // the cumulative sum may window — but only AFTER the per-day
    // aggregate (metadata-sized), never over raw orders rows
    val p = plan("q149_compaction_plan")
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx >= 0, p)
    // executedPlan prints top-down: the Window node must sit ABOVE
    // (before) at least one aggregate it consumes
    assert(p.indexOf("partial_", winIdx) >= 0,
      s"window is not over the aggregated file manifest:\n$p")
  }

  test("SCD2 history: both window passes share ONE user_id exchange") {
    // change detection + interval bounds are two Window stacks over
    // the same (user_id | sec, event_id) partitioning — a second
    // hash exchange would mean the filter broke the co-partitioning
    val p = plan("q153_scd_history")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("grouping sets: Expand feeds one partial-aggregated shuffle") {
    // both marginal strata ride one scan: Expand duplicates rows per
    // set BEFORE the exchange and the aggregate still map-side combines
    val p = plan("q154_grouping_sets")
    assert(p.contains("Expand"), p)
    assert(p.contains("partial_"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("semDedup: centroids broadcast, pair join keyed on cluster — no all-pairs product") {
    // the kmeans assignment is a broadcast of one centroid row; the
    // candidate stage must be an equi-join on cluster id (the
    // SemDeDup point: Σ|cell|² pairs, never n²)
    val p = plan("q155_semdedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("hashpartitioning(cluster") ||
      p.linesIterator.exists(l => l.contains("Join") && l.contains("cluster")), p)
  }

  test("vocabGrowth: token stream partial-aggregates; window only over tranche rows") {
    // the first-seen min and the token counts must map-side combine;
    // the cumulative window runs after aggregation (#buckets rows)
    val p = plan("q156_vocab_growth")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && p.indexOf("partial_", winIdx) >= 0,
      s"window is not over the aggregated tranche frame:\n$p")
  }

  test("kfold audit: pure map + one aggregation — no join, no window") {
    // the fold key is per-row hash arithmetic; anything beyond the
    // grouped count (a join back, a rank window) would mean the
    // assignment stopped being map-only
    val p = plan("q157_kfold_audit")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("histogram percentiles: one partial (hour, bin) aggregate; window over grid rows") {
    // the corpus is touched only by the bin-count aggregate (map-side
    // combined); the cumulative window and threshold fold must run
    // AFTER it, on the grid-bounded frame
    val p = plan("q158_hist_percentiles")
    assert(p.contains("partial_"), p)
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && p.indexOf("partial_", winIdx) >= 0,
      s"window is not over the aggregated grid frame:\n$p")
  }

  test("ewma level: last-per-user is a partial max(struct), not a rank window") {
    // the lag stack is one user_id window (one Exchange); the final
    // per-user pick must map-side combine — a second rank window here
    // would re-shuffle every event
    val p = plan("q160_ewma_level")
    assert(p.contains("partial_max"), p)
    assert(!p.contains("Join"), p)
    val aggIdx = p.indexOf("partial_max")
    assert(p.indexOf("Window", aggIdx) >= 0,
      s"lag window is not below the last-per-user aggregate:\n$p")
  }

  test("autocorr: corpus touched only by the (type, hour) partial count; " +
    "lag window over the grid") {
    val p = plan("q161_autocorr")
    assert(p.contains("partial_count") || p.contains("partial_"), p)
    assert(!p.contains("Join"), p)
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && p.indexOf("partial_", winIdx) >= 0,
      s"lag window is not over the aggregated hourly grid:\n$p")
  }

  test("theil-sen: pair join broadcasts the calendar-bounded grid; no product") {
    val p = plan("q162_theil_sen")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
    // the corpus-scale pass is the hourly partial count, below the join
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0 && p.indexOf("partial_count", joinIdx) >= 0,
      s"hourly partial aggregate is not below the pair join:\n$p")
  }

  test("readability is a pure per-row map: no shuffle except the presentation sort") {
    val p = plan("q163_readability")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("hashpartitioning"),
      s"readability must not hash-shuffle — it is a map over one scan:\n$p")
  }

  test("burstiness: one (user, type) window, then a partial aggregate to 5 rows") {
    val p = plan("q164_burstiness")
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_"), p)
    val aggIdx = p.indexOf("partial_")
    assert(p.indexOf("Window", aggIdx) >= 0,
      s"the gap window must sit below the per-type aggregate:\n$p")
    assert(p.contains("user_id") && p.contains("event_type"), p)
  }

  test("seasonal anomalies: profile joined back by broadcast; corpus scanned once") {
    val p = plan("q165_seasonal_anomaly")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0 && p.indexOf("partial_count", joinIdx) >= 0,
      s"hourly partial count is not below the profile join:\n$p")
  }

  test("expectations audit: one scan, distinct-count riding the same aggregate pass") {
    // Spark 4 plans the single-distinct agg as a group-by-key partial
    // (dedup the key while the other sums merge) — one scan, no Expand
    val p = plan("q166_expectations")
    assert(p.contains("partial_"), p)
    assert(p.contains("keys=[o_orderkey") && p.contains("merge_sum"),
      s"distinct-count must ride the same pass as the other checks:\n$p")
    assert(!p.contains("Join"), p)
    // exactly one scan of orders feeds all five checks
    assert(p.linesIterator.count(_.contains("FileScan parquet")) <= 1, p)
  }

  test("neyman sample: heap selection, broadcast quotas, no corpus rank window") {
    val p = plan("q167_neyman_sample")
    assert(p.contains("TopKPerKey"), s"selection must use the heap operator:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    // the rank window exists but must sit ABOVE the heap (candidate
    // rows), not above a corpus-scale exchange
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && p.indexOf("TopKPerKey", winIdx) >= 0,
      s"rank window is not over the heap candidates:\n$p")
  }

  test("k-anonymity audit: one scan, distinct bands riding the grouped partial") {
    val p = plan("q168_k_anonymity")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join"), p)
    assert(p.linesIterator.count(_.contains("FileScan parquet")) <= 1, p)
  }

  test("dsir: LM broadcast back, top-n as TakeOrdered, no product beyond " +
    "the 1-row totals") {
    val p = plan("q169_dsir_select")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("pivot: one partial (month, status) pass — the declared domain means " +
    "no driver discovery job") {
    val p = plan("q170_pivot_status")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join"), p)
    assert(p.linesIterator.count(_.contains("FileScan parquet")) <= 1, p)
  }

  test("unpivot: per-row Expand then one partial 4-group aggregate") {
    val p = plan("q171_unpivot_metrics")
    assert(p.contains("Expand"), s"unpivot must be an Expand, not a self-union:\n$p")
    assert(p.contains("partial_"), p)
    assert(p.linesIterator.count(_.contains("FileScan parquet")) <= 1,
      s"a UNION-ALL melt would scan lineitem four times:\n$p")
  }

  test("ref integrity: customer PK broadcasts; the orders edge stays a key join") {
    val p = plan("q172_ref_integrity")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("props profile BUILD: map explode is a Generate over one scan; one partial pass") {
    // the driver query is the materialized-frame PROBE since round 12
    // (see "props probes scan the materialized parsed frame"); this
    // pins the self-computing operator — the shape the one-off build
    // pays per corpus snapshot
    val p = graft.operators.JsonRouting.propsProfile(
        graft.engine.Tables.events(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(p.contains("Generate"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join"), p)
  }

  test("set relations: fingerprints shuffle, text never does") {
    val p = plan("q174_set_relations")
    assert(!p.contains("CartesianProduct"), p)
    // every exchange row is the 33-byte md5, never the text column
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && !exchanges.exists(_.contains("text#")),
      s"text crosses a shuffle:\n$p")
  }

  test("winnowing: no product; neither text nor shingle strings cross a shuffle") {
    val p = plan("q176_winnow_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(l => l.contains("text#") || l.contains("shingle#")),
      s"document text crosses a shuffle:\n$p")
  }

  test("cusum: one map-combined corpus pass; windows run on the calendar grid") {
    val p = plan("q177_cusum_changepoint")
    assert(p.contains("partial_"), s"daily counts must map-side combine:\n$p")
    // the only scans are the (type, day) count and the 1-row bounds agg —
    // the broadcast calendar product is over tiny aggregated frames
    assert(!p.contains("SortMergeJoin") || !p.contains("ts#"),
      s"raw events must not reach a join:\n$p")
  }

  test("multi-touch: user-key equi join, no product, map-combined final agg") {
    val p = plan("q178_multi_touch")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), s"channel report must map-side combine:\n$p")
  }

  test("peak concurrency: sweep partitions by day — no unpartitioned window") {
    val p = plan("q179_peak_concurrency")
    assert(!p.contains("CartesianProduct"), p)
    // every Window carries a partition spec (user_id or the epoch-day
    // index): an empty partitionBy is the single-partition sort trap
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, p)
    windows.foreach { w =>
      assert(w.contains("user_id#") || w.contains("di#"),
        s"unpartitioned window in the sweep:\n$w\n$p")
    }
  }

  test("session paths: the (user, sid) window reuses the user_id exchange; top-k is TakeOrdered") {
    val p = plan("q180_session_paths")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    // one hash exchange for the per-user windows (user_id), one for the
    // path aggregate — the (user_id, sid) prefix window must NOT add a third
    val hashEx = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.count(_.contains("user_id#")) == 1,
      s"(user_id, sid) window re-shuffled instead of reusing hash(user_id):\n$p")
  }

  test("cdc chunks: chunk text dies in the scan stage — only fingerprints shuffle") {
    val p = plan("q181_cdc_chunks")
    assert(!p.contains("CartesianProduct"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(l => l.contains("text#") || l.contains("tk#")
        || l.contains("chunk_text#") || l.contains("chunks#")),
      s"document/chunk text crosses a shuffle:\n$p")
  }

  test("hill tail index: corpus touched only by a TakeOrdered on one column") {
    val p = plan("q182_hill_tail")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    assert(p.contains("ReadSchema: struct<n_chars:"),
      s"scan must prune to the single length column:\n$p")
  }

  test("shared runs: equi joins only; no text in any exchange") {
    val p = plan("q183_shared_runs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(l => l.contains("text#") || l.contains("shingle#")),
      s"text crosses a shuffle:\n$p")
  }

  test("snm: windows partition by bucket; no product; no text in exchanges") {
    // BUILD shape audited directly (q184 probes its materialized
    // frame — the q33 discipline)
    val p = graft.operators.Dedup.snmNearDups(
        graft.engine.Tables.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, p)
    windows.foreach(w => assert(w.contains("bkt#"),
      s"SNM window must partition by bucket, never sort globally:\n$w"))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(!exchanges.exists(_.contains("text#")),
      s"text crosses a shuffle:\n$p")
  }

  test("source fingerprints: map-side xor partials; text never shuffles") {
    val p = plan("q185_source_fingerprints")
    assert(p.contains("partial_"), s"xor/count must map-side combine:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && !exchanges.exists(_.contains("text#")),
      s"text crosses a shuffle:\n$p")
  }

  test("interpolation: both bracket frames share one user_id exchange; no join at all") {
    val p = plan("q186_interpolate")
    assert(!p.contains("Join"), s"bracketing must be windows, not a range join:\n$p")
    val hashEx = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.count(_.contains("user_id#")) == 1,
      s"forward/backward frames must reuse one exchange:\n$p")
  }

  test("hll: register maxima partial-aggregate — the exchange merges sketches") {
    val p = plan("q187_hll_exact")
    assert(p.contains("partial_max") || p.contains("partial_"),
      s"register max must map-side combine (the HLL merge operator):\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ivm merge: both partial sides map-combine; one final hour exchange") {
    val p = plan("q188_incremental_hourly")
    assert(p.contains("partial_"), s"partials must map-side combine:\n$p")
    assert(!p.contains("Join"), s"the merge is union+re-aggregate, never a join:\n$p")
  }

  test("forget audit: anti/semi joins only — never a row-multiplying join") {
    val p = plan("q189_forget_audit")
    assert(p.contains("LeftAnti") || p.contains("LeftSemi"), p)
    // the only products are the 1-row audit-count combines
    assert(!p.contains("SortMergeJoin Inner") && !p.contains("ShuffledHashJoin Inner"), p)
  }

  test("permutation test: the 1-row counts frame broadcasts; rank windows partition by b") {
    val p = plan("q190_permutation_test")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the counts frame must broadcast:\n$p")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("b#")),
      s"rank windows must partition by permutation id:\n$p")
  }

  test("scd lookup: user-key equi join drives the range predicate; no product") {
    val p = plan("q175_scd_lookup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the equi half of the condition must drive a hash/merge join:\n$p")
    assert(p.contains("user_id"), p)
  }

  test("golden record: label probe joins docs on doc_id, window partitions by cluster") {
    // q212 probes the materialized label frame (scan + equi-join +
    // per-cluster window) — the build shape is pinned by the cascade
    // audits; nothing here may regenerate shingles or pairs
    val p = plan("q212_golden_record")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Generate"), s"the probe must not re-shingle:\n$p")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("cluster_id#")),
      s"survivorship window must partition by cluster_id:\n$p")
  }

  test("rbo: the probe is the suffix-weight join over two arm scans — no rank window") {
    // round-13: both rankings come from the materialized arm frames,
    // so the q213 probe carries no row_number window and no text
    // explode — only the (q_id, doc_id) equi-join, the per-q_id
    // aggregate (partial), and the closing divide
    val p = plan("q213_rbo_rankings")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window ["), s"q213 re-ranks in the probe:\n$p")
    assert(!p.contains("Generate"), s"q213 re-parses text in the probe:\n$p")
    assert(p.contains("Scan parquet") || p.contains("FileScan"), p)
    assert(p.contains("partial_"), p)
  }

  test("cdc compact: last-writer window inside user partitions, no global sort") {
    val p = plan("q214_cdc_compact")
    assert(!p.contains("CartesianProduct"), p)
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("user_id#")),
      s"the last-writer window must partition by user_id:\n$p")
    assert(p.contains("partial_"), p)
  }

  test("source overlap: intersection is a gram-hash equi-join; sizes broadcast") {
    val p = plan("q215_source_overlap")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
    // the |S|-row closed-matrix cross is the ONLY permitted non-equi join;
    // the gram-hash intersection itself must be a hash/merge equi-join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || "BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
  }

  test("churn labels: one observation-window aggregate, holdout joins ids only") {
    val p = plan("q216_churn_labels")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("markov stationary: iteration steps probe the cached rate frame, not the data") {
    val p = plan("q218_markov_stationary")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
    // the rate frame is persisted: every power-iteration step reads
    // InMemoryTableScan — a raw re-scan of events per step would show
    // Scan parquet OUTSIDE an InMemoryRelation block (the cached
    // plan's printed lineage repeats its child scan; runtime executes
    // it once)
    assert(p.contains("InMemoryTableScan"),
      s"power iteration must probe the cached rate frame:\n$p")
  }

  test("mmr rerank: one shortlist scan, greedy phase is a single MapGroups pass") {
    val p = plan("q219_mmr_rerank")
    assert(!p.contains("CartesianProduct"), p)
    // the k greedy picks run inside ONE typed mapGroups over the
    // bounded per-query pool — a frame-per-pick formulation costs ~5
    // shuffle stages per pick (measured 11 s of stage scheduling)
    assert(p.contains("MapGroups"), s"greedy must be a single local pass:\n$p")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("q_id#")),
      s"the shortlist ranking window must partition by q_id:\n$p")
  }

  test("poisson bootstrap: all replicates ride one pass; replicate sums partial-agg") {
    val p = plan("q220_poisson_bootstrap")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
    // point estimate + replicate fan-out share the persisted row frame
    assert(p.contains("InMemoryTableScan"), p)
    // the 41-replicate fan-out is a Generate over the row, never a join
    assert(p.contains("Generate"), p)
  }

  test("trending keys: top-N is TakeOrdered, counts partial-agg before the shuffle") {
    val p = plan("q222_trending_keys")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cross correlation: the shifted self-join is an equi-join on the day spine") {
    val p = plan("q223_cross_correlation")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
    // the lag fan-out explodes the BOUNDED spine, never the events
    assert(p.contains("Generate"), p)
  }

  test("selfjoin estimate: exact and sampled F2 share one key-count aggregate") {
    val p = plan("q225_selfjoin_estimate")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join"), s"both moments fold in one aggregate, no join:\n$p")
  }

  test("packing sweep: the four-length fold is a single MapGroups over shards") {
    val p = plan("q226_packing_sweep")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("MapGroups"), s"pack state is sequential per shard:\n$p")
  }

  test("no driver-side collect hides in any query plan (all run as jobs)") {
    // every query must be expressible as a single DataFrame action;
    // constructing the frame must not itself trigger row collection to
    // the driver beyond metadata (class-weight style 2-row aggs are
    // allowed in ML queries, which are excluded here)
    val nonMl = SparkEntry.queries.keys.filterNot(_.startsWith("q4"))
    for (q <- nonMl) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      assert(df.queryExecution.analyzed != null)
    }
  }
}
