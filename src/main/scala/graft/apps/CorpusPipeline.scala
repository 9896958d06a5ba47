package graft.apps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.LogicalRDD

import graft.engine.{JsonlSink, ParquetSink}
import graft.operators.{Dedup, TextAnalysis, TrainingData}

/** The end-to-end LLM-training-corpus pipeline — every stage an
  * already-oracled operator, composed the way a production batch run
  * would chain them:
  *
  *   raw docs
  *     → quality gate (schema-preserving)   [[TextAnalysis.gopherGateFilter]]
  *     → boilerplate-coverage cut (opt-in)  [[TextAnalysis.boilerplateCoverage]]
  *     → exact + cluster-canonical near-dup [[Dedup.cleaningPipelineClustered]]
  *     → PII scrub                          [[TextAnalysis.piiScrub]]
  *     → eval-set decontamination filter    [[TrainingData.evalDecontaminate]]
  *     → semantic dedup (opt-in, last filter — chain-drop-safe)
  *                                          [[graft.operators.Similarity.semDedup]]
  *     → temperature reweighting (opt-in)   [[TrainingData.temperatureMixture]]
  *     → DSIR target selection (opt-in)     [[TrainingData.dsirSelect]]
  *     → PPS ship budget (opt-in)           [[TrainingData.ppsSample]]
  *     → packed training shards             [[ParquetSink.writeTrainingShards]]
  *     → JSONL interchange export           [[JsonlSink.writePartitioned]]
  *
  * Stage order is the batch twin of the streaming tier's
  * ([[graft.streaming.StreamPipeline.cleanIngest]]) reasoning: the
  * stateless gate runs first so rejected docs never reach the dedup
  * cascade; dedup runs on the RAW text (the same identity the
  * incremental tiers admit on); the regex scrub runs after cleaning so
  * only surviving documents pay it; decontamination sees the final
  * text it will actually train on.
  *
  * The returned [[Report]] counts come from ONE audit aggregation
  * after the writes — per-stage membership flags left-joined onto the
  * id-only corpus scan and counted together — instead of one count()
  * action per stage (five corpus passes) or `observe` metrics (a
  * CollectMetrics node races cold-cache consumers at multi-executor
  * scale and inflates); the audit numbers a production run records
  * anyway.
  *
  * The pipeline's own stage frames (`gated`, `scrubbed`, `kept`, and
  * the opt-in boilerplate input and semantic-dedup survivors) are
  * checkpoints, not persisted frames: an eager `localCheckpoint`, or a
  * reliable `checkpoint` into `checkpointDir` when one is given (a
  * checkpoint dir the session already has wins), the two choices
  * [[Dedup.dupClusters]] makes for its rounds. Each later stage then
  * reads a one-node `Scan ExistingRDD`. A persisted frame would
  * instead carry its whole cached plan, and these frames sit inside
  * each other, so every action downstream would describe a plan that
  * doubles with each level of nesting: AQE re-renders that
  * description on the driver before each stage it submits.
  *
  * On exit the run releases what it made. The stage checkpoints'
  * blocks are unpersisted in either mode (`catalog.clearCache()` does
  * not reach them). `clearCacheOnExit = true` (the default) then
  * clears EVERY cached frame in the session. `false` instead uncaches
  * exactly the cached frames built on a stage checkpoint: the
  * interior caches of `cleaningPipelineClustered`, `evalDecontaminate`
  * and the opt-in tiers, whose handles those stages do not expose.
  * The caller's own caches stay. Files of a reliable checkpoint are
  * the caller's to delete, as for [[Dedup.dupClusters]].
  */
object CorpusPipeline {

  /** Per-stage document counts: raw input → URL-gate survivors
    * (= input when the opt-in URL stage is off) → gate survivors
    * (incl. the optional boilerplate-coverage cut) → dedup canonical
    * survivors → decontamination survivors → shipped (= kept, unless
    * the optional temperature-mixture or PPS-budget stages
    * downsampled it).
    */
  case class Report(input: Long, urlKept: Long, gated: Long, cleaned: Long,
                    kept: Long, shipped: Long)

  def run(rawDocs: DataFrame, evalDocs: DataFrame,
          shardDir: String, jsonlDir: String,
          maxContamRatio: Double = 0.5,
          nShards: Int = 4, seqLen: Int = 256,
          checkpointDir: Option[String] = None,
          clearCacheOnExit: Boolean = true,
          maxBoilerplate: Option[Double] = None,
          mixtureTemperature: Option[Double] = None,
          maxShipDocs: Option[Int] = None,
          embeddings: Option[DataFrame] = None,
          semDedupTau: Double = 0.35,
          dsirTopN: Option[Int] = None,
          urlHostCap: Option[Int] = None,
          cohesionFloorBp: Option[Long] = None,
          budgetMult: Option[Int] = None,
          capEpochsQ4: Option[Long] = None,
          evalEmbeddings: Option[DataFrame] = None,
          decontamTopK: Int = 50,
          typologyDecontam: Boolean = false,
          dropParaphrase: Boolean = true): Report = {
    // the semantic-decontamination tier scores CORPUS embeddings
    // against the eval panel: with evalEmbeddings supplied but no
    // corpus embeddings the tier has nothing to score and would be
    // skipped SILENTLY — the caller believes eval leakage was removed
    // while the corpus ships undecontaminated. A safety-oriented stage
    // fails loudly instead.
    require(evalEmbeddings.isEmpty || embeddings.isDefined,
      "CorpusPipeline: evalEmbeddings supplied without corpus " +
        "embeddings — the semantic decontamination tier cannot score " +
        "anything; pass embeddings=Some(...) or drop evalEmbeddings")
    // same hazard class, other direction: asking for the typology cut
    // without the frames it scores would silently skip the tier
    require(!typologyDecontam ||
        (embeddings.isDefined && evalEmbeddings.isDefined),
      "CorpusPipeline: typologyDecontam requires both embeddings and " +
        "evalEmbeddings — without them the typology tier cannot run")
    // opt-in URL curation stage, FIRST (RefinedWeb §3 ordering: URL
    // mirror-dedup + per-host capping before any content look — the
    // cheapest gate runs before the cascade ever tokenizes a mirror)
    val docs = urlHostCap match {
      case Some(cap) => rawDocs.join(
        graft.operators.UrlCuration.urlGateKeepers(rawDocs, cap),
        Seq("doc_id"), "left_semi")
      case None => rawDocs
    }
    val gopherGated0 = TextAnalysis.gopherGateFilter(docs)
    // optional template cut: mine the corpus top-20 boilerplate grams
    // and drop documents whose coverage exceeds the threshold. Runs on
    // the gopher survivors, whose min-token rule guarantees every doc
    // has grams (so absence from the coverage frame cannot occur and
    // the semi-join is exact). Before dedup on purpose: boilerplate
    // docs are exactly the ones that explode LSH buckets.
    val cuts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def stage(df: DataFrame): DataFrame = {
      val c = cut(df, checkpointDir)
      cuts += c
      c
    }
    val gated = stage(maxBoilerplate match {
      case Some(t) =>
        val gg = stage(gopherGated0)
        gg.join(
          TextAnalysis.boilerplateCoverage(gg)
            .filter(col("boiler_fraction") <= t).select("doc_id"),
          Seq("doc_id"), "left_semi")
      case None => gopherGated0
    })
    // cleaningPipelineClustered emits (doc_id, n_tokens, fingerprint);
    // the text rides back in via a doc_id equi-join against the gated
    // frame (cheap: survivors-sized build side, no text re-derivation)
    // cohesionFloorBp (opt-in): the q245→q251 guard — clusters whose
    // edge density says "chain merge" keep all their members instead
    // of being canonical-wiped
    val cleaned = Dedup.cleaningPipelineClustered(
      gated, checkpointDir = checkpointDir,
      cohesionFloorBp = cohesionFloorBp)
    val survivors0 = gated.join(
      cleaned.select("doc_id"), Seq("doc_id"), "left_semi")
    val scrubbed = stage(TextAnalysis.piiScrub(survivors0, ordered = false)
      .select(col("doc_id"), col("clean_text").as("text")))
    // the eval corpus is scrubbed IDENTICALLY before shingling: the
    // training side compares post-scrub text, so an unscrubbed eval
    // vocabulary would mismatch every shingle spanning a redacted
    // token and let PII-bearing eval documents leak past the filter
    val scrubbedEval = TextAnalysis.piiScrub(evalDocs, ordered = false)
      .select(col("doc_id"), col("clean_text").as("text"))
    val contamOk = TrainingData.evalDecontaminate(
        scrubbed, evalDocs = Some(scrubbedEval))
      .filter(col("contam_ratio") <= maxContamRatio)
      .select("doc_id")
    val kept0 = scrubbed.join(contamOk, Seq("doc_id"), "left_semi")
    // optional SEMANTIC dedup tier (SemDeDup, q155): text-level
    // cleaning cannot see a paraphrase; when an embedding table is
    // supplied (vec_id ≡ doc_id — embeddings may cover a SUBSET of
    // the corpus, unembedded docs pass through untouched), every doc
    // condemned by a lower-id same-cluster neighbor above τ is
    // anti-joined away. This tier runs LAST among the filters, over
    // embeddings restricted to the docs every earlier stage kept —
    // two reasons, both load-bearing: (1) chain-drop safety — scoring
    // docs that a lexical/decontamination stage removed (or will
    // remove) could condemn a survivor whose only keeper is itself
    // gone, shipping the content with NO representative; (2) cost —
    // the pairwise cosine tier pays only for documents that can
    // actually ship.
    val kept1 = embeddings match {
      case Some(emb) =>
        val embAlive = emb.join(
          kept0.select(col("doc_id").as("vec_id")), Seq("vec_id"),
          "left_semi")
        val drops = graft.operators.Similarity
          .semDedup(embAlive, tau = semDedupTau)
          .select(col("drop_id").as("doc_id"))
        kept0.join(drops, Seq("doc_id"), "left_anti")
      case None => kept0
    }
    // optional SEMANTIC decontamination tier (the q255 queue ACTED
    // ON): when an eval-EMBEDDING frame is supplied (the real
    // benchmark vectors — not the n-gram eval docs above, which
    // cannot see a paraphrase), the decontamTopK surviving docs
    // nearest ANY eval vector are anti-joined away. Rank-based, not
    // threshold-based, for the q255 reason: the right cosine cutoff
    // is unknowable a priori — review the ranked queue, then set K.
    // Runs on the semDedup survivors so the cut is spent on docs
    // that can actually ship; like the semDedup tier, docs without
    // an embedding pass through untouched.
    val kept = stage((embeddings, evalEmbeddings) match {
      case (Some(emb), Some(evEmb)) =>
        // kept1's lineage (the whole semDedup tier) is read TWICE in
        // this branch — the embAlive semi-join and the final anti-join
        // — so it is a stage cut of its own
        val k1 = stage(kept1)
        val embAlive = emb.join(
          k1.select(col("doc_id").as("vec_id")), Seq("vec_id"),
          "left_semi")
        // typologyDecontam (opt-in): the q258 quadrant report's
        // verdict instead of the bare rank cut — verbatim docs
        // (queue ∩ shared eval n-gram) always go, paraphrase docs
        // (queue-only) go under the dropParaphrase policy, and
        // boilerplate docs (n-gram-only surface coincidence) are
        // NEVER cut by this tier: reconciling the two levels is
        // exactly what stops a pure n-gram decontam from deleting
        // template text the embedding says is not close to eval.
        // The n-gram side scores the post-scrub text both sides
        // (the same identity the n-gram decontam tier above used).
        // At dropParaphrase = true the typology drop set is PROVABLY
        // the rank queue itself (verbatim ∪ paraphrase = exactly the
        // top-K members, by the quadrant definitions), so the run
        // takes the cheaper rank kernel and spends the corpus-wide
        // shingle join only when the policy actually reads the
        // n-gram flag (dropParaphrase = false: only docs confirmed
        // BOTH ways are cut).
        val drops = (if (typologyDecontam && !dropParaphrase)
          graft.operators.Similarity
            .leakTypologyDropIds(embAlive, evEmb, k1, scrubbedEval,
              topK = decontamTopK, dropParaphrase = false)
        else
          graft.operators.Similarity
            .decontamDropIds(embAlive, evEmb, decontamTopK))
          .select(col("vec_id").as("doc_id"))
        k1.join(drops, Seq("doc_id"), "left_anti")
      case _ => kept1
    })
    // optional temperature reweighting of the FINAL corpus (rates are
    // computed on what survived cleaning, which is what trains): lang
    // rides back in on doc_id since the scrub projection dropped it
    val reweighted = mixtureTemperature match {
      case Some(t) => kept.join(
        TrainingData.temperatureMixture(
            kept.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")),
            temperature = t)
          .select("doc_id"),
        Seq("doc_id"), "left_semi")
      case None => kept
    }
    // optional DSIR cut: keep the n survivors whose hashed-n-gram
    // distribution is most like the (scrubbed) eval target — the
    // distribution-matching budget, vs PPS's length-weighted one.
    // Source rides back in on doc_id for the report columns.
    val targeted = dsirTopN match {
      case Some(n) => reweighted.join(
        TrainingData.dsirSelect(
            reweighted.join(docs.select(col("doc_id"), col("source")),
              Seq("doc_id")),
            n = n, targetDocs = Some(scrubbedEval))
          .select("doc_id"),
        Seq("doc_id"), "left_semi")
      case None => reweighted
    }
    // optional fixed-size ship budget: PPS (length-weighted) selection
    // over the post-scrub text the run actually ships — long documents
    // are proportionally favored, and the md5-priority draw keeps the
    // cut rerun-stable. Runs LAST so the budget is spent on documents
    // that survived every quality stage.
    val shipped = maxShipDocs match {
      case Some(n) => targeted.join(
        TrainingData.ppsSample(
            targeted.withColumn("source", org.apache.spark.sql.functions.lit("kept"))
              .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text"))),
            n = n)
          .select("doc_id"),
        Seq("doc_id"), "left_semi")
      case None => targeted
    }
    // budgetMult (opt-in): epoch-expand the shipped corpus by the
    // q247 data-budget plan (q250) instead of training one fixed pass
    // per document — each (doc, pass) copy gets a distinct synthetic
    // id (doc_id·2^headroom + epoch) so the shard packer's doc_id keys
    // stay unique and the pack order stays deterministic. Headroom
    // comes from the plan itself (#sources rows collected — metadata,
    // not data), so ids can never collide whatever the budget.
    val sharded = budgetMult match {
      case Some(m) =>
        val withSrc = shipped.join(docs.select("doc_id", "source"), Seq("doc_id"))
        // capEpochsQ4 (opt-in, rides budgetMult): expand by the q253
        // CAPPED plan (q256) instead of the raw q247 one — the
        // headroom guard reads the SAME plan the expansion uses, since
        // redistribution can push an uncapped source's epoch count
        // past its raw value
        val planEpochs = capEpochsQ4 match {
          case Some(c) => TrainingData.cappedBudgetPlan(withSrc, m, c)
            .select(org.apache.spark.sql.functions.expr(
              "CAST(epochs_final_q4 div 10000 AS BIGINT)").as("ep"))
          case None => TrainingData.dataBudgetPlan(withSrc, m)
            .select(org.apache.spark.sql.functions.expr(
              "CAST(epochs_q4 div 10000 AS BIGINT)").as("ep"))
        }
        // max over an EMPTY plan (every earlier stage dropped every
        // doc) is null — guard it so the degenerate run writes empty
        // shards instead of NPE-ing on getLong
        val maxRow = planEpochs
          .agg(org.apache.spark.sql.functions.max(col("ep"))).head()
        val maxEpoch = (if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)) + 1L
        val mult = java.lang.Long.highestOneBit(math.max(maxEpoch, 1L)) * 4L
        val expanded = capEpochsQ4 match {
          case Some(c) => TrainingData.cappedExpandedDocs(withSrc, m, c)
          case None => TrainingData.epochExpandedDocs(withSrc, m)
        }
        expanded
          .join(shipped.select("doc_id", "text"), Seq("doc_id"))
          .select((col("doc_id") * mult + col("epoch")).as("doc_id"),
            col("text"))
      case None => shipped
    }
    ParquetSink.writeTrainingShards(sharded, shardDir, nShards, seqLen)
    JsonlSink.writePartitioned(shipped, jsonlDir)
    // Stage counts in ONE audit aggregation instead of five count()
    // actions: membership flags for every stage frame left-join the
    // id-only corpus scan, and a single count-the-flags aggregate
    // reads them all. Runs AFTER the writes, so the flag frames are
    // checkpointed (gated/kept) or cheap id projections — at 100 TB
    // this is one narrow pass, not five corpus re-scans. Deliberately
    // NOT `observe`/CollectMetrics: a metrics node under a cache that
    // two cold consumers race (multi-executor reality for every frame
    // here) fires once PER COMPUTATION and silently inflates the
    // counters — an aggregation over materialized frames cannot.
    val flag = org.apache.spark.sql.functions.lit(1)
    val audit = rawDocs.select(col("doc_id"))
      .join(docs.select(col("doc_id")).withColumn("u", flag), Seq("doc_id"), "left")
      .join(gated.select(col("doc_id")).withColumn("g", flag), Seq("doc_id"), "left")
      .join(cleaned.select(col("doc_id")).withColumn("c", flag), Seq("doc_id"), "left")
      .join(kept.select(col("doc_id")).withColumn("k", flag), Seq("doc_id"), "left")
      .join(shipped.select(col("doc_id")).withColumn("s", flag), Seq("doc_id"), "left")
      .agg(
        org.apache.spark.sql.functions.count(flag).as("input"),
        org.apache.spark.sql.functions.count(col("u")).as("url_kept"),
        org.apache.spark.sql.functions.count(col("g")).as("gated"),
        org.apache.spark.sql.functions.count(col("c")).as("cleaned"),
        org.apache.spark.sql.functions.count(col("k")).as("kept"),
        org.apache.spark.sql.functions.count(col("s")).as("shipped"))
      .head()
    val report = Report(audit.getLong(0), audit.getLong(1),
      audit.getLong(2), audit.getLong(3), audit.getLong(4), audit.getLong(5))
    release(cuts.toSeq, clearCacheOnExit)
    report
  }

  /** Materializes a stage frame and cuts its plan there: an eager
    * `localCheckpoint`, or a reliable `checkpoint` when `checkpointDir`
    * is given (a checkpoint dir the session already has is honored,
    * not overridden). The result's plan is one `LogicalRDD`. */
  private def cut(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }

  /** The run's exit: unpersists the stage checkpoints' RDDs, and
    * clears the session's whole cache (`clearAll`) or only the cached
    * frames whose plans read a stage checkpoint (a cascading uncache). */
  private def release(cuts: Seq[DataFrame], clearAll: Boolean): Unit = {
    val spark = castToImpl(cuts.head.sparkSession)
    val plans = cuts.map(_.queryExecution.logical)
    if (clearAll) spark.catalog.clearCache()
    else plans.foreach(spark.sharedState.cacheManager.uncacheQuery(spark, _,
      cascade = true, blocking = false))
    plans.foreach { case r: LogicalRDD => r.rdd.unpersist(blocking = false) }
  }

  /** spark-submit entry: `runMain graft.apps.CorpusPipeline [sfDir outDir
    * [semdedup]]`. Uses the corpus's own `doc_id % 10 == 0` slice as
    * the eval set — the same convention
    * [[TrainingData.evalDecontaminate]] defaults to when no explicit
    * eval corpus is supplied. A literal third argument `semdedup`
    * enables the opt-in semantic tier against the dataset's
    * embeddings table.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-corpus").toString)
    val withSem = args.lift(2).contains("semdedup")
    val spark = graft.SparkEntry.session()
    try {
      val t0 = System.nanoTime()
      val docs = graft.engine.Tables.documents(spark, sfDir)
      val r = run(docs, docs.filter(col("doc_id") % 10 === 0),
        s"$outDir/shards", s"$outDir/jsonl",
        embeddings =
          if (withSem) Some(graft.engine.Tables.embeddings(spark, sfDir))
          else None)
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"corpus pipeline: input=${r.input} url=${r.urlKept} " +
        s"gated=${r.gated} cleaned=${r.cleaned} kept=${r.kept} " +
        s"shipped=${r.shipped} " + f"wall=$sec%.1fs out=$outDir")
    } finally spark.stop()
  }
}
