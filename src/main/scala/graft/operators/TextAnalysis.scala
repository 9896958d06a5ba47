package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.ContentAddress

/** Text-analysis layer for LLM-training-data pipelines: token
  * counting (whitespace + regex "BPE-ish"), quality scoring, language
  * ID heuristics, and rolling-hash document fingerprinting.
  *
  * All functions are built from codegen'd Spark built-ins (split,
  * regexp_extract_all, higher-order filter/aggregate) — no UDFs — so
  * they stay inside WholeStageCodegen and scale linearly with no
  * shuffle (per-document narrow transforms).
  */
object TextAnalysis {

  /** Function-word markers used by the ratio features and the language
    * heuristic. Kept tiny and deterministic.
    */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and")

  private def toks: Column = split(col("text"), " ")

  /** Per-document text statistics: whitespace token count, a
    * regex-word count (the "BPE-ish" lower bound — alnum runs), char
    * length, stopword ratio, and mean token length.
    */
  def textStats(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("n_words_re"),
        length(col("text")).as("len_chars"),
        round(size(filter(toks, t => t.isin(stopwords: _*))).cast("double") / size(toks), 4)
          .as("stopword_ratio"),
        round(length(col("text")).cast("double") / size(toks), 4).as("avg_token_len"))
      .orderBy("doc_id")

  /** Composite quality score in [0,1]: longer documents with healthy
    * stopword presence and moderate token length score higher.
    * Deterministic arithmetic only — reproducible everywhere.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val (lengthScore, stopScore) = qualityScoreTerms
    docs.select(
        col("doc_id"),
        round(lengthScore, 4).as("length_score"),
        round(stopScore, 4).as("stop_score"),
        round((lengthScore + stopScore) / lit(2.0), 4).as("quality"))
      .orderBy("doc_id")
  }

  /** The two score terms [[qualityScore]] reports and
    * [[sourceQualityGate]] calibrates on — one definition so the gate
    * can never disagree with the audit report.
    */
  private def qualityScoreTerms: (Column, Column) = {
    val nTok = size(toks)
    val stopRatio = size(filter(toks, t => t.isin(stopwords: _*))).cast("double") / nTok
    (least(nTok.cast("double") / lit(50.0), lit(1.0)),
      least(stopRatio * lit(10.0), lit(1.0)))
  }

  /** Cross-source quality normalization: the percent-rank of each
    * document's quality WITHIN its source. Absolute quality scores
    * are not comparable across sources (a 0.6 on a high-quality crawl
    * may be top-decile on a noisy one), so corpus-wide cuts on the
    * raw score silently over-prune weak sources; ranking within
    * source first makes one threshold mean the same thing everywhere
    * — the standard move before blending sources into a single
    * quality-gated corpus. Same score terms as [[qualityScore]] /
    * [[sourceQualityGate]] (one definition, no drift); one per-source
    * window sort, unique doc_id tiebreak ⇒ deterministic ranks.
    */
  def qualityQuantileNormalize(docs: DataFrame): DataFrame = {
    val (lengthScore, stopScore) = qualityScoreTerms
    val q = docs.select(col("doc_id"), col("source"),
      round((lengthScore + stopScore) / lit(2.0), 4).as("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("quality"), col("doc_id"))
    q.withColumn("q_norm", round(percent_rank().over(w), 6))
      .orderBy("doc_id")
  }

  /** Marker-token language heuristic: documents with ≥3 English
    * function words are tagged 'en'. Output is the agreement matrix
    * against the labelled lang column. (A char-n-gram profile version
    * is in [[charNgramProfile]] for richer scoring.)
    */
  def langIdAgreement(docs: DataFrame): DataFrame = {
    val enMarkers = size(filter(toks, t => t.isin("the", "a")))
    docs.withColumn("pred_lang", when(enMarkers >= 3, lit("en")).otherwise(lit("other")))
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")
  }

  /** Character-bigram profile per document: top bigrams with counts,
    * the building block of a real n-gram language identifier (compare
    * against per-language reference profiles with cosine/overlap).
    */
  def charNgramProfile(docs: DataFrame, n: Int = 2, top: Int = 8): DataFrame = {
    docs.select(col("doc_id"),
        graft.functions.CharGramGenerator.chargrams(col("text"), n).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("cnt").desc, col("gram"))))
      .filter(col("rk") <= top)
      .select("doc_id", "gram", "cnt", "rk")
      .orderBy("doc_id", "rk")
  }

  /** TF-IDF top term per document: term frequency from one explode +
    * aggregate, document frequency from a second small aggregate on
    * distinct (doc, term), idf = ln(N/df), ranked per document. All
    * shuffles are keyed on the term or the doc id — standard scale
    * shape for corpus statistics. The corpus size N is a 1-row
    * aggregate broadcast-joined INTO the plan (not a driver-side
    * count()), so building the query triggers no eager scan and the
    * whole thing stays one lazy plan.
    */
  def tfidfTopTerm(docs: DataFrame, tfIn: Option[DataFrame] = None): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    // r18: the tf frame here IS [[tokenTf]] — the token family's
    // materialized sufficient statistic (q130/q137/q139/q144/q146 and
    // the retrieval arms already start from it; its ingest path is
    // q270). The cached route replaces the corpus re-explode +
    // (doc, term) aggregate with a narrow parquet scan; rows are the
    // identical (doc_id, term, tf) frame by definition.
    val tf = tfIn.getOrElse(
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // rank on a 6-decimal rounding so engine-level ln() ulp differences
    // can never reorder near-equal scores (ties fall to the term)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf_r").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf_r", round(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("term").as("top_term"),
        round(col("tfidf_r"), 4).as("tfidf"))
      .orderBy("doc_id")
  }

  /** Rolling-hash document fingerprint: md5 of the
    * whitespace-normalized, lowercased text. Identical fingerprints ⇒
    * exact duplicates modulo whitespace/case (the first stage of a
    * dedup cascade — see [[Dedup]]).
    */
  /** The normalization+hash expression itself — the single definition
    * [[fingerprints]] and [[Dedup.incrementalDedup]] both key on, so
    * the "admit only if the full recompute would" contract can't
    * drift.
    */
  val fingerprintCol: org.apache.spark.sql.Column =
    md5(regexp_replace(lower(col("text")), "\\s+", " "))

  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprintCol.as("fingerprint"))
      .orderBy("doc_id")

  /** PII patterns for the scrub stage. Conservative ASCII regexes
    * valid in BOTH Java regex (Spark) and RE2 (the DuckDB oracle): no
    * backreferences, no lookaround, `\b` on ASCII only — the subset
    * where the two engines agree match-for-match.
    */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phonePattern: String = "\\b\\d{3}-\\d{4}\\b"

  /** PII redaction (the C4/Pile-style scrub stage of a training-data
    * pipeline): replaces emails, IPv4 addresses, and phone-shaped
    * digit runs with typed placeholder tokens and reports a per-doc
    * count of each redaction class (the audit trail a compliance
    * review wants). Pure per-row narrow projection — codegen'd regexp
    * over the scan, no shuffle, no UDF — so at 100 TB it runs at scan
    * speed and composes with any downstream stage.
    *
    * Each class is counted on the text the corresponding replacement
    * actually sees (email counted on the original, IP after the email
    * pass, phone after the IP pass) so counts reconcile EXACTLY with
    * emitted placeholders: an email whose local part is phone- or
    * IP-shaped ("555-1234@corp.com" — the local-part class admits
    * digits and '-') is one email redaction and zero phone
    * redactions. Counting every class on the original text would
    * report phantom redactions for such nested matches. Placeholders
    * contain no digits or '@', so a replacement can never CREATE a
    * later-pass match.
    */
  def piiScrub(docs: DataFrame, textCol: String = "text",
               ordered: Boolean = true): DataFrame = {
    val t = col(textCol)
    val afterEmail = regexp_replace(t, lit(emailPattern), lit("<EMAIL>"))
    val afterIp = regexp_replace(afterEmail, lit(ipv4Pattern), lit("<IP>"))
    val scrubbed = docs.select(
      col("doc_id"),
      regexp_replace(afterIp, lit(phonePattern), lit("<PHONE>")).as("clean_text"),
      regexp_count(t, lit(emailPattern)).as("n_emails"),
      regexp_count(afterEmail, lit(ipv4Pattern)).as("n_ips"),
      regexp_count(afterIp, lit(phonePattern)).as("n_phones"))
    // stateless projection ⇒ stream-safe as-is; global order is a
    // batch-only concept (ordered = false for streaming callers)
    if (ordered) scrubbed.orderBy("doc_id") else scrubbed
  }

  /** Gopher/RefinedWeb-style composite quality gate: one narrow
    * projection computes the rule features, a keep verdict, and a
    * comma-joined list of the rules that failed — the per-document
    * audit trail a production cleaning pipeline keeps next to the
    * verdict. Rules (the classic subset computable without external
    * models): token count in [minTokens, maxTokens], mean token
    * length in [minMeanTokenLen, maxMeanTokenLen], stopword ratio ≥
    * minStopwordRatio, duplicate-3-gram fraction ≤ maxRepetition.
    *
    * Repetition here is a PER-ROW array fold (transform →
    * array_distinct — no explode, no shuffle), right when document
    * length is bounded; for unbounded documents use the exploded twin
    * [[graft.operators.TrainingData.repetitionRatio]], which never
    * materializes a per-doc array. Stream-safe with `ordered = false`
    * like every stateless stage.
    */
  def gopherGate(docs: DataFrame,
                 minTokens: Int = 10, maxTokens: Int = 1000,
                 minMeanTokenLen: Double = 2.0, maxMeanTokenLen: Double = 10.0,
                 minStopwordRatio: Double = 0.01,
                 maxRepetition: Double = 0.5,
                 ordered: Boolean = true): DataFrame = {
    val (nTok, meanLen, stopRatio, repRatio, reasons) = gateRuleExprs(
      minTokens, maxTokens, minMeanTokenLen, maxMeanTokenLen,
      minStopwordRatio, maxRepetition)
    val gated = docs.select(
        col("doc_id"), nTok.as("n_tokens"), meanLen.as("mean_token_len"),
        stopRatio.as("stopword_ratio"), repRatio.as("rep_ratio"),
        reasons.as("reasons"))
      .withColumn("keep", col("reasons") === lit(""))
    if (ordered) gated.orderBy("doc_id") else gated
  }

  /** [[gopherGate]] as a schema-preserving FILTER: keeps exactly the
    * rows the gate keeps (identical rule expressions) but passes every
    * input column through untouched — the shape a pipeline stage needs
    * when later stages (dedup, scrub, packing) still want the text and
    * timestamps. Stateless projection+filter ⇒ stream-safe as-is.
    */
  def gopherGateFilter(docs: DataFrame,
                       minTokens: Int = 10, maxTokens: Int = 1000,
                       minMeanTokenLen: Double = 2.0, maxMeanTokenLen: Double = 10.0,
                       minStopwordRatio: Double = 0.01,
                       maxRepetition: Double = 0.5): DataFrame = {
    val (_, _, _, _, reasons) = gateRuleExprs(
      minTokens, maxTokens, minMeanTokenLen, maxMeanTokenLen,
      minStopwordRatio, maxRepetition)
    docs.filter(reasons === lit(""))
  }

  /** The gate's rule columns, shared verbatim by [[gopherGate]] (audit
    * projection) and [[gopherGateFilter]] (schema-preserving filter)
    * so the two can never disagree on a verdict. Thresholds compare
    * the ROUNDED features — the audit projection's own columns.
    */
  private def gateRuleExprs(minTokens: Int, maxTokens: Int,
                            minMeanTokenLen: Double, maxMeanTokenLen: Double,
                            minStopwordRatio: Double, maxRepetition: Double)
      : (Column, Column, Column, Column, Column) = {
    val nTok = size(toks)
    val meanLen = round(length(col("text")).cast("double") / nTok, 4)
    val stopRatio = round(
      size(filter(toks, t => t.isin(stopwords: _*))).cast("double") / nTok, 4)
    val grams = expr(
      "transform(sequence(0, size(split(text, ' ')) - 3), " +
        "i -> concat_ws(' ', split(text, ' ')[i], split(text, ' ')[i+1], split(text, ' ')[i+2]))")
    val repRatio = round(
      when(nTok < 3, lit(0.0)).otherwise(
        lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams)), 4)
    val reasons = array_join(array(
      when(nTok < minTokens || nTok > maxTokens, lit("length")),
      when(meanLen < minMeanTokenLen || meanLen > maxMeanTokenLen,
        lit("token_len")),
      when(stopRatio < minStopwordRatio, lit("stopwords")),
      when(repRatio > maxRepetition, lit("repetition"))), ",")
    (nTok, meanLen, stopRatio, repRatio, reasons)
  }

  /** Corpus-wide boilerplate n-gram mining: the top `top` n-grams by
    * DOCUMENT frequency (each doc votes once per distinct gram) — how
    * a production cleaning pipeline builds its boilerplate-removal
    * list (nav bars, cookie banners, license headers) before a C4-pass
    * strips them. Runs on the native shingle UDTF → distinct
    * (doc, gram) → one hash aggregate keyed on the gram; the final
    * rank is a global sort+limit, which Spark plans as
    * TakeOrderedAndProject (each partition keeps `top` rows, the
    * driver merges top·P) — no global sort materializes, so the shape
    * holds at any corpus size. Ties break on the gram string, making
    * the result set deterministic and exact-oracle-checkable.
    */
  def boilerplateNgrams(docs: DataFrame, n: Int = 3, top: Int = 20): DataFrame =
    Dedup.shingleDocs(docs, n).dropDuplicates("doc_id", "shingle")
      .groupBy(col("shingle").as("gram"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("gram"))
      .limit(top)

  /** How a pipeline CONSUMES the mined boilerplate list: per document,
    * the fraction of its distinct n-grams that are on the corpus-wide
    * top-`top` list from [[boilerplateNgrams]] — the gate signal for
    * dropping template-heavy documents (a nav-bar page scores near 1,
    * organic prose near 0). The list is bounded at `top` rows, so the
    * membership check is a broadcast-sized semi-join against the
    * narrow (doc, gram) stream; the per-doc rollup is one hash
    * aggregate. Work ∝ distinct (doc, gram) rows at any corpus size —
    * the mined list is the only thing that ever sits in memory whole.
    */
  def boilerplateCoverage(docs: DataFrame, n: Int = 3, top: Int = 20): DataFrame = {
    val grams = Dedup.shingleDocs(docs, n).dropDuplicates("doc_id", "shingle")
    val hot = broadcast(boilerplateNgrams(docs, n, top).select(col("gram").as("shingle")))
    val total = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val onList = grams.join(hot, Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
    total.join(onList, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        round(coalesce(col("n_boiler"), lit(0L)).cast("double") / col("n_grams"), 4)
          .as("boiler_fraction"))
      .orderBy("doc_id")
  }

  /** Per-source quality calibration: gate each document against the
    * median quality of its OWN source rather than one global
    * threshold — the standard pretraining-data move when sources have
    * different baseline quality (a fixed global cutoff would empty the
    * weakest source and pass everything from the strongest). Quality
    * is [[qualityScore]]'s composite, rounded BEFORE the median so
    * both engines interpolate identical inputs; the per-source median
    * frame is tiny (one row per source) and broadcast back onto the
    * docs — the fact side never shuffles, so at 100 TB this is one
    * grouped-percentile pass plus a map-side join.
    */
  def sourceQualityGate(docs: DataFrame, pct: Double = 0.5): DataFrame = {
    val (lengthScore, stopScore) = qualityScoreTerms
    val scored = docs.select(col("doc_id"), col("source"),
      round((lengthScore + stopScore) / lit(2.0), 4).as("quality"))
    val thresholds = scored.groupBy("source")
      .agg(round(percentile(col("quality"), lit(pct)), 4).as("src_median"))
    scored.join(broadcast(thresholds), Seq("source"))
      .select(col("doc_id"), col("source"), col("quality"), col("src_median"),
        (col("quality") >= col("src_median")).as("keep"))
      .orderBy("doc_id")
  }

  /** Deterministic PII seeding for the q73 demonstration: the synthetic
    * corpus contains no PII, so the query weaves synthetic identifiers
    * (derived from doc_id — every 3rd doc an email, every 5th an IPv4,
    * every 7th a phone) into the text identically on both engines, then
    * scrubs them. Mirrored token-for-token in the oracle SQL.
    */
  /** Unicode-conservative text normalization (the canonical first
    * stage of a cleaning pipeline): lowercase, fold all whitespace to
    * single spaces, strip characters outside printable ASCII, trim.
    * Pure codegen'd string expressions — per-row, no shuffle — and the
    * regexes are valid in BOTH Java regex and RE2, so the DuckDB
    * oracle normalizes identically. Output is audit-shaped (before/
    * after lengths + md5 of the normalized form) so the 100 TB run
    * ships 3 small columns per doc, never the normalized text itself.
    */
  def normalizeText(docs: DataFrame): DataFrame = {
    // EXPLICIT whitespace class, not \s: Java's \s includes \x0B
    // (vertical tab) while RE2's does not — the one place the "same
    // regex" claim breaks between the engines. With the explicit
    // class both treat \x0B identically (stripped by the non-printable
    // pass instead of folded to a space).
    val nt = trim(regexp_replace(regexp_replace(regexp_replace(
      lower(col("text")), "[ \\t\\n\\f\\r]+", " "), "[^ -~]", ""), " +", " "))
    docs.select(col("doc_id"),
        length(col("text")).as("n_raw"),
        length(nt).as("n_norm"),
        md5(nt).as("norm_fp"))
      .orderBy("doc_id")
  }

  /** Per-document character entropy — a compression-style quality
    * signal (low entropy ⇒ repetitive/boilerplate text) — computed
    * WITHOUT exploding characters into rows: sort the char array,
    * find run boundaries, derive run lengths, and fold
    * Σ c·ln(c) — all higher-order functions inside one projection,
    * so the operator is shuffle-free and scales as a narrow map over
    * documents (the explode alternative would shuffle one row per
    * CHARACTER — corpus-size × avg-doc-length rows at 100 TB).
    * entropy = ln(n) − Σ c·ln(c) / n over run lengths c.
    */
  def charEntropy(docs: DataFrame): DataFrame =
    docs
      .withColumn("cs", expr(
        // empty-text guard: Spark's sequence(1, 0) yields a DESCENDING
        // [1, 0], not an empty array — branch instead of relying on it
        "case when length(text) = 0 then array() " +
          "else array_sort(transform(sequence(1, length(text)), i -> substring(text, i, 1))) end"))
      .withColumn("starts", expr(
        // the empty branch repeats here (not just for cs): sequence(1, 0)
        // is the DESCENDING [1, 0], so the filter would probe index 0;
        // greatest() keeps element_at's index ≥ 1 on the non-empty path
        // (at i = 1 the OR arm already admits the row)
        "case when size(cs) = 0 then array() " +
          "else filter(sequence(1, size(cs)), i -> i = 1 OR element_at(cs, i) != element_at(cs, greatest(i - 1, 1))) end"))
      .withColumn("runs", expr(
        // try_element_at, not element_at: k + 1 runs past the end on the
        // last boundary BY DESIGN (the coalesce closes the final run),
        // and ANSI element_at throws on out-of-bounds instead of
        // returning NULL; same empty-array branch as above for starts
        "case when size(starts) = 0 then array() " +
          "else transform(sequence(1, size(starts)), k -> coalesce(try_element_at(starts, k + 1), size(cs) + 1) - element_at(starts, k)) end"))
      .select(col("doc_id"),
        size(col("cs")).as("len_chars"),
        size(col("starts")).as("n_distinct_chars"),
        when(size(col("cs")) > 0,
          round(log(size(col("cs"))) -
            expr("aggregate(runs, 0D, (acc, c) -> acc + c * ln(c))") / size(col("cs")), 4))
          .as("char_entropy"))
      .orderBy("doc_id")

  /** Character-bigram language-model likelihood — the CCNet-style
    * "does this look like the corpus's language at all" screen that
    * catches gibberish, encoding damage, and wrong-charset documents
    * that per-rule gates ([[gopherGate]]) miss: the corpus's own
    * bigram distribution is the model, and each document is scored by
    * its mean conditional log-probability ln P(c₂|c₁) with perplexity
    * exp(−mean). Damaged text draws from rare transitions and its
    * perplexity explodes.
    *
    * Two scans of the text (one builds the model, one scores) rather
    * than a persisted bigram stream — the exploded stream is one row
    * per corpus CHARACTER, exactly the frame not to cache at 100 TB.
    * The model itself is bounded by the distinct-bigram vocabulary
    * (charset², MBs even for CJK corpora), so it broadcasts, and the
    * scoring join never shuffles the big side. The `length ≥ 2` guard
    * keeps `sequence(1, len-1)` ascending (Spark's descending-
    * sequence/ANSI trap — see the charEntropy notes above).
    */
  def bigramLmScore(docs: DataFrame): DataFrame =
    bigramScoreWith(docs, bigramLmModel(docs))

  /** The corpus' bigram LM itself — (bg, logp), bounded by the
    * distinct-bigram vocabulary (charset², MBs even for CJK corpora).
    * `logp` is stored RAW (parquet roundtrips IEEE doubles exactly),
    * so the cached scorer is bit-identical to the self-computing one.
    */
  private[graft] def bigramLmModel(docs: DataFrame): DataFrame =
    bigramGrams(docs).groupBy("bg").agg(count(lit(1)).as("ng"))
      .withColumn("n1", sum(col("ng")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(substring(col("bg"), 1, 1))))
      .select(col("bg"), log(col("ng") / col("n1")).as("logp"))

  // native generator (graft.functions.CharGramGenerator): the
  // composable transform+explode form is an interpreted lambda paid
  // twice in the self-computing shape (model + scoring) — identical
  // gram multiset, spec-asserted, every oracle hash unchanged
  // r18: spreadNarrowCompute — the char-gram explode is heavy per-row
  // work on a single-task one-file scan (q121 ran at 1.1 effective
  // cores on 32); the conditional repartition costs one tiny exchange
  // and parallelizes both the model build and the scoring pass
  // (probe: q121 2.0 → 0.65 s). No-op at scale (see Tables).
  private def bigramGrams(df: DataFrame) =
    graft.engine.Tables.spreadNarrowCompute(df.filter(length(col("text")) >= 2))
      .select(col("doc_id"),
        graft.functions.CharGramGenerator.chargrams(col("text"), 2).as("bg"))

  private def bigramScoreWith(docs: DataFrame, model: DataFrame): DataFrame =
    bigramGrams(docs).join(broadcast(model), Seq("bg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("logp")), 4).as("avg_logp"),
        round(exp(-avg(col("logp"))), 4).as("ppl"))
      .orderBy("doc_id")

  /** Content-addressed home of one corpus' bigram LM
    * ([[graft.engine.ContentAddress]]); the `n2` in the prefix bakes
    * the gram order into the address.
    */
  def bigramLmDir(spark: org.apache.spark.sql.SparkSession, dataPath: String,
                  base: String): String =
    ContentAddress.dirFor(spark, dataPath, base, "blm_n2_",
      "bigramLmDir")

  /** Build the materialized bigram LM under `dir/model` iff missing
    * ([[graft.engine.ContentAddress.commitOnce]]). The model build was
    * HALF of q121's cost (one of its two corpus scans) and is a pure
    * function of the corpus, so it runs once per snapshot.
    */
  def prebuildBigramLm(docs: DataFrame, dir: String): Boolean =
    ContentAddress.commitOnce(docs.sparkSession, s"$dir/model")(bigramLmModel(docs))

  /** [[bigramLmScore]] against the materialized model: ONE corpus
    * scan (the scoring pass) + a vocabulary-bounded parquet read that
    * broadcasts. Bit-identical to the self-computing shape
    * (spec-asserted) — `logp` roundtrips parquet exactly.
    */
  def bigramLmScoreCached(docs: DataFrame, dir: String): DataFrame = {
    prebuildBigramLm(docs, dir)
    bigramScoreWith(docs,
      docs.sparkSession.read.parquet(s"$dir/model"))
  }

  // ---- materialized token sufficient statistic ------------------------

  /** The (doc_id, term, tf) term-frequency frame — the corpus'
    * SUFFICIENT STATISTIC for the whole token family: doc-distinct
    * tokens are its (doc_id, term) projection, document frequency one
    * term-groupBy, document length Σtf, collection totals one
    * aggregate. q130/q137/q139/q144/q146 and the retrieval arms
    * (q138/q152/q213/q237) all start from exactly this frame, and at
    * 100 TB nobody re-explodes the raw text per analytical question —
    * materializing the parse once per corpus snapshot is the
    * props-frame discipline (q173/q222,
    * [[graft.operators.JsonRouting.propsLong]]) applied to tokens.
    * Column types are (BIGINT, STRING, BIGINT), so the parquet
    * roundtrip is exact.
    */
  def tokenTf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** Content-addressed home of one corpus' materialized [[tokenTf]]
    * frame ([[graft.engine.ContentAddress]]): the address hashes the
    * document files' (path, size, mtime), so a changed corpus can
    * never serve a stale parse.
    */
  def tokenTfDir(spark: org.apache.spark.sql.SparkSession, dataPath: String,
                 base: String, variant: String = ""): String =
    // `variant` keys a SLICE of the same document files (the semCcDir
    // convention) — q270's yesterday-corpus frame and its appended twin
    ContentAddress.dirFor(spark, dataPath, base,
      s"tok_$variant", "tokenTfDir")

  /** Incremental token-tf APPEND — the q264–q267 contract on the
    * token family, and its simplest instance: (doc_id, term, tf) is a
    * PURE per-document aggregate (no cross-document term anywhere in
    * the tier), so the batch's rows are exactly [[tokenTf]] of the
    * batch and the landing is map-side only —
    * [[graft.engine.Landing.landDelta]] links the resident history
    * and writes the batch-sized delta. Consumers that need corpus
    * totals (df, PMI, BM25 stats) aggregate AT READ over the landed
    * frame, which is why the tier stores tf and never df.
    * Preconditions: committed old tier, batch doc_ids disjoint.
    * Returns true iff the append built (false = reuse).
    */
  def appendToTokenTf(batch: DataFrame, oldDir: String, newDir: String): Boolean = {
    val spark = batch.sparkSession
    require(ContentAddress.hasSuccess(spark, s"$oldDir/tf"),
      s"appendToTokenTf requires a committed tf tier at $oldDir")
    if (ContentAddress.hasSuccess(spark, s"$newDir/tf")) return false
    require(batch.select("doc_id")
        .join(spark.read.parquet(s"$oldDir/tf").select("doc_id").distinct(),
          Seq("doc_id"), "left_semi").isEmpty,
      "appendToTokenTf: batch doc_ids overlap the old corpus")
    graft.engine.Landing.landDelta(tokenTf(batch),
      s"$oldDir/tf", s"$newDir/tf")
    true
  }

  /** q270: the token-family append AS A QUERY — the daily batch
    * (`doc_id % 10 == 7`) lands on yesterday's committed token-tf
    * frame and the batch's landed rows read back from the appended
    * address, hash-exact against a from-raw-text re-tokenization.
    * Every other token-family consumer (q130/q137/q139/q144/q146)
    * re-checks the union frame through its own oracle.
    */
  def tokenTfAppendBatchRows(docs: DataFrame, oldDir: String,
                             newDir: String): DataFrame = {
    prebuildTokenTf(docs.filter(col("doc_id") % 10 =!= 7), oldDir)
    appendToTokenTf(docs.filter(col("doc_id") % 10 === 7), oldDir, newDir)
    docs.sparkSession.read.parquet(s"$newDir/tf")
      .filter(col("doc_id") % 10 === 7)
      .orderBy("doc_id", "term")
  }

  /** Build the materialized [[tokenTf]] frame under `dir/tf` iff
    * missing ([[graft.engine.ContentAddress.commitOnce]]), so a
    * bench/deploy warm-up can account the one-off cost separately from
    * probe measurements.
    */
  def prebuildTokenTf(docs: DataFrame, dir: String): Boolean =
    ContentAddress.commitOnce(docs.sparkSession, s"$dir/tf")(tokenTf(docs))

  /** The materialized [[tokenTf]] frame, built on first touch. */
  def tokenTfCached(docs: DataFrame, dir: String): DataFrame = {
    prebuildTokenTf(docs, dir)
    docs.sparkSession.read.parquet(s"$dir/tf")
  }

  /** Pointwise mutual information over token co-occurrence: for the
    * `vocab` most document-frequent tokens, score every pair that
    * co-occurs in at least `minSupport` documents by
    * PMI = ln(N·df(a,b) / (df(a)·df(b))) — the collocation /
    * topic-pair signal a corpus report puts next to raw frequencies.
    *
    * Scale cascade (the dedup-candidate discipline applied to
    * co-occurrence): the vocabulary cut happens FIRST — per-doc
    * distinct tokens are semi-joined against the broadcast top-`vocab`
    * frame BEFORE any pairing, so the self-join that forms pairs is
    * equi-keyed on doc_id with both sides ≤ `vocab` rows per doc:
    * per-doc fan-out is ≤ vocab²/2, a constant, never
    * tokens-per-doc². Pair counts partial-aggregate on the (a,b)
    * key; the df frame (vocab rows) broadcasts back twice; the final
    * sort ranks ≤ vocab²/2 rows. N rides in as a broadcast 1-row
    * aggregate, not a driver count.
    */
  def tokenPmi(docs: DataFrame, vocab: Int = 50, minSupport: Int = 5,
               topPairs: Int = 20): DataFrame =
    tokenPmiFrom(docs, tokenTf(docs), vocab, minSupport, topPairs)

  /** [[tokenPmi]] served from the materialized [[tokenTf]] frame: the
    * probe starts at an already-exploded narrow parquet scan — no text
    * re-parse. Spec-asserted identical to self-computing (the
    * roundtrip is exact: BIGINTs and STRINGs only).
    */
  def tokenPmiCached(docs: DataFrame, dir: String, vocab: Int = 50,
                     minSupport: Int = 5, topPairs: Int = 20): DataFrame =
    tokenPmiFrom(docs, tokenTfCached(docs, dir), vocab, minSupport, topPairs)

  private def tokenPmiFrom(docs: DataFrame, tfFrame: DataFrame, vocab: Int,
                           minSupport: Int, topPairs: Int): DataFrame = {
    val docTokens = tfFrame.select("doc_id", "term")
    val dfreq = docTokens.groupBy("term").agg(count(lit(1)).as("df"))
    val top = dfreq.orderBy(col("df").desc, col("term").asc).limit(vocab)
    val dt = docTokens.join(broadcast(top.select("term")), "term")
    val pairs = dt.select(col("doc_id"), col("term").as("ta"))
      .join(dt.select(col("doc_id"), col("term").as("tb")), "doc_id")
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("df_ab"))
      .filter(col("df_ab") >= minSupport)
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    pairs
      .join(broadcast(top.select(col("term").as("ta"), col("df").as("df_a"))), "ta")
      .join(broadcast(top.select(col("term").as("tb"), col("df").as("df_b"))), "tb")
      .crossJoin(broadcast(nDocs))
      .select(col("ta"), col("tb"), col("df_ab"),
        round(log(col("n_docs") * col("df_ab") / (col("df_a") * col("df_b"))), 4)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("ta").asc, col("tb").asc)
      .limit(topPairs)
  }

  /** TextRank keyword extraction: PageRank over the token
    * co-occurrence graph (Mihalcea & Tarau 2004). Nodes are the
    * top-`vocab` tokens by document frequency (the q130 vocabulary
    * cut); an undirected edge weighted by pair document frequency
    * links tokens that co-occur in a document; `iters` fixed damped
    * iterations of r(v) = (1−d)/N + d·Σᵤ r(u)·w(u,v)/deg(u). The
    * fixed iteration count (not a convergence test) is what makes the
    * scores a pure function of the corpus — and DuckDB-oracle-exact
    * via the same unrolled recurrence.
    *
    * Scale: the corpus touches ONLY the distinct-token and df
    * aggregates; everything after the vocabulary cut — edges (≤ V²),
    * degrees, and all `iters` join+aggregate rounds — runs on
    * vocab-bounded frames, so iteration cost is independent of corpus
    * size (the q68 CC contrast: its frame is data-sized, so it
    * checkpoints; here the persisted graph is enough). Dangling
    * nodes keep the (1−d)/N floor via the left join.
    *
    * Execution contract (as the q68 CC rounds, NOT a lazy plan): each
    * iteration materializes its ≤-`vocab`-row rank frame eagerly, so
    * every Spark job optimizes a SHALLOW plan over the persisted
    * graph instead of one 10-join-deep DAG (the lazy form measured
    * 7–9 s at sf0.1 — all Catalyst depth + ~1000 micro-task
    * scheduling, zero data). The driver never holds rows; superseded
    * checkpoint RDDs are reclaimed by the ContextCleaner.
    */
  def textRank(docs: DataFrame, vocab: Int = 50, iters: Int = 10,
               damping: Double = 0.85, topK: Int = 20): DataFrame =
    textRankFrom(tokenTf(docs), vocab, iters, damping, topK)

  /** [[textRank]] served from the materialized [[tokenTf]] frame
    * (spec-asserted ≡ self-computing): the corpus-side token distinct
    * that dominates the self-computing form becomes one narrow
    * parquet scan.
    */
  def textRankCached(docs: DataFrame, dir: String, vocab: Int = 50,
                     iters: Int = 10, damping: Double = 0.85,
                     topK: Int = 20): DataFrame =
    textRankFrom(tokenTfCached(docs, dir), vocab, iters, damping, topK)

  private def textRankFrom(tfFrame: DataFrame, vocab: Int, iters: Int,
                           damping: Double, topK: Int): DataFrame =
    textRankFinish(textRankRanksFrom(tfFrame, vocab, iters, damping), topK)

  /** The probe-side projection shared by the self-computing and
    * materialized paths: round(4) + contract ordering + the top-k cut.
    * Rounding happens HERE (not at build time) so the materialized
    * frame stores the raw converged doubles — parquet roundtrips IEEE
    * doubles exactly, so both paths hash identically at any `topK`.
    */
  private def textRankFinish(ranks: DataFrame, topK: Int): DataFrame =
    ranks
      .select(col("term"), col("df"), round(col("r"), 4).as("score"))
      .orderBy(col("score").desc, col("term").asc)
      .limit(topK)

  /** The converged (term, df, r) rank frame for ALL `vocab` nodes —
    * the family's sufficient statistic (the km-cells discipline): the
    * 10 damped join+aggregate rounds are a pure function of the corpus
    * (fixed iteration count, IEEE-pinned constants), so production
    * runs them once per corpus snapshot and every keyword report probes
    * the ≤-`vocab`-row result.
    */
  private def textRankRanksFrom(tfFrame: DataFrame, vocab: Int, iters: Int,
                                damping: Double): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val docTokens = tfFrame.select("doc_id", "term")
    val dfreq = docTokens.groupBy("term").agg(count(lit(1)).as("df"))
    val top = dfreq.orderBy(col("df").desc, col("term").asc).limit(vocab)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nNodes = top.count() // bounded by `vocab`, never data-sized
    val dt = docTokens.join(broadcast(top.select("term")), "term")
    val e0 = dt.select(col("doc_id"), col("term").as("src"))
      .join(dt.select(col("doc_id"), col("term").as("dst")), "doc_id")
      .filter(col("src") < col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    // single-partition + lineage cut (localCheckpoint, the q68 CC
    // tool): the graph is ≤ V² rows — 32-partition shuffles would
    // schedule ~1000 empty micro-tasks across the rounds, and
    // persist() alone would leave every round's logical plan carrying
    // the whole corpus subtree (the lazy form's plan-string growth
    // OOMed the test JVM)
    val edges = e0
      .union(e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .repartition(1)
      .localCheckpoint(true)
    val deg = edges.groupBy("src").agg(sum("w").as("deg"))
      .localCheckpoint(true)
    // IEEE-exact constants, same operation order as the oracle:
    // (1 − d) then the divide, 1.0 then the divide
    val base = (1.0 - damping) / nNodes
    var r = top.select(col("term"), lit(1.0 / nNodes).as("r"))
      .localCheckpoint(true)
    for (i <- 1 to iters) {
      val contrib = edges
        .join(r, edges("src") === r("term"))
        .join(deg, "src")
        .groupBy(col("dst").as("term"))
        .agg(sum(col("r") * col("w") / col("deg")).as("c"))
      r = top.select(col("term"))
        .join(contrib, Seq("term"), "left")
        .select(col("term"),
          (lit(base) + lit(damping) * coalesce(col("c"), lit(0.0))).as("r"))
      // lineage cut every SECOND round (the q68-CC convergence-count
      // cadence): two rounds per eager job halves the job count at a
      // bounded (depth-2) plan — a modest win (~0.3 s; the corpus-side
      // token distinct dominates this query, A/B probed) — and the
      // arithmetic DAG, and therefore every double, is unchanged
      if (i % 2 == 0 || i == iters) r = r.localCheckpoint(true)
    }
    top.join(r, "term").select(col("term"), col("df"), col("r"))
  }

  /** Content-addressed home of one corpus' materialized converged
    * TextRank frame — the [[phraseIndexDir]] discipline applied to the
    * suite's last per-run iterative computation: the 10 damped rounds
    * are deterministic given the corpus (fixed iteration count,
    * IEEE-pinned constants), so they run once per corpus snapshot. The
    * prefix bakes (vocab, damping·100, iters) in, so a constant change
    * re-addresses instead of serving stale ranks.
    */
  def textRankDir(spark: org.apache.spark.sql.SparkSession,
                  dataPath: String, base: String, vocab: Int = 50,
                  iters: Int = 10, damping: Double = 0.85): String =
    ContentAddress.dirFor(spark, dataPath, base,
      s"tr_v${vocab}d${math.rint(damping * 100).toInt}i${iters}_",
      "textRankDir")

  /** Build the materialized converged-rank frame under `dir/ranks` iff
    * missing ([[graft.engine.ContentAddress.commitOnce]];
    * `tr_build_sec` accounting). `tf` lets the bench warm-up feed the
    * already-materialized token-tf frame so the one-time build is
    * itself a probe of that frame, not a corpus re-tokenization.
    */
  def prebuildTextRank(docs: DataFrame, dir: String,
                       tf: Option[DataFrame] = None, vocab: Int = 50,
                       iters: Int = 10, damping: Double = 0.85): Boolean =
    ContentAddress.commitOnce(docs.sparkSession, s"$dir/ranks")(
      textRankRanksFrom(tf.getOrElse(tokenTf(docs)), vocab, iters, damping))

  /** [[textRank]] probing the materialized converged ranks: a ≤-vocab
    * row parquet scan + round + sort + limit — no graph build, no
    * iteration at probe time (spec-asserted ≡ self-computing; the raw
    * doubles roundtrip parquet exactly, so the round-4 scores match at
    * any `topK ≤ vocab`).
    */
  def textRankMaterialized(docs: DataFrame, dir: String,
                           tf: Option[DataFrame] = None, vocab: Int = 50,
                           iters: Int = 10, damping: Double = 0.85,
                           topK: Int = 20): DataFrame = {
    prebuildTextRank(docs, dir, tf, vocab, iters, damping)
    textRankFinish(docs.sparkSession.read.parquet(s"$dir/ranks"), topK)
  }

  /** BM25 top-k retrieval (Robertson–Spärck Jones; the Lucene
    * `+1`-idf variant): the first `nQueries` documents act as queries,
    * and each is scored against the corpus by
    * score(q,d) = Σ_{t∈q} idf(t) · tf/(tf + k1·(1−b + b·|d|/avgdl)),
    * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1).
    *
    * Scale: the corpus is touched only through the (doc,term) tf
    * aggregate, and scoring joins it to the BROADCAST query-term panel
    * on `term` — the inverted-index access pattern: only postings of
    * query terms flow into the shuffle, everything else is pruned at
    * the join. N / total-token-count ship as 1-row broadcast frames.
    *
    * Oracle-exactness: avgdl is never materialized as a double mean —
    * |d|/avgdl is computed as dl·N/total with dl, N, total exact
    * integers (single IEEE divide, no sum-order ulps); per-(q,d)
    * score sums round(6) before ranking, round(4) on output (the
    * q127–q131 discipline).
    */
  def bm25TopK(docs: DataFrame, nQueries: Int = 8, k: Int = 5,
               k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKFrom(docs, tokenTf(docs), nQueries, k, k1, b)

  /** [[bm25TopK]] served from the materialized retrieval-arm frame
    * ([[prebuildRetrievalArms]]) — the arm stores the k = 10 ranking,
    * so any `k ≤ 10` cut is a row filter on ranks that were assigned
    * identically (row_number does not depend on the cut). Spec-asserted
    * ≡ self-computing.
    */
  def bm25TopKCached(docs: DataFrame, armsDir: String,
                     k: Int = 5): DataFrame = {
    require(k <= armK, s"arm frame stores the k = $armK ranking")
    prebuildRetrievalArms(docs, armsDir)
    docs.sparkSession.read.parquet(s"$armsDir/bm25")
      .filter(col("rk") <= k)
      .select("q_id", "doc_id", "bm25", "rk")
      .orderBy("q_id", "rk")
  }

  private def bm25TopKFrom(docs: DataFrame, tfFrame: DataFrame,
                           nQueries: Int, k: Int, k1: Double = 1.2,
                           b: Double = 0.75): DataFrame = {
    val tf = tfFrame
    val dlen = tf.groupBy("doc_id").agg(sum("tf").cast("double").as("dl"))
    // N and total token count: exact ints cast to double (1-row, broadcast)
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val total = tf.agg(sum("tf").cast("double").as("total"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val qterms = tf.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"), col("term"))
    val scored = tf.join(broadcast(qterms), "term")
      .filter(col("doc_id") =!= col("q_id"))
      .join(dfreq, "term")
      .join(dlen, "doc_id")
      .crossJoin(broadcast(nDocs))
      .crossJoin(broadcast(total))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("contrib",
        col("idf") * col("tf") / (col("tf") +
          lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") * col("n_docs") / col("total"))))
      .groupBy("q_id", "doc_id")
      .agg(round(sum("contrib"), 6).as("score_r"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("score_r").desc, col("doc_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("doc_id"), round(col("score_r"), 4).as("bm25"), col("rk"))
      .orderBy("q_id", "rk")
  }

  /** Inverted-index build for the `topTerms` highest-df terms: per
    * term, document frequency, collection frequency, and the posting
    * list of the first `postingsCap` doc ids (ascending, csv-encoded —
    * array columns don't hash-compare across engines).
    *
    * Scale: the unbounded aggregation hazard in index building is the
    * posting list of a stopword term (≈ every doc id in the corpus).
    * `collect_list` never sees it: the postings side is capped FIRST
    * by the [[graft.plans.TopKPerKey]] heap operator (min-`postingsCap`
    * doc ids per term in one pass, no per-term sort, no full-list
    * materialization), so the collected array is ≤ `postingsCap`
    * elements by construction. df/cf come from a separate count/sum
    * aggregate that never carries lists. A production index would
    * write ALL postings sharded by (term, doc-range) — this operator
    * is the capped-preview/query form of that layout.
    */
  def invertedIndex(docs: DataFrame, topTerms: Int = 50,
                    postingsCap: Int = 20): DataFrame =
    invertedIndexFrom(tokenTf(docs), topTerms, postingsCap)

  /** [[invertedIndex]] served from the materialized [[tokenTf]] frame
    * (spec-asserted ≡ self-computing).
    */
  def invertedIndexCached(docs: DataFrame, dir: String, topTerms: Int = 50,
                          postingsCap: Int = 20): DataFrame =
    invertedIndexFrom(tokenTfCached(docs, dir), topTerms, postingsCap)

  private def invertedIndexFrom(tfFrame: DataFrame, topTerms: Int,
                                postingsCap: Int): DataFrame = {
    val tf = tfFrame
    val stats = tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
    val capped = graft.plans.TopK.perKey(
      tf.select("term", "doc_id"), Seq("term"), Seq(col("doc_id").asc), postingsCap)
    val postings = capped.groupBy("term")
      .agg(array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings"))
    stats.join(postings, "term")
      .orderBy(col("df").desc, col("term").asc)
      .limit(topTerms)
      .select(col("term"), col("df"), col("cf"), col("postings"))
  }

  /** Per-document subword-tokenizer stats over the native greedy
    * segmenter ([[graft.functions.SubwordGenerator]]): word count,
    * subword count, UNK-character count, and fertility (subwords per
    * word) — the two numbers (fertility, UNK rate) a tokenizer/vocab
    * swap is judged by, measured exactly on the corpus instead of
    * assumed. Map-only to the per-doc aggregate: segmentation is a
    * pure per-row JVM loop; nothing but (doc_id, counts) crosses the
    * shuffle.
    */
  def subwordStats(docs: DataFrame,
                   vocab: Seq[String] = graft.functions.SubwordGenerator.DefaultVocab): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.SubwordGenerator.subwords(col("text"), vocab)
          .as(Seq("word_idx", "sub_idx", "token", "is_unk")))
      .groupBy("doc_id")
      .agg((max("word_idx") + 1).cast("bigint").as("n_words"),
        count(lit(1)).as("n_subwords"),
        sum("is_unk").cast("bigint").as("n_unk"))
      .selectExpr("doc_id", "n_words", "n_subwords", "n_unk",
        "floor(CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE) * 1e4 + 0.5) / 1e4 AS fertility")
      .orderBy("doc_id")

  /** BPE merge-candidate mining — the LEARNING half of byte-pair
    * encoding, one iteration: under the CURRENT vocabulary's greedy
    * segmentation, count every adjacent subword pair inside a word
    * corpus-wide and report the top `topN` — each is the merge a BPE
    * trainer would add next, ranked by exactly the count it maximizes.
    * Run → extend vocab → re-run is the trainer loop; each iteration
    * is one map-only segmentation pass + one pair aggregate, and the
    * whole step is exact-oracle-checkable (the q200 recursive CTE
    * carries the per-step token, so DuckDB reproduces every pair) —
    * a seeded trainer would be rows-only.
    *
    * Scale: pairs are formed ROW-LOCALLY (adjacent sub_idx within
    * (doc, word) — a self-join on the generator frame keyed by
    * (doc_id, word_idx, sub_idx), co-partitioned), and only
    * (pair, count) rows reach the final aggregate;
    * TakeOrderedAndProject caps the report.
    */
  def bpeMergeCandidates(docs: DataFrame, topN: Int = 20,
                         vocab: Seq[String] = graft.functions.SubwordGenerator.DefaultVocab): DataFrame = {
    val toks = docs.select(col("doc_id"),
      graft.functions.SubwordGenerator.subwords(col("text"), vocab)
        .as(Seq("word_idx", "sub_idx", "token", "is_unk")))
    val a = toks.select(col("doc_id"), col("word_idx"), col("sub_idx"),
      col("token").as("t1"))
    val b = toks.select(col("doc_id"), col("word_idx"),
      (col("sub_idx") - 1).as("sub_idx"), col("token").as("t2"))
    a.join(b, Seq("doc_id", "word_idx", "sub_idx"))
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("pair_count"))
      .withColumn("merged", concat(col("t1"), col("t2")))
      .select(col("t1"), col("t2"), col("merged"), col("pair_count"))
      .orderBy(col("pair_count").desc, col("t1").asc, col("t2").asc)
      .limit(topN)
  }

  /** Corpus fertility/UNK report by language over [[subwordStats]] —
    * the per-language tokenizer-fitness rollup (a vocab tuned on one
    * language shows up as fertility/UNK skew in the others).
    */
  def subwordFertility(docs: DataFrame,
                       vocab: Seq[String] = graft.functions.SubwordGenerator.DefaultVocab): DataFrame =
    subwordStats(docs, vocab)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"), sum("n_subwords").as("n_subwords"),
        sum("n_unk").as("n_unk"))
      .selectExpr("lang", "n_docs", "n_words", "n_subwords", "n_unk",
        "floor(CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE) * 1e4 + 0.5) / 1e4 AS fertility",
        "floor(CAST(n_unk AS DOUBLE) / CAST(n_subwords AS DOUBLE) * 1e4 + 0.5) / 1e4 AS unk_rate")
      .orderBy("lang")

  /** Multi-iteration BPE trainer: the q207 single-step miner closed
    * into the actual training loop — segment under the CURRENT vocab,
    * adopt the highest-count adjacent pair as a new vocab token
    * (ties: count desc, t1 asc, t2 asc), re-segment, repeat `iters`
    * times. One row per iteration: the merge adopted, its corpus
    * pair count under the PRE-merge vocab, and the corpus fertility
    * (subwords per word instance) under the POST-merge vocab — the
    * invariant a trainer is judged by is that fertility ratchets
    * down as merges land.
    *
    * The adopted merge is always genuinely new: t1 was the maximal
    * munch at its position, so t1·t2 cannot already be in the vocab
    * (the longer token would have been munched instead) — the vocab
    * grows by exactly one entry per iteration by construction.
    *
    * Scale: segmentation runs over DISTINCT words carrying their
    * instance multiplicity (the corpus collapses to its vocabulary
    * before any per-character work — BPE's standard word-count trick),
    * so each iteration is one generator pass + one co-partitioned
    * self-join on the vocabulary-bounded frame; only TWO scalar rows
    * (the top pair, the subword total) reach the driver per
    * iteration, and `iters` is a constant. Each segmentation frame is
    * persisted and reused by the NEXT iteration's pair mining
    * (k+1 segmentation jobs total, not 2k).
    *
    * Exact-oracle-checkable end to end: the DuckDB twin unrolls the
    * same loop as chained NON-recursive CTEs (vocab_i = vocab_{i-1} ∪
    * merge_i, segmentation as fixed single-munch hops — see the
    * bpeTrainSql scaladoc for why recursion had to go), and every
    * reported number is an exact BIGINT or a floor-rounded ratio of
    * exact BIGINTs.
    */
  def bpeTrain(docs: DataFrame, iters: Int = 3,
               baseVocab: Seq[String] = graft.functions.SubwordGenerator.DefaultVocab): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = docs.sparkSession
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).cast("bigint").as("mult"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nWordInstances = words.agg(sum("mult")).first().getLong(0)

    def segment(vocab: Seq[String]): DataFrame =
      words.select(col("w"), col("mult"),
        graft.functions.SubwordGenerator.subwords(col("w"), vocab)
          .as(Seq("word_idx", "sub_idx", "token", "is_unk")))

    var vocab = baseVocab
    var seg = segment(vocab).persist(StorageLevel.MEMORY_AND_DISK)
    val rows = Seq.newBuilder[(Int, String, String, String, Long, Double)]
    for (i <- 1 to iters) {
      val a = seg.select(col("w"), col("mult"), col("sub_idx"),
        col("token").as("t1"))
      val b = seg.select(col("w"), (col("sub_idx") - 1).as("sub_idx"),
        col("token").as("t2"))
      val top = a.join(b, Seq("w", "sub_idx"))
        .groupBy("t1", "t2").agg(sum("mult").cast("bigint").as("cnt"))
        .orderBy(col("cnt").desc, col("t1").asc, col("t2").asc)
        .limit(1).collect()(0)
      val (t1, t2, cnt) = (top.getString(0), top.getString(1), top.getLong(2))
      vocab = vocab :+ (t1 + t2)
      val next = segment(vocab).persist(StorageLevel.MEMORY_AND_DISK)
      // one row per (distinct word, token): Σ mult = corpus subword total
      val nSub = next.agg(sum("mult")).first().getLong(0)
      seg.unpersist(blocking = false)
      seg = next
      val fert = math.floor(
        nSub.toDouble / nWordInstances.toDouble * 1e4 + 0.5) / 1e4
      rows += ((i, t1, t2, t1 + t2, cnt, fert))
    }
    seg.unpersist(blocking = false)
    words.unpersist(blocking = false)
    import spark.implicits._
    rows.result()
      .toDF("iter", "t1", "t2", "merged", "pair_count", "fertility")
      .orderBy("iter")
  }

  /** Positional-index phrase search: the retrieval capability the
    * term-level [[invertedIndex]] (q139) cannot express — "these
    * words ADJACENT, in order". The corpus's top-`topN` trigram
    * phrases (the query panel, mined deterministically: count desc,
    * phrase asc) are searched via POSITIONAL POSTINGS adjacency — the
    * (doc_id, pos, term) frame joined to itself at pos+1 and pos+2 on
    * the (doc_id, pos) key — and each phrase reports its document
    * frequency, total occurrences, and top-`topDocs` documents
    * (per-doc count desc, the [[graft.plans.TopK.perKey]] cap).
    *
    * Scale: the postings frame is the one corpus-sized object; all
    * three adjacency sides share its (doc_id, pos) partitioning (the
    * persisted frame is scanned three times, shuffled once per side
    * on the same key — on a cluster the materialized positional index
    * is the thing phrase queries probe, built once like the q139
    * index). The window runs on the panel-capped frame
    * (≤ topN·topDocs rows) AFTER TopK.perKey bounds per-phrase fan-in
    * inside the scan stage.
    */
  def phraseSearch(docs: DataFrame, topN: Int = 5, topDocs: Int = 3): DataFrame =
    phraseSearchFrom(
      phrasePerDoc(docs).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      topN, topDocs)

  /** The (phrase, doc_id, n_in_doc) trigram-phrase frame — the
    * positional index [[phraseSearch]] probes, built via the
    * three-way adjacency self-join of the (doc_id, pos, term)
    * postings on the shared (doc_id, pos) key. Columns are (STRING,
    * BIGINT, BIGINT) — exact parquet roundtrip.
    */
  private def phrasePerDoc(docs: DataFrame): DataFrame = {
    // persisted: all three adjacency sides read this frame — the one
    // corpus-sized object; the caller/bench releases it via clearCache
    // (the LSH-cascade interior-frame contract)
    val post = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t2 = post.select(col("doc_id"), (col("pos") - 1).as("pos"), col("term").as("t2"))
    val t3 = post.select(col("doc_id"), (col("pos") - 2).as("pos"), col("term").as("t3"))
    post.join(t2, Seq("doc_id", "pos")).join(t3, Seq("doc_id", "pos"))
      .select(col("doc_id"),
        concat_ws(" ", col("term"), col("t2"), col("t3")).as("phrase"))
      .groupBy("phrase", "doc_id").agg(count(lit(1)).as("n_in_doc"))
  }

  /** [[phraseSearch]]'s probe alone — panel mining, per-phrase top-doc
    * cap, and ranking over an already-built per-doc phrase frame. The
    * frame is read twice (panel + hits); the self-computing path
    * persists it, the cached path scans the narrow parquet.
    */
  private def phraseSearchFrom(perDoc: DataFrame, topN: Int,
                               topDocs: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val panel = perDoc.groupBy("phrase")
      .agg(sum("n_in_doc").as("occurrences"), count(lit(1)).as("df"))
      .orderBy(col("occurrences").desc, col("phrase").asc).limit(topN)
    val hits = perDoc.join(broadcast(panel), "phrase")
    val capped = graft.plans.TopK.perKey(hits, Seq("phrase"),
      Seq(col("n_in_doc").desc, col("doc_id").asc), topDocs)
    capped
      .withColumn("rk", row_number().over(
        Window.partitionBy("phrase")
          .orderBy(col("n_in_doc").desc, col("doc_id").asc)).cast("int"))
      .select(col("phrase"), col("df"), col("occurrences"), col("doc_id"),
        col("n_in_doc"), col("rk"))
      .orderBy(col("occurrences").desc, col("phrase").asc, col("rk").asc)
  }

  /** Content-addressed home of one corpus' materialized positional
    * phrase index ([[phrasePerDoc]]) — the [[tokenTfDir]] discipline
    * applied to the one remaining per-run heavy parse: the trigram
    * adjacency self-join. The prefix bakes the phrase order (n3) in,
    * so a future n-gram change can never serve a stale frame
    * (the cascadeDir `cc${t}b${bands}_` convention).
    */
  def phraseIndexDir(spark: org.apache.spark.sql.SparkSession,
                     dataPath: String, base: String): String =
    ContentAddress.dirFor(spark, dataPath, base, "post_n3_",
      "phraseIndexDir")

  /** Build the materialized phrase index under `dir/postings` iff
    * missing ([[graft.engine.ContentAddress.commitOnce]]), so the
    * bench warm-up accounts the one-off cost (`post_build_sec`)
    * separately from probe measurements.
    */
  def prebuildPhraseIndex(docs: DataFrame, dir: String): Boolean =
    ContentAddress.commitOnce(docs.sparkSession, s"$dir/postings")(phrasePerDoc(docs))

  /** [[phraseSearch]] probing the materialized phrase index: the probe
    * starts at a narrow (STRING, BIGINT, BIGINT) parquet scan — no
    * text re-parse, no adjacency self-join per query (spec-asserted ≡
    * self-computing; the roundtrip is exact).
    */
  def phraseSearchCached(docs: DataFrame, dir: String, topN: Int = 5,
                         topDocs: Int = 3): DataFrame = {
    prebuildPhraseIndex(docs, dir)
    phraseSearchFrom(docs.sparkSession.read.parquet(s"$dir/postings"),
      topN, topDocs)
  }

  /** Triangle census of the token co-occurrence graph: for each
    * top-`vocab` token, the number of triangles it participates in —
    * the clustering signal that separates hub terms (high degree, few
    * closed wedges) from topical cliques. Same graph as [[textRank]].
    *
    * Scale: the corpus is touched only by the distinct-token and df
    * aggregates; edges are vocab-bounded (≤ V²) and each triangle is
    * enumerated exactly once via the ordered-triple join (a < b < c —
    * the standard distributed triangle count, no orientation
    * double-count, no per-node neighborhood materialization).
    */
  def tokenTriangles(docs: DataFrame, vocab: Int = 50, topK: Int = 20): DataFrame =
    tokenTrianglesFrom(tokenTf(docs), vocab, topK)

  /** [[tokenTriangles]] served from the materialized [[tokenTf]] frame
    * (spec-asserted ≡ self-computing).
    */
  def tokenTrianglesCached(docs: DataFrame, dir: String, vocab: Int = 50,
                           topK: Int = 20): DataFrame =
    tokenTrianglesFrom(tokenTfCached(docs, dir), vocab, topK)

  private def tokenTrianglesFrom(tfFrame: DataFrame, vocab: Int,
                                 topK: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val docTokens = tfFrame.select("doc_id", "term")
    val dfreq = docTokens.groupBy("term").agg(count(lit(1)).as("df"))
    val top = dfreq.orderBy(col("df").desc, col("term").asc).limit(vocab)
    val dt = docTokens.join(broadcast(top.select("term")), "term")
    val e = dt.select(col("doc_id"), col("term").as("src"))
      .join(dt.select(col("doc_id"), col("term").as("dst")), "doc_id")
      .filter(col("src") < col("dst"))
      .select("src", "dst").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.dst") === col("e2.src"))
      .join(e.as("e3"), col("e1.src") === col("e3.src")
        && col("e2.dst") === col("e3.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("term").asc)
      .limit(topK)
  }

  def seedPii(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" host "), col("doc_id") % 256, lit("."),
            col("doc_id") * 7 % 256, lit(".10."), col("doc_id") % 100))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("text"))

  /** Hashed-feature linear classifier inference (the fastText recipe
    * quality filters run at corpus scale: hash each token into a fixed
    * feature space, average the bucket weights, threshold). Weights
    * here are a deterministic function of the bucket id — the fixture
    * stand-in for a trained weight vector; swapping in learned weights
    * is a broadcast-map change, the plan is identical.
    *
    * Exactness by construction: per-token weights are INTEGERS
    * (bucket % 1001 - 500), so the per-doc sum is order-independent
    * and exact in both engines; one final IEEE division by
    * (1000 · n_tokens) produces a bit-identical margin, and the keep
    * decision thresholds the margin directly (the logistic is
    * monotone, so margin ≥ 0 ⇔ sigmoid ≥ ½ — same decision, no
    * cross-engine transcendental). Zero shuffles: the whole operator
    * is one codegen'd per-row projection over transform/aggregate —
    * classifier inference at 100 TB is a map-only pass.
    */
  def hashedClassifier(docs: DataFrame, dims: Int = 4096): DataFrame = {
    val wsum = aggregate(
      transform(toks, t =>
        conv(substring(md5(concat(lit("w:"), t)), 1, 8), 16, 10)
          .cast("long") % dims % 1001 - 500),
      lit(0L), (acc, w) => acc + w)
    docs
      .select(col("doc_id"), size(toks).as("n_tokens"),
        // long multiply: int `size * 1000` would overflow past ~2M tokens
        (wsum.cast("double") / (size(toks).cast("long") * 1000L)
          .cast("double")).as("margin"))
      .select(col("doc_id"), col("n_tokens"),
        // floor(x·1e4 + ½)/1e4, not round(): Spark and DuckDB round()
        // disagree on boundary doubles (the moneyRound lesson)
        (floor(col("margin") * 10000 + 0.5) / 10000).as("margin"),
        (col("margin") >= 0).as("keep"))
      .orderBy("doc_id")
  }

  /** Out-of-vocabulary rate against the corpus' own top-`vocab` tokens
    * — the tokenizer-coverage diagnostic run before committing a vocab
    * size: what fraction of token OCCURRENCES (not types) fall outside
    * the head. Two aggregates: a corpus-wide term count whose top-k is
    * taken with TakeOrdered (never a full sort) and broadcast back,
    * then one groupBy(doc_id) over the token stream with the
    * membership flag folded in — per-doc work is one exploded pass,
    * vocab-side work is bounded by distinct terms and the broadcast
    * by `vocab` rows. Rank ties at the vocab boundary break
    * deterministically by (count desc, term asc) so reruns and both
    * engines pick the same head. The default head of 16 sits below
    * the synthetic corpus' tiny distinct-term count (31) so the
    * fixture exercises a real OOV tail.
    */
  def oovRate(docs: DataFrame, vocab: Int = 16): DataFrame =
    oovRateFrom(tokenTf(docs), vocab)

  /** [[oovRate]] served from the materialized [[tokenTf]] frame
    * (spec-asserted ≡ self-computing): occurrence counts fold back in
    * as Σtf, so the rates are the exact occurrence-level numbers.
    */
  def oovRateCached(docs: DataFrame, dir: String, vocab: Int = 16): DataFrame =
    oovRateFrom(tokenTfCached(docs, dir), vocab)

  private def oovRateFrom(tfFrame: DataFrame, vocab: Int): DataFrame = {
    val head = tfFrame.groupBy("term").agg(sum("tf").as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(vocab)
      .select(col("term"), lit(1).as("in_vocab"))
    tfFrame
      .join(broadcast(head), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("tf")).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (floor(col("n_oov").cast("double") / col("n_tokens") * 10000
          + 0.5) / 10000).as("oov_rate"))
      .orderBy("doc_id")
  }

  /** Hybrid retrieval with reciprocal-rank fusion: fuse [[bm25TopK]]'s
    * lexical ranking with a hashed signed bag-of-words dense ranking
    * (feature hashing à la the q145 classifier, cosine scoring à la
    * the ANN family), RRF-combining the two top-`kEach` lists —
    * `1/(rrfK + rank)` summed over the rankers a doc appears in. Rank
    * fusion is how production search actually composes BM25 with a
    * dense retriever: it needs only ranks, so heterogeneous score
    * scales never have to be calibrated against each other.
    *
    * The dense side stays SPARSE end to end: tokens hash into `dims`
    * signed buckets and partial-aggregate to (doc, bucket, weight)
    * rows — integer weights, so dot products and norms are
    * order-independent exact integers (the q145 discipline), and the
    * one cosine per candidate is sqrt+divide on bit-identical inputs.
    * The 8-query panel broadcasts both times it is joined (its hashed
    * vectors and its norms); the corpus is touched only by the two
    * token aggregates each ranker already needs. Both rank windows
    * partition by q_id — #queries bounded frames, never a global
    * sort. At 100 TB the per-doc work is two narrow aggregates and a
    * broadcast-join probe: the inverted-index access pattern twice.
    */
  def hybridRrfTopK(docs: DataFrame, nQueries: Int = 8, kEach: Int = 20,
                    kOut: Int = 10, dims: Int = 64,
                    rrfK: Int = 60): DataFrame =
    hybridRrfTopKFrom(docs, tokenTf(docs), nQueries, kEach, kOut, dims, rrfK)

  /** [[hybridRrfTopK]] served from the materialized retrieval-arm
    * frame ([[prebuildRetrievalArms]]) — the arm stores the full fused
    * output at the default (kEach = 20, kOut = 10) panel.
    * Spec-asserted ≡ self-computing.
    */
  def hybridRrfTopKCached(docs: DataFrame, armsDir: String): DataFrame = {
    prebuildRetrievalArms(docs, armsDir)
    docs.sparkSession.read.parquet(s"$armsDir/hybrid")
      .orderBy("q_id", "rk")
  }

  private def hybridRrfTopKFrom(docs: DataFrame, tfFrame: DataFrame,
                                nQueries: Int, kEach: Int, kOut: Int,
                                dims: Int, rrfK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // signed bag-of-words from the tf frame: Σ_occurrences sign(term)
    // = Σ_terms sign(term)·tf — exact integers either way
    val sparse = tfFrame
      .select(col("doc_id"),
        (conv(substring(md5(concat(lit("d:"), col("term"))), 1, 8), 16, 10)
          .cast("long") % dims).as("j"),
        (when(conv(substring(md5(concat(lit("s:"), col("term"))), 1, 8), 16, 10)
          .cast("long") % 2 === 0, 1L).otherwise(-1L) * col("tf")).as("s"))
      .groupBy("doc_id", "j").agg(sum("s").as("v"))
      .filter(col("v") =!= 0)
    val norms = sparse.groupBy("doc_id")
      .agg(sum(col("v") * col("v")).as("nrm"))
    val qvec = sparse.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"), col("j"), col("v").as("vq"))
    val scored = sparse.join(broadcast(qvec), "j")
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id").agg(sum(col("v") * col("vq")).as("dot"))
      .join(norms, "doc_id")
      .join(broadcast(norms.select(col("doc_id").as("q_id"),
        col("nrm").as("qnrm"))), "q_id")
      // integer dot / sqrt(integer · integer): identical inputs and
      // association in both engines, so the doubles replay bit-exactly
      .withColumn("cos_r", round(col("dot").cast("double") /
        sqrt(col("nrm").cast("double") * col("qnrm").cast("double")), 6))
    val wd = Window.partitionBy("q_id")
      .orderBy(col("cos_r").desc, col("doc_id"))
    val dense = scored.withColumn("rk_dense", row_number().over(wd))
      .filter(col("rk_dense") <= kEach)
      .select(col("q_id"), col("doc_id"), col("rk_dense"))
    val lex = bm25TopKFrom(docs, tfFrame, nQueries, kEach)
      .select(col("q_id"), col("doc_id"), col("rk").as("rk_lex"))
    val wf = Window.partitionBy("q_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    lex.join(dense, Seq("q_id", "doc_id"), "full_outer")
      // lex term + dense term, in that textual order (sum-order pin)
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("rk_lex")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK) + col("rk_dense")), lit(0.0)), 6))
      .withColumn("rk", row_number().over(wf))
      .filter(col("rk") <= kOut)
      .select(col("q_id"), col("doc_id"), col("rrf"),
        col("rk_lex"), col("rk_dense"), col("rk"))
      .orderBy("q_id", "rk")
  }

  /** Heaps-law vocabulary growth curve: distinct-vocabulary size as a
    * function of corpus consumed, in ingestion order (doc_id), cut
    * into `buckets` equal-doc tranches. The curve a tokenizer team
    * reads before freezing a vocab: a healthy crawl's vocab grows
    * ~K·nᵝ (β≈0.5) — a flattening curve means the new tranche adds
    * bytes but no new language, a spiking one means a boilerplate or
    * encoding regression is minting fake terms. Companion to q141's
    * per-doc novelty (this is the corpus-level integral of the same
    * first-seen signal).
    *
    * Scale: a term's tranche-of-first-appearance is `min(bucket)` —
    * one partial-aggregatable pass over the exploded token stream (no
    * window over tokens, no sort); tranche ids come from dense doc_id
    * arithmetic against ONE broadcast count row, not a global rank.
    * The cumulative window runs over #buckets rows — metadata, never
    * the corpus. Every output is an exact integer: no ln/ratio is
    * emitted, so the artifact is bit-stable on any engine (the Heaps
    * β fit is one ln-ln regression away, q128's zipfSlope pattern,
    * done downstream on #buckets rows).
    */
  def vocabGrowth(docs: DataFrame, buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = docs.agg(count(lit(1)).as("nd"))
    val toks = docs.crossJoin(broadcast(n))
      .select((floor(col("doc_id") * buckets / col("nd")) + 1).cast("int")
          .as("bucket"),
        explode(split(col("text"), " ")).as("term"))
    val firstSeen = toks.groupBy("term").agg(min("bucket").as("first_bucket"))
    val newTerms = firstSeen.groupBy("first_bucket")
      .agg(count(lit(1)).as("n_new_terms"))
    val tokCounts = toks.groupBy("bucket").agg(count(lit(1)).as("n_tokens"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokCounts
      .join(newTerms, col("bucket") === col("first_bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("n_new_terms"), lit(0L)).as("n_new_terms"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("vocab_size", sum("n_new_terms").over(w))
      .orderBy("bucket")
  }

  /** Flesch reading-ease proxy per document — the classic readability
    * screen a corpus-quality pipeline runs next to the Gopher gate
    * (q75) and the gibberish LM (q121). Counts are regex-run totals
    * (shared RE2/Java semantics for these character classes):
    * words = `[a-z0-9]+` runs, sentences = `[.!?]+` runs (a document
    * with no terminal punctuation is ONE sentence — the corpus is
    * all-lowercase prose, so the general formula degrades gracefully
    * instead of dividing by zero), syllables ≈ `[aeiouy]+` vowel-group
    * runs (the standard dictionary-free estimator; spaces break
    * groups, so the text-level count equals the per-word sum).
    *
    * flesch = 206.835 − 1.015·(W/S) − 84.6·(Y/W): exact INT counts
    * into the identical formula text in both engines — two IEEE
    * divisions, two multiply-subtracts, round(4). Zero-word documents
    * get NULL via NULLIF, not a crash.
    *
    * Scale: pure per-row map over one scan (three codegen'd regex
    * counts) — no shuffle at all before the presentation sort.
    */
  def readability(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .as("n_words"),
        greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))),
          lit(1)).as("n_sentences"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
          .as("n_syllables"))
      .selectExpr("doc_id", "n_words", "n_sentences", "n_syllables",
        "round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences) " +
          "- 84.6 * (CAST(n_syllables AS DOUBLE) / nullif(n_words, 0)), 4) " +
          "AS flesch")
      .orderBy("doc_id")

  /** Rank-biased overlap (Webber, Moffat & Zobel 2010) between the
    * BM25 ranking (q138's exact scoring chain) and a plain tf·idf
    * overlap ranking, per panel query, at fixed depth `k` = 10 with
    * persistence p = 1/2 — the index-migration gauge: "how much does
    * the cheap ranking's top-10 agree with the reference ranking,
    * weighted toward the top where users actually look".
    *
    * RBO_min = Σ_{d=1..k} (1−p)·p^{d−1} · |A_{1..d} ∩ B_{1..d}| / d.
    * Two exactness levers: (1) the depth loop disappears — a doc at
    * ranks (ra, rb) in the two lists enters every prefix-overlap from
    * depth m = max(ra, rb) on, so its total contribution is the
    * SUFFIX weight W(m) = Σ_{d=m..k} w_d, making RBO one equi-join +
    * one aggregate per query, no d-way self-join; (2) with p = 1/2
    * every w_d = C/(2^d·d) is an exact integer under C = lcm(1..10)
    * · 2^10 = 2 580 480, so the per-query sum is BIGINT-exact in any
    * order and the single closing divide is one IEEE op in both
    * engines.
    *
    * Scale: both rankings flow through the broadcast query-term panel
    * join (inverted-index access, q138's note); the rank windows
    * partition by q_id; the RBO join is (q_id, doc_id) equi over two
    * ≤ k·|panel|-row frames.
    */
  def rboRankings(docs: DataFrame, nQueries: Int = 8, k: Int = 10,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k == 10, "suffix-weight literals are derived for depth 10")
    val tfFrame = tokenTf(docs)
    rboClose(
      // ranking A: q138's BM25 chain — literally the q138 operator
      bm25TopKFrom(docs, tfFrame, nQueries, k, k1, b)
        .select(col("q_id"), col("doc_id"), col("rk").as("ra")),
      tfidfTopKFrom(docs, tfFrame, nQueries, k)
        .select(col("q_id"), col("doc_id"), col("rk").as("rb")))
  }

  /** [[rboRankings]] served from the materialized retrieval-arm frames
    * ([[prebuildRetrievalArms]]): both arm rankings become narrow
    * parquet scans and the probe is the suffix-weight join alone.
    * Spec-asserted ≡ self-computing (ranks are INTs — exact
    * roundtrip).
    */
  def rboRankingsCached(docs: DataFrame, armsDir: String): DataFrame = {
    prebuildRetrievalArms(docs, armsDir)
    val rd = docs.sparkSession.read
    rboClose(
      rd.parquet(s"$armsDir/bm25")
        .select(col("q_id"), col("doc_id"), col("rk").as("ra")),
      rd.parquet(s"$armsDir/tfidf")
        .select(col("q_id"), col("doc_id"), col("rk").as("rb")))
  }

  /** Plain tf·idf overlap top-k — [[rboRankings]]' cheap arm:
    * score(q,d) = Σ_{t∈q} ln(N/df)·tf, no length normalization. Same
    * broadcast query-panel access pattern as [[bm25TopK]].
    */
  private[operators] def tfidfTopKFrom(docs: DataFrame, tfFrame: DataFrame,
                                       nQueries: Int, k: Int): DataFrame = {
    val tf = tfFrame
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val qterms = tf.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"), col("term"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("sb").desc, col("doc_id"))
    tf.join(broadcast(qterms), "term")
      .filter(col("doc_id") =!= col("q_id"))
      .join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("contrib", log(col("n_docs") / col("df")) * col("tf"))
      .groupBy("q_id", "doc_id")
      .agg(round(sum("contrib"), 6).as("sb"))
      .withColumn("rk", row_number().over(wB)).filter(col("rk") <= k)
      .select("q_id", "doc_id", "rk")
  }

  /** The RBO closing over two (q_id, doc_id, rank) frames: suffix
    * weights W(m)·C for C = lcm(1..10)·2^10 = 2 580 480 — one
    * equi-join + one aggregate per query, BIGINT-exact until the
    * single closing divide.
    */
  private def rboClose(ra: DataFrame, rb: DataFrame): DataFrame = {
    val agg = ra.join(rb, Seq("q_id", "doc_id"))
      .withColumn("m", greatest(col("ra"), col("rb")))
      .selectExpr("q_id",
        "CASE m WHEN 1 THEN 1788440 WHEN 2 THEN 498200 WHEN 3 THEN 175640 " +
          "WHEN 4 THEN 68120 WHEN 5 THEN 27800 WHEN 6 THEN 11672 " +
          "WHEN 7 THEN 4952 WHEN 8 THEN 2072 WHEN 9 THEN 812 ELSE 252 END AS w")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_overlap"), sum("w").as("sc"))
    ra.select("q_id").distinct()
      .join(agg, Seq("q_id"), "left")
      .selectExpr("q_id", "CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap",
        "floor(CAST(coalesce(sc, 0) AS DOUBLE) / 2580480.0 * 1e6 + 0.5) / 1e6 AS rbo")
      .orderBy("q_id")
  }

  /** q237: retrieval-quality rank metrics — nDCG@10 and MRR of both
    * retrieval arms ([[bm25TopK]] lexical, [[hybridRrfTopK]] fused)
    * against a DETERMINISTIC graded relevance label: rel(q, d) = 2
    * when q and d share ≥ 5 distinct 3-shingles, 1 when they share
    * ≥ 1, else 0 (the q106/q65 shingle convention — engine-exact), so
    * "is the ranker any good" becomes a hash-checkable number. This
    * closes the retrieval family's quality gap the way q93/q110/q194
    * did for ANN/LSH/PQ: those measure the approximation against the
    * exact ranking, this measures the ranking against ground truth.
    *
    * Exactness (the q213 integer-weight discipline): the rank
    * discounts 1/log2(i+1) are pre-scaled INTEGER literals
    * w(i) = round(1e9/log2(i+1)); gains 2^rel − 1 ∈ {1, 3} are
    * integers; DCG@10 is an exact BIGINT sum of g·w, and the ideal
    * IDCG@10 is CLOSED-FORM integer arithmetic on the (n_rel2,
    * n_rel) counts via cumulative-weight literals — no ideal-ranking
    * window anywhere. nDCG is ONE closing divide (floor-rounded
    * 1e-6); MRR's reciprocal rank is one divide off the integer
    * first-relevant rank (0 when no relevant doc is retrieved).
    *
    * Scale: relevance flows through a broadcast of the 8-query
    * shingle panel (the inverted-index access pattern — only
    * shingles the panel contains leave the corpus scan); the arm
    * frames are the retrieval queries' own bounded outputs; every
    * aggregate is per-q_id over ≤ k rows. Output: 2 rows per query.
    */
  def retrievalQuality(docs: DataFrame, nQueries: Int = 8,
                       k: Int = 10): DataFrame = {
    val tfFrame = tokenTf(docs)
    retrievalQualityFrom(docs,
      bm25TopKFrom(docs, tfFrame, nQueries, k).select("q_id", "doc_id", "rk"),
      hybridRrfTopKFrom(docs, tfFrame, nQueries, kEach = 20, kOut = k,
        dims = 64, rrfK = 60).select("q_id", "doc_id", "rk"),
      relevanceFrom(docs, nQueries), nQueries, k)
  }

  /** [[retrievalQuality]] served from the materialized retrieval-arm
    * frames ([[prebuildRetrievalArms]]): both arm rankings AND the
    * graded relevance frame become narrow parquet scans — the probe is
    * the per-q_id metric aggregates alone, and nothing is persisted
    * (the parquet IS the reuse, so repeated library calls leak no
    * executor cache). Spec-asserted ≡ self-computing.
    */
  def retrievalQualityCached(docs: DataFrame, armsDir: String): DataFrame = {
    prebuildRetrievalArms(docs, armsDir)
    val rd = docs.sparkSession.read
    retrievalQualityFrom(docs,
      rd.parquet(s"$armsDir/bm25").select("q_id", "doc_id", "rk"),
      rd.parquet(s"$armsDir/hybrid").select("q_id", "doc_id", "rk"),
      rd.parquet(s"$armsDir/rel"), armNQueries, armK)
  }

  /** Graded relevance labels rel(q, d) ∈ {1, 2} for the `nQueries`
    * panel: 2 when q and d share ≥ 5 distinct 3-shingles, 1 when they
    * share ≥ 1 (absent pairs are rel 0 at the consumer's left join).
    * NOT persisted here: the self-computing path recomputes it per
    * consumer subtree (spec scale), the production path reads it from
    * the [[prebuildRetrievalArms]] parquet — the materialization IS
    * the reuse, with no executor-cache residue.
    */
  private def relevanceFrom(docs: DataFrame, nQueries: Int): DataFrame = {
    val sh = Dedup.shingleDocs(docs, 3).dropDuplicates("doc_id", "shingle")
    val qsh = sh.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"), col("shingle"))
    sh.join(broadcast(qsh), "shingle")
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id").agg(count(lit(1)).as("shared"))
      .select(col("q_id"), col("doc_id"),
        when(col("shared") >= 5, 2).otherwise(1).as("rel"))
  }

  private def retrievalQualityFrom(docs: DataFrame, bm25Ranked: DataFrame,
                                   hybridRanked: DataFrame, rel: DataFrame,
                                   nQueries: Int, k: Int): DataFrame = {
    require(k == 10, "rank-discount literals are derived for depth 10")
    rankQualityClose(
      docs.filter(col("doc_id") < nQueries)
        .select(col("doc_id").cast("bigint").as("q_id")),
      Seq("bm25" -> bm25Ranked, "hybrid" -> hybridRanked), rel)
  }

  /** Shared rank-metric closing (q237 retrieval arms, q244 ANN arms):
    * given a 1-column `q_id` panel, per-arm (q_id, doc_id, rk)
    * rankings at DEPTH 10, and graded relevance labels (q_id, doc_id,
    * rel ∈ {1, 2}; absent = 0), emit per (q_id, arm): n_rel,
    * first_rel_rank, MRR's reciprocal rank, the exact-BIGINT DCG@10
    * (integer discount-weight ladder), and nDCG@10 with the
    * closed-form integer IDCG — one closing divide per float. Panel
    * rows with no retrieved-relevant docs still report (rr = 0,
    * ndcg = 0): absence of quality is the finding.
    */
  private[operators] def rankQualityClose(panel: DataFrame,
                                          armsRanked: Seq[(String, DataFrame)],
                                          rel: DataFrame): DataFrame = {
    val wCase = "CASE rk WHEN 1 THEN 1000000000L WHEN 2 THEN 630929754L " +
      "WHEN 3 THEN 500000000L WHEN 4 THEN 430676558L WHEN 5 THEN 386852807L " +
      "WHEN 6 THEN 356207187L WHEN 7 THEN 333333333L WHEN 8 THEN 315464877L " +
      "WHEN 9 THEN 301029996L ELSE 289064826L END"
    // cumulative discounted weight of the first m ranks, m capped at 10
    def cumw(e: String) = s"CASE least($e, 10L) WHEN 0 THEN 0L " +
      "WHEN 1 THEN 1000000000L WHEN 2 THEN 1630929754L " +
      "WHEN 3 THEN 2130929754L WHEN 4 THEN 2561606312L " +
      "WHEN 5 THEN 2948459119L WHEN 6 THEN 3304666306L " +
      "WHEN 7 THEN 3637999639L WHEN 8 THEN 3953464516L " +
      "WHEN 9 THEN 4254494512L ELSE 4543559338L END"
    val gainExpr = "CASE rel WHEN 2 THEN 3L WHEN 1 THEN 1L ELSE 0L END"
    // arms union FIRST so the relevance frame is joined ONCE for all
    // of them — with a self-computing rel (q244's exact-ranking
    // subtree) a per-arm join would recompute it per arm
    def tagged(arm: (String, DataFrame)): DataFrame =
      arm._2.withColumn("arm", lit(arm._1))
    def armMetricsAll(ranked: DataFrame): DataFrame =
      ranked.join(rel, Seq("q_id", "doc_id"), "left")
        .withColumn("g", expr(gainExpr))
        .withColumn("w", expr(wCase))
        .groupBy("q_id", "arm")
        .agg(sum(expr("g * w")).cast("bigint").as("dcg_s"),
          min(when(col("rel") >= 1, col("rk"))).cast("int").as("first_rel_rank"))
    // ideal DCG in closed form: the ideal list is (all rel-2 docs,
    // then rel-1) — min(n2,10) threes then the ones up to depth 10
    val idcg = rel.groupBy("q_id").agg(
        count(lit(1)).as("n_rel"),
        sum(when(col("rel") === 2, 1L).otherwise(0L)).as("n2"))
      .selectExpr("q_id", "n_rel",
        s"CAST(3L * (${cumw("n2")}) + ((${cumw("n_rel")}) - (${cumw("n2")})) AS BIGINT) AS idcg_s")
    val arms = armMetricsAll(
      armsRanked.map(tagged).reduce(_.unionByName(_)))
    panel
      .withColumn("arm",
        explode(array(armsRanked.map(a => lit(a._1)): _*)))
      .join(arms, Seq("q_id", "arm"), "left")
      .join(idcg, Seq("q_id"), "left")
      .selectExpr("q_id", "arm",
        "CAST(coalesce(n_rel, 0) AS BIGINT) AS n_rel",
        "CAST(coalesce(first_rel_rank, 0) AS INT) AS first_rel_rank",
        "CASE WHEN first_rel_rank IS NULL THEN 0.0 " +
          "ELSE floor(1e6 / first_rel_rank + 0.5) / 1e6 END AS rr",
        "CAST(coalesce(dcg_s, 0) AS BIGINT) AS dcg_s",
        // dcg_s coalesces INSIDE the divide too: an arm that retrieved
        // zero candidates for a panel query (a lone-vector LSH bucket)
        // must score ndcg 0, not NULL
        "CASE WHEN coalesce(idcg_s, 0) = 0 THEN 0.0 " +
          "ELSE floor(CAST(coalesce(dcg_s, 0) AS DOUBLE) / CAST(idcg_s AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS ndcg")
      .orderBy("q_id", "arm")
  }

  /** q246: retrieval-arm agreement matrix — pairwise RBO(p = ½, k =
    * 10) between ALL THREE materialized arms (BM25, tf·idf, hybrid
    * RRF), per panel query: q213's single comparison generalized to
    * the full matrix, which is the actual index-migration question
    * ("which cheap ranker best tracks the fused one, and is the
    * lexical–dense disagreement coming from the fusion or from the
    * rankers"). Probes the materialized arm frames only
    * ([[prebuildRetrievalArms]] — the q240 probe-the-frame
    * precedent); each cell is the [[rboClose]] suffix-weight join,
    * BIGINT-exact until one closing divide. Output: 3 pairs ×
    * #panel rows, bounded by construction.
    */
  def armAgreement(docs: DataFrame, armsDir: String): DataFrame = {
    prebuildRetrievalArms(docs, armsDir)
    val rd = docs.sparkSession.read
    def armOf(name: String, rkAs: String): DataFrame =
      rd.parquet(s"$armsDir/$name")
        .select(col("q_id"), col("doc_id"), col("rk").as(rkAs))
    Seq(("bm25~hybrid", "bm25", "hybrid"),
        ("bm25~tfidf", "bm25", "tfidf"),
        ("tfidf~hybrid", "tfidf", "hybrid"))
      .map { case (tag, a, b) =>
        rboClose(armOf(a, "ra"), armOf(b, "rb")).withColumn("pair", lit(tag))
      }
      .reduce(_.unionByName(_))
      .select("pair", "q_id", "n_overlap", "rbo")
      .orderBy("pair", "q_id")
  }

  // ---- materialized retrieval arms ------------------------------------

  /** The panel the materialized arms are built at: every consumer's
    * defaults (nQueries = 8; depth 10 — q138's k = 5 is a rank filter
    * on the same row_number assignment, so the k = 10 frame serves
    * it exactly).
    */
  private[operators] val armNQueries = 8
  private[operators] val armK = 10

  /** Content-addressed home of one corpus' materialized retrieval-arm
    * rankings — the [[tokenTfDir]] discipline applied to the retrieval
    * family's OTHER shared re-derivation: q138/q152/q213/q237 each ran
    * one or both arms end to end per query. Holds four frames, each
    * the bounded (≤ k·|panel| rows) output of a deterministic build:
    * `bm25` (q_id, doc_id, bm25, rk at depth 10), `tfidf` (q_id,
    * doc_id, rk), `hybrid` (the full fused q152 output), and `rel`
    * (the graded-relevance labels). Ranks/labels are INTs, scores are
    * rounded doubles — exact parquet roundtrips all.
    */
  def retrievalArmsDir(spark: org.apache.spark.sql.SparkSession,
                       dataPath: String, base: String): String =
    // the prefix bakes in every constant the frames were built at
    // (panel size, depth, BM25 k1/b and the hybrid kEach/dims/rrfK
    // behind the v1 tag) — the cascadeDir cc${t}b${bands}_ convention,
    // so a constant change re-addresses instead of serving stale frames
    ContentAddress.dirFor(spark, dataPath, base,
      s"arms_n${armNQueries}k${armK}v1_", "retrievalArmsDir",
      legacyPrefixes = Seq("arms_"))

  /** Build the materialized arm frames under `dir/{bm25,tfidf,hybrid,
    * rel}` iff missing, each through its own
    * [[graft.engine.ContentAddress.commitOnce]]. Returns true iff any
    * build happened. `tfFrame` lets a warm-up that already
    * materialized [[tokenTf]] feed the builds from the parquet frame
    * instead of a fresh text parse; semantics are identical either
    * way (the tf frame is exact).
    */
  def prebuildRetrievalArms(docs: DataFrame, dir: String,
                            tfFrame: Option[DataFrame] = None): Boolean = {
    lazy val tf = tfFrame.getOrElse(tokenTf(docs))
    def arm(name: String)(frame: => DataFrame): () => Boolean =
      () => ContentAddress.commitOnce(docs.sparkSession, s"$dir/$name")(frame)
    // the arm builds are independent jobs over the one materialized
    // tf frame, each writing its own subdir — overlap them (the
    // prebuildPairFamilies pattern: one arm's straggler tail
    // back-fills with the next arm's tasks; the shared `tf` lazy is
    // forced under its own monitor, and a plain DataFrame plan is safe
    // to share across driver threads)
    Dedup.runBuildPool(Seq(
      arm("bm25")(bm25TopKFrom(docs, tf, armNQueries, armK)),
      arm("tfidf")(tfidfTopKFrom(docs, tf, armNQueries, armK)),
      arm("hybrid")(hybridRrfTopKFrom(docs, tf, armNQueries, kEach = 20,
        kOut = armK, dims = 64, rrfK = 60)),
      arm("rel")(relevanceFrom(docs, armNQueries))))
  }
}
