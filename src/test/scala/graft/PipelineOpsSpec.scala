package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.operators._

/** JSON routing, text analysis, dedup cascade, similarity search,
  * multimodal plumbing — semantics and invariants (exact engine parity
  * is covered by the DuckDB oracle).
  */
class PipelineOpsSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  private lazy val events = Tables.events(spark, sfDir).cache()
  private lazy val documents = Tables.documents(spark, sfDir).cache()
  private lazy val embeddings = Tables.embeddings(spark, sfDir).cache()

  /** (name, size, md5) of every data file in a tier dir — the
    * resident-untouched evidence for the delta-landing appends. */
  private def fileSnapshot(dir: String): Set[(String, Long, String)] =
    TierFiles.snapshot(dir)

  test("jsonRoundTrip parses k and re-encodes a canonical envelope") {
    val r = JsonRouting.jsonRoundTrip(events).head()
    assert(!r.isNullAt(1))
    assert(r.getString(2) == s"""{"event_id":${r.getLong(0)},"k":${r.getInt(1)}}""")
  }

  test("validityRouting sends exactly the corrupted tenth to the sentinel branch") {
    val res = JsonRouting.validityRouting(events).cache()
    val sentinel = res.filter(col("prediction") === -1).count()
    val expected = events.filter(col("event_id") % 10 === 0).count()
    assert(sentinel == expected)
    assert(res.count() == events.count()) // the CASE projection keeps every row
    assert(res.filter(col("prediction") =!= -1)
      .filter(col("prediction") =!= col("k") % 2).count() == 0)
  }

  test("responseEnvelope status matches sentinel routing") {
    val res = JsonRouting.responseEnvelope(events)
    assert(res.filter(col("status") === "error").count() ==
      events.filter(col("event_id") % 10 === 0).count())
    val sample = res.filter(col("status") === "success").head()
    assert(sample.getString(2).startsWith(s"""{"event_id":${sample.getLong(0)},"status":"success""""))
  }

  test("textStats counts tokens and chars consistently") {
    import spark.implicits._
    val df = Seq((1L, "the cat sat", "en", "src", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.textStats(df).head()
    assert(r.getInt(1) == 3)          // n_tokens
    assert(r.getInt(2) == 3)          // n_words_re
    assert(r.getInt(3) == 11)         // len_chars
    assert(r.getDouble(4) == 0.3333)  // stopword_ratio: "the" of 3
  }

  test("fingerprints are whitespace/case-insensitive") {
    import spark.implicits._
    val df = Seq(
      (1L, "The  Cat   sat", "en", "s", 0L),
      (2L, "the cat sat", "en", "s", 0L),
      (3L, "the dog sat", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val fps = TextAnalysis.fingerprints(df).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("exactDedup keeps the lowest doc_id per text") {
    import spark.implicits._
    val df = Seq(
      (5L, "aaa", "en", "s", 0L), (2L, "aaa", "en", "s", 0L), (9L, "bbb", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val res = Dedup.exactDedup(df).collect()
    assert(res.length == 2)
    assert(res.find(_.getString(0) == "aaa").get.getLong(1) == 2L)
    assert(res.find(_.getString(0) == "aaa").get.getLong(2) == 2L)
  }

  test("fuzzyDupPairs verifies LSH candidates by edit distance") {
    import spark.implicits._
    val base = (1 to 30).map("word" + _).mkString(" ")   // 30 tokens
    val oneEdit = base.replaceFirst("word7", "worz7")    // 1 substitution
    val unrelated = (1 to 30).map("zzz" + _).mkString(" ")
    val df = Seq(
      (1L, base, "en", "s", base.length.toLong),
      (2L, oneEdit, "en", "s", oneEdit.length.toLong),
      (3L, unrelated, "en", "s", unrelated.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val res = Dedup.fuzzyDupPairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // (1,2) shares 24/32 shingles → LSH candidate, verified at dist 1;
    // doc 3 shares no shingle with either → never even a candidate
    assert(res.toSeq == Seq((1L, 2L, 1)))
  }

  test("fuzzyDupPairs: the verifier rejects candidates above maxDist") {
    import spark.implicits._
    val base = (1 to 30).map("word" + _).mkString(" ")
    val oneEdit = base.replaceFirst("word7", "worz7")
    val df = Seq(
      (1L, base, "en", "s", base.length.toLong),
      (2L, oneEdit, "en", "s", oneEdit.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // same candidate pair as above, but a 0-edit budget drops it
    assert(Dedup.fuzzyDupPairs(df, maxDist = 0).collect().isEmpty)
    // and the threshold form still reports the true distance below it
    val kept = Dedup.fuzzyDupPairs(df, maxDist = 1).collect()
    assert(kept.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq ==
      Seq((1L, 2L, 1)))
  }

  test("fuzzyDupPairs on the corpus: lights up, no duplicates, bounded distances") {
    val res = Dedup.fuzzyDupPairs(documents).collect()
    assert(res.nonEmpty) // mutated-copy pairs at sf0.001
    assert(res.map(r => (r.getLong(0), r.getLong(1))).distinct.length == res.length)
    assert(res.forall(r => r.getLong(0) < r.getLong(1)))
    assert(res.forall(r => r.getInt(2) <= 20))
  }

  test("priorityDedup keeps the trusted-tier copy of a shared paragraph") {
    import spark.implicits._
    val para = (1 to 20).map("w" + _).mkString(" ")
    val df = Seq(
      (7L, para, "en", "src12", 0L), // tier 2 (web)
      (8L, para, "en", "src3", 0L),  // tier 0 (curated) → keeper despite higher id
      (9L, para, "en", "src7", 0L)   // tier 1 (books)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val res = Dedup.priorityDedup(df).collect()
    assert(res.length == 1)
    val r = res.head
    assert((r.getLong(1), r.getString(2), r.getInt(3), r.getLong(5)) ==
      (8L, "src3", 0, 3L))
  }

  test("priorityDedup: doc_id breaks ties within a tier; singletons are silent") {
    import spark.implicits._
    val para = (1 to 20).map("w" + _).mkString(" ")
    val solo = (1 to 20).map("x" + _).mkString(" ")
    val df = Seq(
      (5L, para, "en", "src0", 0L), // tier 0
      (3L, para, "en", "src4", 0L), // tier 0, lower id → keeper
      (6L, solo, "en", "src1", 0L)  // unique paragraph: not a merge decision
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val res = Dedup.priorityDedup(df).collect()
    assert(res.length == 1)
    assert((res.head.getLong(1), res.head.getString(2)) == (3L, "src4"))
  }

  test("bigramLmScore: uniform text scores ln(p) exactly; damaged text ranks worse") {
    import spark.implicits._
    // corpus: three clean docs of "ababab…" and one damaged doc.
    // clean-doc bigrams are ab/ba only; the damaged doc visits rare
    // transitions → strictly lower avg_logp / higher perplexity
    val df = Seq(
      (1L, "ab" * 30, "en", "s", 60L),
      (2L, "ab" * 25, "en", "s", 50L),
      (3L, "ab" * 20, "en", "s", 40L),
      (4L, "a" + ("zq" * 10), "en", "s", 21L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val res = TextAnalysis.bigramLmScore(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(res(1L)._1 == 59 && res(4L)._1 == 20)
    assert(res(4L)._2 < res(1L)._2)        // damaged doc is less likely
    assert(res(4L)._3 > res(1L)._3)        // and more perplexing
    // doc 2/3 are pure ab-repeats like doc 1 → same per-bigram mix up
    // to the leading/trailing char, so scores are near-identical
    assert(math.abs(res(2L)._2 - res(1L)._2) < 0.05)
  }

  test("bigramLmScore skips sub-bigram docs and scores every other doc") {
    import spark.implicits._
    val df = Seq(
      (1L, "x", "en", "s", 1L),   // one char: no bigram, no row
      (2L, "xy", "en", "s", 2L)   // exactly one bigram, logp = ln(1) = 0
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val res = TextAnalysis.bigramLmScore(df).collect()
    assert(res.length == 1)
    assert((res.head.getLong(0), res.head.getLong(1), res.head.getDouble(2),
      res.head.getDouble(3)) == (2L, 1L, 0.0, 1.0))
  }

  test("bigramLmScore on the corpus: one row per doc, ppl = exp(-avg_logp)") {
    val res = TextAnalysis.bigramLmScore(documents).collect()
    assert(res.length == documents.count())
    assert(res.forall(_.getDouble(2) < 0.0)) // real text is never certain
    assert(res.forall(r =>
      math.abs(r.getDouble(3) - math.exp(-r.getDouble(2))) < 0.01))
  }

  test("bigramLmScoreCached equals the self-computing scorer row for row; rebuild is gated") {
    val base = java.nio.file.Files.createTempDirectory("graft-blm").toString
    val dir = TextAnalysis.bigramLmDir(spark,
      s"$sfDir/documents.parquet", base)
    val cached = TextAnalysis.bigramLmScoreCached(documents, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val self = TextAnalysis.bigramLmScore(documents).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // bit-identical, not approximately equal: logp roundtrips parquet
    // exactly, the scoring chain is shared code
    assert(cached.toSeq == self.toSeq,
      "cached scorer diverges from the self-computing one")
    // the second touch must reuse the _SUCCESS-gated model
    assert(!TextAnalysis.prebuildBigramLm(documents, dir),
      "prebuild rebuilt an existing model")
  }

  test("CharGramGenerator emits exactly the composable char-gram multiset") {
    import spark.implicits._
    import graft.functions.CharGramGenerator.chargrams
    // edges: exactly-n chars, shorter-than-n (emits nothing), empty,
    // repeats, multi-byte characters (positions are CHARACTER-based)
    val df = Seq((1L, "abcd"), (2L, "ab"), (3L, "a"), (4L, ""),
      (5L, "aaaa"), (6L, "héllo"))
      .toDF("doc_id", "text")
    // the reference BRANCHES on short text: the greatest()-guard form
    // the generator replaced hit Spark's DESCENDING sequence(1, 0) on
    // sub-n documents and emitted two phantom empty grams — a latent
    // bug the generator fixes (emit nothing), hence the explicit case
    def composed(n: Int) = df.select(col("doc_id"), explode(expr(
      s"case when length(text) < $n then array() " +
        s"else transform(sequence(1, length(text) - ${n - 1}), i -> substring(text, i, $n)) end"))
      .as("gram"))
    for (n <- Seq(1, 2, 3)) {
      val native = df.select(col("doc_id"), chargrams(col("text"), n).as("gram"))
      assert(native.exceptAll(composed(n)).count() == 0 &&
        composed(n).exceptAll(native).count() == 0,
        s"n=$n native: ${native.collect().toSeq}\ncomposed: ${composed(n).collect().toSeq}")
    }
    // and on the real corpus at the q121 width
    val corpus = documents.select(col("doc_id"), col("text"))
    val nat = corpus.select(col("doc_id"), chargrams(col("text"), 2).as("gram"))
    val com = corpus.select(col("doc_id"), explode(expr(
      "case when length(text) < 2 then array() " +
        "else transform(sequence(1, length(text) - 1), i -> substring(text, i, 2)) end")).as("gram"))
    assert(nat.exceptAll(com).count() == 0 && com.exceptAll(nat).count() == 0)
  }

  test("ShingleGenerator emits exactly the composable pipeline's shingle multiset") {
    import spark.implicits._
    import graft.functions.ShingleGenerator.shingles
    // edge cases the two implementations must agree on: double spaces
    // (empty tokens), exactly-n tokens, shorter-than-n, repeats
    val df = Seq(
      (1L, "a b c d"), (2L, "a  b c"), (3L, "x y"), (4L, "t t t t t"))
      .map { case (i, t) => (i, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // the independent reference: the composable built-in pipeline the
    // generator replaced in Dedup.shingleDocs
    def composed(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(tk) - 3), i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))"))
          .as("shingle"))
    val native = df.select(col("doc_id"), shingles(col("text"), 3).as("shingle"))
    assert(native.exceptAll(composed(df)).count() == 0 &&
      composed(df).exceptAll(native).count() == 0,
      s"native: ${native.collect().toSeq}\ncomposed: ${composed(df).collect().toSeq}")
    // and on the real corpus
    val n2 = documents.select(col("doc_id"), shingles(col("text"), 3).as("shingle"))
    assert(n2.exceptAll(composed(documents)).count() == 0 &&
      composed(documents).exceptAll(n2).count() == 0)
    // null text emits nothing rather than failing
    val withNull = df.withColumn("text",
      when(col("doc_id") === 1L, lit(null: String)).otherwise(col("text")))
    assert(withNull.select(shingles(col("text"), 3)).filter(col("shingle").isNull).count() == 0)
  }

  test("minhash: identical docs collide in every band, disjoint docs in none") {
    import spark.implicits._
    val a = "spark table join filter window group agg sort"
    val b = "totally different words with zero overlap here now"
    val df = Seq((1L, a, "en", "s", 0L), (2L, a, "en", "s", 0L), (3L, b, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sig = Dedup.minhashSignatures(df).collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
    val pairs = Dedup.minhashCandidatePairs(df).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("image header decode parses real PNG/GIF dimensions from raw bytes") {
    import spark.implicits._
    // hand-built headers: PNG 64x32 (big-endian IHDR), GIF 320x200
    // (little-endian screen descriptor), JPEG magic, garbage
    val png = Array[Int](0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 0x0D, 0x49, 0x48, 0x44, 0x52,
      0, 0, 0, 0x40, 0, 0, 0, 0x20).map(_.toByte)
    val gif = "GIF89a".getBytes("US-ASCII") ++ Array[Int](0x40, 0x01, 0xC8, 0x00).map(_.toByte)
    val jpeg = Array[Int](0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x10).map(_.toByte)
    val junk = "hello".getBytes("UTF-8")
    val df = Seq((1L, png), (2L, gif), (3L, jpeg), (4L, junk)).toDF("doc_id", "payload")
    val res = Multimodal.imageHeaderMeta(df).collect()
      .map(r => r.getLong(0) -> ((r.getString(2),
        if (r.isNullAt(3)) -1 else r.getInt(3),
        if (r.isNullAt(4)) -1 else r.getInt(4)))).toMap
    assert(res(1L) == (("png", 64, 32)))
    assert(res(2L) == (("gif", 320, 200)))
    assert(res(3L) == (("jpeg", -1, -1)))
    assert(res(4L) == (("unknown", -1, -1)))
  }

  test("maxBucketSize caps a hot LSH bucket's candidate fan-out") {
    import spark.implicits._
    // 20 identical docs = one hot bucket in EVERY band → C(20,2)=190
    // pairs uncapped; plus one small near-dup cluster that must survive
    val hot = (1L to 20L).map(i => (i, "boilerplate header repeated verbatim on every page"))
    val a = (100L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12")
    val b = (101L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 zz")
    val df = (hot :+ a :+ b).map { case (i, t) => (i, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val uncapped = Dedup.minhashCandidatePairs(df).count()
    val capped = Dedup.minhashCandidatePairs(df, maxBucketSize = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(uncapped == 190 + 1)
    assert(capped.toSeq == Seq((100L, 101L)),
      s"hot bucket must be dropped, small cluster kept: ${capped.toSeq}")
    // the verify stage inherits the cap
    val verified = Dedup.nearDupPairs(df, threshold = 0.1, maxBucketSize = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(verified.toSeq == Seq((100L, 101L)))
  }

  test("nearDupPairs jaccard is exact on a hand-computed case") {
    import spark.implicits._
    // 12-token docs differing only in the last token:
    // 10 shingles each, 9 shared → jaccard = 9 / 11 = 0.8182
    val a = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12"
    val b = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 zz"
    val df = Seq((1L, a, "en", "s", 0L), (2L, b, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val res = Dedup.nearDupPairs(df, threshold = 0.1).collect()
    assert(res.length == 1, "high-overlap docs must collide in at least one band")
    assert(res.head.getDouble(2) == 0.8182)
  }

  test("size-ratio prefilter keeps pairs inside the rounding window (boundary regression)") {
    import spark.implicits._
    // A = 20002 unique tokens (20000 shingles); B = the 4001-token
    // slice containing band-0's min shingle (guaranteeing LSH
    // candidacy), so B's 3999 shingles are all in A: true jaccard =
    // 3999/20000 = 0.19995 < threshold, but round(j, 4) = 0.2 passes
    // the final filter — a prefilter with a bare FP epsilon would
    // drop the pair pre-verification and diverge from the oracle
    val toks = (0 until 20002).map(i => s"w$i")
    val a = toks.mkString(" ")
    val b = toks.slice(12943, 12943 + 4001).mkString(" ")
    val df = Seq((1L, a), (2L, b))
      .map { case (i, t) => (i, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val res = Dedup.nearDupPairs(df, threshold = 0.2).collect()
    assert(res.length == 1, "the rounding-window pair must survive the prefilter")
    assert(res.head.getLong(0) == 1L && res.head.getLong(1) == 2L)
    assert(res.head.getDouble(2) == 0.2, s"round(0.19995, 4): ${res.head.getDouble(2)}")
  }

  test("nearDupPairs equals brute-force Jaccard on every emitted pair (random corpus)") {
    import spark.implicits._
    // deterministic pseudo-random corpus over a 12-token pool — small
    // vocabulary guarantees LSH collisions to exercise the verify path
    val rnd = new scala.util.Random(7)
    val corpus = (1L to 40L).map { i =>
      val n = 8 + rnd.nextInt(12)
      (i, Seq.fill(n)("t" + rnd.nextInt(12)).mkString(" "), "en", "s", 0L)
    }
    val df = corpus.toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.nearDupPairs(df, threshold = 0.05).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.nonEmpty)
    val sets = corpus.map { case (i, t, _, _, _) =>
      i -> t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    }.toMap
    got.foreach { case ((a, b), j) =>
      val inter = sets(a).intersect(sets(b)).size.toDouble
      val union = sets(a).size + sets(b).size - inter
      val expected = BigDecimal(inter / union)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(j == expected, s"pair ($a,$b): got $j expected $expected")
    }
  }

  test("incrementalDedup admits only batch docs new to corpus and batch") {
    import spark.implicits._
    def mk(rows: Seq[(Long, String)]) = rows
      .map { case (i, t) => (i, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val corpus = mk(Seq((1L, "Hello World"), (2L, "unique corpus text")))
    val batch = mk(Seq(
      (10L, "hello   world"),      // corpus dup modulo case/whitespace
      (11L, "fresh content one"),
      (12L, "fresh content one"),  // intra-batch dup of 11
      (13L, "another new doc")))
    val admitted = Dedup.incrementalDedup(corpus, batch)
      .collect().map(_.getLong(0)).toSeq
    assert(admitted == Seq(11L, 13L))
    // equivalence with the full-recompute twin on the real table: the
    // admitted set is exactly the batch-only fingerprints' min doc_ids
    val docs = documents
    val c = docs.filter(col("source") =!= "src2")
    val b = docs.filter(col("source") === "src2")
    val got = Dedup.incrementalDedup(c, b).collect().map(_.getLong(0)).toSet
    def fps(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"))
    val corpusFps = fps(c).select("fp").distinct().collect().map(_.getString(0)).toSet
    val expected = fps(b).collect().groupBy(_.getString(1))
      .filterNot { case (fp, _) => corpusFps(fp) }
      .map { case (_, rows) => rows.map(_.getLong(0)).min }.toSet
    assert(got == expected)
  }

  test("paragraphDedup drops exactly the cross-document shared chunks") {
    import spark.implicits._
    // 4-token paragraphs; P is a chunk-aligned paragraph shared by docs
    // 1 and 2, doc 3 is all-unique, doc 4 repeats a paragraph only
    // WITHIN itself (must NOT be dropped — the dup rule is cross-doc)
    val P = "shared boiler plate text"
    val df = Seq(
      (1L, s"$P a1 a2 a3 a4"),
      (2L, s"b1 b2 b3 b4 $P"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8"),
      (4L, "d1 d2 d3 d4 d1 d2 d3 d4"))
      .map { case (i, t) => (i, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val res = Dedup.paragraphDedup(df, tokensPerPara = 4).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(res(1L)._1 == 2 && res(1L)._2 == 1)
    assert(res(2L)._1 == 2 && res(2L)._2 == 1)
    assert(res(3L) == ((2, 0, res(3L)._3)))
    assert(res(4L)._2 == 0, "within-doc repeats are kept")
    // cleaned doc 1 = just "a1 a2 a3 a4"; its fingerprint must equal the
    // md5 of that chunk's fp — reassembly preserves position order
    val md5hex = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(res(1L)._3 == md5hex(md5hex("a1 a2 a3 a4")))
    assert(res(2L)._3 == md5hex(md5hex("b1 b2 b3 b4")))
    // an all-dropped doc reassembles to the empty fingerprint
    val allDup = Seq((1L, P), (2L, P))
      .map { case (i, t) => (i, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val gone = Dedup.paragraphDedup(allDup, tokensPerPara = 4).collect()
    gone.foreach(r => assert(r.getString(3) == md5hex("")))
  }

  test("dupClusters equals driver-side union-find on the random corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val corpus = (1L to 40L).map { i =>
      val n = 8 + rnd.nextInt(12)
      (i, Seq.fill(n)("t" + rnd.nextInt(12)).mkString(" "), "en", "s", 0L)
    }
    val df = corpus.toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Dedup.nearDupPairs(df, threshold = 0.05).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(n => n -> find(n)).toMap
    val got = Dedup.dupClusters(df, threshold = 0.05).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, "HashMin propagation must agree with union-find")
  }

  test("audio header decode parses a real canonical WAV header") {
    import spark.implicits._
    def le(v: Long, n: Int) = (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
    val wav = "RIFF".getBytes("US-ASCII") ++ le(36, 4) ++
      "WAVE".getBytes("US-ASCII") ++ "fmt ".getBytes("US-ASCII") ++
      le(16, 4) ++ le(1, 2) ++ le(2, 2) ++ le(44100, 4) ++
      le(176400, 4) ++ le(4, 2) ++ le(16, 2) ++
      "data".getBytes("US-ASCII") ++ le(0, 4)
    val notWav = "definitely not audio".getBytes("US-ASCII")
    val df = Seq((1L, wav), (2L, notWav)).toDF("doc_id", "payload")
    val res = Multimodal.audioHeaderMeta(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(res(1L).getString(2) == "wav")
    assert(res(1L).getInt(3) == 2, "channels")
    assert(res(1L).getLong(4) == 44100L, "sample rate")
    assert(res(1L).getInt(5) == 16, "bits per sample")
    assert(res(2L).getString(2) == "unknown" && res(2L).isNullAt(4))
  }

  test("cluster-canonical cleaning keeps one survivor per star where pair-based keeps two") {
    import spark.implicits._
    // doc 3 is half doc 1 + half doc 2 (jaccard 0.25 to each), docs 1
    // and 2 share nothing: pairs are (1,3),(2,3) only. Pair-based
    // removal drops just 3; the cluster rule keeps only the component
    // min — doc 2 is a near-identical leak the pair rule misses.
    // (Token names chosen so both pairs land in an LSH band — pinned
    // against md5, deterministic.)
    val xs = (0 until 12).map(i => s"x4_$i")
    val ys = (0 until 12).map(i => s"y4_$i")
    val df = Seq(
      (1L, xs.mkString(" ")),
      (2L, ys.mkString(" ")),
      (3L, (xs.take(6) ++ ys.take(6)).mkString(" ")),
      (9L, (0 until 12).map(i => s"z_$i").mkString(" ")))
      .map { case (i, t) => (i, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairKept = Dedup.cleaningPipeline(df).collect().map(_.getLong(0)).toSet
    val clusterKept = Dedup.cleaningPipelineClustered(df).collect().map(_.getLong(0)).toSet
    assert(pairKept == Set(1L, 2L, 9L), s"pair rule: $pairKept")
    assert(clusterKept == Set(1L, 9L), s"cluster rule: $clusterKept")
  }

  test("dupClusters merges transitive chains a pair list would miss") {
    import spark.implicits._
    // A~B (jaccard 0.6) and B~C (0.6) but A~C only 0.333 < threshold:
    // pairwise deletion keyed on pairs alone would treat (A,C) as
    // unrelated; connected components must put all three in cluster 1
    val a = "a b c d e f g h i j"
    val b = "a b c d e f g h x y"
    val c = "p q c d e f g h x y"
    val lone = "completely different words with no shared shingles at all"
    val df = Seq((1L, a), (2L, b), (3L, c), (9L, lone))
      .map { case (i, t) => (i, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // sanity: the pair list itself lacks (1,3)
    val pairs = Dedup.nearDupPairs(df, threshold = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs((1L, 2L)) && pairs((2L, 3L)) && !pairs((1L, 3L)), pairs.toString)
    val clusters = Dedup.dupClusters(df, threshold = 0.4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      s"chain must collapse to the min-id cluster, got $clusters")
  }

  test("dupClusters with a reliable checkpoint dir equals the localCheckpoint run") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val corpus = (1L to 40L).map { i =>
      val n = 8 + rnd.nextInt(12)
      (i, Seq.fill(n)("t" + rnd.nextInt(12)).mkString(" "), "en", "s", 0L)
    }
    val df = corpus.toDF("doc_id", "text", "lang", "source", "n_chars")
    val local = Dedup.dupClusters(df, threshold = 0.05).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local.nonEmpty)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val reliable = Dedup.dupClusters(df, threshold = 0.05,
        checkpointDir = Some(ckpt)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == local,
      "executor-local and reliable checkpointing must be semantically invisible")
    // the reliable run actually wrote its rounds to the cluster FS
    // (getCheckpointDir returns a file: URI — resolve to a local path)
    val wrote = new java.io.File(new java.net.URI(
      spark.sparkContext.getCheckpointDir.getOrElse(ckpt)).getPath)
    assert(wrote.exists() && wrote.listFiles() != null && wrote.listFiles().nonEmpty,
      s"reliable checkpoint left nothing under $wrote")
  }

  test("cleaningPipelineClustered with injected pairs equals the self-computed run") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val corpus = (1L to 60L).map { i =>
      val n = 10 + rnd.nextInt(10)
      (i, Seq.fill(n)("t" + rnd.nextInt(10)).mkString(" "), "en", "s", 0L)
    }
    val df = corpus.toDF("doc_id", "text", "lang", "source", "n_chars")
    // the production calling pattern: run the verify cascade ONCE on
    // the pipeline's canonical frame (gate → exact dedup, min doc_id
    // per text), report/reuse the pairs, and inject them
    val canonical = df.filter(size(split(col("text"), " ")) >= 10)
      .groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "text")
    val pairs = Dedup.nearDupPairs(canonical, threshold = 0.05)
    assert(pairs.count() > 0, "corpus must exercise the near-dup path")
    val self = Dedup.cleaningPipelineClustered(df, jaccardThreshold = 0.05)
    val injected = Dedup.cleaningPipelineClustered(df, jaccardThreshold = 0.05,
      pairs = Some(pairs))
    assert(self.exceptAll(injected).count() == 0 &&
      injected.exceptAll(self).count() == 0,
      "injected-pairs run must be row-identical to the self-computed run")
    spark.catalog.clearCache()
  }

  test("materialized cascade: cached q33/q68/q72/q104 equal the self-computing operators") {
    import spark.implicits._
    // adversarial corpus for the pair-local restriction proof:
    //  - docs 5/6: exact duplicates (same gated text, different ids);
    //  - doc 2: SUB-GATE (8 tokens < minTokens 10) near-dup of gated
    //    doc 10 with a SMALLER id — if the cached q72 path failed to
    //    drop raw pairs touching non-canonical ids, cluster {2,10}
    //    would take min 2 and wrongly delete canonical doc 10;
    //  - docs 1/2/3-style chains and stars come via the random tail.
    val rnd = new scala.util.Random(31)
    val shared = (0 until 8).map(i => s"s_$i")
    val fixed = Seq(
      (2L, shared.mkString(" ")),                              // 8 tokens: sub-gate
      (10L, (shared ++ Seq("u_1", "u_2")).mkString(" ")),      // gated superset of doc 2
      (5L, (0 until 12).map(i => s"d_$i").mkString(" ")),
      (6L, (0 until 12).map(i => s"d_$i").mkString(" ")))      // exact dup of 5
    val tail = (20L to 70L).map { i =>
      val n = 10 + rnd.nextInt(8)
      (i, Seq.fill(n)("t" + rnd.nextInt(10)).mkString(" "))
    }
    val corpusDir = java.nio.file.Files.createTempDirectory("graft-cc-corpus").toString
    (fixed ++ tail).map { case (i, t) => (i, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(corpusDir)
    val docs = spark.read.parquet(corpusDir)
    val base = java.nio.file.Files.createTempDirectory("graft-cc-base").toString
    val t = 0.05
    val dir = Dedup.cascadeDir(spark, corpusDir, base, threshold = t)
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
             what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$what: cached and self-computed runs diverge")
    // the sub-gate pair must exist in the RAW pair frame for the q72
    // restriction to be exercised at all
    val rawPairs = Dedup.nearDupPairsCached(docs, dir, threshold = t)
    assert(rawPairs.filter(col("id_a") === 2L && col("id_b") === 10L).count() == 1,
      "fixture must produce the sub-gate raw pair (2,10)")
    same(rawPairs, Dedup.nearDupPairs(docs, threshold = t), "q33 pairs")
    same(Dedup.dupClustersCached(docs, dir, threshold = t),
      Dedup.dupClusters(docs, threshold = t), "q68 labels")
    same(Dedup.clusterSizeDistributionCached(docs, dir, threshold = t),
      Dedup.clusterSizeDistribution(docs, threshold = t), "q104 sizes")
    val cleanedCached =
      Dedup.cleaningPipelineClusteredCached(docs, dir, jaccardThreshold = t)
    same(cleanedCached,
      Dedup.cleaningPipelineClustered(docs, jaccardThreshold = t), "q72 cleaning")
    same(Dedup.cleaningPipelineCached(docs, dir, jaccardThreshold = t),
      Dedup.cleaningPipeline(docs, jaccardThreshold = t), "q55 cleaning")
    same(Dedup.minhashCandidatePairsCached(docs, dir, threshold = t),
      Dedup.minhashCandidatePairs(docs), "q32 candidates")
    same(Dedup.fuzzyDupPairsCached(docs, dir, threshold = t),
      Dedup.fuzzyDupPairs(docs), "q119 fuzzy")
    same(Dedup.sharedRunLengthsCached(docs, dir, threshold = t),
      Dedup.sharedRunLengths(docs), "q183 shared runs")
    same(Dedup.minhashCalibrationCached(docs, dir, threshold = t),
      Dedup.minhashCalibration(docs, threshold = t), "q199 calibration")
    same(Dedup.prefixJaccardJoinCached(docs, dir, threshold = 0.5),
      Dedup.prefixJaccardJoin(docs, threshold = 0.5), "q135 prefix jaccard")
    same(Dedup.containmentJoinCached(docs, dir, threshold = 0.6),
      Dedup.containmentJoin(docs, threshold = 0.6), "q140 containment")
    same(Dedup.noveltyScoreCached(docs, dir),
      Dedup.noveltyScore(docs), "q141 novelty")
    // the restriction actually mattered: doc 10 survives, doc 2 was
    // never admitted (sub-gate), doc 6 lost to its exact dup 5
    val kept = cleanedCached.collect().map(_.getLong(0)).toSet
    assert(kept.contains(10L) && !kept.contains(2L) && !kept.contains(6L) &&
      kept.contains(5L), s"kept = $kept")
    // amortization is real: a second prebuild call reuses both frames
    assert(!Dedup.prebuildCascade(docs, dir, threshold = t),
      "second prebuild must be a no-op reuse")
    // content addressing on the dedup side specifically (the shared
    // ContentAddress pruning law is pinned on ivfIndexDir too): the
    // address is stable for unchanged data, a corpus CHANGE moves it
    // and prunes the superseded sibling, a different (threshold,
    // bands) setting coexists (different prefix, nothing pruned)
    assert(Dedup.cascadeDir(spark, corpusDir, base, threshold = t) == dir,
      "stable address for unchanged data")
    val otherSetting = Dedup.cascadeDir(spark, corpusDir, base,
      threshold = 0.9, bands = 8)
    assert(otherSetting != dir && new java.io.File(dir, "pairs").exists(),
      "settings must not collide or prune each other")
    // partial-build RESUME (the documented mid-death contract): kill
    // the labels commit marker and prebuild must rebuild labels FROM
    // the committed pairs — reuse of cand/pairs/shsets, identical
    // labels — rather than re-running the whole LSH cascade
    val labelsBefore = Dedup.dupClustersCached(docs, dir, threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val marker = new java.io.File(s"$dir/labels", "_SUCCESS")
    assert(marker.exists() && marker.delete())
    val pairsMtime = new java.io.File(s"$dir/pairs", "_SUCCESS").lastModified()
    assert(Dedup.prebuildCascade(docs, dir, threshold = t),
      "a missing commit marker must trigger a resume build")
    assert(new java.io.File(s"$dir/pairs", "_SUCCESS").lastModified() == pairsMtime,
      "resume must NOT rebuild the committed pair frame")
    val labelsAfter = Dedup.dupClustersCached(docs, dir, threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(labelsAfter == labelsBefore, "resumed labels must be identical")
    docs.limit(3).write.mode("append").parquet(corpusDir)
    val moved = Dedup.cascadeDir(spark, corpusDir, base, threshold = t)
    assert(moved != dir, "a changed corpus must change the address")
    assert(!new java.io.File(dir).exists(),
      "the superseded revision must be pruned")
    spark.catalog.clearCache()
  }

  test("prebuildPairFamilies: one concurrent call lands all six tiers; rows equal the self-computing operators; second call reuses") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val corpus = (1L to 40L).map { i =>
      val n = 10 + rnd.nextInt(8)
      (i, Seq.fill(n)("t" + rnd.nextInt(9)).mkString(" "), "en", "s", 0L)
    }
    val corpusDir = java.nio.file.Files.createTempDirectory("graft-fam-corpus").toString
    corpus.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(corpusDir)
    val docs = spark.read.parquet(corpusDir)
    val base = java.nio.file.Files.createTempDirectory("graft-fam-base").toString
    val dir = Dedup.cascadeDir(spark, corpusDir, base)
    // first call: the overlapped builds must land every tier (the six
    // family subdirs AND the shared shingle-set tier they read)
    assert(Dedup.prebuildPairFamilies(docs, dir), "first call must build")
    for (s <- Seq("shsets", "pjpairs_t80", "cjpairs_t90", "snmpairs_t20",
        "winpairs_n3_w4", "candcap_50", "candr2_b4r2"))
      assert(graft.engine.ContentAddress.hasSuccess(spark, s"$dir/$s"),
        s"tier $s missing after the concurrent prebuild")
    // concurrency must not change a row: probe two families that do
    // NOT take the shared shingle frame (their builders ran in the
    // pool alongside the two that do)
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$what: concurrent build diverges from the self-computed run")
    same(Dedup.winnowedPairsCached(docs, dir), Dedup.winnowedPairs(docs),
      "winnowing")
    same(Dedup.snmNearDupsCached(docs, dir), Dedup.snmNearDups(docs), "snm")
    same(Dedup.prefixJaccardJoinCached(docs, dir),
      Dedup.prefixJaccardJoin(docs, 0.8), "prefix jaccard")
    assert(!Dedup.prebuildPairFamilies(docs, dir),
      "second call must be a reuse no-op")
    spark.catalog.clearCache()
  }

  test("appendToCascade: every tier bit-identical to a full rebuild; pairs resume from cand; guard") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // batch = doc_id % 10 == 7. Planted cross-batch duplicates use
    // EXACT copies (identical shingle sets ⇒ identical band minima ⇒
    // candidate collision guaranteed, no md5 folklore): 17 copies old
    // doc 5's text, 27 copies old doc 8's; 37/47 are an in-batch dup
    // pair. The old side keeps its own dup (5,6) so the append must
    // preserve old pairs AND add cross/batch-batch ones.
    val textA = (0 until 12).map(i => s"a_$i").mkString(" ")
    val textD = (0 until 12).map(i => s"d_$i").mkString(" ")
    val textE = (0 until 14).map(i => s"e_$i").mkString(" ")
    val fixed = Seq(
      (5L, textA), (6L, textA), (8L, textD),
      (17L, textA), (27L, textD), (37L, textE), (47L, textE))
    val tail = (50L to 99L).map { i =>
      (i, Seq.fill(10 + rnd.nextInt(6))("t" + rnd.nextInt(12)).mkString(" "))
    }
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-app-corpus").toString
    (fixed ++ tail).map { case (i, t) => (i, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(corpusDir)
    val docs = spark.read.parquet(corpusDir)
    val oldDocs = docs.filter(col("doc_id") % 10 =!= 7)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    val base = java.nio.file.Files.createTempDirectory("graft-app-base").toString
    val t = 0.2
    val oldDir = Dedup.cascadeDir(spark, corpusDir, base, t, variant = "old_")
    val newDir = Dedup.cascadeDir(spark, corpusDir, base, t, variant = "new_")
    val fullDir = Dedup.cascadeDir(spark, corpusDir, base, t)
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
             what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$what: append and rebuild diverge")
    assert(Dedup.prebuildCascade(oldDocs, oldDir, t))
    // r18 delta-landing law, part 1: snapshot every resident data file
    // of the old tiers (name, size, md5) BEFORE the append
    val oldSnap = Seq("sh3", "shsets", "cand", "pairs")
      .map(tier => tier -> fileSnapshot(s"$oldDir/$tier")).toMap
    assert(Dedup.appendToCascade(batch, oldDir, newDir, t),
      "first append must build")
    // part 2: the append wrote NOTHING over the resident history — old
    // files byte-identical, and each one entered the new tier by HARD
    // LINK (same inode ⇒ zero data bytes moved), the delta riding next
    // to them as separate part files
    Seq("sh3", "shsets", "cand", "pairs").foreach { tier =>
      assert(fileSnapshot(s"$oldDir/$tier") == oldSnap(tier),
        s"$tier: resident old files changed under the append")
      oldSnap(tier).foreach { case (name, _, _) =>
        val o = new java.io.File(s"$oldDir/$tier", name)
        val n = new java.io.File(s"$newDir/$tier", name)
        assert(n.isFile, s"$tier/$name: resident file missing from the new tier")
        assert(java.nio.file.Files.isSameFile(o.toPath, n.toPath),
          s"$tier/$name: expected a hard link, found a copy")
      }
      assert(fileSnapshot(s"$newDir/$tier").size > oldSnap(tier).size,
        s"$tier: no delta part files landed next to the linked base")
    }
    assert(Dedup.prebuildCascade(docs, fullDir, t))
    // THE contract: every tier of the appended cascade row-equals the
    // full rebuild's — the batch was the only text ever re-shingled
    Seq("sh3", "shsets", "cand", "pairs", "labels").foreach { tier =>
      same(spark.read.parquet(s"$newDir/$tier"),
        spark.read.parquet(s"$fullDir/$tier"), tier)
    }
    // the append really contributed pairs of all three kinds
    val pairs = spark.read.parquet(s"$newDir/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((5L, 6L)), "old-old pair lost")
    assert(pairs.contains((5L, 17L)) && pairs.contains((6L, 17L)),
      "old-batch pairs missing")
    assert(pairs.contains((37L, 47L)), "batch-batch pair missing")
    // and the labels closed over them: 5,6,17 share one cluster
    val lab = spark.read.parquet(s"$newDir/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lab(5L) == lab(6L) && lab(6L) == lab(17L))
    // full reuse is a no-op (the prebuild convention)
    assert(!Dedup.appendToCascade(batch, oldDir, newDir, t))
    // resident ids in the batch are rejected loudly, never double-added
    val dir3 = Dedup.cascadeDir(spark, corpusDir, base, t, variant = "g_")
    intercept[IllegalArgumentException] {
      Dedup.appendToCascade(batch.unionByName(oldDocs.filter(col("doc_id") === 5L)),
        oldDir, dir3, t)
    }
    // the APPEND's own mid-death resume: its tiers commit
    // independently too — kill the labels marker and re-append; only
    // labels rebuilds (from the committed union pairs), and it
    // rebuilds identically
    val appLabels = spark.read.parquet(s"$newDir/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(new java.io.File(s"$newDir/labels", "_SUCCESS").delete())
    val appPairsMtime = new java.io.File(s"$newDir/pairs", "_SUCCESS").lastModified()
    assert(Dedup.appendToCascade(batch, oldDir, newDir, t),
      "append must resume a killed tier")
    assert(new java.io.File(s"$newDir/pairs", "_SUCCESS").lastModified() == appPairsMtime,
      "append resume must NOT rebuild the committed union pairs")
    assert(spark.read.parquet(s"$newDir/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == appLabels,
      "resumed append labels must be identical")
    // pairs-tier RESUME (r17): kill the pairs+labels commits on the
    // full dir — the rebuild must complete FROM the committed cand
    // (cand untouched, no re-LSH) with identical pairs
    val pairsBefore = spark.read.parquet(s"$fullDir/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(new java.io.File(s"$fullDir/pairs", "_SUCCESS").delete())
    assert(new java.io.File(s"$fullDir/labels", "_SUCCESS").delete())
    val candMtime = new java.io.File(s"$fullDir/cand", "_SUCCESS").lastModified()
    assert(Dedup.prebuildCascade(docs, fullDir, t), "resume must build")
    assert(new java.io.File(s"$fullDir/cand", "_SUCCESS").lastModified() == candMtime,
      "resume must NOT rebuild the committed candidate frame")
    val pairsAfter = spark.read.parquet(s"$fullDir/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(pairsAfter == pairsBefore, "resumed pairs must be identical")
    // the factored verify itself equals the one-shot operator
    same(Dedup.verifyCandidatePairs(
        Dedup.shingleDocs(docs).dropDuplicates("doc_id", "shingle"),
        Dedup.minhashCandidatePairs(docs), t),
      Dedup.nearDupPairs(docs, t), "verifyCandidatePairs vs nearDupPairs")
    spark.catalog.clearCache()
  }

  test("appendToSemanticCc: tiers bit-identical to a full rebuild; reuse no-op; guard") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // batch = vec_id % 10 == 7. Planted EXACT-copy vectors across the
    // boundary (same vector ⇒ same LSH bucket, cosine exactly 1):
    // 17 copies old 5, 27/37 are an in-batch dup pair; the rest are
    // random unit-ish vectors that mostly stay under the threshold.
    val d = 8
    def vec(seed: Int) = {
      val r = new scala.util.Random(seed)
      Array.fill(d)(r.nextGaussian().toFloat)
    }
    val vA = vec(1); val vE = vec(2)
    val rows = Seq((5L, vA), (6L, vA), (17L, vA), (27L, vE), (37L, vE)) ++
      (50L to 99L).map(i => (i, vec(100 + rnd.nextInt(40))))
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-sapp-corpus").toString
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(corpusDir)
    val emb = spark.read.parquet(corpusDir)
    val oldEmb = emb.filter(col("vec_id") % 10 =!= 7)
    val batch = emb.filter(col("vec_id") % 10 === 7)
    val base = java.nio.file.Files.createTempDirectory("graft-sapp-base").toString
    val t = 0.3
    val oldDir = Dedup.semCcDir(spark, corpusDir, base, t, variant = "old_")
    val newDir = Dedup.semCcDir(spark, corpusDir, base, t, variant = "new_")
    val fullDir = Dedup.semCcDir(spark, corpusDir, base, t)
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
             what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$what: append and rebuild diverge")
    assert(Dedup.prebuildSemanticCc(oldEmb, oldDir, t))
    // r18 delta-landing law (the cascade test's twin): resident pair
    // files byte-identical across the append and hard-linked into the
    // new tier, the batch-endpoint delta riding as separate part files
    val oldSnap = fileSnapshot(s"$oldDir/pairs")
    assert(Dedup.appendToSemanticCc(batch, oldEmb, oldDir, newDir, t))
    assert(fileSnapshot(s"$oldDir/pairs") == oldSnap,
      "resident old pair files changed under the append")
    oldSnap.foreach { case (name, _, _) =>
      assert(java.nio.file.Files.isSameFile(
        new java.io.File(s"$oldDir/pairs", name).toPath,
        new java.io.File(s"$newDir/pairs", name).toPath),
        s"pairs/$name: expected a hard link, found a copy")
    }
    assert(fileSnapshot(s"$newDir/pairs").size > oldSnap.size,
      "no delta part files landed next to the linked base")
    assert(Dedup.prebuildSemanticCc(emb, fullDir, t))
    Seq("pairs", "labels").foreach { tier =>
      same(spark.read.parquet(s"$newDir/$tier"),
        spark.read.parquet(s"$fullDir/$tier"), tier)
    }
    // the planted old-batch and batch-batch pairs really landed, and
    // labels closed over the merged cluster
    val pairs = spark.read.parquet(s"$newDir/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((5L, 17L)) && pairs.contains((6L, 17L)) &&
      pairs.contains((27L, 37L)), s"planted pairs missing from $pairs")
    val lab = spark.read.parquet(s"$newDir/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lab(5L) == lab(17L) && lab(27L) == lab(37L))
    assert(!Dedup.appendToSemanticCc(batch, oldEmb, oldDir, newDir, t),
      "full reuse must be a no-op")
    // mid-death resume: labels rebuild alone (from the committed
    // union pairs), identically — the appendToCascade law's twin
    val labBefore = spark.read.parquet(s"$newDir/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(new java.io.File(s"$newDir/labels", "_SUCCESS").delete())
    val pairsMtime = new java.io.File(s"$newDir/pairs", "_SUCCESS").lastModified()
    assert(Dedup.appendToSemanticCc(batch, oldEmb, oldDir, newDir, t))
    assert(new java.io.File(s"$newDir/pairs", "_SUCCESS").lastModified() == pairsMtime)
    assert(spark.read.parquet(s"$newDir/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == labBefore)
    val dir3 = Dedup.semCcDir(spark, corpusDir, base, t, variant = "g_")
    intercept[IllegalArgumentException] {
      Dedup.appendToSemanticCc(
        batch.unionByName(oldEmb.filter(col("vec_id") === 5L)),
        oldEmb, oldDir, dir3, t)
    }
    // threshold/address mismatch rejected (the semcc setting check)
    intercept[IllegalArgumentException] {
      Dedup.appendToSemanticCc(batch, oldEmb, oldDir, newDir, 0.9)
    }
    spark.catalog.clearCache()
  }

  test("appendToSimhashPairs: tiers ≡ full rebuild; resident linked; chain; guards") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    // planted EXACT copies (identical text ⇒ identical signature ⇒
    // hamming 0, all four blocks collide): old pair (5,6); cross-batch
    // 17 copies 5; in-batch pair (37,47); day-2 doc 26 copies 5 for
    // the chain leg
    val textA = (0 until 12).map(i => s"sa_$i").mkString(" ")
    val textE = (0 until 14).map(i => s"se_$i").mkString(" ")
    val fixed = Seq((5L, textA), (6L, textA), (17L, textA), (26L, textA),
      (37L, textE), (47L, textE))
    val tail = (50L to 99L).map { i =>
      (i, Seq.fill(10 + rnd.nextInt(6))("sw" + rnd.nextInt(200)).mkString(" "))
    }
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-shapp-corpus").toString
    (fixed ++ tail).map { case (i, t) => (i, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(corpusDir)
    val docs = spark.read.parquet(corpusDir)
    val day0 = docs.filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 6)
    val b1 = docs.filter(col("doc_id") % 10 === 7)
    val b2 = docs.filter(col("doc_id") % 10 === 6)
    val base = java.nio.file.Files.createTempDirectory("graft-shapp-base").toString
    val d0 = Dedup.simhashDir(spark, corpusDir, base, variant = "d0_")
    val d1 = Dedup.simhashDir(spark, corpusDir, base, variant = "d1_")
    val d2 = Dedup.simhashDir(spark, corpusDir, base, variant = "d2_")
    val full = Dedup.simhashDir(spark, corpusDir, base)
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
             what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$what: append and rebuild diverge")
    assert(Dedup.prebuildSimhashPairs(day0, d0))
    val snap0 = Seq("sig", "pairs").map(t => t -> fileSnapshot(s"$d0/$t")).toMap
    assert(Dedup.appendToSimhashPairs(b1, d0, d1), "first append must build")
    // resident files byte-identical and hard-linked into the new tiers
    Seq("sig", "pairs").foreach { tier =>
      assert(fileSnapshot(s"$d0/$tier") == snap0(tier),
        s"$tier: resident old files changed under the append")
      snap0(tier).foreach { case (name, _, _) =>
        assert(java.nio.file.Files.isSameFile(
          new java.io.File(s"$d0/$tier", name).toPath,
          new java.io.File(s"$d1/$tier", name).toPath),
          s"$tier/$name: expected a hard link, found a copy")
      }
    }
    // chain: day-2 lands on day-1's appended frame, day-1 untouched
    val day1Snap = fileSnapshot(s"$d1/pairs")
    assert(Dedup.appendToSimhashPairs(b2, d1, d2))
    assert(fileSnapshot(s"$d1/pairs") == day1Snap, "day-2 changed day-1")
    assert(Dedup.prebuildSimhashPairs(docs, full))
    Seq("sig", "pairs").foreach { tier =>
      same(spark.read.parquet(s"$d2/$tier"),
        spark.read.parquet(s"$full/$tier"), tier)
    }
    // the planted pairs of all three kinds really landed
    val pairs = spark.read.parquet(s"$d2/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((5L, 6L)), "old-old pair lost")
    assert(pairs.contains((5L, 17L)) && pairs.contains((17L, 26L)),
      "cross-day pairs missing")
    assert(pairs.contains((37L, 47L)), "in-batch pair missing")
    // full reuse is a no-op; overlap and wrong-radius addresses rejected
    assert(!Dedup.appendToSimhashPairs(b1, d0, d1))
    intercept[IllegalArgumentException] {
      Dedup.appendToSimhashPairs(b1.unionByName(day0.limit(1)), d0,
        Dedup.simhashDir(spark, corpusDir, base, variant = "g_"))
    }
    intercept[IllegalArgumentException] {
      Dedup.appendToSimhashPairs(b1, d0, d1, maxHamming = 2)
    }
    spark.catalog.clearCache()
  }

  test("chained appends: day-2 lands on day-1's appended frame, both sides ≡ one rebuild") {
    import spark.implicits._
    // production is a CHAIN, not one landing: day-2's batch appends to
    // the address day-1's append produced. Two sequential disjoint
    // batches must equal one rebuild over all three slices — for the
    // lexical cascade and the semantic CC — and day-2 must leave
    // day-1's files byte-identical (the delta layout composes).
    val rnd = new scala.util.Random(31)
    val textA = (0 until 12).map(i => s"a_$i").mkString(" ")
    val textE = (0 until 14).map(i => s"e_$i").mkString(" ")
    // planted cross-DAY duplicates: 5 (day-0) = 17 (day-1) = 26 (day-2)
    // forces day-2's labels to re-close a cluster spanning all slices;
    // 36/46 (both day-2) is an in-batch pair on the last link
    val fixed = Seq((5L, textA), (17L, textA), (26L, textA),
      (36L, textE), (46L, textE))
    val tail = (50L to 89L).map { i =>
      (i, Seq.fill(10 + rnd.nextInt(6))("c" + rnd.nextInt(12)).mkString(" "))
    }
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-chain-corpus").toString
    (fixed ++ tail).map { case (i, t) => (i, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(corpusDir)
    val docs = spark.read.parquet(corpusDir)
    val day0 = docs.filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 6)
    val b1 = docs.filter(col("doc_id") % 10 === 7)
    val b2 = docs.filter(col("doc_id") % 10 === 6)
    val base = java.nio.file.Files.createTempDirectory("graft-chain-base").toString
    val t = 0.2
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
             what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$what: chained append and rebuild diverge")
    val d0 = Dedup.cascadeDir(spark, corpusDir, base, t, variant = "d0_")
    val d1 = Dedup.cascadeDir(spark, corpusDir, base, t, variant = "d1_")
    val d2 = Dedup.cascadeDir(spark, corpusDir, base, t, variant = "d2_")
    val full = Dedup.cascadeDir(spark, corpusDir, base, t)
    assert(Dedup.prebuildCascade(day0, d0, t))
    assert(Dedup.appendToCascade(b1, d0, d1, t))
    val day1Snap = Seq("sh3", "shsets", "cand", "pairs")
      .map(tier => tier -> fileSnapshot(s"$d1/$tier")).toMap
    assert(Dedup.appendToCascade(b2, d1, d2, t),
      "day-2 must land on day-1's appended frame")
    Seq("sh3", "shsets", "cand", "pairs").foreach { tier =>
      assert(fileSnapshot(s"$d1/$tier") == day1Snap(tier),
        s"$tier: day-2 changed day-1's files")
    }
    assert(Dedup.prebuildCascade(docs, full, t))
    Seq("sh3", "shsets", "cand", "pairs", "labels").foreach { tier =>
      same(spark.read.parquet(s"$d2/$tier"),
        spark.read.parquet(s"$full/$tier"), s"cascade $tier")
    }
    // the planted 3-day cluster really closed on day 2
    val lab = spark.read.parquet(s"$d2/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lab(5L) == lab(17L) && lab(17L) == lab(26L))
    assert(lab(36L) == lab(46L))
    // --- the semantic twin ---
    val d = 8
    def vec(seed: Int) = {
      val r = new scala.util.Random(seed)
      Array.fill(d)(r.nextGaussian().toFloat)
    }
    val vA = vec(3)
    val rows = Seq((5L, vA), (17L, vA), (26L, vA)) ++
      (50L to 89L).map(i => (i, vec(200 + rnd.nextInt(40))))
    val embDir = java.nio.file.Files
      .createTempDirectory("graft-chain-emb").toString
    rows.toDF("vec_id", "embedding").write.mode("overwrite").parquet(embDir)
    val emb = spark.read.parquet(embDir)
    val e0 = emb.filter(col("vec_id") % 10 =!= 7 && col("vec_id") % 10 =!= 6)
    val eb1 = emb.filter(col("vec_id") % 10 === 7)
    val eb2 = emb.filter(col("vec_id") % 10 === 6)
    val ts = 0.3
    val s0 = Dedup.semCcDir(spark, embDir, base, ts, variant = "d0_")
    val s1 = Dedup.semCcDir(spark, embDir, base, ts, variant = "d1_")
    val s2 = Dedup.semCcDir(spark, embDir, base, ts, variant = "d2_")
    val sFull = Dedup.semCcDir(spark, embDir, base, ts)
    assert(Dedup.prebuildSemanticCc(e0, s0, ts))
    assert(Dedup.appendToSemanticCc(eb1, e0, s0, s1, ts))
    val s1Snap = fileSnapshot(s"$s1/pairs")
    assert(Dedup.appendToSemanticCc(eb2, e0.unionByName(eb1), s1, s2, ts))
    assert(fileSnapshot(s"$s1/pairs") == s1Snap,
      "semcc: day-2 changed day-1's pair files")
    assert(Dedup.prebuildSemanticCc(emb, sFull, ts))
    Seq("pairs", "labels").foreach { tier =>
      same(spark.read.parquet(s"$s2/$tier"),
        spark.read.parquet(s"$sFull/$tier"), s"semcc $tier")
    }
    val slab = spark.read.parquet(s"$s2/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(slab(5L) == slab(17L) && slab(17L) == slab(26L))
    spark.catalog.clearCache()
  }

  test("compactCascade: content row-equal, files bin-packed, chain continues, tiers resume") {
    import spark.implicits._
    // the lifecycle closes: append (delta files accumulate) → compact
    // (fold into right-sized files, content-identical) → next append
    // lands on the COMPACTED address ≡ one rebuild. The fixture is the
    // chained-appends corpus shape: day-0 + batch-1 appended, then
    // compacted, then batch-2 appended on the compacted revision.
    val rnd = new scala.util.Random(43)
    val textA = (0 until 12).map(i => s"a_$i").mkString(" ")
    val fixed = Seq((5L, textA), (17L, textA), (26L, textA))
    val tail = (50L to 89L).map { i =>
      (i, Seq.fill(10 + rnd.nextInt(6))("k" + rnd.nextInt(12)).mkString(" "))
    }
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-cpt-corpus").toString
    (fixed ++ tail).map { case (i, t) => (i, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(corpusDir)
    val docs = spark.read.parquet(corpusDir)
    val day0 = docs.filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 6)
    val b1 = docs.filter(col("doc_id") % 10 === 7)
    val b2 = docs.filter(col("doc_id") % 10 === 6)
    val base = java.nio.file.Files.createTempDirectory("graft-cpt-base").toString
    val t = 0.2
    val d0 = Dedup.cascadeDir(spark, corpusDir, base, t, variant = "d0_")
    val d1 = Dedup.cascadeDir(spark, corpusDir, base, t, variant = "d1_")
    val cmp = Dedup.cascadeDir(spark, corpusDir, base, t, variant = "cmp_")
    val d2 = Dedup.cascadeDir(spark, corpusDir, base, t, variant = "d2_")
    val full = Dedup.cascadeDir(spark, corpusDir, base, t)
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
             what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, what)
    def nFiles(dir: String): Int =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
    assert(Dedup.prebuildCascade(day0, d0, t))
    assert(Dedup.appendToCascade(b1, d0, d1, t))
    val tiers = Seq("sh3", "shsets", "cand", "pairs", "labels")
    // the appended tiers really carry multiple part-file sets (linked
    // base + delta) — the small-file shape compaction exists for
    assert(tiers.take(4).forall(tr => nFiles(s"$d1/$tr") > 1),
      "fixture must present multi-file tiers to compact")
    val d1Snap = tiers.map(tr => tr -> fileSnapshot(s"$d1/$tr")).toMap
    assert(Dedup.compactCascade(spark, d1, cmp, t), "first compaction must build")
    tiers.foreach { tr =>
      same(spark.read.parquet(s"$cmp/$tr"), spark.read.parquet(s"$d1/$tr"),
        s"$tr: compaction changed tier content")
      // every tier is far below bytesPerFile, so bin-packing must fold
      // it to exactly one data file
      assert(nFiles(s"$cmp/$tr") == 1, s"$tr: expected 1 compacted file")
      assert(fileSnapshot(s"$d1/$tr") == d1Snap(tr),
        s"$tr: compaction wrote over the source address")
    }
    // reuse is a no-op; the guard rejects a wrong-setting address
    assert(!Dedup.compactCascade(spark, d1, cmp, t))
    intercept[IllegalArgumentException] {
      Dedup.compactCascade(spark, d1, cmp, threshold = 0.3)
    }
    // tiers commit independently: kill one tier's marker and re-run —
    // only it rewrites (the others' commit markers keep their mtime)
    val others = tiers.filterNot(_ == "cand")
      .map(tr => tr -> new java.io.File(s"$cmp/$tr", "_SUCCESS").lastModified())
    assert(new java.io.File(s"$cmp/cand", "_SUCCESS").delete())
    assert(Dedup.compactCascade(spark, d1, cmp, t), "must resume the killed tier")
    others.foreach { case (tr, m) =>
      assert(new java.io.File(s"$cmp/$tr", "_SUCCESS").lastModified() == m,
        s"$tr: resume rewrote a committed tier")
    }
    same(spark.read.parquet(s"$cmp/cand"), spark.read.parquet(s"$d1/cand"),
      "resumed cand tier diverged")
    // the chain survives compaction: day-2 appends on the COMPACTED
    // address and still equals one rebuild over all three slices
    assert(Dedup.appendToCascade(b2, cmp, d2, t),
      "append must land on a compacted address")
    assert(Dedup.prebuildCascade(docs, full, t))
    tiers.foreach { tr =>
      same(spark.read.parquet(s"$d2/$tr"), spark.read.parquet(s"$full/$tr"),
        s"$tr: append-on-compacted diverged from the rebuild")
    }
    val lab = spark.read.parquet(s"$d2/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lab(5L) == lab(17L) && lab(17L) == lab(26L),
      "the planted cross-day cluster must close across the compaction")
    spark.catalog.clearCache()
  }

  test("compactSimhash / compactSemanticCc: row-equal, files folded, appends continue") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
             what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, what)
    def nFiles(dir: String): Int =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
    // --- SimHash ---
    val textA = (0 until 12).map(i => s"ca_$i").mkString(" ")
    val fixed = Seq((5L, textA), (17L, textA), (26L, textA))
    val tail = (50L to 89L).map { i =>
      (i, Seq.fill(10 + rnd.nextInt(6))("cw" + rnd.nextInt(200)).mkString(" "))
    }
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-cpts-corpus").toString
    (fixed ++ tail).map { case (i, t) => (i, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(corpusDir)
    val docs = spark.read.parquet(corpusDir)
    val day0 = docs.filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 6)
    val b1 = docs.filter(col("doc_id") % 10 === 7)
    val b2 = docs.filter(col("doc_id") % 10 === 6)
    val base = java.nio.file.Files.createTempDirectory("graft-cpts-base").toString
    val d0 = Dedup.simhashDir(spark, corpusDir, base, variant = "d0_")
    val d1 = Dedup.simhashDir(spark, corpusDir, base, variant = "d1_")
    val cmp = Dedup.simhashDir(spark, corpusDir, base, variant = "cmp_")
    val d2 = Dedup.simhashDir(spark, corpusDir, base, variant = "d2_")
    val full = Dedup.simhashDir(spark, corpusDir, base)
    assert(Dedup.prebuildSimhashPairs(day0, d0))
    assert(Dedup.appendToSimhashPairs(b1, d0, d1))
    assert(nFiles(s"$d1/sig") > 1,
      "fixture must present a multi-file sig tier (linked base + delta)")
    val d1Snap = Seq("sig", "pairs").map(t => t -> fileSnapshot(s"$d1/$t")).toMap
    assert(Dedup.compactSimhash(spark, d1, cmp), "first compaction must build")
    Seq("sig", "pairs").foreach { t =>
      same(spark.read.parquet(s"$cmp/$t"), spark.read.parquet(s"$d1/$t"),
        s"$t: compaction changed tier content")
      assert(nFiles(s"$cmp/$t") == 1, s"$t: expected 1 compacted file")
      assert(fileSnapshot(s"$d1/$t") == d1Snap(t),
        s"$t: compaction wrote over the source address")
    }
    assert(!Dedup.compactSimhash(spark, d1, cmp), "reuse must be a no-op")
    intercept[IllegalArgumentException] {
      Dedup.compactSimhash(spark, d1, cmp, maxHamming = 2)
    }
    // day-2 lands on the compacted address ≡ one rebuild over all three
    assert(Dedup.appendToSimhashPairs(b2, cmp, d2),
      "append must land on a compacted address")
    assert(Dedup.prebuildSimhashPairs(docs, full))
    Seq("sig", "pairs").foreach { t =>
      same(spark.read.parquet(s"$d2/$t"), spark.read.parquet(s"$full/$t"),
        s"$t: append-on-compacted diverged from the rebuild")
    }
    val sp = spark.read.parquet(s"$d2/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sp.contains((5L, 17L)) && sp.contains((17L, 26L)),
      "the planted cross-day pairs must survive the compaction boundary")
    // --- semantic CC ---
    val dim = 8
    def vec(seed: Int) = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    val vA = vec(3)
    val rows = Seq((5L, vA), (17L, vA), (26L, vA)) ++
      (50L to 89L).map(i => (i, vec(300 + rnd.nextInt(40))))
    val embDir = java.nio.file.Files
      .createTempDirectory("graft-cpts-emb").toString
    rows.toDF("vec_id", "embedding").write.mode("overwrite").parquet(embDir)
    val emb = spark.read.parquet(embDir)
    val e0 = emb.filter(col("vec_id") % 10 =!= 7 && col("vec_id") % 10 =!= 6)
    val eb1 = emb.filter(col("vec_id") % 10 === 7)
    val eb2 = emb.filter(col("vec_id") % 10 === 6)
    val ts = 0.3
    val s0 = Dedup.semCcDir(spark, embDir, base, ts, variant = "d0_")
    val s1 = Dedup.semCcDir(spark, embDir, base, ts, variant = "d1_")
    val scmp = Dedup.semCcDir(spark, embDir, base, ts, variant = "cmp_")
    val s2 = Dedup.semCcDir(spark, embDir, base, ts, variant = "d2_")
    val sFull = Dedup.semCcDir(spark, embDir, base, ts)
    assert(Dedup.prebuildSemanticCc(e0, s0, ts))
    assert(Dedup.appendToSemanticCc(eb1, e0, s0, s1, ts))
    assert(Dedup.compactSemanticCc(spark, s1, scmp, ts), "first compaction must build")
    Seq("pairs", "labels").foreach { t =>
      same(spark.read.parquet(s"$scmp/$t"), spark.read.parquet(s"$s1/$t"),
        s"semcc $t: compaction changed tier content")
      assert(nFiles(s"$scmp/$t") == 1, s"semcc $t: expected 1 compacted file")
    }
    assert(!Dedup.compactSemanticCc(spark, s1, scmp, ts))
    intercept[IllegalArgumentException] {
      Dedup.compactSemanticCc(spark, s1, scmp, threshold = 0.4)
    }
    assert(Dedup.appendToSemanticCc(eb2, e0.unionByName(eb1), scmp, s2, ts),
      "semantic append must land on a compacted address")
    assert(Dedup.prebuildSemanticCc(emb, sFull, ts))
    Seq("pairs", "labels").foreach { t =>
      same(spark.read.parquet(s"$s2/$t"), spark.read.parquet(s"$sFull/$t"),
        s"semcc $t: append-on-compacted diverged from the rebuild")
    }
    val slab = spark.read.parquet(s"$s2/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(slab(5L) == slab(17L) && slab(17L) == slab(26L),
      "the planted cross-day vector cluster must close across the compaction")
    spark.catalog.clearCache()
  }

  test("ContentAddress legacy prefixes: old-format dirs pruned, parameterized siblings survive") {
    import spark.implicits._
    val corpusDir = java.nio.file.Files.createTempDirectory("graft-ca-leg").toString
    Seq((1L, "a", "en", "s", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(corpusDir)
    val base = java.nio.file.Files.createTempDirectory("graft-ca-base").toString
    // a pre-rename artifact (bare family prefix + 16-hex hash), a
    // DIFFERENTLY-PARAMETERIZED current-format dir, and a non-hash
    // name that merely shares the stem
    val legacy = new java.io.File(base, "ah_" + "0123456789abcdef")
    val otherParam = new java.io.File(base, "ah_b32_" + "0123456789abcdef")
    val stemOnly = new java.io.File(base, "ah_readme")
    Seq(legacy, otherParam, stemOnly).foreach(d => assert(d.mkdirs()))
    val dir = graft.operators.Multimodal.ahashDir(spark, corpusDir, base)
    assert(dir.contains("ah_b48_"), dir)
    assert(!legacy.exists(), "pre-rename ah_ artifact must be pruned")
    assert(otherParam.exists(), "a different parameterization must survive")
    assert(stemOnly.exists(), "a non-hash name sharing the stem must survive")
    // and a superseded CURRENT-prefix sibling is pruned as before
    val stale = new java.io.File(base, "ah_b48_" + "fedcba9876543210")
    assert(stale.mkdirs())
    graft.operators.Multimodal.ahashDir(spark, corpusDir, base)
    assert(!stale.exists(), "superseded current-prefix revision must be pruned")
    // a sibling whose parameterized prefix EXTENDS the current one
    // (the q265 variant shape: semcc_t300_oldm10r7_ under semcc_t300_)
    // must survive — the r17 bug: bare startsWith pruned the variant
    // frame on every main-address call, silently turning its
    // consumer's reuse path into a rebuild
    val extending = new java.io.File(base, "ah_b48_oldm10r7_" + "0123456789abcdef")
    assert(extending.mkdirs())
    graft.operators.Multimodal.ahashDir(spark, corpusDir, base)
    assert(extending.exists(),
      "a prefix-extending parameterized sibling must survive pruning")
  }

  test("exact-family cached wrappers never commit LSH tiers into another setting's dir") {
    import spark.implicits._
    val corpusDir = java.nio.file.Files.createTempDirectory("graft-cc-exact").toString
    (1L to 30L).map(i => (i, (0 until 12).map(j => s"w${(i + j) % 9}").mkString(" "), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(corpusDir)
    val docs = spark.read.parquet(corpusDir)
    val base = java.nio.file.Files.createTempDirectory("graft-cc-exact-base").toString
    // address the cascade at a NON-default setting, then make an
    // exact-family (threshold-agnostic) wrapper the FIRST consumer
    val t = 0.9; val bands = 8
    val dir = Dedup.cascadeDir(spark, corpusDir, base, threshold = t, bands = bands)
    Dedup.noveltyScoreCached(docs, dir).collect()
    assert(new java.io.File(s"$dir/shsets", "_SUCCESS").exists(),
      "the exact family builds its threshold-independent shsets tier")
    for (tier <- Seq("cand", "pairs", "labels"))
      assert(!new java.io.File(dir, tier).exists(),
        s"the exact family must NOT commit the ($tier) LSH tier — it runs at " +
          "defaults and this dir's address promises (0.9, 8)")
    // the LSH consumer arriving later builds its tiers AT the
    // addressed setting — the frame the address promised
    val cachedPairs = Dedup.nearDupPairsCached(docs, dir, threshold = t, bands = bands)
    val self = Dedup.nearDupPairs(docs, threshold = t, bands = bands)
    assert(cachedPairs.exceptAll(self).count() == 0 && self.exceptAll(cachedPairs).count() == 0,
      "pairs built after an exact-family first consumer must match the addressed setting")
    spark.catalog.clearCache()
  }

  test("cmsEstimates on a sparse counter frame: absent cells count as zero") {
    import spark.implicits._
    // a sparse streamed counter frame: only the cells key "hot" hits
    val keys = Seq("hot", "cold").toDF("k")
    val hotCells = Seq("hot").toDF("k")
      .select(posexplode(Sketches.cmBucketArray(col("k"), 4, 64)).as(Seq("depth", "bucket")))
      .groupBy("depth", "bucket").agg((count(lit(1)) * 7).as("c"))
    val est = Sketches.cmsEstimates(hotCells, keys)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("hot") == 7L, "a fully-present key takes min over its own cells")
    // "cold" never touched the sketch: unless every one of its cells
    // collides with a hot cell, at least one is absent -> estimate 0,
    // and the key must not vanish from the report
    assert(est.contains("cold"), "keys with absent cells must not vanish")
    assert(est("cold") <= 7L, "absent cells floor the min at 0 (CMS bound)")
    val allAbsent = Seq("zzz_nowhere").toDF("k")
    val est2 = Sketches.cmsEstimates(hotCells.filter(lit(false)), allAbsent)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est2("zzz_nowhere") == 0L, "an empty counter frame estimates 0 for every key")
  }

  test("imageAHash/ahashPairs: perturbation-stable signatures, pigeonhole candidates, verify tier filters") {
    import spark.implicits._
    val base = "a" * 100 + "A" * 100
    val near = base.updated(50, 'A') // one byte differs
    val far  = "A" * 200             // flat payload: zero signature
    val docs = Seq(
      (1L, base, "en", "s", 0L), (2L, near, "en", "s", 0L),
      (3L, far, "en", "s", 0L), (4L, base, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sig = Multimodal.imageAHash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sig(1L) == sig(4L), "identical payloads hash identically")
    assert(sig(3L) == 0L, "a flat payload has no strictly-above-mean bits")
    assert(java.lang.Long.bitCount(sig(1L) ^ sig(2L)) <= 1,
      "a one-byte perturbation flips at most the sample that hit it")
    val pairs = Multimodal.ahashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 4L)) == 0)
    assert(pairs((1L, 2L)) <= 1 && pairs((2L, 4L)) <= 1)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "the flat payload collides in empty blocks but must fail the hamming verify")
  }

  test("exciseSharedRuns: long shared spans cut, short collisions kept, second pass is a no-op") {
    import spark.implicits._
    val span = (1 to 10).map(i => s"A$i").mkString(" ")
    val docs = Seq(
      (1L, s"h1 h2 $span t1 t2", "en", "s", 0L),
      (2L, s"x1 $span y1 y2 y3", "en", "s", 0L),
      (3L, "p1 p2 A1 A2 A3 q1 q2", "en", "s", 0L)) // 3-token collision < minRun
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.exciseSharedRuns(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getString(3))).toMap
    assert(r(1L) == ((14L, 10L, "h1 h2 t1 t2")), r(1L).toString)
    assert(r(2L) == ((14L, 10L, "x1 y1 y2 y3")), r(2L).toString)
    assert(r(3L) == ((7L, 0L, "p1 p2 A1 A2 A3 q1 q2")),
      s"short collisions must not shred documents: ${r(3L)}")
    // the cut is convergent: a second pass over the cleaned corpus
    // finds nothing left to excise
    val cleaned = r.toSeq.map { case (id, (_, _, t)) => (id, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Dedup.exciseSharedRuns(cleaned).collect().forall(_.getLong(2) == 0L))
  }

  test("minhashCalibration: exact duplicates estimate 1.0 with zero error; errors are internally consistent") {
    import spark.implicits._
    val tail = (10L to 40L).map { i =>
      (i, (0 until 12).map(j => s"t${(i * 7 + j) % 13}").mkString(" "), "en", "s", 0L)
    }
    val fixed = Seq(
      (1L, "a b c d e f g h i j k l", "en", "s", 0L),
      (2L, "a b c d e f g h i j k l", "en", "s", 0L), // exact dup of 1
      (3L, "a b c d e f g h i j x y", "en", "s", 0L)) // strong overlap with 1/2
    val docs = (fixed ++ tail).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = Dedup.minhashCalibration(docs).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // the exact-dup pair: every component min matches -> est 1.0,
    // true jaccard 1.0, error 0
    val perfect = rows.find(_._1 == 1.0).get
    assert(perfect._3 == 1.0 && perfect._4 == 0.0, perfect.toString)
    rows.foreach { case (est, n, meanTrue, meanErr) =>
      assert(est >= 0.0 && est <= 1.0 && math.rint(est * 16) == est * 16,
        s"est $est must be a multiple of 1/16")
      assert(n >= 1 && meanTrue >= 0.0 && meanTrue <= 1.0 && meanErr >= 0.0)
      // |est - mean_true| <= mean|est - true| (Jensen, exact here)
      assert(math.abs(est - meanTrue) <= meanErr + 1e-4,
        s"($est, $meanTrue, $meanErr) violates the mean-error bound")
    }
    // pair accounting: every verified pair lands in exactly one bucket
    val nPairs = Dedup.nearDupPairs(docs, threshold = 0.05).count()
    assert(rows.map(_._2).sum == nPairs)
  }

  test("piiScrub redacts planted identifiers, counts them, and is idempotent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail me at jane.doe+x@sub.example.co.uk or call 555-0199 thanks"),
      (2L, "server 10.0.0.1 and 192.168.255.3 went down"),
      (3L, "plain text with no identifiers at all"),
      (4L, "a@b.io b@c.net 1.2.3.4 555-1234 999-0000")
    ).toDF("doc_id", "text")
    val res = TextAnalysis.piiScrub(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(res(1).getString(1) == "mail me at <EMAIL> or call <PHONE> thanks")
    assert(res(1).getInt(2) == 1 && res(1).getInt(3) == 0 && res(1).getInt(4) == 1)
    assert(res(2).getString(1) == "server <IP> and <IP> went down")
    assert(res(2).getInt(3) == 2)
    assert(res(3).getString(1) == "plain text with no identifiers at all"
      && res(3).getInt(2) == 0 && res(3).getInt(3) == 0 && res(3).getInt(4) == 0)
    assert(res(4).getString(1) == "<EMAIL> <EMAIL> <IP> <PHONE> <PHONE>")
    assert(res(4).getInt(2) == 2 && res(4).getInt(3) == 1 && res(4).getInt(4) == 2)
    // counts reconcile with placeholders: a phone- or IP-shaped email
    // LOCAL PART is consumed by the email pass and must NOT also be
    // reported as a phone/IP redaction (no phantom audit entries)
    val nested = TextAnalysis.piiScrub(Seq(
        (9L, "reach 555-1234@corp.com or 10.0.0.1@host.ru today")
      ).toDF("doc_id", "text")).head()
    assert(nested.getString(1) == "reach <EMAIL> or <EMAIL> today")
    assert(nested.getInt(2) == 2 && nested.getInt(3) == 0 && nested.getInt(4) == 0,
      s"phantom counts: $nested")
    // idempotence: a scrubbed corpus passes through unchanged
    val once = TextAnalysis.piiScrub(docs).select(col("doc_id"),
      col("clean_text").as("text"))
    val twice = TextAnalysis.piiScrub(once)
    assert(twice.filter(col("n_emails") + col("n_ips") + col("n_phones") > 0).count() == 0)
    // the q73 fixture seeds a nonzero amount of every class
    val seeded = TextAnalysis.piiScrub(TextAnalysis.seedPii(documents))
    val tot = seeded.agg(sum("n_emails"), sum("n_ips"), sum("n_phones")).head()
    assert(tot.getLong(0) > 0 && tot.getLong(1) > 0 && tot.getLong(2) > 0)
  }

  test("bloom-admission incremental dedup equals the exact anti-join") {
    import spark.implicits._
    val corpus = documents.filter(col("source") =!= "src2")
    val batch = documents.filter(col("source") === "src2")
    val exact = Dedup.incrementalDedup(corpus, batch).collect().toSeq
    val bloom = Dedup.incrementalDedupBloom(corpus, batch).collect().toSeq
    assert(exact.nonEmpty && bloom == exact,
      s"bloom path diverged: ${bloom.size} vs ${exact.size}")
    // a deliberately tiny filter (high fpp) still yields exact results
    // — false positives only route docs to the exact check
    val tiny = Dedup.incrementalDedupBloom(corpus, batch,
      expectedItems = 10L, numBits = 64L).collect().toSeq
    assert(tiny == exact, "false positives must not change results")
    // empty corpus admits the whole deduped batch
    val empty = corpus.filter(lit(false))
    val allNew = Dedup.incrementalDedupBloom(empty, batch)
    assert(allNew.count() == Dedup.incrementalDedup(empty, batch).count())
    // auto-sizing: the plan literal tracks the corpus (~10 bits/doc,
    // next pow2, 1 KiB floor / 8 MiB cap) instead of a worst-case
    // constant — a 5k-doc corpus ships an 8 KiB filter, never 8 MiB
    assert(Dedup.bloomBitsFor(1L) == 8192L)
    assert(Dedup.bloomBitsFor(5000L) == 65536L)
    assert(Dedup.bloomBitsFor(10000000L) == (1L << 26),
      "sizing must cap at 8 MiB")
  }

  test("int8 embedding quantization: bounded reconstruction error, zero-vector safe") {
    import spark.implicits._
    val q = Similarity.quantizeEmbeddings(embeddings)
    val dq = Similarity.dequantizeEmbeddings(q)
    // per-component |orig - deq| <= scale/2 (round-to-nearest bound)
    val joined = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .join(dq.withColumnRenamed("embedding", "w"), "vec_id")
      .join(q.select(col("vec_id"), col("scale")), "vec_id")
      .withColumn("max_err", aggregate(
        zip_with(col("v"), col("w"), (a, b) => abs(a - b)),
        lit(0.0), (acc, x) => greatest(acc, x)))
    assert(joined.filter(col("max_err") > col("scale") * 0.5 + 1e-9).count() == 0)
    // bytes stay in range and the quantized width matches the input
    val stats = q.select(
      aggregate(col("qvec"), lit(0), (acc, x) =>
        greatest(acc, abs(x.cast("int")))).as("amax"),
      size(col("qvec")).as("w")).agg(max("amax"), min("w"), max("w")).head()
    assert(stats.getInt(0) <= 127)
    assert(stats.getInt(1) == stats.getInt(2))
    // all-zero vector: scale 0, zero bytes, exact round trip
    val z = Similarity.dequantizeEmbeddings(Similarity.quantizeEmbeddings(
      Seq((0L, Seq(0.0, 0.0, 0.0))).toDF("vec_id", "embedding"))).head()
    assert(z.getSeq[Double](1) == Seq(0.0, 0.0, 0.0))
  }

  test("quantizationRoundtrip (q76): one row per vector, codes in range, error bounded") {
    val rt = Similarity.quantizationRoundtrip(embeddings)
    assert(rt.count() == embeddings.count())
    assert(rt.filter(col("q_max") > 127 || col("q_min") < -127).count() == 0)
    // reported max error obeys the round-to-nearest bound; both columns
    // are 6-decimal-rounded, hence the 1e-6 slack
    assert(rt.filter(col("max_abs_err") > col("scale_r") * 0.5 + 1e-6).count() == 0)
    // a real corpus exercises the nonzero path: some scale must be > 0
    assert(rt.filter(col("scale_r") > 0).count() > 0)
  }

  test("dupNgramFraction: hand-computed shares, short docs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),       // grams: "a b c d e", "b c d e f"
      (2L, "a b c d e x"),       // grams: "a b c d e", "b c d e x"
      (3L, "z y x w v u t"),     // 3 unique grams
      (4L, "a b c")              // < 5 tokens → no grams → absent
    ).toDF("doc_id", "text")
    val r = Dedup.dupNgramFraction(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(r.keySet == Set(1L, 2L, 3L))
    assert(r(1L) == ((2L, 0.5)) && r(2L) == ((2L, 0.5))) // share "a b c d e"
    assert(r(3L) == ((3L, 0.0)))
  }

  test("semanticDedup: total audit, canonical keepers, pair-consistent labels") {
    val labeled = Dedup.semanticDedup(embeddings, threshold = 0.3).cache()
    assert(labeled.count() == embeddings.count()) // audit output loses no vector
    // keep ⟺ the vector IS its cluster's min; every cluster keeps exactly one
    assert(labeled.filter(col("keep") =!= (col("vec_id") === col("cluster_id"))).count() == 0)
    assert(labeled.groupBy("cluster_id")
      .agg(min("vec_id").as("mn")).filter(col("mn") =!= col("cluster_id")).count() == 0)
    // every near-dup pair landed in one cluster (transitive closure holds)
    val pairs = Dedup.embeddingNearDup(embeddings, threshold = 0.3)
    val la = labeled.select(col("vec_id").as("id_a"), col("cluster_id").as("ca"))
    val lb = labeled.select(col("vec_id").as("id_b"), col("cluster_id").as("cb"))
    assert(pairs.join(la, Seq("id_a")).join(lb, Seq("id_b"))
      .filter(col("ca") =!= col("cb")).count() == 0)
    labeled.unpersist()
  }

  test("materialized shingle frame: the whole decontamination family reads it cached ≡ self-computing") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-sh3-base").toString
    val dir = Dedup.cascadeDir(spark, s"$sfDir/documents.parquet", base)
    val sh = Dedup.shingleDocsCached(documents, dir)
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
             what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$what: cached and self-computed runs diverge")
    // the frame IS the distinct explode
    same(sh, Dedup.shingleDocs(documents).dropDuplicates("doc_id", "shingle"),
      "sh3 frame")
    // every family member, with and without the frame
    same(graft.operators.TrainingData
        .evalDecontaminate(documents, shingles = Some(sh)),
      graft.operators.TrainingData.evalDecontaminate(documents),
      "q58 decontaminate")
    same(graft.operators.TrainingData
        .contaminationProvenance(documents, shingles = Some(sh)),
      graft.operators.TrainingData.contaminationProvenance(documents),
      "q238 provenance")
    val emb = Tables.embeddings(spark, sfDir)
    same(Similarity.leakTypology(emb, documents, shingles = Some(sh)),
      Similarity.leakTypology(emb, documents), "q258 typology")
    same(Similarity.leakTypologyDropIdsQ(emb, documents, shingles = Some(sh)),
      Similarity.leakTypologyDropIdsQ(emb, documents), "q260 drop ids")
    // reuse: a second call builds nothing
    assert(!Dedup.prebuildShingles3(documents, dir),
      "prebuildShingles3 rebuilt a committed frame")
  }

  test("dedupThresholdSweep: rows recompute from the pair frame; monotone laws; sub-floor grid rejected") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-sweep-base").toString
    val dir = Dedup.cascadeDir(spark, s"$sfDir/documents.parquet", base)
    val sweep = Dedup.dedupThresholdSweep(documents, dir).collect()
      .map(r => (math.rint(r.getDouble(0) * 1e4).toLong,
        r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(sweep.map(_._1).toSeq ==
      Seq(2000L, 3000L, 4000L, 5000L, 6000L, 7000L, 8000L, 9000L))
    // every row recomputes exactly from the verified pair frame
    val pairs = Dedup.nearDupPairsCached(documents, dir)
      .select("id_b", "jaccard").collect()
      .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 1e4 + 0.5).toLong))
    val nDocs = documents.count()
    sweep.foreach { case (t4, nPairs, nDropped, nSurv) =>
      val fire = pairs.filter(_._2 >= t4)
      assert(nPairs == fire.length, s"t4=$t4 pairs")
      assert(nDropped == fire.map(_._1).distinct.length, s"t4=$t4 dropped")
      assert(nSurv == nDocs - nDropped, s"t4=$t4 survivors")
    }
    // the knob's laws: tightening the threshold can only fire fewer
    // pairs, drop fewer docs, keep more
    sweep.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 >= b._2 && a._3 >= b._3 && a._4 <= b._4,
        s"sweep not monotone at ${b._1}")
    }
    // a grid below the cascade's verify floor would silently read as
    // "no cost" — it must be rejected, not answered
    intercept[IllegalArgumentException] {
      Dedup.dedupThresholdSweep(documents, dir, thresholdsQ4 = Seq(1000L))
    }
  }

  test("semanticThresholdSweep: rows recompute from the cosine pair frame; monotone; sub-floor rejected") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-semsweep-base").toString
    val dir = Dedup.semCcDir(spark, s"$sfDir/embeddings.parquet", base)
    val sweep = Dedup.semanticThresholdSweep(embeddings, dir).collect()
      .map(r => (math.rint(r.getDouble(0) * 1e6).toLong,
        r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(sweep.map(_._1).toSeq ==
      Seq(300000L, 400000L, 500000L, 600000L, 700000L, 800000L, 900000L))
    val pairs = Dedup.embeddingNearDup(embeddings, 0.3)
      .select("id_b", "cos_sim").collect()
      .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 1e6 + 0.5).toLong))
    val nVecs = embeddings.count()
    sweep.foreach { case (t6, nPairs, nDropped, nSurv) =>
      val fire = pairs.filter(_._2 >= t6)
      assert(nPairs == fire.length, s"t6=$t6 pairs")
      assert(nDropped == fire.map(_._1).distinct.length, s"t6=$t6 dropped")
      assert(nSurv == nVecs - nDropped, s"t6=$t6 survivors")
    }
    sweep.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 >= b._2 && a._3 >= b._3 && a._4 <= b._4,
        s"sweep not monotone at ${b._1}")
    }
    intercept[IllegalArgumentException] {
      Dedup.semanticThresholdSweep(embeddings, dir,
        thresholdsQ6 = Seq(100000L))
    }
  }

  test("semanticDedupCached ≡ semanticDedup row-identical; second call reuses the committed frame") {
    // the materialized path must be indistinguishable from the
    // self-computing one: (long, long) labels roundtrip parquet
    // exactly and the keep verdict recomputes probe-side
    val base = java.nio.file.Files
      .createTempDirectory("graft-semcc-spec").toString
    val dir = Dedup.semCcDir(spark, s"$sfDir/embeddings.parquet", base)
    val cached = Dedup.semanticDedupCached(embeddings, dir, threshold = 0.3)
    val self = Dedup.semanticDedup(embeddings, threshold = 0.3)
    assert(cached.collect().toSeq == self.collect().toSeq,
      "cached embedding-CC labels diverge from the self-computing path")
    // reuse: the second call must build nothing
    assert(!Dedup.prebuildSemanticCc(embeddings, dir, threshold = 0.3),
      "prebuildSemanticCc rebuilt a committed frame")
    // the address bakes the threshold: another setting gets its own
    // dir, and pairing a dir with a MISMATCHED threshold is rejected
    // rather than served from the wrong setting's committed frame
    val dir2 = Dedup.semCcDir(spark, s"$sfDir/embeddings.parquet", base,
      threshold = 0.5)
    assert(dir2 != dir)
    intercept[IllegalArgumentException] {
      Dedup.semanticDedupCached(embeddings, dir, threshold = 0.5)
    }
  }

  test("semanticDedup with no near-dup pairs keeps every vector as its own cluster") {
    // threshold above the cosine range → provably empty pair graph →
    // the CC loop must terminate on empty edges and every vector must
    // come back as its own canonical keeper
    val labeled = Dedup.semanticDedup(embeddings, threshold = 1.1)
    assert(labeled.filter(!col("keep") || col("cluster_id") =!= col("vec_id")).count() == 0)
    assert(labeled.count() == embeddings.count())
  }

  test("gopherGate flags each failing rule by name and keeps clean documents") {
    import spark.implicits._
    val good = "the cat sat on a mat of warm red wool and the dog ran by"
    val docs = Seq(
      (1L, good),                                          // passes all rules
      (2L, "too short"),                                   // length
      (3L, Seq.fill(20)("pneumonoultramicroscopic").mkString(" ")), // token_len + stopwords + repetition
      (4L, ("the quick brown fox " * 5).trim),             // repetition (dup 3-grams)
      (5L, "zz qq ww ee rr tt yy uu ii oo pp aa ss dd ff") // stopwords
    ).toDF("doc_id", "text")
    val res = TextAnalysis.gopherGate(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(res(1).getBoolean(6) && res(1).getString(5) == "")
    assert(!res(2).getBoolean(6) && res(2).getString(5).contains("length"))
    assert(res(3).getString(5).contains("token_len") &&
      res(3).getString(5).contains("stopwords") &&
      res(3).getString(5).contains("repetition"))
    assert(!res(4).getBoolean(6) && res(4).getString(5) == "repetition")
    assert(!res(5).getBoolean(6) && res(5).getString(5) == "stopwords")
    // hand-check one feature: doc 4 has 20 tokens → 18 3-grams, 4
    // distinct (the repeating phrase cycles 4 token values) → 14/18 dup
    assert(math.abs(res(4).getDouble(4) - (1.0 - 4.0 / 18.0)) < 5e-4)
    // the corpus gate keeps a healthy majority at the defaults
    val kept = TextAnalysis.gopherGate(documents).filter(col("keep")).count()
    assert(kept > 0 && kept <= documents.count())
  }

  test("simhashPairs equals brute-force Hamming: pigeonhole banding loses no pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val corpus = (1L to 30L).map { i =>
      val n = 8 + rnd.nextInt(12)
      (i, Seq.fill(n)("t" + rnd.nextInt(12)).mkString(" "), "en", "s", 0L)
    }
    val df = corpus.toDF("doc_id", "text", "lang", "source", "n_chars")
    val sigs = Dedup.simhashSignatures(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = sigs.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b, h)).toSet
    val got = Dedup.simhashPairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected, s"missing ${expected -- got}, extra ${got -- expected}")
    assert(expected.nonEmpty, "fixture should produce at least one close pair")
  }

  test("simhash: identical docs equal; near-identical docs close in Hamming distance") {
    import spark.implicits._
    val base = "spark makes big data processing fast and simple for everyone today"
    val near = base.replace("today", "tomorrow")
    val far = "completely unrelated tokens nothing shared at all whatsoever ok fine"
    val df = Seq((1L, base, "en", "s", 0L), (2L, base, "en", "s", 0L),
      (3L, near, "en", "s", 0L), (4L, far, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sig = Dedup.simhashSignatures(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sig(1L) == sig(2L))
    assert(hamming(sig(1L), sig(3L)) < hamming(sig(1L), sig(4L)))
  }

  test("cosine top-k: self-similarity excluded, ranks strictly ordered, k respected") {
    val res = Similarity.bruteForceTopK(embeddings, nQueries = 4, k = 5).cache()
    assert(res.filter(col("q_id") === col("neighbor_id")).count() == 0)
    val perQuery = res.groupBy("q_id").count().collect()
    assert(perQuery.forall(_.getLong(1) == 5))
    res.collect().groupBy(_.getLong(0)).values.foreach { rows =>
      val sims = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
  }

  test("ANN results are a subset of brute-force candidates with matching cosines") {
    val ann = Similarity.annTopK(embeddings, nQueries = 8, k = 5)
      .select("q_id", "neighbor_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val brute = Similarity.bruteForceTopK(embeddings, nQueries = 8, k = 200)
      .select("q_id", "neighbor_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ann.foreach { case (pair, cos) =>
      brute.get(pair).foreach(bc => assert(math.abs(bc - cos) < 1e-9))
    }
  }

  test("lsh buckets are stable and in range") {
    val res = Similarity.lshBuckets(embeddings).cache()
    assert(res.filter(col("bucket_id") < 0 || col("bucket_id") > 255).count() == 0)
    val again = Similarity.lshBuckets(embeddings)
    assert(res.exceptAll(again).count() == 0)
  }

  test("embeddingNearDup pairs share a bucket and exceed the threshold") {
    val res = Dedup.embeddingNearDup(embeddings, threshold = 0.3).collect()
    assert(res.forall(_.getDouble(2) >= 0.3))
    res.foreach(r => assert(r.getLong(0) < r.getLong(1)))
  }

  test("multimodal decode stub produces deterministic features with real batch shape") {
    val feats = Multimodal.decodeFeatures(spark, documents).collect()
    assert(feats.length == documents.count())
    val byId = feats.map(f => f.doc_id -> f).toMap
    val lens = documents.select(col("doc_id"), length(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    byId.foreach { case (id, f) =>
      assert(f.n_bytes == lens(id)) // ascii corpus: bytes == chars
      assert(f.width == f.n_bytes % 64)
      assert(f.mean_byte > 0.0 && f.mean_byte < 255.0)
    }
  }

  test("frame sampling keeps every stride-th frame only") {
    val res = Multimodal.sampleFrames(documents, frameBytes = 32, stride = 4)
    assert(res.filter(col("frame_idx") % 4 =!= 0).count() == 0)
    assert(res.filter(col("frame_bytes") > 32).count() == 0)
  }

  test("resize subsamples ceil(n/factor) bytes") {
    val res = Multimodal.resizePayload(documents, factor = 4).collect()
    res.foreach { r =>
      val (in, out) = (r.getInt(1), r.getInt(2))
      assert(out == (in + 3) / 4, s"in=$in out=$out")
    }
  }

  test("dupQualityInteraction: bands partition the corpus and reconcile with the parts") {
    val base = java.nio.file.Files.createTempDirectory("graft-dupq").toString
    val dir = Dedup.cascadeDir(spark, s"${SparkTestSession.sfDir}/documents.parquet", base)
    val res = Dedup.dupQualityInteraction(documents, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))).toMap
    // bands partition the corpus exactly
    assert(res.values.map(_._1).sum == documents.count())
    // gate counts reconcile with the standalone gate
    assert(res.values.map(_._3).sum ==
      graft.operators.TextAnalysis.gopherGateFilter(documents).count())
    // the unique band is the unlabeled remainder
    val labeled = Dedup.dupClustersCached(documents, dir).count()
    assert(res("unique")._1 == documents.count() - labeled)
    res.foreach { case (band, (n, mq, g, gr)) =>
      assert(n > 0 && mq >= 0.0 && mq <= 1.0 && g <= n, s"$band: ${res(band)}")
      assert(math.abs(gr - math.floor(g.toDouble * 1e4 / n + 0.5) / 1e4) < 1e-12)
    }
    // one band's mean quality cross-checked against a direct fold
    val uniqIds = documents.select("doc_id")
      .join(Dedup.dupClustersCached(documents, dir), Seq("doc_id"), "left_anti")
    val q4 = graft.operators.TextAnalysis.qualityScore(documents)
      .join(uniqIds, "doc_id")
      .select(floor(col("quality") * 1e4 + 0.5).cast("long"))
      .collect().map(_.getLong(0))
    assert(res("unique")._2 ==
      math.floor(q4.sum.toDouble / q4.length + 0.5) / 1e4)
  }

  test("clusterCohesion: identical-pair fixture is a clique; corpus rows reconcile and obey the connectivity law") {
    import spark.implicits._
    // two identical docs (banding always pairs identical texts — every
    // band min coincides) + one unrelated doc: exactly one cluster of
    // 2 with 1 edge at jaccard 1.0 — a clique, density 10000 bp
    val fix = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "s", 0L),
      (2L, "alpha beta gamma delta epsilon zeta", "en", "s", 0L),
      (3L, "one two three four five six seven eight nine", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fbase = java.nio.file.Files.createTempDirectory("graft-cohf").toString
    val fres = Dedup.clusterCohesion(fix, fbase).collect()
    assert(fres.length == 1)
    val r = fres.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((1L, 2L, 1L, 10000L)), r.toString)
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 1.0)
    // corpus: sizes reconcile with the label frame, edge totals with
    // the pair frame, and every cluster is CONNECTED by construction
    // (CC was built from exactly these edges): n-1 <= E <= n(n-1)/2
    val base = java.nio.file.Files.createTempDirectory("graft-coh").toString
    val dir = Dedup.cascadeDir(spark, s"${SparkTestSession.sfDir}/documents.parquet", base)
    val res = Dedup.clusterCohesion(documents, dir).collect()
    val sizes = Dedup.dupClustersCached(documents, dir)
      .groupBy("cluster_id").count().collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(res.map(_.getLong(0)).toSet == sizes.keySet)
    assert(res.map(_.getLong(2)).sum ==
      Dedup.nearDupPairsCached(documents, dir).count())
    res.foreach { x =>
      val (cid, n, e) = (x.getLong(0), x.getLong(1), x.getLong(2))
      assert(n == sizes(cid), s"cluster $cid size")
      assert(e >= n - 1 && e <= n * (n - 1) / 2, s"cluster $cid: n=$n e=$e")
      val density = x.getLong(3)
      assert(density == e * 2 * 10000 / (n * (n - 1)) && density <= 10000L)
      // min <= mean, both inside the verified band [threshold, 1]
      assert(x.getDouble(4) <= x.getDouble(5) + 1e-12)
      assert(x.getDouble(4) >= 0.2 && x.getDouble(5) <= 1.0)
    }
  }

  test("guardedCanonicalClean: planted chain is spared at floor 7000, cleaned at the default; corpus reconciles with cohesion") {
    import spark.implicits._
    // planted frames give exact control over the chain-vs-clique
    // topology (a real shingle chain would hostage the test to LSH
    // banding): {1,2,3} is a path (E=2, density 6666 bp), {4,5} a
    // clique (10000 bp), 6 unclustered
    val fix = Seq.tabulate(6)(i =>
        ((i + 1).toLong, s"fixture body text number ${i + 1}", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-guard").toString
    Seq((1L, 2L, 0.5), (2L, 3L, 0.5), (4L, 5L, 1.0))
      .toDF("id_a", "id_b", "jaccard")
      .write.mode("overwrite").parquet(s"$dir/pairs")
    Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
      .write.mode("overwrite").parquet(s"$dir/labels")
    def verdicts(floorBp: Long) =
      Dedup.guardedCanonicalClean(fix, dir, floorBp).collect()
        .map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(verdicts(7000L) == Map(
      1L -> "keep_guarded", 2L -> "keep_guarded", 3L -> "keep_guarded",
      4L -> "keep_canonical", 5L -> "drop_dup", 6L -> "keep_unique"))
    // at the default floor (5000) the 6666-bp chain cleans like any
    // dense cluster: root survives, members drop
    assert(verdicts(5000L) == Map(
      1L -> "keep_canonical", 2L -> "drop_dup", 3L -> "drop_dup",
      4L -> "keep_canonical", 5L -> "drop_dup", 6L -> "keep_unique"))
    // corpus: the verdict frame partitions every document, each dense
    // cluster has exactly one canonical, and the guarded set is
    // exactly the membership of the below-floor cohesion rows
    val base = java.nio.file.Files.createTempDirectory("graft-guard-c").toString
    val cdir = Dedup.cascadeDir(
      spark, s"${SparkTestSession.sfDir}/documents.parquet", base)
    val res = Dedup.guardedCanonicalClean(documents, cdir).collect()
    assert(res.length == documents.count())
    val lowClusters = Dedup.clusterCohesion(documents, cdir).collect()
      .filter(_.getLong(3) < 5000L).map(_.getLong(0)).toSet
    val byAction = res.groupBy(_.getString(2))
    byAction.getOrElse("keep_guarded", Array.empty).foreach { x =>
      assert(lowClusters.contains(x.getLong(1)), s"guarded outside a low-density cluster: $x")
    }
    val denseCanon = byAction.getOrElse("keep_canonical", Array.empty)
    denseCanon.foreach(x => assert(x.getLong(0) == x.getLong(1),
      "canonical must be the cluster root"))
  }

  test("guardDelta: planted chain/clique split per source; corpus totals reconcile with the verdicts") {
    import spark.implicits._
    // source a: a 5-path (E=4, density 4000 bp < the 5000 default) —
    // guarded, so its 4 non-root members are exactly the spared set;
    // source b: a 2-clique (10000 bp) cleans normally + one unique doc
    val fix = Seq.tabulate(8)(i =>
        ((i + 1).toLong, s"fixture body text number ${i + 1}", "en",
          if (i < 5) "a" else "b", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-gd").toString
    Seq((1L, 2L, 0.5), (2L, 3L, 0.5), (3L, 4L, 0.5), (4L, 5L, 0.5),
        (6L, 7L, 1.0))
      .toDF("id_a", "id_b", "jaccard")
      .write.mode("overwrite").parquet(s"$dir/pairs")
    Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
        (6L, 6L), (7L, 6L))
      .toDF("doc_id", "cluster_id")
      .write.mode("overwrite").parquet(s"$dir/labels")
    val res = Dedup.guardDelta(fix, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(res("a") == ((5L, 0L, 4L, 10000L)), res.toString)
    assert(res("b") == ((3L, 1L, 0L, 0L)), res.toString)
    // corpus: the per-source rollup reconciles exactly with the
    // verdict frame it rides on
    val base = java.nio.file.Files.createTempDirectory("graft-gd-c").toString
    val cdir = Dedup.cascadeDir(
      spark, s"${SparkTestSession.sfDir}/documents.parquet", base)
    val delta = Dedup.guardDelta(documents, cdir).collect()
    val verdicts = Dedup.guardedCanonicalClean(documents, cdir)
      .join(documents.select("doc_id", "source"), Seq("doc_id")).collect()
    assert(delta.map(_.getLong(1)).sum == documents.count())
    assert(delta.map(_.getLong(2)).sum ==
      verdicts.count(_.getString(2) == "drop_dup"))
    assert(delta.map(_.getLong(3)).sum ==
      verdicts.count(x => x.getString(2) == "keep_guarded" &&
        x.getLong(0) != x.getLong(1)))
    delta.foreach { r =>
      val share = r.getLong(4)
      assert(share >= 0 && share <= 10000, r.toString)
      if (r.getLong(2) + r.getLong(3) > 0)
        assert(share ==
          r.getLong(3) * 10000 / (r.getLong(2) + r.getLong(3)), r.toString)
    }
  }

  test("cleaningPipelineClustered cohesionFloorBp: guarded clusters keep all members; floor 0 ≡ default") {
    import spark.implicits._
    // six ≥10-token DISTINCT texts (exact-dedup is a no-op) with
    // supplied pairs: path {1,2,3} (6666 bp) + clique {4,5}
    val fix = Seq.tabulate(6)(i =>
        ((i + 1).toLong,
          s"doc ${i + 1} " + Seq.tabulate(10)(j => s"w${i}x$j").mkString(" "),
          "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    def kept(floor: Option[Long]) =
      Dedup.cleaningPipelineClustered(fix, pairs = Some(pairs),
          cohesionFloorBp = floor)
        .collect().map(_.getLong(0)).toSet
    assert(kept(Some(7000L)) == Set(1L, 2L, 3L, 4L, 6L),
      "path spared, clique cleaned")
    assert(kept(None) == Set(1L, 4L, 6L), "default: both cleaned")
    assert(kept(Some(0L)) == kept(None), "floor 0 can never guard")
  }

  test("ahashHotBlocks: identical payloads concentrate 6 equal buckets; corpus shares close") {
    import spark.implicits._
    // three identical payloads: every one of the 6 blocks has exactly
    // one bucket of 3 docs — 6 rows, n_cand 3 each, tot 18, share
    // 3·10⁴/18 = 1666 bp, independent of the actual hash values
    val fix = Seq.tabulate(3)(i =>
        (i.toLong + 1, "same payload text body", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fres = Multimodal.ahashHotBlocks(fix).collect()
    assert(fres.length == 6)
    fres.foreach { r =>
      assert(r.getLong(2) == 3L && r.getLong(3) == 3L &&
        r.getLong(4) == 1666L, r.toString)
    }
    // corpus: top-k full, pair counts exact, shares bounded and
    // non-increasing down the report
    val res = Multimodal.ahashHotBlocks(documents).collect()
    assert(res.length == 20)
    res.foreach { r =>
      val (n, cand, share) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(cand == n * (n - 1) / 2, r.toString)
      assert(share >= 0L && share <= 10000L, r.toString)
    }
    val cands = res.map(_.getLong(3))
    assert(cands.zip(cands.tail).forall { case (a, b) => a >= b })
  }

  test("nearDupSourceMatrix: cross-source and within-source cells from a planted fixture") {
    import spark.implicits._
    // identical texts always band together: {1,2} spans src0~src1,
    // {3,4} sits inside src0, doc 5 clusters with nobody
    val fix = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "src0", 0L),
      (2L, "alpha beta gamma delta epsilon zeta", "en", "src1", 0L),
      (3L, "one two three four five six seven eight", "en", "src0", 0L),
      (4L, "one two three four five six seven eight", "en", "src0", 0L),
      (5L, "totally unrelated standalone body of words here", "en", "src1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val base = java.nio.file.Files.createTempDirectory("graft-ndsm").toString
    val r = Dedup.nearDupSourceMatrix(fix, base).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    assert(r == Map(("src0", "src0") -> 1L, ("src0", "src1") -> 1L), r.toString)
    // corpus: every cell is positive, bounded by the cluster count,
    // and the diagonal reconciles with a direct label-frame fold
    val dir = Dedup.cascadeDir(
      spark, s"${SparkTestSession.sfDir}/documents.parquet",
      java.nio.file.Files.createTempDirectory("graft-ndsm-c").toString)
    val res = Dedup.nearDupSourceMatrix(documents, dir).collect()
    val nClusters = Dedup.dupClustersCached(documents, dir)
      .select("cluster_id").distinct().count()
    assert(res.nonEmpty)
    res.foreach { x =>
      assert(x.getString(0) <= x.getString(1), x.toString)
      assert(x.getLong(2) >= 1L && x.getLong(2) <= nClusters, x.toString)
    }
    val diag = Dedup.dupClustersCached(documents, dir)
      .join(documents.select("doc_id", "source"), "doc_id")
      .groupBy("cluster_id", "source").count()
      .filter(col("count") >= 2)
      .groupBy("source").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    res.filter(x => x.getString(0) == x.getString(1)).foreach { x =>
      assert(diag(x.getString(0)) == x.getLong(2), s"diagonal: $x")
    }
  }

  test("ahash cached twins: materialized signature frame ≡ self-computed") {
    val base = java.nio.file.Files.createTempDirectory("graft-ah").toString
    val dir = Multimodal.ahashDir(
      spark, s"${SparkTestSession.sfDir}/documents.parquet", base)
    assert(Multimodal.prebuildAhashSignatures(documents, dir),
      "first touch must build")
    assert(!Multimodal.prebuildAhashSignatures(documents, dir),
      "second touch must reuse")
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
             what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$what: cached and self-computed runs diverge")
    same(Multimodal.imageAHashCached(documents, dir),
      Multimodal.imageAHash(documents), "q210 image aHash")
    same(Multimodal.ahashPairsCached(documents, dir),
      Multimodal.ahashPairs(documents), "q211 aHash pairs")
    same(Multimodal.ahashHotBlocksCached(documents, dir),
      Multimodal.ahashHotBlocks(documents), "q248 hot blocks")
  }

  test("videoNearDups: shared aligned frames pair; a hot frame is posting-capped") {
    import spark.implicits._
    // 32-byte blocks: two shared frames make a pair, one does not
    def blk(c: Char) = c.toString * 32
    def vid(id: Long, blocks: String*) = (id, blocks.mkString, "en", "s", 0L)
    val df = Seq(
      vid(1L, blk('A'), blk('B'), blk('C'), blk('D')),
      vid(2L, blk('A'), blk('B'), blk('X'), blk('Y')),
      vid(3L, blk('A'), blk('P'), blk('Q'), blk('R')),
      vid(4L, blk('E'), blk('F'), blk('G'), blk('H')))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Multimodal.videoNearDups(df, stride = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 2L)),
      s"only the 2-shared-frame pair qualifies: ${pairs.toSeq}")
    // hot-frame cap: three videos share frames Z+W; maxPosting=2 keeps
    // only the two lowest ids in each posting, so (11,13)/(12,13)
    // never form — bounded work on the degenerate frame
    val hot = Seq(
      vid(11L, blk('Z'), blk('W'), blk('a')),
      vid(12L, blk('Z'), blk('W'), blk('b')),
      vid(13L, blk('Z'), blk('W'), blk('c')))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val capped = Multimodal.videoNearDups(hot, stride = 1, maxPosting = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSeq == Seq((11L, 12L)), s"cap must bound the posting: ${capped.toSeq}")
    val uncapped = Multimodal.videoNearDups(hot, stride = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(uncapped.toSet == Set((11L, 12L), (11L, 13L), (12L, 13L)))
    // the corpus has exact-dup payloads: the default query is non-empty
    assert(Multimodal.videoNearDups(documents).count() > 0)
  }

  test("char-ngram profiles rank the most frequent bigrams per doc") {
    import spark.implicits._
    val df = Seq((1L, "aaabbbaaa", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val prof = TextAnalysis.charNgramProfile(df, n = 2, top = 3).collect()
    // bigrams: aa,aa,ab,bb,bb,ba,aa,aa → aa:4, bb:2, ab:1/ba:1 (tie → lexicographic)
    assert(prof.map(r => (r.getString(1), r.getLong(2))).toSeq ==
      Seq(("aa", 4L), ("bb", 2L), ("ab", 1L)))
  }

  test("boilerplateNgrams ranks grams by distinct-document frequency") {
    import spark.implicits._
    val docs = Seq(
      (1L, "click here to accept cookies"),
      (2L, "click here to read more"),
      (3L, "click here to click here to"), // repeats in-doc: still ONE vote
      (4L, "no shared content at all")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.boilerplateNgrams(docs, n = 3, top = 3).collect()
      .map(x => (x.getString(0), x.getLong(1)))
    // "click here to" appears in docs 1,2,3 (doc 3 twice → counted once)
    assert(r.head == (("click here to", 3L)))
    assert(r.forall(_._2 <= 3L))
    // ranking is by doc_freq desc then gram asc, so the list is ordered
    assert(r.sliding(2).forall { case Array(a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1) })
  }

  test("boilerplateNgrams on the corpus: bounded size, monotone frequencies") {
    val top = TextAnalysis.boilerplateNgrams(documents, top = 20).collect()
    assert(top.length == 20) // synthetic corpus has >20 shared grams
    val freqs = top.map(_.getLong(1))
    assert(freqs.sliding(2).forall { case Array(a, b) => a >= b })
    // every doc_freq is a count of DISTINCT docs, so none exceeds the corpus
    assert(freqs.head <= documents.count())
  }

  test("quantizedTopK (q81): full rank lists, near-float scores") {
    val qk = Similarity.quantizedTopK(embeddings).cache()
    assert(qk.count() == 8 * 5)
    assert(qk.groupBy("q_id").count().filter(col("count") =!= 5).count() == 0)
    // int8 reconstruction error is ~0.4% per component; the quantized
    // cosine of the quantized winner must be close to the float
    // cosine of the float winner (scores comparable, not identical)
    val fl = Similarity.bruteForceTopK(embeddings, k = 5)
      .filter(col("rk") === 1).select(col("q_id"), col("cos_sim").as("fcos"))
    val q1 = qk.filter(col("rk") === 1).select(col("q_id"), col("qcos_sim"))
    val drift = q1.join(fl, "q_id")
      .filter(abs(col("qcos_sim") - col("fcos")) > 0.05).count()
    assert(drift == 0)
    qk.unpersist()
  }

  test("sourceQualityGate keeps at least half of every source") {
    val g = TextAnalysis.sourceQualityGate(documents).cache()
    assert(g.count() == documents.count())
    // verdict is consistent with the reported columns row-by-row
    assert(g.filter(col("keep") =!= (col("quality") >= col("src_median"))).count() == 0)
    // >= median keeps at least ceil(n/2) rows of each source
    val bySource = g.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum(col("keep").cast("int")).as("kept")).collect()
    bySource.foreach { r =>
      assert(r.getLong(2) * 2 >= r.getLong(1), s"source ${r.getString(0)}")
    }
    g.unpersist()
  }

  test("normalizeTruncate: hand-computed norms and renormalized stats") {
    import spark.implicits._
    val df = Seq((1L, Seq(3.0, 4.0, 12.0))).toDF("vec_id", "embedding")
    val r = Similarity.normalizeTruncate(df, dTrunc = 2).head()
    assert(r.getDouble(1) == 13.0)       // norm_full
    assert(r.getDouble(2) == 0.384615)   // energy_ratio = 5/13
    assert(r.getDouble(3) == 0.6)        // t_first = 3/5
    assert(r.getDouble(4) == 0.6 && r.getDouble(5) == 0.8)
  }

  test("boilerplateCoverage: hand-computed fractions against a top-1 list") {
    import spark.implicits._
    val docs = Seq(
      (1L, "click here to accept cookies"),  // 3 grams, 1 on the list
      (2L, "click here to read more"),
      (3L, "click here to click here to"),   // 3 DISTINCT grams, 1 hot
      (4L, "no shared content at all")       // nothing on the list
    ).toDF("doc_id", "text")
    // top=1 pins the list to exactly {"click here to"} (doc_freq 3)
    val r = TextAnalysis.boilerplateCoverage(docs, n = 3, top = 1).collect()
      .map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r(1L) == 0.3333 && r(2L) == 0.3333 && r(3L) == 0.3333)
    assert(r(4L) == 0.0)
  }

  test("boilerplateCoverage on the corpus: fractions in [0,1], total gram counts") {
    val cov = TextAnalysis.boilerplateCoverage(documents).cache()
    assert(cov.filter(col("boiler_fraction") < 0 || col("boiler_fraction") > 1).count() == 0)
    // same denominator contract as dupNgramFraction: distinct grams per doc
    val expected = Dedup.shingleDocs(documents, 3)
      .dropDuplicates("doc_id", "shingle").count()
    assert(cov.agg(sum("n_grams")).head().getLong(0) == expected)
    cov.unpersist()
  }

  test("hardNegatives: every mined negative crosses the label boundary") {
    val hn = Similarity.hardNegatives(embeddings).cache()
    assert(hn.count() == 8 * 5)
    assert(hn.groupBy("q_id").count().filter(col("count") =!= 5).count() == 0)
    // join back the anchor labels: no negative may share its anchor's label
    val anchors = embeddings.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"))
    assert(hn.join(anchors, "q_id").filter(col("n_label") === col("q_label")).count() == 0)
    // scores are non-increasing down each rank list
    val bad = hn.as("a").join(hn.as("b"),
      col("a.q_id") === col("b.q_id") && col("a.rk") === col("b.rk") - 1)
      .filter(col("a.cos_sim") < col("b.cos_sim")).count()
    assert(bad == 0)
    hn.unpersist()
  }

  test("quantization is scale-invariant: c*v produces identical codes") {
    import spark.implicits._
    val df = Seq((1L, Seq(0.1, -0.4, 0.25)), (2L, Seq(0.5, 0.0, -0.5)))
      .toDF("vec_id", "embedding")
    val scaled = df.select(col("vec_id"),
      transform(col("embedding"), x => x * 2.5).as("embedding"))
    val a = Similarity.quantizeEmbeddings(df).select("vec_id", "qvec")
    val b = Similarity.quantizeEmbeddings(scaled).select(col("vec_id"), col("qvec").as("qvec2"))
    assert(a.join(b, "vec_id").filter(col("qvec") =!= col("qvec2")).count() == 0)
  }

  test("normalizeTruncate on the corpus: energy in (0,1], ordered stats") {
    val nt = Similarity.normalizeTruncate(embeddings).cache()
    assert(nt.count() == embeddings.count())
    assert(nt.filter(col("energy_ratio") <= 0 || col("energy_ratio") > 1.0 + 1e-9).count() == 0)
    assert(nt.filter(col("t_min") > col("t_first") || col("t_first") > col("t_max")).count() == 0)
    nt.unpersist()
  }

  test("labelCentroidDrift: colinear/orthogonal/opposite centroids hit ±1 and 0") {
    import spark.implicits._
    // label 0 averages to (2, 0, 0); 1 is orthogonal; 2 colinear with
    // 0 (scale-invariant cosine); 3 points the other way
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0), 0), (2L, Seq(3.0, 0.0, 0.0), 0),
      (3L, Seq(0.0, 1.0, 0.0), 1),
      (4L, Seq(0.5, 0.0, 0.0), 2),
      (5L, Seq(-1.0, 0.0, 0.0), 3))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.labelCentroidDrift(df).collect()
      .map(x => (x.getInt(0), x.getInt(1)) -> x.getDouble(4)).toMap
    assert(r.size == 6) // C(4,2)
    assert(r((0, 1)) == 0.0 && r((0, 2)) == 1.0 && r((0, 3)) == -1.0, r.toString)
    assert(r((1, 2)) == 0.0 && r((2, 3)) == -1.0)
  }

  test("labelCentroidDrift on the corpus: full label matrix, cosines in [-1, 1]") {
    val res = Similarity.labelCentroidDrift(embeddings).collect()
    val k = embeddings.select("label").distinct().count()
    assert(res.length == k * (k - 1) / 2, s"expected C($k,2): ${res.length}")
    res.foreach { r =>
      assert(r.getInt(0) < r.getInt(1))
      assert(r.getLong(2) > 0 && r.getLong(3) > 0)
      assert(r.getDouble(4) >= -1.0 - 1e-9 && r.getDouble(4) <= 1.0 + 1e-9, r.toString)
    }
  }

  test("centroidOutliers: planted off-cluster vector is its label's worst row") {
    import spark.implicits._
    // label 0 clusters at e1; vec 99 points the other way → rank 1 outlier
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0), 0), (2L, Seq(0.9, 0.1, 0.0), 0),
      (3L, Seq(0.95, -0.05, 0.0), 0), (99L, Seq(-1.0, 0.0, 0.0), 0),
      (4L, Seq(0.0, 1.0, 0.0), 1), (5L, Seq(0.0, 0.9, 0.1), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.centroidOutliers(df, worstK = 1).collect()
    assert(r.length == 2) // one worst row per label
    assert(r.filter(_.getInt(0) == 0).map(_.getLong(1)).sameElements(Array(99L)))
  }

  test("centroidOutliers on the corpus: exactly worstK per label, cosine ascends with rank") {
    val out = Similarity.centroidOutliers(embeddings).cache()
    val labels = embeddings.select("label").distinct().count()
    assert(out.count() == labels * 5)
    assert(out.groupBy("label").count().filter(col("count") =!= 5).count() == 0)
    // within a label, rk order is worst-first (ascending cosine)
    val viol = out.alias("a").join(out.alias("b"),
        col("a.label") === col("b.label") && col("a.rk") < col("b.rk") &&
          col("a.cos_centroid") > col("b.cos_centroid"))
      .count()
    assert(viol == 0)
    out.unpersist()
  }

  test("knnPredict: planted clusters vote their own label") {
    import spark.implicits._
    // two tight clusters; queries 0 and 1 sit inside them
    val df = Seq(
      (0L, Seq(1.0, 0.0, 0.0), 0), (2L, Seq(0.99, 0.01, 0.0), 0),
      (3L, Seq(0.98, 0.02, 0.0), 0), (4L, Seq(0.97, 0.01, 0.0), 0),
      (1L, Seq(0.0, 1.0, 0.0), 1), (5L, Seq(0.0, 0.99, 0.01), 1),
      (6L, Seq(0.01, 0.98, 0.0), 1), (7L, Seq(0.0, 0.97, 0.02), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.knnPredict(df, nQueries = 2, k = 3).collect()
      .map(x => x.getLong(0) -> ((x.getInt(1), x.getInt(2), x.getInt(3)))).toMap
    assert(r(0L) == ((0, 0, 3))) // all 3 nearest are label 0
    assert(r(1L) == ((1, 1, 3)))
  }

  test("diversitySample: heap selection equals the window-rank twin, caps hold") {
    val s = Similarity.diversitySample(embeddings, perBucket = 4).cache()
    assert(s.groupBy("bucket_id").count().filter(col("count") > 4).count() == 0)
    // covers every populated bucket
    val populated = Similarity.lshBuckets(embeddings).select("bucket_id").distinct()
    assert(s.select("bucket_id").distinct().count() == populated.count())
    // the heap operator selects exactly what a rank window would
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket_id").orderBy(col("h"), col("vec_id"))
    val twin = embeddings.select(col("vec_id"),
        graft.operators.Similarity.lshBucketId(col("embedding").cast("array<double>")).as("bucket_id"),
        md5(col("vec_id").cast("string")).as("h"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 4)
      .select("bucket_id", "vec_id")
    assert(s.exceptAll(twin).count() == 0 && twin.exceptAll(s).count() == 0)
    s.unpersist()
  }

  test("annRecall: hits recount against independently-joined neighbor sets") {
    val r = Similarity.annRecall(embeddings).cache()
    assert(r.count() == 8)
    assert(r.filter(col("hits") > col("k_exact") || col("recall") < 0 || col("recall") > 1).count() == 0)
    val exact = Similarity.bruteForceTopK(embeddings, 8, 5)
      .select("q_id", "neighbor_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val ann = Similarity.annTopK(embeddings, 8, 5)
      .select("q_id", "neighbor_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val byQ = r.collect().map(x => x.getLong(0) -> x.getInt(2)).toMap
    for (q <- 0L until 8L)
      assert(byQ(q) == exact.filter(_._1 == q).count(ann.contains(_)),
        s"query $q hit count mismatch")
    r.unpersist()
  }

  test("truncationRecallSweep: a planted prefix-impostor kills prefix recall; full dim recovers it") {
    import spark.implicits._
    // query 0 = [1,0,0,0]. v1 matches PERFECTLY on the 2-dim prefix
    // but is far at full dim (huge tail); v2 is the true full-dim
    // neighbor. dim-2 search picks v1 (recall 0); dim-4 = full dim
    // picks v2 (recall 1).
    val df = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(1.0, 0.0, 10.0, 0.0)),
      (2L, Seq(1.0, 0.1, 0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val r = Similarity.truncationRecallSweep(df, dims = Seq(2, 4),
        nQueries = 1, k = 1).collect()
      .map(x => x.getInt(0) -> (x.getInt(1), x.getInt(2), x.getDouble(3))).toMap
    assert(r(2) == ((1, 0, 0.0)), s"prefix impostor must win at dim 2: ${r(2)}")
    assert(r(4) == ((1, 1, 1.0)), s"full dim must recover the true neighbor: ${r(4)}")
  }

  test("truncationRecallSweep on the corpus: recall weakly improves with dimension") {
    val r = Similarity.truncationRecallSweep(embeddings).collect()
    assert(r.map(_.getInt(0)).toSeq == Seq(8, 16, 32))
    r.foreach(x => assert(x.getDouble(3) >= 0 && x.getDouble(3) <= 1 &&
      x.getInt(2) <= x.getInt(1)))
  }

  test("bucketBalanceAudit: candidate-pair cost and skew recomputed from the bucket frame") {
    val sizes = Similarity.lshBuckets(embeddings)
      .groupBy("bucket_id").count().collect().map(_.getLong(1))
    val r = Similarity.bucketBalanceAudit(embeddings).collect()(0)
    assert(r.getLong(0) == sizes.sum && r.getLong(1) == sizes.length &&
      r.getLong(2) == sizes.max)
    assert(r.getLong(3) == sizes.map(n => n * (n - 1) / 2).sum)
    assert(r.getLong(4) == sizes.sum * (sizes.sum - 1) / 2)
    assert(r.getLong(3) <= r.getLong(4), "bucketing can only shrink the pair count")
    assert(r.getDouble(6) >= 1.0, "max bucket is at least the mean")
  }

  test("semanticDedupPrefix: verdicts recompute from the pair frame; earliest prior wins") {
    val r = Dedup.semanticDedupPrefix(embeddings).cache()
    assert(r.count() == embeddings.count(), "one verdict per vector")
    val pairs = Dedup.embeddingNearDup(embeddings, 0.3)
      .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1)))
    val byB = pairs.groupBy(_._2)
    r.collect().foreach { row =>
      val id = row.getLong(0)
      byB.get(id) match {
        case Some(ps) =>
          assert(row.getInt(1) == 1 && row.getLong(2) == ps.map(_._1).min &&
            row.getLong(3) == ps.length, s"vec $id verdict mismatch")
        case None =>
          assert(row.getInt(1) == 0 && row.isNullAt(2) && row.getLong(3) == 0L,
            s"vec $id should be clean")
      }
    }
    r.unpersist()
  }

  test("knnPredict on the corpus: one row per query, votes bounded by k") {
    val p = Similarity.knnPredict(embeddings).cache()
    assert(p.count() == 8)
    assert(p.filter(col("votes") < 1 || col("votes") > 10).count() == 0)
    val labelDomain = embeddings.select("label").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(p.collect().forall(r => labelDomain.contains(r.getInt(2))))
    p.unpersist()
  }

  // ---- q145 hashed linear classifier --------------------------------

  private def tinyDocs(rows: Seq[(Long, String)]) =
    { import spark.implicits._
      rows.map { case (i, t) => (i, t, "en", "src0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars") }

  test("hashedClassifier: margin is the mean integer weight, keep thresholds it") {
    val r = TextAnalysis.hashedClassifier(
      tinyDocs(Seq(1L -> "alpha", 2L -> "alpha alpha alpha",
                   3L -> "alpha beta")))
      .collect().map(x => x.getLong(0) ->
        (x.getInt(1), x.getDouble(2), x.getBoolean(3))).toMap
    // per-token weights are in [-0.5, 0.5] and the mean of a repeated
    // token equals the single occurrence's weight exactly
    assert(r(1)._2 == r(2)._2)
    assert(r(2)._1 == 3 && r(1)._1 == 1)
    r.values.foreach { case (_, m, keep) =>
      assert(m >= -0.5 && m <= 0.5)
      assert(keep == (m >= 0) || m == 0.0)
    }
    // two-token doc: margin is the two-weight mean to rounding
    val wa = r(1)._2
    assert(math.abs(r(3)._2 - wa) <= 0.5) // beta shifts it within range
  }

  test("hashedClassifier is a map-only plan: no Exchange before the presentation sort") {
    val plan = TextAnalysis.hashedClassifier(documents)
      .queryExecution.executedPlan.toString
    // the single Exchange is the rangepartitioning of the final orderBy
    assert("(?i)exchange".r.findAllIn(plan).size == 1, plan)
    assert(plan.toLowerCase.contains("rangepartitioning"))
  }

  // ---- q146 OOV rate ------------------------------------------------

  test("oovRate with a 2-term vocab: head membership and per-doc rates") {
    val r = TextAnalysis.oovRate(
      tinyDocs(Seq(1L -> "a a a b", 2L -> "a c")), vocab = 2)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    // corpus counts: a=4, b=1, c=1; head of 2 = {a, b} (count desc,
    // term asc breaks the b/c tie)
    assert(r(1L) == ((4L, 0L, 0.0)))
    assert(r(2L) == ((2L, 1L, 0.5)))
  }

  test("oovRate on the corpus: rates in [0,1], n_oov never exceeds n_tokens") {
    val r = TextAnalysis.oovRate(documents).cache()
    assert(r.count() == documents.count())
    assert(r.filter(col("n_oov") > col("n_tokens")).count() == 0)
    assert(r.filter(col("oov_rate") < 0 || col("oov_rate") > 1).count() == 0)
    r.unpersist()
  }

  // ---- q148 embedding dimension audit --------------------------------

  test("embeddingDimStats: dead dimension gets zero variance and last rank") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(3.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.embeddingDimStats(df).collect()
      .map(x => x.getInt(0) -> ((x.getLong(1), x.getDouble(2), x.getDouble(3),
        x.getDouble(4), x.getInt(5)))).toMap
    // dim 0: mean 2, population var 1; dim 1 dead: var 0, share 0
    assert(r(0) == ((2L, 2.0, 1.0, 1.0, 1)))
    assert(r(1) == ((2L, 0.0, 0.0, 0.0, 2)))
  }

  test("embeddingDimStats on the corpus: shares sum to 1, ranks are a permutation") {
    val r = Similarity.embeddingDimStats(embeddings).collect()
    val dims = r.length
    assert(dims == embeddings.select(size(col("embedding"))).head().getInt(0))
    assert(math.abs(r.map(_.getDouble(4)).sum - 1.0) < 1e-2)
    assert(r.map(_.getInt(5)).sorted.toSeq == (1 to dims))
  }

  // ---- q212 golden-record survivorship -------------------------------

  test("goldenRecords: longest text wins, ties to smallest id, breadth is audited") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a", "en", "srcA", 5L),
      (2L, "a a a a", "en", "srcB", 7L),   // longest in cluster 1 → survivor
      (3L, "a a a", "fr", "srcA", 5L),
      (7L, "b b", "en", "srcC", 3L),       // tie on n_chars with 9 → min id wins
      (9L, "b b", "en", "srcC", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("doc_id", "cluster_id")
    val r = Dedup.goldenRecords(docs, labels).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 3L)               // n_members
    assert(r(1L).getLong(2) == 2L)               // n_sources (srcA, srcB)
    assert(r(1L).getLong(3) == 2L)               // n_langs (en, fr)
    assert((r(1L).getLong(4), r(1L).getLong(5)) == ((5L, 7L)))
    assert(r(1L).getLong(6) == 2L)               // survivor: longest text
    assert(r(1L).getString(7) == "srcB")
    assert(r(7L).getLong(6) == 7L)               // n_chars tie → smallest doc_id
    assert(r(7L).getLong(1) == 2L)
  }

  test("goldenRecords over the cascade: one row per cluster, survivor is a member") {
    val labels = Dedup.dupClusters(documents, threshold = 0.2).cache()
    val r = Dedup.goldenRecords(documents, labels).cache()
    assert(r.count() == labels.select("cluster_id").distinct().count())
    // every survivor carries its own cluster's label
    val lab = labels.select(col("doc_id").as("survivor_id"),
      col("cluster_id").as("survivor_cluster"))
    assert(r.join(lab, "survivor_id")
      .filter(col("cluster_id") =!= col("survivor_cluster")).count() == 0)
    // survivor has the cluster's max_chars
    val docsN = documents.select(col("doc_id").as("survivor_id"),
      col("n_chars").as("sc"))
    assert(r.join(docsN, "survivor_id")
      .filter(col("sc") =!= col("max_chars")).count() == 0)
    r.unpersist()
  }

  // ---- q229 cross-family dedup agreement -----------------------------

  test("dedupFamilyAgreement: identical docs land in both families; ledger adds up") {
    import spark.implicits._
    val txt = (1 to 12).map("tok" + _).mkString(" ")
    val other = (1 to 12).map("zzz" + _).mkString(" ")
    val docs = Seq(
      (1L, txt, "en", "s", txt.length.toLong),
      (2L, txt, "en", "s", txt.length.toLong),     // exact dup of 1
      (9L, other, "en", "s", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.dedupFamilyAgreement(Dedup.nearDupPairs(docs), Dedup.simhashPairs(docs)).head()
    val (nj, ns, nb) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nj >= 1 && ns >= 1 && nb >= 1, "an exact dup is caught by every family")
    assert(r.getLong(3) == nj - nb && r.getLong(4) == ns - nb)
    assert(r.getDouble(5) > 0 && r.getDouble(5) <= 1.0)
  }

  test("dedupFamilyAgreement on the corpus: confusion cells are consistent") {
    val r = Dedup.dedupFamilyAgreement(Dedup.nearDupPairs(documents),
      Dedup.simhashPairs(documents)).head()
    val (nj, ns, nb) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nb <= math.min(nj, ns))
    assert(nj > 0 && ns > 0 && nb > 0, "the planted dups hit both families")
    assert(r.getLong(3) >= 0 && r.getLong(4) >= 0)
  }

  // ---- q219 MMR diversity re-rank ------------------------------------

  test("mmrRerank: the diverse result outranks the near-duplicate at pick 2") {
    import spark.implicits._
    def at(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    // query along 0°; candidates at 10° and 11° are near-dups of each
    // other, the -20° one is diverse: λ=0.7 scores pick 2 as
    // 0.7·cos20 − 0.3·cos30 ≈ 0.398 > 0.7·cos11 − 0.3·cos1 ≈ 0.387
    val df = Seq(
      (0L, at(0), 0), (10L, at(10), 0), (11L, at(11), 0), (12L, at(-20), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.mmrRerank(df, nQueries = 1).collect()
    assert(r.map(x => (x.getInt(1), x.getLong(2))).toSeq ==
      Seq((1, 10L), (2, 12L), (3, 11L)))
    // relevance of pick 1 is the plain top-1; scores decrease along picks
    val scores = r.map(_.getDouble(4))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("mmrRerank on the corpus: 8 queries x 5 picks, pick 1 = exact top-1") {
    val r = Similarity.mmrRerank(embeddings).cache()
    assert(r.count() == 40)
    // per query: picks are 1..5 over distinct neighbors
    r.collect().groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to 5))
      assert(rows.map(_.getLong(2)).distinct.length == 5)
    }
    val top1 = Similarity.bruteForceTopK(embeddings).filter(col("rk") === 1)
      .select(col("q_id"), col("neighbor_id").as("bf_top"))
    assert(r.filter(col("pick") === 1).join(top1, "q_id")
      .filter(col("neighbor_id") =!= col("bf_top")).count() == 0)
    r.unpersist()
  }

  // ---- q215 source-overlap matrix ------------------------------------

  test("sourceOverlapMatrix: mirrored source scores 1.0, disjoint source 0.0") {
    import spark.implicits._
    val t1 = (1 to 10).map("a" + _).mkString(" ")   // 10 tokens → 3 8-grams
    val t2 = (1 to 10).map("z" + _).mkString(" ")
    val docs = Seq(
      (1L, t1, "en", "srcA", t1.length.toLong),
      (2L, t1, "en", "srcB", t1.length.toLong),    // B mirrors A
      (3L, t2, "en", "srcC", t2.length.toLong))    // C disjoint
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.sourceOverlapMatrix(docs).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x).toMap
    assert(r.keySet == Set(("srcA", "srcB"), ("srcA", "srcC"), ("srcB", "srcC")))
    val ab = r(("srcA", "srcB"))
    assert((ab.getLong(2), ab.getLong(3), ab.getLong(4)) == ((3L, 3L, 3L)))
    assert((ab.getDouble(5), ab.getDouble(6)) == ((1.0, 1.0)))
    val ac = r(("srcA", "srcC"))
    assert(ac.getLong(4) == 0L)
    assert((ac.getDouble(5), ac.getDouble(6)) == ((0.0, 0.0)))
  }

  test("sourceOverlapMatrix on the corpus: closed matrix, planted dups show up") {
    val srcCount = documents.select("source").distinct().count()
    val r = Dedup.sourceOverlapMatrix(documents).cache()
    assert(r.count() == srcCount * (srcCount - 1) / 2)
    r.collect().foreach { x =>
      val (ga, gb, sh) = (x.getLong(2), x.getLong(3), x.getLong(4))
      assert(sh <= math.min(ga, gb))
      assert(x.getDouble(5) <= x.getDouble(6) + 1e-9) // jaccard <= containment
    }
    // the corpus plants cross-source exact dups → some overlap exists
    assert(r.filter(col("n_shared") > 0).count() > 0)
    r.unpersist()
  }
}
