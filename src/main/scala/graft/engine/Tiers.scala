package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, JsonRouting, Multimodal, Similarity, TextAnalysis}

/** The registry of materialized tiers: one entry per content-addressed
  * tier the queries probe, in the order `graft.Bench` builds,
  * pre-touches and reports them (`builds_sec` key order — a tier that
  * reads another tier comes after it: `cc` before `fam`, `tok` before
  * `arm`/`tr`); `graft.apps.Probe build` rebuilds one by key. A new
  * tier is one entry here.
  *
  * A tier lives at
  * `<java.io.tmpdir>/graft_<kind>_<dataset name>_<md5(abs dataset path)[:8]>/<prefix><content hash>`.
  * The family base is keyed on the FULL dataset path, not just its
  * name: two datasets named e.g. sf0.1 under different parents must
  * not share a base, or each resolution would prune the other's live
  * tier. A family's variant tiers share its main tier's base, so
  * pruning, pre-touch and reuse all see them together. The operator's
  * `*Dir` function supplies the prefix and the content hash
  * ([[ContentAddress.dirFor]]).
  *
  * Resolution is lazy and per call: `dirFor` lists the corpus
  * recursively and prunes superseded siblings, so nothing resolves a
  * tier before a caller asks for it, and `java.io.tmpdir` is read at
  * call time.
  */
object Tiers {

  /** A source table: its parquet name under the dataset dir, its
    * loader, and its row id (the old-slice key). */
  final case class Source(table: String,
      load: (SparkSession, String) => DataFrame, id: String)

  val Documents = Source("documents", Tables.documents, "doc_id")
  val Embeddings = Source("embeddings", Tables.embeddings, "vec_id")
  val Events = Source("events", Tables.events, "event_id")

  /** The yesterday-corpus variant the append queries (q264–q267,
    * q270) land on: the source minus its `id % 10 == 7` daily batch.
    * The variant string ENCODES the slice (mod 10, residue 7), because
    * the content address signs the corpus files, not filters: changing
    * the split without renaming the variant would reuse a stale frame
    * built for the old slice.
    */
  private val Old = "oldm10r7_"

  /** (spark, source path, family base, variant) => address */
  private type DirFn = (SparkSession, String, String, String) => String

  /** (source frame, tier dir, dataset dir) => true iff a build ran */
  private type Prebuild = (DataFrame, String, String) => Boolean

  final class Tier private[Tiers] (val key: String, val kind: String,
      val source: Source, val variant: String, dirFn: DirFn,
      prebuild: Option[Prebuild]) {

    /** This tier's address for the dataset at `d`, resolved now. */
    def apply(s: SparkSession, d: String): String =
      dirFn(s, s"$d/${source.table}.parquet", base(d, kind), variant)

    def hasBuild: Boolean = prebuild.nonEmpty

    /** Build this tier for the dataset at `d` iff it is not committed
      * yet, from its source table (sliced for the [[Old]] variant).
      * Returns true iff a build ran.
      */
    def build(s: SparkSession, d: String): Boolean = {
      val p = prebuild.getOrElse(
        throw new IllegalStateException(s"tier $key has no build"))
      val src = source.load(s, d)
      p(if (variant == Old) src.filter(col(source.id) % 10 =!= 7) else src,
        apply(s, d), d)
    }
  }

  private def base(d: String, kind: String): String = {
    val f = new java.io.File(d)
    val ph = java.security.MessageDigest.getInstance("MD5")
      .digest(f.getAbsolutePath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${kind}_${f.getName}_$ph").getAbsolutePath
  }

  private val registry = scala.collection.mutable.ArrayBuffer.empty[Tier]

  private def tier(key: String, kind: String, source: Source,
                   dirFn: DirFn, variant: String = "",
                   build: Option[Prebuild] = None): Tier = {
    val t = new Tier(key, kind, source, variant, dirFn, build)
    registry += t
    t
  }

  /** A `*Dir` function that takes no variant. */
  private def fixed(f: (SparkSession, String, String) => String): DirFn =
    (s, path, b, _) => f(s, path, b)

  // the `*Dir` functions of the families with variant tiers
  private val cascadeDir: DirFn =
    (s, path, b, v) => Dedup.cascadeDir(s, path, b, variant = v)
  private val simhashDir: DirFn =
    (s, path, b, v) => Dedup.simhashDir(s, path, b, variant = v)
  private val pqIndexDir: DirFn =
    (s, path, b, v) => Similarity.pqIndexDir(s, path, b, variant = v)
  private val semCcDir: DirFn =
    (s, path, b, v) => Dedup.semCcDir(s, path, b, variant = v)

  /** A build running a `prebuild*` that reads only its source frame. */
  private def run(f: (DataFrame, String) => Boolean): Option[Prebuild] =
    Some((src, dir, _) => f(src, dir))

  /** The materialized token-tf frame, fed to the builds that read it. */
  private def tokenTfFrame(docs: DataFrame, d: String): Option[DataFrame] =
    Some(TextAnalysis.tokenTfCached(docs, tok(docs.sparkSession, d)))

  // IVF index (q64/q74/q244) and its compacted revision (q269)
  val ivf = tier("ivf", "ivf", Embeddings, Similarity.ivfIndexDir(_, _, _, _),
    build = run(Similarity.prebuildIvfIndex))
  val ivfcmp = tier("ivfcmp", "ivf", Embeddings,
    Similarity.ivfIndexDir(_, _, _, _), variant = "cmp_")
  // dedup cascade (verified pairs + CC labels; q32/q33/q55/q68/q72/...),
  // yesterday's cascade for q264's append (no CC tier: the append
  // re-closes CC over the union) and q268's compacted revision
  val cc = tier("cc", "cc", Documents, cascadeDir,
    build = run(Dedup.prebuildCascade(_, _)))
  val cco = tier("cco", "cc", Documents, cascadeDir,
    variant = Old, build = run(Dedup.prebuildCascade(_, _, labels = false)))
  val cccmp = tier("cccmp", "cc", Documents, cascadeDir, variant = "cmp_")
  // SimHash pair frame (q71/q229/q234), q267's yesterday frame, q269's
  // compacted revision
  val sh = tier("sh", "sh", Documents, simhashDir,
    build = run(Dedup.prebuildSimhashPairs(_, _)))
  val sho = tier("sho", "sh", Documents, simhashDir,
    variant = Old, build = run(Dedup.prebuildSimhashPairs(_, _)))
  val shcmp = tier("shcmp", "sh", Documents, simhashDir, variant = "cmp_")
  // PQ index (q192–q194), q266's frozen yesterday index and the
  // address its append lands in, q269's compacted revision
  val pq = tier("pq", "pq", Embeddings, pqIndexDir,
    build = run(Similarity.prebuildPqIndex(_, _)))
  val pqo = tier("pqo", "pq", Embeddings, pqIndexDir,
    variant = Old, build = run(Similarity.prebuildPqIndex(_, _)))
  val pqapn = tier("pqapn", "pq", Embeddings, pqIndexDir, variant = "apnm10r7_")
  val pqcmp = tier("pqcmp", "pq", Embeddings, pqIndexDir, variant = "cmp_")
  // the four verified-pair family frames (q135/q140/q176/q184/q234),
  // parameter-keyed subdirs of the cascade's address
  val fam = tier("fam", "cc", Documents, cascadeDir,
    build = run(Dedup.prebuildPairFamilies))
  // parsed-props long frame (q173/q222)
  val props = tier("props", "props", Events, fixed(JsonRouting.propsDir),
    build = run(JsonRouting.prebuildPropsLong))
  // exact graded ANN ground truth (q244)
  val gt = tier("gt", "anngt", Embeddings, fixed(Similarity.annGtDir),
    build = run(Similarity.prebuildAnnGroundTruth))
  // 48-bit aHash signatures (q210/q211/q248)
  val ah = tier("ah", "ah", Documents, fixed(Multimodal.ahashDir),
    build = run(Multimodal.prebuildAhashSignatures))
  // token-tf frame (q50/q130/q137/q139/q144/q146, the arm and TextRank
  // builds) and q270's yesterday frame
  val tok = tier("tok", "tok", Documents, TextAnalysis.tokenTfDir(_, _, _, _),
    build = run(TextAnalysis.prebuildTokenTf))
  val toko = tier("toko", "tok", Documents,
    TextAnalysis.tokenTfDir(_, _, _, _), variant = Old)
  // retrieval-arm rankings + graded relevance (q138/q152/q213/q237/q246)
  val arm = tier("arm", "arms", Documents, fixed(TextAnalysis.retrievalArmsDir),
    build = Some((docs, dir, d) =>
      TextAnalysis.prebuildRetrievalArms(docs, dir, tokenTfFrame(docs, d))))
  // k-means cells (q142/q155/q208)
  val km = tier("km", "km", Embeddings, fixed(Similarity.kmCellsDir(_, _, _)),
    build = run(Similarity.prebuildKmeansCells(_, _)))
  // positional phrase index (q196)
  val post = tier("post", "post", Documents, fixed(TextAnalysis.phraseIndexDir),
    build = run(TextAnalysis.prebuildPhraseIndex))
  // converged TextRank ranks (q137)
  val tr = tier("tr", "tr", Documents, fixed(TextAnalysis.textRankDir(_, _, _)),
    build = Some((docs, dir, d) =>
      TextAnalysis.prebuildTextRank(docs, dir, tokenTfFrame(docs, d))))
  // character-bigram LM (q121)
  val blm = tier("blm", "blm", Documents, fixed(TextAnalysis.bigramLmDir),
    build = run(TextAnalysis.prebuildBigramLm))
  // embedding-CC labels (q79/q263/q265/q269), q265's yesterday frame (no CC
  // tier, as for cco), q269's compacted revision
  val scc = tier("scc", "scc", Embeddings, semCcDir,
    build = run(Dedup.prebuildSemanticCc(_, _)))
  val scco = tier("scco", "scc", Embeddings, semCcDir,
    variant = Old, build = run(Dedup.prebuildSemanticCc(_, _, labels = false)))
  val scccmp = tier("scccmp", "scc", Embeddings, semCcDir, variant = "cmp_")

  /** Every tier, in registry order. */
  val all: Seq[Tier] = registry.toList

  /** The tiers with a build, in order: Bench builds, pre-touches and
    * reports them; `Probe build` rebuilds one by key. */
  val built: Seq[Tier] = all.filter(_.hasBuild)
}
