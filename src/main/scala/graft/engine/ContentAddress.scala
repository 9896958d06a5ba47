package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Content-addressed artifact directories for materialized views of a
  * corpus (the IVF index, the dedup-cascade pair/label frames), and
  * the one commit gate every tier goes through.
  *
  * The address is `base`/`prefix`<hash of the source files' (path,
  * size, mtime)>, so a changed or different corpus changes the
  * address and the amortized-build path can never serve a stale
  * artifact — the reuse check and the data identity are the same key.
  *
  * `base` must be dedicated to ONE logical corpus per prefix:
  * superseded `prefix*` siblings (previous content hashes of the same
  * corpus) are pruned here, so the tmp footprint stays bounded at one
  * artifact per corpus rather than one per content revision.
  *
  * The identity is taken from `dataPath`'s files directly (path,
  * size, mtime via the Hadoop FS), NOT from `DataFrame.inputFiles`:
  * the latter reads the analyzed plan's scan leaves, which cache
  * substitution replaces with InMemoryRelation — a frame someone else
  * cached would silently report no files and either fail or, worse,
  * collapse every corpus to one address.
  *
  * Commit contract: a tier directory is committed iff `<dir>/_SUCCESS`
  * exists on the Hadoop FS ([[hasSuccess]]); a build overwrites the
  * directory, so a torn attempt (part files, no marker) is rebuilt
  * from scratch. Every flat-Parquet tier writes through
  * [[commitOnce]]. Three writers keep their own code, each still
  * committing through a `_SUCCESS` that [[hasSuccess]] reads:
  *  - the bucket-partitioned IVF writes (`Similarity.ensureIvfIndex`,
  *    `compactIvfIndex`, the `appendToIvfIndex` staging), which need
  *    `partitionBy`;
  *  - `Similarity.prebuildPqIndex`, where one training run feeds both
  *    the `codes` and the `books` tier;
  *  - [[Landing]]'s hard-link assembly, which creates `_SUCCESS`
  *    itself after the linked and moved files are in place.
  */
object ContentAddress {

  /** `_SUCCESS`-commit check through the Hadoop FS API — the same API
    * [[dirFor]] resolves the corpus with, so a prebuild's reuse gate
    * works on whatever filesystem the artifact base lives on. A
    * `java.io.File` check would silently report "missing" on any
    * non-local FS, making every call rebuild with mode(overwrite) and
    * the amortization disappear without an error.
    */
  def hasSuccess(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Write `frame` as Parquet to `dir` iff `dir` is not committed;
    * true iff it wrote. On reuse the by-name `frame` is never
    * evaluated, so its plan (and any job building it) costs nothing.
    */
  def commitOnce(spark: SparkSession, dir: String)(frame: => DataFrame): Boolean =
    !hasSuccess(spark, dir) && {
      frame.write.mode("overwrite").parquet(dir)
      true
    }

  /** `tag` labels error messages with the calling operator.
    * `legacyPrefixes` names prefixes this artifact family PREVIOUSLY
    * published under (e.g. `ah_` before the width was baked in as
    * `ah_b48_`): their sibling dirs are pruned too, so a prefix rename
    * cannot orphan old-prefix artifacts and leak tmp space on machines
    * that built under the old name — the bounded-footprint invariant
    * covers the family's whole history, not just its current prefix.
    */
  def dirFor(spark: SparkSession, dataPath: String, base: String,
             prefix: String, tag: String,
             legacyPrefixes: Seq[String] = Nil): String = {
    val p = new org.apache.hadoop.fs.Path(dataPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"$tag: no corpus at $dataPath")
    // RECURSIVE listing: a partitioned/nested corpus keeps its data
    // files in subdirectories (exactly what partitionBy writes) — a
    // top-level-only listing would sign the directory skeleton and
    // miss every real data file, making stale-artifact reuse reachable
    val files = (if (fs.getFileStatus(p).isDirectory) {
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
        while (it.hasNext) buf += it.next()
        buf.toSeq
      } else Seq(fs.getFileStatus(p)))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    require(files.nonEmpty, s"$tag: no data files under $dataPath")
    val sig = files.map(st => s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val dir = new java.io.File(base, s"$prefix$h")
    val baseDir = new java.io.File(base)
    // a prunable name must be EXACTLY somePrefix + 16-hex hash — for
    // the CURRENT prefix just as for legacy ones: a bare startsWith
    // would also eat a sibling whose parameterized prefix EXTENDS this
    // one (arms_ vs arms_n4k5v1_; semcc_t300_ vs the q265 variant
    // semcc_t300_oldm10r7_ — the r17 probe caught the main semcc call
    // deleting the variant frame on every invocation, turning q265's
    // reuse path into a 2 s rebuild). Same-prefix different-hash
    // revisions (a changed corpus) still prune.
    def isRevisionOf(lp: String, n: String) =
      n.length == lp.length + 16 && n.startsWith(lp) &&
        n.drop(lp.length).forall(c => c.isDigit || (c >= 'a' && c <= 'f'))
    if (baseDir.isDirectory)
      baseDir.listFiles().filter(f => f.isDirectory && f.getName != dir.getName &&
          (isRevisionOf(prefix, f.getName) ||
            legacyPrefixes.exists(lp => isRevisionOf(lp, f.getName))))
        .foreach(stale => org.apache.commons.io.FileUtils.deleteQuietly(stale))
    dir.getAbsolutePath
  }
}
