package graft.engine

import org.apache.spark.sql.DataFrame

/** Delta-file landing for materialized tier directories — the write
  * side of the incremental appends (`Dedup.appendToCascade`,
  * `Dedup.appendToSemanticCc`, `Similarity.appendToPqIndex`).
  *
  * The r17 appends were compute-incremental but I/O-total: each tier
  * landed as `read(old).unionByName(delta).write(new)`, a full read
  * AND rewrite of the corpus-sized resident history per batch — at
  * 100 TB a daily append paid a full-corpus copy. Here the resident
  * data never moves through Spark at all:
  *
  *  - [[landDelta]] (two-address form, snapshot semantics): the new
  *    tier directory is assembled from the OLD tier's data files
  *    entered by HARD LINK — an O(#files) metadata operation, zero
  *    data bytes — plus the delta frame's freshly written part files,
  *    with `_SUCCESS` created LAST so the `ContentAddress.hasSuccess`
  *    commit gate keeps its crash-resume semantics (a death mid-
  *    assembly leaves no marker and the tier reassembles; links are
  *    idempotent to rebuild because the partial dir is dropped first).
  *    The old directory's files stay byte-identical — a link shares
  *    the inode and never touches source mtime — so the frozen
  *    yesterday-snapshot stays exactly as addressed, and pruning a
  *    superseded revision later only unlinks (the shared inodes
  *    survive in whichever address still references them).
  *  - [[linkTier]] (pure-link form): for tiers an append never
  *    changes (the PQ codebooks), the new address is just the old
  *    tier's files linked — same commit protocol, no delta.
  *    (The single-ADDRESS ingest form — stage outside the live dir,
  *    move part files in by atomic rename — lives in
  *    `Similarity.appendToIvfIndex`, which additionally handles the
  *    partitioned bucket layout this flat-tier helper does not.)
  *
  * Like `appendToIvfIndex`, this is deliberately local-FS (java.io /
  * java.nio): the staged-rename and hard-link moves are posix
  * semantics. On a distributed FS the same contract is a manifest
  * commit (Delta/Iceberg-style "add files" transaction) — the LAYOUT
  * this helper produces (immutable base files + per-batch delta
  * files under one readable directory) is exactly what those layers
  * commit, so the operator semantics carry over unchanged.
  */
object Landing {

  private def dataFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))

  /** Enter `src` into `destDir` by hard link; fall back to a byte copy
    * only where the filesystem refuses links (cross-device, or an FS
    * without link support) — correctness is identical, only the
    * zero-copy property degrades, and the parquet part names are
    * writer-UUID-unique so a collision means a torn previous assembly
    * (dropped by the caller before reassembly, so we can only race
    * ourselves).
    */
  private def linkOrCopy(src: java.io.File, destDir: java.io.File): Unit = {
    val dest = new java.io.File(destDir, src.getName)
    try java.nio.file.Files.createLink(dest.toPath, src.toPath)
    catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        java.nio.file.Files.copy(src.toPath, dest.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Assemble `newTierDir` = link(resident data files of `oldTierDir`)
    * + `delta`'s part files, committing `_SUCCESS` last. Any partial
    * previous assembly (dir present, no `_SUCCESS`) is dropped first —
    * the same overwrite semantics the Spark writer gave the old
    * union-rewrite path.
    */
  def landDelta(delta: DataFrame, oldTierDir: String, newTierDir: String): Unit = {
    val dest = new java.io.File(newTierDir)
    if (dest.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dest)
    // DETERMINISTIC staging name, not a UUID (review r18): a JVM death
    // between the staging write and the finally-cleanup would orphan a
    // UUID-named dir forever — the resume would stage under a fresh
    // name and ContentAddress pruning removes whole sibling ADDRESSES,
    // never tier-level litter. With one fixed name per tier the resume
    // clobbers the torn attempt (overwrite mode) and the finally
    // deletes it; repeated crashes leave at most one bounded orphan.
    // Single-writer by contract, like every commit path in this file —
    // concurrent landings of the SAME newTierDir already race on the
    // dest drop above.
    val staging = newTierDir + ".delta-staging"
    val stagingDir = new java.io.File(staging)
    try {
      delta.write.mode("overwrite").parquet(staging)
      require(dest.mkdirs(), s"landDelta: cannot create $newTierDir")
      // a committed tier always has ≥1 data file (Spark writes a
      // schema-only part file even for an empty frame) — an empty
      // listing here means the java.io view disagrees with the
      // caller's Hadoop-FS commit gate (transient IO error, or a
      // non-local artifact base this local-FS API cannot serve) and
      // MUST fail loudly rather than commit a tier that silently
      // lost its resident history (review r18)
      val resident = dataFiles(new java.io.File(oldTierDir))
      require(resident.nonEmpty,
        s"landDelta: no resident data files visible at $oldTierDir")
      resident.foreach(linkOrCopy(_, dest))
      dataFiles(stagingDir).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(dest, f.getName).toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      require(new java.io.File(dest, "_SUCCESS").createNewFile(),
        s"landDelta: cannot commit $newTierDir")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(stagingDir)
  }

  /** COMPACT `oldTierDir` into `newTierDir`: rewrite the tier's rows
    * into `ceil(bytes / bytesPerFile)` right-sized files — the
    * lifecycle counterpart of [[landDelta]]. A delta-landed tier
    * accumulates one part-file set per batch: after K daily appends a
    * reader opens O(K × partitions) files, and at 100 TB a year of
    * dailies is tens of thousands of small files per tier (the
    * classic small-file problem every table format answers with
    * periodic compaction — Delta OPTIMIZE / Iceberg rewrite_data_files).
    * Compaction pays the corpus rewrite ONCE per maintenance interval
    * instead of the r17 appends' once per day, and the append chain
    * continues on the compacted address unchanged (same tier names,
    * same commit gate, content row-equal).
    *
    * `coalesce`, not `repartition`: compaction is a bin-packing
    * rewrite, not a redistribution — coalesce merges input splits
    * into the target file count with NO shuffle (each writer task
    * streams ~bytesPerFile of input), so the rewrite is I/O-bound
    * only. Rows land in fewer files in unchanged order; every tier
    * frame here is order-free (readers sort or aggregate).
    *
    * Returns true iff a rewrite happened
    * ([[ContentAddress.commitOnce]]).
    */
  def compactTier(spark: org.apache.spark.sql.SparkSession,
                  oldTierDir: String, newTierDir: String,
                  bytesPerFile: Long = 128L << 20): Boolean =
    ContentAddress.commitOnce(spark, newTierDir) {
      require(ContentAddress.hasSuccess(spark, oldTierDir),
        s"compactTier requires a committed tier at $oldTierDir")
      require(bytesPerFile > 0, "bytesPerFile must be positive")
      val bytes = dataFiles(new java.io.File(oldTierDir)).map(_.length).sum
      val nFiles = math.max(1L, (bytes + bytesPerFile - 1) / bytesPerFile)
        .min(Int.MaxValue).toInt
      spark.read.parquet(oldTierDir).coalesce(nFiles)
    }

  /** Assemble `newTierDir` as a pure LINK of `oldTierDir`'s data files
    * (no delta) — the frozen-tier form for append targets whose tier
    * is byte-identical to the old snapshot's (e.g. the PQ codebooks,
    * which an append never retrains). Same commit protocol as
    * [[landDelta]]: partial assembly dropped, `_SUCCESS` last.
    */
  def linkTier(oldTierDir: String, newTierDir: String): Unit = {
    val dest = new java.io.File(newTierDir)
    if (dest.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dest)
    require(dest.mkdirs(), s"linkTier: cannot create $newTierDir")
    val resident = dataFiles(new java.io.File(oldTierDir))
    require(resident.nonEmpty,
      s"linkTier: no resident data files visible at $oldTierDir")
    resident.foreach(linkOrCopy(_, dest))
    require(new java.io.File(dest, "_SUCCESS").createNewFile(),
      s"linkTier: cannot commit $newTierDir")
  }
}
