package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The standing-state store for path artifacts: build-once parquet
  * memoization for derived datasets that are a pure function of a source
  * table — synthetic media corpora, token relations, the IVF and text
  * indexes. Every such artifact goes through [[ensureWith]]; standing
  * catalog tables go through [[Bucketing.ensure]].
  *
  * A `_SUCCESS` marker at the artifact root is the build receipt, so a
  * memoized build survives (and is shared) across sessions/JVMs pointed
  * at the same data dir; the cache path embeds a fingerprint of the
  * source parquet (name + length + mtime of every part file) plus a
  * caller version string, so a regenerated fixture or a changed
  * generator gets a FRESH build instead of silently serving a stale one.
  * Cross-JVM safety: the build lands in a per-process staging dir and is
  * RENAMED into place (atomic on one filesystem); the loser of a
  * concurrent race deletes its staging copy and uses the winner's.
  * Superseded fingerprints of the same (source, tag) are swept so the
  * memo root holds at most one build per (corpus, tag).
  */
object ParquetMemo {

  /** How a source path appears in memo dir names. */
  private[graft] def sanitize(s: String): String =
    s.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Deterministic cache location for (source file/dir, tag, version).
    * MD5 (not 32-bit hashCode) of the part-file listing: a fingerprint
    * collision after a corpus change would silently serve a stale
    * build as current. */
  def cachePath(srcFile: String, tag: String, version: String): String = {
    val src = new java.io.File(srcFile)
    val parts: Seq[java.io.File] =
      if (src.isDirectory)
        Option(src.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(f => f.getName.endsWith(".parquet") || f.getName == "_SUCCESS")
          .sortBy(_.getName).toSeq
      else Seq(src)
    val fpInput = parts.map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|") + "|" + version
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(fpInput.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(16)
    memoRoot + "/" + stem(srcFile, tag) + fp
  }

  /** Memo dir name up to the fingerprint. */
  private def stem(srcFile: String, tag: String): String =
    "graft_memo_" + sanitize(srcFile) + "_" + sanitize(tag) + "_"

  /** Root directory for EVERY standing on-disk artifact (memo tables,
    * text/IVF indexes): the dedicated `graft.memo.root` property wins
    * (tests plant cold environments through it without mutating the
    * global java.io.tmpdir, which other JVM machinery reads), else
    * tmpdir. */
  def memoRoot: String =
    sys.props.getOrElse("graft.memo.root",
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))

  /** Return the cache dir for `build`'s output, building at most once
    * per (source snapshot, tag, version). `build` is only evaluated on
    * a cache miss. */
  def ensure(srcFile: String, tag: String, version: String)
            (build: => DataFrame): String =
    ensureWith(srcFile, tag, version)(staging =>
      build.write.mode("overwrite").parquet(staging))

  /** Like [[ensure]] but DIRECTORY-PARTITIONED on `partitionCols` — the
    * layout for standing indexes probed by literal low-cardinality
    * filters (quantizer cells): the probe's `IN (...)` becomes a
    * PartitionFilter and unprobed directories are never opened.
    * The partition layout is folded into the fingerprint: the same
    * (srcFile, tag, version) used with [[ensure]], or with different
    * `partitionCols`, must never serve a cached build whose directory
    * layout doesn't match what this caller will read. */
  def ensurePartitioned(srcFile: String, tag: String, version: String,
      partitionCols: Seq[String])(build: => DataFrame): String =
    ensureWith(srcFile, tag,
        version + "|part=" + partitionCols.mkString(","))(staging =>
      build.write.mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(staging))

  /** The one publish protocol for every path artifact: return
    * [[cachePath]], and on a miss sweep this (source, tag)'s stale
    * fingerprints, run `writeTo` on a private staging dir (it may write
    * any layout beneath it — one table or several), touch `_SUCCESS` at
    * the staging root as the receipt, and publish by rename. */
  def ensureWith(srcFile: String, tag: String, version: String)
      (writeTo: String => Unit): String = synchronized {
    val path = cachePath(srcFile, tag, version)
    val target = new java.io.File(path)
    if (!new java.io.File(target, "_SUCCESS").exists()) {
      // sweep stale fingerprints of exactly this (source, tag): a bare
      // prefix match would also take a longer tag's builds (`doctokens`
      // sweeping `doctokens_export`). The full match never takes a
      // ".build." staging dir either: the object-level synchronized only
      // serializes within THIS JVM, and deleting a concurrent
      // cross-process builder's in-flight staging dir under it yields
      // transient publish failures
      val stale = (java.util.regex.Pattern.quote(stem(srcFile, tag)) +
        "[0-9a-f]{16}").r
      Option(target.getParentFile.listFiles()).getOrElse(Array.empty)
        .filter(f => stale.matches(f.getName) && f.getName != target.getName)
        .foreach(deleteRecursively)
      val staging = new java.io.File(
        path + ".build." + java.lang.ProcessHandle.current().pid())
      try {
        writeTo(staging.getAbsolutePath)
        new java.io.File(staging, "_SUCCESS").createNewFile(): Unit
        if (!staging.renameTo(target)) {
          // rename refused: a concurrent builder won (use theirs) or
          // something is genuinely wrong; never hand back an empty path
          deleteRecursively(staging)
          require(new java.io.File(target, "_SUCCESS").exists(),
            s"memoized build could not be published at $path")
        }
      } catch { case e: Throwable => deleteRecursively(staging); throw e }
    }
    path
  }

  /** Memoized read: ensure the build exists, then scan it. */
  def ensureRead(spark: SparkSession, srcFile: String, tag: String,
      version: String)(build: => DataFrame): DataFrame =
    spark.read.parquet(ensure(srcFile, tag, version)(build))

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }
}
