package graft.io

/** Per-invocation scratch directories that clean themselves up at JVM
  * exit — repeated gate/bench runs would otherwise accumulate a full
  * copy of their staged inputs, checkpoints, and sink outputs in
  * java.io.tmpdir until the disk fills.
  */
object Scratch {

  def dir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(p.toFile)))
    p.toString
  }

  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage-once input directory, memoized per (tag, sfDir) for the
    * JVM's lifetime. The streaming harness queries stage their inputs
    * (read table → filter → coalesce(1) → write parquet — several
    * Spark jobs) inside query CONSTRUCTION, so the bench's
    * warm/warm/timed triple paid that staging three times per query
    * and it dominated the family's build_sec (r7: 1.5–3.3 s each).
    * The staged input for a given (tag, sf) is deterministic, so the
    * first invocation writes it and later ones reuse the directory
    * read-only. Checkpoints and sinks stay per-invocation fresh —
    * only the immutable input files are shared; callers must never
    * append to a staged dir after `write` returns (the file-source
    * needs a static listing).
    *
    * `write` receives the directory path; on ANY throw the memo entry
    * is removed and the partial dir deleted so a failed staging
    * doesn't poison later invocations. The computeIfAbsent lock also
    * serializes concurrent first-stagers of the same key.
    */
  def staged(tag: String, sfDir: String)(write: String => Unit): String =
    stagedDirs.computeIfAbsent(s"$tag|$sfDir", { _ =>
      val d = dir(s"graft-staged-$tag-")
      try { write(d); d }
      catch { case e: Throwable => deleteTree(new java.io.File(d)); throw e }
    })

  /** Copy a staged directory tree into `dst` (created if missing),
    * skipping Spark's `_SUCCESS` markers and hidden files at every
    * level. Two uses: the cheap per-invocation "tick delivery" that
    * replaces re-running the staging Spark jobs when a query needs
    * files to APPEAR in a watched directory between AvailableNow runs
    * (a flat parquet output: every data file is copied), and staged
    * artifacts that are DIRECTORY TREES (a written
    * [[graft.ops.Dedup.PrefixIndex]]: vocab/grams/prefixes/meta
    * parquet dirs) when a query MUTATES its per-invocation copy (q338
    * folds stream batches into the index), so invocations never share
    * the staged original. */
  def deliverTree(srcDir: String, dst: String): Unit = {
    val d = java.nio.file.Paths.get(dst)
    java.nio.file.Files.createDirectories(d)
    val s = java.nio.file.Paths.get(srcDir)
    val it = java.nio.file.Files.list(s).iterator()
    while (it.hasNext) {
      val f = it.next()
      val name = f.getFileName.toString
      if (!name.startsWith("_") && !name.startsWith(".")) {
        if (java.nio.file.Files.isDirectory(f))
          deliverTree(f.toString, d.resolve(name).toString)
        else
          java.nio.file.Files.copy(f, d.resolve(name),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  /** [[deliverTree]] by HARDLINK instead of byte copy (falling back to
    * a copy when the filesystem refuses to link, e.g. cross-device):
    * carries a directory tree's files into a new location in O(files)
    * metadata operations instead of O(bytes) I/O. Used by the
    * append-structured index merge ([[graft.ops.Dedup
    * .dedupAndMergePrefixIndexDir]]) to bring the UNCHANGED part-files
    * of the previous index version into the publish transaction —
    * the linked names are re-created at their old relative paths, so
    * plans holding the old paths keep resolving after the swap, and
    * deleting the swapped-out directory only drops link counts. Same
    * `_`/hidden skip rules as [[deliverTree]]. Local-filesystem
    * paths; a cluster deployment replaces the whole publish seam with
    * a transactional table format (the [[graft.io.AtomicParquet]]
    * scaladoc's standing caveat). */
  def linkTree(srcDir: String, dst: String): Unit = {
    val d = java.nio.file.Paths.get(dst)
    java.nio.file.Files.createDirectories(d)
    val s = java.nio.file.Paths.get(srcDir)
    if (!java.nio.file.Files.isDirectory(s)) return
    val it = java.nio.file.Files.list(s).iterator()
    while (it.hasNext) {
      val f = it.next()
      val name = f.getFileName.toString
      if (!name.startsWith("_") && !name.startsWith(".")) {
        if (java.nio.file.Files.isDirectory(f))
          linkTree(f.toString, d.resolve(name).toString)
        else
          try java.nio.file.Files.createLink(d.resolve(name), f)
          catch { case _: UnsupportedOperationException
              | _: java.nio.file.FileSystemException =>
            java.nio.file.Files.copy(f, d.resolve(name),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
      }
    }
  }

  private def deleteTree(f: java.io.File): Unit =
    try {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(deleteTree)
      f.delete()
      ()
    } catch { case _: Throwable => () }
}
