package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S7 atomic publish: write-tmp-then-swap directory rename — readers see
  * the old or the new table, never a half-written one (the reference's
  * whole-file-rewrite "transaction", parse_data.py:222). On a cluster a
  * transactional table format replaces this; the call site is the seam.
  *
  * It is also the one Hadoop-FS seam for published artifacts: every
  * swap, existence probe and data-file count goes through it, so a
  * non-local filesystem (or a later batch-id guard stored inside the
  * swap) has one place to change.
  */
object AtomicParquet {

  def read(spark: SparkSession, path: String,
      schemaSource: => DataFrame): DataFrame = {
    // restart entry: `exists` heals a crashed half-swap FIRST — otherwise
    // a missing main dir reads as an empty master and the next publish
    // deletes __old, the only surviving copy
    if (exists(spark, path)) spark.read.parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schemaSource.schema)
  }

  def publish(df: DataFrame, path: String): Unit =
    publishDir(df.sparkSession, path)(tmp =>
      df.write.mode("overwrite").parquet(tmp))

  /** The same write-tmp-then-swap transaction for a whole DIRECTORY of
    * artifacts (r14 review): `write` populates `path__tmp` (several
    * frames, a meta row — whatever the artifact is), then the swap
    * renames it in as ONE unit. A multi-frame artifact published as N
    * separate [[publish]] calls is only per-frame atomic — a crash (or
    * a concurrent reader) between swaps sees frame k new and frame k+1
    * old, which for an index silently breaks cross-frame invariants;
    * this form closes that window. Reading the CURRENT `path` inside
    * `write` is safe (the main dir is untouched until `write`
    * returns), which is what makes read → merge → publish back to the
    * same path sound. */
  def publishDir(spark: SparkSession, path: String)(
      write: String => Unit): Unit = {
    val fs = fileSystem(spark, path)
    val main = new Path(path)
    val tmp = new Path(path + "__tmp")
    val old = new Path(path + "__old")
    if (fs.exists(tmp)) fs.delete(tmp, true) // debris from a dead writer
    write(tmp.toString)
    // rename returns false instead of throwing (dest exists, cross-fs,
    // src missing) — continuing would delete the only good copy, so each
    // step is checked. A crash between the two renames leaves the intact
    // master at __old; `recover` restores it on the next run.
    def renameOrThrow(src: Path, dst: Path): Unit =
      if (!fs.rename(src, dst))
        throw new java.io.IOException(s"atomic publish: rename $src -> $dst failed")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(main)) renameOrThrow(main, old)
    renameOrThrow(tmp, main)
    fs.delete(old, true)
  }

  /** True when `path` holds a published artifact — AFTER healing a
    * crashed half-swap, so a caller's "state exists yet?" probe can
    * never read the post-crash window as an empty state (the data-loss
    * trap [[read]]'s comment names: treating a missing main dir as
    * empty makes the next publish delete `__old`, the only copy). */
  def exists(spark: SparkSession, path: String): Boolean = {
    recover(spark, path)
    fileSystem(spark, path).exists(new Path(path))
  }

  /** Number of data files directly under `dir` — every file whose name
    * does not start with `_` (Spark's `_SUCCESS`, a `_manifest.json`) or
    * `.` (checksum files); 0 when `dir` does not exist. */
  def dataFiles(spark: SparkSession, dir: String): Int = {
    val fs = fileSystem(spark, dir)
    val d = new Path(dir)
    if (!fs.exists(d)) 0
    else fs.listStatus(d).count { st =>
      val name = st.getPath.getName
      st.isFile && !name.startsWith("_") && !name.startsWith(".")
    }
  }

  /** Crash recovery: if a previous publish died between its two renames
    * (no main dir, __old still present), restore the saved master.
    * [[read]] invokes this on every restart; a no-op in the healthy
    * state. */
  def recover(spark: SparkSession, path: String): Unit = {
    val fs = fileSystem(spark, path)
    val main = new Path(path)
    val old = new Path(path + "__old")
    if (!fs.exists(main) && fs.exists(old) && !fs.rename(old, main))
      throw new java.io.IOException(s"atomic publish: recovery rename failed for $path")
  }

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
