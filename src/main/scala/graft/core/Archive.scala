package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An indexable file collection — the engine's analogue of a Dat archive
  * (reference `index.js:127`). An archive exposes one DataFrame of files:
  *
  *   (origin string, url string, pathname string, value string, fversion long)
  *
  * `fversion` is a monotonically increasing per-file change stamp (the
  * reference uses archive history versions, `lib/indexer.js:355`); the
  * engine indexes incrementally by re-processing only files whose
  * `fversion` advanced past the origin's last indexed version.
  */
trait Archive {
  /** Origin URL, e.g. "dat://site-a" — the partition unit of view state. */
  def url: String

  /** True when `fversion` is a CONTENT HASH rather than a monotonic
    * stamp. Hash versions can't be compared with `>`, so the engine
    * switches change detection from `fversion > lastIndexed` to an
    * equality diff against the per-origin file-version sidecar it
    * maintains ([[Graft]] `_files/` state).
    */
  def contentVersioned: Boolean = false

  /** All current files with content. */
  def files(spark: SparkSession): DataFrame

  /** Driver-side existence test for a single pathname, when the archive
    * can answer without a Spark job (`None` = unknown, caller falls back
    * to probing `files`). Lets `indexFile` keep its no-op-on-missing-file
    * semantics without scanning.
    */
  def existsFile(spark: SparkSession, pathname: String): Option[Boolean] = None
}

/** A directory on a (distributed) filesystem treated as an archive.
  * Reads through Spark's binaryFile source so listing/metadata and
  * content access are distributed and column-pruned: a plan that only
  * needs `pathname`/`fversion` (the watch tick's listing signature)
  * never reads file bytes. An [[Graft.index]] pass does: it persists
  * every file's content along with the listing it diffs, so each pass
  * reads the whole archive once, whatever changed.
  *
  * `fversion` is modification time by default: a file restored with a
  * REGRESSED mtime, or rewritten within the same mtime granule (same
  * millisecond — or coarser on some filesystems), is treated as
  * unchanged (the reference has true monotonic archive versions,
  * lib/indexer.js:355; a filesystem only offers mtime).
  *
  * `contentHash = true` closes that blind spot: `fversion` becomes
  * xxhash64 of the file CONTENT (sign-masked to 63 bits), and the engine
  * diffs it against its per-origin file-version sidecar instead of
  * comparing stamps. xxhash64 is NON-cryptographic: a rewrite whose
  * content happens to collide with the old 63-bit hash is permanently
  * invisible to the sidecar diff — ~2^-63 per rewrite by chance, but
  * CONSTRUCTIBLE by an adversary who controls archive bytes. For
  * adversarial corpora, change detection needs a cryptographic digest
  * (sha2, at ~4x the hashing cost), which this archive deliberately does
  * not spend on the benign-writer case. The
  * tradeoff is explicit: every change-detection pass (including each
  * watch tick's listing signature) must read all file bytes, where the
  * mtime form is a metadata-only listing. Choose per archive: mtime for
  * cheap ticks over well-behaved writers, content hash when rewrites
  * may not advance mtime (backup restores, tar/cp -p, sub-granule
  * rewrites).
  */
final class DirArchive(
    val url: String, val rootPath: String,
    val contentHash: Boolean = false) extends Archive {
  override def contentVersioned: Boolean = contentHash
  override def files(spark: SparkSession): DataFrame = {
    // binaryFile's `path` column is the fully-qualified URI; strip the
    // QUALIFIED root (scheme + authority resolved by the root's own
    // filesystem), not the raw constructor string — a hard-coded
    // "file:" offset would silently shift pathnames for hdfs://, s3a://,
    // pre-qualified, or relative roots
    val p = new org.apache.hadoop.fs.Path(rootPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(p).toString.stripSuffix("/")
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(rootPath)
      .select(
        lit(url).as("origin"),
        concat(lit(url), expr(s"substring(path, ${root.length + 1})")).as("url"),
        expr(s"substring(path, ${root.length + 1})").as("pathname"),
        col("content").cast("string").as("value"),
        (if (contentHash)
          // sign-masked so fversion stays non-negative (lastIndexed >= 0
          // is the engine's "has been indexed" signal)
          expr("xxhash64(content) & 9223372036854775807")
        else unix_millis(col("modificationTime"))).as("fversion"))
  }

  override def existsFile(spark: SparkSession, pathname: String): Option[Boolean] = {
    // one metadata call against the archive's own filesystem — no job
    val p = new org.apache.hadoop.fs.Path(rootPath + pathname)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Some(fs.exists(p))
  }
}

/** Rows of a DataFrame treated as files — the adapter that lets the
  * map-reduce view engine run over table-shaped corpora (the driver's
  * `documents` table) and over any DataFrame a user already has.
  * `fversion` may be a per-row column, so table updates flow through the
  * same incremental path as file edits (only rows whose version
  * advanced are re-mapped).
  */
final class TableArchive(
    val url: String,
    df: DataFrame,
    pathname: org.apache.spark.sql.Column,
    value: org.apache.spark.sql.Column,
    fversion: org.apache.spark.sql.Column = lit(1L)) extends Archive {
  override def files(spark: SparkSession): DataFrame =
    df.select(
      lit(url).as("origin"),
      concat(lit(url), pathname).as("url"),
      pathname.as("pathname"),
      value.cast("string").as("value"),
      fversion.cast("long").as("fversion"))
}
