package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop `FileSystem` access for the catalog layer: everything that touches
  * file metadata or reads small control files goes through the FS API, so a
  * catalog works identically over `file://`, `hdfs://` or `s3a://` URIs —
  * parity with the reference's S3-native client layer
  * (`/root/reference/code/src/clients/s3.rs:19-55`), delegated to Hadoop
  * instead of hand-rolled HTTP range requests. */
object FsUtil {

  /** Downloads the reference overlaps per file before Arrow decode
    * (`range_cache.rs:120`: an 8-permit semaphore bounds concurrent range
    * GETs per process). */
  val ReferenceDownloadConcurrency = 8

  /** The S3A analog of the reference's ranged-read cache
    * (`/root/reference/code/src/clients/range_cache.rs:62-120`): parquet
    * access is footer + column-chunk ranges, not sequential, so
    * `fadvise=random` stops S3A from draining/aborting streams on seek and
    * issues bounded range GETs; `readahead.range` is the per-seek prefetch
    * (the reference's download chunks); the connection pool and transfer
    * threads are sized to the reference's 8 concurrent downloads PER TASK
    * across all local executor threads.
    *
    * Applied to the SHARED scan-time Hadoop conf only when a catalog
    * actually points at `s3a://`, and only `setIfUnset` — explicit user
    * configuration always wins. Returns whether tuning applied. */
  def applyS3aTuning(spark: SparkSession, uri: String): Boolean = {
    val scheme = new Path(uri).toUri.getScheme
    if (scheme != "s3a") return false
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setIfUnset("fs.s3a.experimental.input.fadvise", "random")
    conf.setIfUnset("fs.s3a.readahead.range", "262144")
    val pool = ReferenceDownloadConcurrency * spark.sparkContext.defaultParallelism
    conf.setIfUnset("fs.s3a.connection.maximum", pool.toString)
    conf.setIfUnset("fs.s3a.threads.max", pool.toString)
    true
  }

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  def status(spark: SparkSession, path: String): FileStatus =
    fs(spark, path).getFileStatus(new Path(path))

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** One `getFileStatus`: false when `path` is missing or a file. */
  def isDirectory(spark: SparkSession, path: String): Boolean =
    try status(spark, path).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  def listStatus(spark: SparkSession, dir: String): Seq[FileStatus] =
    fs(spark, dir).listStatus(new Path(dir)).toSeq

  /** How long a claim lock may sit before it is presumed leaked by a
    * crashed writer and broken. A live commit holds its lock for the
    * milliseconds of one tmp write + rename; a minute of age is orders of
    * magnitude past any live claim. */
  private val LockTtlMs = 60000L

  /** Publish one Delta commit file ATOMICALLY with no-overwrite
    * semantics: returns true when THIS caller owns `version`, false when
    * the version was already taken (the caller must re-plan and retry at
    * a later version).
    *
    * HDFS-like stores: tmp write + rename — the namenode's rename is
    * atomic and fails on an existing destination. Local `file://` needs
    * more: POSIX rename(2) OVERWRITES an existing destination (and Java
    * exposes no RENAME_NOREPLACE), so two same-version committers racing
    * plain renames would SILENTLY LOSE one commit. The version is
    * therefore first CLAIMED with an O_EXCL lock file
    * (`File.createNewFile` is atomic open(O_CREAT|O_EXCL)), the commit
    * renamed into place under the claim, and the lock removed — readers
    * never see partial commits (the rename stays atomic; lock files are
    * dot-prefixed like the tmp files replay already ignores). A writer
    * crash between claim and rename leaks the lock; since Delta versions
    * are DENSE (every later commit targets head+1), a leaked lock would
    * wedge the whole table, so a claim older than [[LockTtlMs]] is
    * presumed dead and broken — the claim is then retried once.
    *
    * Object stores without atomic no-overwrite rename (raw S3: COPY +
    * DELETE, dest-exists check racy) are NOT made safe by this method —
    * the exists-check is best-effort there. That matches upstream Delta's
    * documented position: concurrent writes to raw S3 from multiple
    * clusters need an external coordination service (S3A behind a
    * consistent metadata layer, or single-writer discipline). */
  def publishCommit(
      spark: SparkSession, logDir: String, version: Long, body: String): Boolean = {
    val fsys = fs(spark, logDir)
    val commit = new Path(logDir, f"$version%020d.json")
    def writeAndRename(): Boolean = {
      val tmp = new Path(logDir, f".tmp-${java.util.UUID.randomUUID}.json")
      writeString(spark, tmp.toString, body)
      if (fsys.rename(tmp, commit)) true
      else { fsys.delete(tmp, false); false }
    }
    if (fsys.getScheme != "file") {
      if (fsys.exists(commit)) false else writeAndRename()
    } else {
      val lock = new java.io.File(
        new Path(logDir, f".$version%020d.lock").toUri.getPath)
      def claim(): Boolean = {
        if (lock.createNewFile()) true
        else if (lock.exists() &&
                 System.currentTimeMillis() - lock.lastModified() > LockTtlMs) {
          // presumed leaked by a crashed writer: break it by ATOMIC
          // RENAME, so exactly ONE breaker takes the stale claim.
          // (delete+create would race: breaker B's delete can remove
          // breaker A's FRESH lock, both createNewFile calls succeed,
          // both rename their commit, and POSIX rename overwrites —
          // one same-version commit silently lost, exactly what the
          // lock exists to prevent.)
          val tomb = new java.io.File(
            lock.getParentFile,
            s"${lock.getName}.broken-${java.util.UUID.randomUUID}")
          if (lock.renameTo(tomb)) { tomb.delete(); lock.createNewFile() }
          else false // another breaker took the stale lock first
        } else false // version claimed by a live writer
      }
      if (!claim()) false
      else try {
        if (fsys.exists(commit)) false // claimed after a completed commit
        else writeAndRename()
      } finally { lock.delete(); () }
    }
  }

  /** Spark FileIndex's hidden-path convention: `.`-prefixed names and
    * `_`-prefixed names are metadata (`_delta_log`, `_zonemap`,
    * `.staging`…) — EXCEPT an `_`-prefixed name containing '=', which is
    * a partition directory for an underscore-named partition column
    * (`_tag=a/`) and therefore data, exactly as Spark's own
    * `shouldFilterOut` exempts it. */
  def isHiddenName(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  /** Recursively collect the leaf data files under `dir` — by the
    * format's extension, so ".snappy.orc" and friends still match — with
    * the Hive `col=value` directory segments above each file, in listing
    * order. Each file comes with the status its listing returned (length,
    * modification time), so callers never stat a listed file again. The
    * ONE walk behind both catalog discovery and zone-map manifest
    * building, so the two can never disagree about which files are data. */
  def walkDataFiles(spark: SparkSession, dir: String, ext: String)
      : Seq[(FileStatus, Seq[(String, String)])] = {
    val HivePart = "([^=/]+)=([^/]*)".r
    def walk(d: String, parts: Seq[(String, String)]): Seq[(FileStatus, Seq[(String, String)])] =
      listStatus(spark, d).sortBy(_.getPath.getName).flatMap { st =>
        val name = st.getPath.getName
        if (isHiddenName(name)) Nil
        else if (st.isDirectory) name match {
          case HivePart(k, v) => walk(st.getPath.toString, parts :+ (k -> v))
          case _              => walk(st.getPath.toString, parts)
        }
        else if (name.endsWith(ext)) Seq(st -> parts)
        else Nil
      }
    walk(dir, Nil)
  }

  /** Write a small control file (index params), overwriting. */
  def writeString(spark: SparkSession, path: String, content: String): Unit = {
    val out = fs(spark, path).create(new Path(path), true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Read a small control file (delta log commit, _last_checkpoint) fully. */
  def readString(spark: SparkSession, path: String): String = {
    val in = fs(spark, path).open(new Path(path))
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }
}
