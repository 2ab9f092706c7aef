package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sinks
import graft.sources.{DeltaCatalog, DeletionVectors}

/** The pre-r10 deletion-vector dialect (parquet sidecar dirs under `_dv/`
  * referenced by `storageType "p"` descriptors with no sizing) must stay
  * READABLE — a table written before the protocol-format switch, and time
  * travel to its pre-migration versions, cannot become a brick — and
  * [[Sinks.deltaMigrateDvs]] must rewrite it into protocol `.bin` vectors
  * in one commit. Round-10 failed every operation on such tables at
  * replay time (fromJson threw), making even non-DV reads impossible. */
class DeltaLegacyDvSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** The scheme-stripped form the r8/r9 engine stored file paths in. */
  private def stripScheme(path: String): String =
    path.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")

  /** A table in the LEGACY dialect: two appends, then a hand-authored v2
    * that deletes ids 3 and 12 via a `_dv/delete-*` parquet sidecar —
    * byte-for-byte what the r8/r9 engine committed. Unpartitioned, each
    * append is one file; partitioned on `g`, ids 3 and 12 both land
    * under `g=a b`, a value the scan path percent-encodes. */
  private def legacyTable(dir: String, partitioned: Boolean = false): Unit = {
    def append(ids: Seq[Long]): Unit =
      if (partitioned)
        Sinks.deltaAppend(ids.map(i => (i, i * 2, Seq("a b", "c%d", "e")((i % 3).toInt)))
          .toDF("id", "v", "g"), dir, Seq("g"))
      else Sinks.deltaAppend(ids.map(i => (i, i * 2)).toDF("id", "v").coalesce(1), dir)
    append(0L until 10L)
    append(10L until 20L)
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "legacy_fixture")
    // row identities of the to-be-deleted rows, from the raw (pre-DV) view
    val idents = cat.read(spark, cat.files) // no DVs yet: plain read
    val raw = {
      val c = DeltaCatalog.fromDeltaLog(spark, dir, "legacy_fixture_raw")
      c.readWithRowIndex(spark, c.files)
    }
    val doomed = raw.filter(col("id").isin(3L, 12L)).select(
      regexp_replace(col("__gfp"), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/").as("__path"),
      col("__gri").as("__ri"))
    val batchRel = "_dv/delete-legacy-fixture"
    doomed.coalesce(1).write.parquet(s"$dir/$batchRel")
    val perFile = spark.read.parquet(s"$dir/$batchRel")
      .groupBy("__path").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perFile.size == 2, s"fixture expected 2 affected files, got $perFile")
    val rawByKey = DeltaCatalog.liveRawByKey(spark, dir)
    // the legacy commit: remove + re-add each affected file with the
    // legacy descriptor (relative sidecar dir, cardinality, NO sizing),
    // exactly the action shape r8/r9 published (removes precede adds)
    val now = System.currentTimeMillis()
    val conf = spark.sessionState.newHadoopConf()
    val lines = cat.files.flatMap { f =>
      perFile.get(stripScheme(f.scanPath(conf))).map { card =>
        val rawPath = rawByKey(f.key)
        val pv = cat.partitionColumns.zip(f.partitionValues)
          .map { case (c, v) => s""""$c":"$v"""" }.mkString(",")
        s"""{"remove":{"path":"$rawPath","deletionTimestamp":$now,"dataChange":true}}""" + "\n" +
          s"""{"add":{"path":"$rawPath","size":${f.length},"partitionValues":{$pv},"dataChange":true,"deletionVector":{"storageType":"p","pathOrInlineDv":"$batchRel","cardinality":$card}}}"""
      }
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_delta_log/00000000000000000002.json"),
      lines.mkString("", "\n", "\n"))
    assert(idents.count() == 20) // fixture sanity: pre-DV read saw everything
  }

  private def ids(dir: String, versionAsOf: Option[Long] = None): Seq[Long] = {
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "legacy_read", versionAsOf)
    cat.read(spark, cat.files).select("id").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("legacy-dialect tables READ green (deferred sidecar decode), and migrate in one commit") {
    Seq(false, true).foreach(partitioned => legacyRoundTrip(partitioned))
  }

  private def legacyRoundTrip(partitioned: Boolean): Unit = {
    val dir = tmpDir("legacy_dv")
    legacyTable(dir, partitioned)
    // read-only legacy decode: the deleted rows are gone, everything else reads
    assert(ids(dir) === (0L until 20L).filterNot(i => i == 3L || i == 12L))
    // MIGRATE: one commit, descriptors become protocol "u" .bin vectors
    val v = Sinks.deltaMigrateDvs(spark, dir)
    assert(v == 3L, s"migration committed at $v, expected 3")
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "legacy_migrated")
    val dvs = cat.deletionVectors.values.toSeq
    assert(dvs.nonEmpty && dvs.forall(d =>
      d.storageType == "u" && d.pathOrInline.endsWith(".bin")),
      s"post-migration descriptors not protocol-format: $dvs")
    // same rows deleted, nothing resurrected, nothing extra deleted
    assert(ids(dir) === (0L until 20L).filterNot(i => i == 3L || i == 12L))
    // idempotent: nothing legacy left, so no new commit
    assert(Sinks.deltaMigrateDvs(spark, dir) == 3L)
    // TIME TRAVEL to the pre-migration version still decodes the sidecar
    assert(ids(dir, Some(2L)) === (0L until 20L).filterNot(i => i == 3L || i == 12L))
    // ... and to the pre-delete version still sees everything
    assert(ids(dir, Some(1L)) === (0L until 20L))
    // the migration commit is dataChange=false: an incremental consumer
    // (sync) ships nothing for it
    val dst = tmpDir("legacy_dv_sync_dst")
    // first sync ships the CURRENT snapshot; a second sync after a no-op
    // is a watermark no-op — the point is it doesn't fail on the
    // migration commit's shape
    Sinks.deltaSync(spark, dir, dst, "legacy_sync")
    val synced = spark.read.parquet(
      DeltaCatalog.fromDeltaLog(spark, dst, "legacy_sync_read").files.map(_.key): _*)
    assert(synced.count() == 18)
    // post-migration DML keeps working and MERGES into the protocol vector
    Sinks.deltaDeleteVectors(spark, dir, "id = 15")
    assert(ids(dir) === (0L until 20L).filterNot(i => Seq(3L, 12L, 15L).contains(i)))
  }

  test("a LEGACY descriptor surviving into a checkpoint round-trips readable") {
    val dir = tmpDir("legacy_dv_cp")
    legacyTable(dir)
    Sinks.deltaCheckpoint(spark, dir, cleanCommits = true)
    // the snapshot now seeds from the checkpoint's persisted descriptor
    // struct — the legacy discriminator (non-.bin "p" path) must survive
    assert(ids(dir) === (0L until 20L).filterNot(i => i == 3L || i == 12L))
    // and migration still works from checkpoint-seeded state
    Sinks.deltaMigrateDvs(spark, dir)
    assert(ids(dir) === (0L until 20L).filterNot(i => i == 3L || i == 12L))
  }

  test("readRows on a legacy descriptor fails loudly, naming the migration operator") {
    val dir = tmpDir("legacy_dv_err")
    legacyTable(dir)
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "legacy_err")
    val legacy = cat.deletionVectors.values.find(_.storageType == "legacy").get
    val e = intercept[graft.model.BuzzException.NotImplemented] {
      DeletionVectors.readRows(spark.sparkContext.hadoopConfiguration, legacy)
    }
    assert(e.getMessage.contains("deltaMigrateDvs"))
  }
}
