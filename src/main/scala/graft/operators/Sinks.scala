package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Write paths for pipeline outputs. The reference engine has NO sink —
  * results are pretty-printed to stdout (`/root/reference/code/src/services/
  * fuse/fuse_service.rs:132-135`) — but a training-data pipeline's product
  * is files, so the library goes beyond parity here: Hive-partitioned
  * parquet, the layout every downstream reader (Spark, DuckDB, trainers'
  * dataloaders) natively prunes. */
object Sinks {

  /** Write `df` as Hive-partitioned parquet (`partitionCol=value/` dirs)
    * and return a per-partition manifest (partition value, row count)
    * computed by READING BACK the written files — the manifest makes the
    * sink verifiable end-to-end, not fire-and-forget.
    *
    * Scale notes: `partitionBy` shuffles nothing by itself (each task
    * writes its rows into per-value files), so skew shows up as many small
    * files per hot partition — callers with heavy skew should
    * `repartition(partitionCol)` first to get one file per value per
    * shuffle partition. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): DataFrame = {
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)
    df.sparkSession.read.parquet(path)
      .groupBy(col(partitionCol))
      .agg(count(lit(1)).as("n"))
  }

  /** Small-file compaction: rewrite a fragmented table into
    * `ceil(sum(sizeCol) / targetChunk)` evenly-filled files — the
    * maintenance pass every long-lived lake table needs (streaming sinks
    * and per-partition writers strand thousands of KB-sized files whose
    * open/footer overhead dominates scans long before data volume does).
    * Sizing is driven by a CONTENT column (bytes of payload), not
    * file-system bytes, so the target count is a pure function of the
    * data — deterministic across compression codecs and engine versions.
    *
    * The returned one-row manifest is computed by READING BACK the
    * compacted files — `n_files` counts distinct actual files via
    * input_file_name(), so the layout contract is verified, not assumed.
    *
    * 100 TB shape: one size aggregate (map-side combined) picks the file
    * count, one round-robin repartition spreads rows evenly across
    * exactly that many writers — the only full-data exchange, and the
    * unavoidable one (merging files IS data movement). At cluster scale
    * run per partition-directory so each compaction unit is independent
    * and restartable. */
  def compactFiles(
      fragmented: DataFrame, path: String,
      sizeCol: String, targetChunk: Long): DataFrame = {
    require(targetChunk > 0, s"targetChunk must be > 0, got $targetChunk")
    // empty input (or all-NULL sizes) sums to NULL — one file, not an NPE
    val nRow = fragmented
      .agg(ceil(sum(col(sizeCol)) / targetChunk.toDouble).cast("int").as("n"))
      .head()
    val nOut = (if (nRow.isNullAt(0)) 1 else nRow.getInt(0)).max(1)
    fragmented.repartition(nOut).write.mode("overwrite").parquet(path)
    fragmented.sparkSession.read.parquet(path)
      .select(input_file_name().as("__f"), col(sizeCol))
      .agg(
        countDistinct(col("__f")).as("n_files"),
        count(lit(1)).as("n_rows"),
        sum(col(sizeCol)).as("content_bytes"))
  }

  /** Write `df` as a BUCKETED parquet table (external, at `path`): rows are
    * hash-distributed into `numBuckets` files per partition by `bucketCol`,
    * and the layout is recorded in the session catalog. Joins and
    * aggregations between tables bucketed the same way on the same key run
    * WITHOUT an exchange — at the 100 TB scale, pre-bucketing the big fact
    * tables once converts every subsequent key-join from a full shuffle
    * into a zip of co-located buckets (asserted in PlanQualitySpec).
    * Returns the re-read table. */
  def writeBucketed(
      df: DataFrame, table: String, path: String,
      bucketCol: String, numBuckets: Int): DataFrame = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
    spark.table(table)
  }

  /** The interleaved Z-value of two `bits`-wide bin codes as a Column —
    * bit i of the x code lands at position 2i, of the y code at 2i+1. */
  private def zInterleave(bx: Column, by: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(bx, i).bitwiseAND(lit(1)), 2 * i) +
        shiftleft(shiftright(by, i).bitwiseAND(lit(1)), 2 * i + 1)
    }.reduce(_ + _)

  /** Fixed-width bin code of `c` in [0, 2^bits): global min/max scaling,
    * clamped, constant-column guard (mn = mx → bin 0). */
  private def binCode(c: Column, mn: Column, mx: Column, bits: Int): Column = {
    val n = (1 << bits).toDouble
    when(mx === mn, lit(0)).otherwise(
      least(greatest(floor((c - mn) / (mx - mn) * lit(n)), lit(0L)),
        lit((1L << bits) - 1)).cast("int"))
  }

  /** Z-order (Morton-curve) layout sink: quantize `colX` and `colY` into
    * 2^`bits` global-min/max bins, interleave the bin codes into a Z-value,
    * range-partition + sort the data on it, and write parquet — the
    * data-clustering layout that makes selective scans on EITHER dimension
    * (or both) touch few files, where a single-column sort only serves its
    * own column. This is the Delta/Iceberg `OPTIMIZE ZORDER BY` layout
    * primitive, re-expressed as a plain Spark write.
    *
    * 100 TB shape: the bin stats are ONE tiny aggregate broadcast back;
    * the Z-value is a narrow integer projection; the only corpus-sized
    * movement is the range exchange the layout IS (you cannot cluster
    * without moving data once) — `repartitionByRange` samples boundaries
    * so output files are even-sized regardless of value skew, and
    * `sortWithinPartitions` keeps each file internally Z-ordered so
    * per-file min/max stats are tight for both dimensions.
    *
    * Returns the per-Z-block bounding-box audit over the READ-BACK files:
    * (block = z >> blockShift, n, min_x, max_x, min_y, max_y) — tight
    * per-block boxes in both dims are exactly what file skipping needs. */
  def zorderWrite(
      df: DataFrame, path: String, colX: String, colY: String,
      bits: Int = 8, blockShift: Int = 10, files: Int = 0): DataFrame = {
    require(bits >= 1 && bits <= 16, s"bits must be in [1,16], got $bits")
    require(blockShift >= 0 && blockShift < 2 * bits,
      s"blockShift must be in [0, ${2 * bits}), got $blockShift")
    val spark = df.sparkSession
    // file count bounds the zone resolution: each file's bounding box
    // spans ~1/files of the Z range, so skipping power grows with it
    val nFiles =
      if (files > 0) files else spark.sparkContext.defaultParallelism
    val stats = df.agg(
      min(col(colX)).as("__zx_mn"), max(col(colX)).as("__zx_mx"),
      min(col(colY)).as("__zy_mn"), max(col(colY)).as("__zy_mx"))
    val coded = df.crossJoin(broadcast(stats))
      .withColumn("__z", zInterleave(
        binCode(col(colX), col("__zx_mn"), col("__zx_mx"), bits),
        binCode(col(colY), col("__zy_mn"), col("__zy_mx"), bits), bits))
      .drop("__zx_mn", "__zx_mx", "__zy_mn", "__zy_mx")
    coded
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
      .groupBy(shiftright(col("__z"), blockShift).cast("long").as("block"))
      .agg(count(lit(1)).as("n"),
        min(col(colX)).as("min_x"), max(col(colX)).as("max_x"),
        min(col(colY)).as("min_y"), max(col(colY)).as("max_y"))
  }

  /** SCD1 MERGE/upsert: apply a keyed change set to a base snapshot and
    * write the merged result — `MERGE INTO base USING changes` with
    * update-and-insert semantics, the nightly-snapshot refresh every
    * lakehouse table lives on. Non-key change columns win per key via
    * COALESCE, so a NULL change cell means "keep the base value" (the
    * standard partial-update contract — "set to NULL" needs a sentinel,
    * documented limitation). Rows tag `merge_op` ∈ kept / updated /
    * inserted for downstream audit.
    *
    * 100 TB shape: ONE full-outer shuffle join on the key — full-outer
    * cannot broadcast, so the exchange is irreducible, but a base written
    * bucketed on the key ([[writeBucketed]]) joins without re-exchanging
    * its side, which is how a nightly merge over a 100 TB base avoids
    * moving the base at all. The change set is typically ≪ base and
    * shuffles cheap. `changes` must share `base`'s schema. */
  def mergeUpsert(
      base: DataFrame, changes: DataFrame, keyCol: String, path: String): DataFrame = {
    require(base.columns.sameElements(changes.columns),
      s"schema mismatch: base ${base.columns.mkString(",")} vs changes ${changes.columns.mkString(",")}")
    val spark = base.sparkSession
    val b = base.as("b")
    val c = changes.as("c")
    val merged = b.join(c, col(s"b.$keyCol") <=> col(s"c.$keyCol"), "full_outer")
      .select(base.columns.toIndexedSeq.map(n =>
        coalesce(col(s"c.$n"), col(s"b.$n")).as(n)) :+
        when(col(s"c.$keyCol").isNull, lit("kept"))
          .when(col(s"b.$keyCol").isNull, lit("inserted"))
          .otherwise(lit("updated")).as("merge_op"): _*)
    merged.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** SCD TYPE 2 merge — the history-keeping upsert ([[mergeUpsert]] is the
    * overwrite-in-place Type 1): `base` is a versioned dimension with
    * `valid_from`/`valid_to` columns (open rows have NULL valid_to);
    * `changes` carries the key, the same attribute columns, and
    * `changeTsCol`. Per key: an attribute-identical change is a no-op
    * ('unchanged'); a differing change CLOSES the open row at the change
    * timestamp and INSERTS a new open version ('closed' + 'inserted'); a
    * new key inserts its first version; keys without a change keep their
    * open row ('kept'). Already-closed history rows pass through untouched
    * ('history'). Attribute comparison is null-safe, so NULL→NULL is
    * unchanged and NULL→value versions correctly.
    *
    * 100 TB shape: ONE full-outer equi-join of the OPEN slice against the
    * change batch (closed history never joins — it streams straight to the
    * writer), each matched row emitting its 1–2 output rows through an
    * in-plan explode; no window, no per-key sort. The written table is
    * read back as the result, making the sink verifiable end-to-end.
    *
    * Returns the post-merge state: base columns + `scd_op`. */
  def scd2Merge(
      base: DataFrame, changes: DataFrame, keyCol: String,
      changeTsCol: String, path: String): DataFrame = {
    val validCols = Seq("valid_from", "valid_to")
    require(validCols.forall(base.columns.contains),
      s"base must carry ${validCols.mkString("/")}: ${base.columns.mkString(",")}")
    val attrs = base.columns.filterNot(c => c == keyCol || validCols.contains(c)).toSeq
    val expected = (keyCol +: attrs :+ changeTsCol).sorted
    require(changes.columns.sorted.sameElements(expected),
      s"changes must be key+attrs+$changeTsCol: got ${changes.columns.mkString(",")}")
    val spark = base.sparkSession
    val fromType = base.schema("valid_from").dataType
    val history = base.filter(col("valid_to").isNotNull)
      .withColumn("scd_op", lit("history"))
    val open = base.filter(col("valid_to").isNull).as("b")
    val c = changes.as("c")
    def row(side: String, from: Column, to: Column, op: String): Column =
      struct(
        (col(s"$side.$keyCol").as(keyCol) +:
          attrs.map(a => col(s"$side.$a").as(a)) :+
          from.cast(fromType).as("valid_from") :+
          to.cast(fromType).as("valid_to") :+
          lit(op).as("scd_op")): _*)
    val same = struct(attrs.map(a => col(s"b.$a")): _*) <=>
      struct(attrs.map(a => col(s"c.$a")): _*)
    val nullTo = lit(null).cast(fromType)
    val merged = open
      .join(c, col(s"b.$keyCol") <=> col(s"c.$keyCol"), "full_outer")
      .select(explode(
        when(col(s"c.$keyCol").isNull,
          array(row("b", col("b.valid_from"), nullTo, "kept")))
        .when(col(s"b.$keyCol").isNull,
          array(row("c", col(s"c.$changeTsCol"), nullTo, "inserted")))
        .when(same,
          array(row("b", col("b.valid_from"), nullTo, "unchanged")))
        .otherwise(array(
          row("b", col("b.valid_from"), col(s"c.$changeTsCol"), "closed"),
          row("c", col(s"c.$changeTsCol"), nullTo, "inserted")))).as("r"))
      .select(col("r.*"))
    merged.unionByName(history).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Transactional Delta append: write `df`'s rows as parquet under
    * `tablePath` (Hive layout when partitioned) and publish ONE atomic
    * JSON commit in `_delta_log` — creating the table (protocol +
    * metaData + adds at version 0) when no log exists, appending add
    * actions at latest+1 otherwise. Completes the Delta loop: the engine
    * reads Delta ([[graft.sources.DeltaCatalog]]); a pipeline's curated
    * output written here is immediately queryable by that catalog, by
    * Spark's own Delta reader, and time-travelable per commit.
    *
    * Correctness model (the Delta protocol's): data files are staged
    * invisible-until-commit — a crashed job leaves orphan parquet no
    * reader ever sees — and the commit file is written to a temp name
    * then RENAMED to `<version>.json`, atomic on HDFS/local semantics.
    * Appends to an existing table verify schema and partitioning against
    * the live metaData FIRST and fail loudly on drift. Concurrent
    * writers use OPTIMISTIC concurrency: committers of the same version
    * race the atomic rename, and the loser RETRIES at the next version —
    * appends commute with concurrent appends/OPTIMIZE/DELETE (the new
    * files are in no prior snapshot), so the retry revalidates the
    * metaData (schema drift still fails loudly), re-checks txn
    * idempotence, and re-commits the same add actions (bounded attempts).
    * Stores whose rename cannot enforce uniqueness (raw S3) need an
    * external lock, exactly the DynamoDB-LogStore caveat upstream Delta
    * documents.
    *
    * Scale: the commit is metadata-sized (one JSON line per file); the
    * data write is Spark's normal distributed parquet write. Partition
    * values are string-typed ([[writePartitioned]]'s model, matching the
    * reference's partition handling). Returns the committed version. */
  /** Delta OPTIMIZE: compact each partition's small files into
    * `ceil(bytes/targetBytes)` files and commit the rewrite as one
    * transaction of remove+add actions with `dataChange=false` — the
    * protocol's marker that the commit moves bytes, not facts (an
    * incremental consumer skips it). Old data files stay on disk, so TIME
    * TRAVEL to any pre-optimize version still works — deleting them is
    * VACUUM's job, a separate retention decision. Completes the table
    * maintenance loop: [[deltaAppend]] grows the table,
    * [[compactFiles]]-style sizing heals its layout.
    *
    * Partitions already at-or-below their target file count are left
    * untouched; if nothing qualifies, NO commit is written and the
    * current version is returned (an empty OPTIMIZE must not advance the
    * log). Remove paths are derived by prefix-stripping the catalog's
    * absolute keys — exact for this engine's own writers, which record
    * unencoded relative paths.
    *
    * 100 TB shape: each partition group rewrites independently (restart =
    * rerun remaining groups; an aborted run leaves only invisible staged
    * files), reads only its own files, and the commit is one small JSON
    * append — the data plane never touches the log. Returns the committed
    * (or unchanged) version. */
  def deltaOptimize(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    import org.apache.hadoop.fs.Path
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    import graft.sources.{DeltaCatalog, FsUtil}
    import graft.model.BuzzException
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    val logDir = s"$tablePath/_delta_log"
    // pin the snapshot FIRST (commitRewrite discipline)
    val version0 = DeltaCatalog.latestVersion(spark, logDir)
    val asOf = if (version0 >= 0) Some(version0) else None
    val cat = DeltaCatalog.fromDeltaLog(spark, tablePath, "__delta_optimize",
      versionAsOf = asOf)
    // remove actions must carry the RAW log path strings — the replay's
    // live map matches removes by exact string, and a path re-derived
    // from the decoded absolute key desyncs it for any escaped partition
    // value (splinters would stay live: doubled rows, and vacuum would
    // then reap the wrong side)
    val rawByKey = DeltaCatalog.liveRawByKey(spark, tablePath, asOf)
    val fsys = FsUtil.fs(spark, tablePath)
    val work = cat.files.groupBy(_.partitionValues).filter { case (_, fs) =>
      val nOut = math.max(1L,
        math.ceil(fs.map(_.length).sum.toDouble / targetBytes).toLong)
      fs.size > nOut
    }
    if (work.isEmpty) return version0
    // (relPath, absDest, partitionValues) of every rewritten file
    val newFiles = scala.collection.mutable.ListBuffer[(String, Path, Seq[String])]()
    // raw log paths this rewrite removes — the commit loop's CONFLICT SET
    val removedRaws = scala.collection.mutable.ListBuffer[String]()
    // partition groups rewrite INDEPENDENTLY (each reads only its own
    // files, stages under its own UUID dir, renames into its own k=v
    // dir), so run them from a small thread pool instead of serially:
    // Spark's scheduler happily overlaps the per-group jobs (the
    // guide's back-fill discipline), and — what actually dominated the
    // profile at small groups — the per-group DRIVER work (plan
    // analysis, staging listStatus, renames) overlaps too. Results land
    // in a work-index-addressed array and are flattened in sorted-group
    // order, so the commit's action order stays deterministic.
    val workSeq = work.toSeq.sortBy(_._1.mkString("/"))
    val conc = math.max(1, math.min(workSeq.size,
      spark.conf.get("spark.graft.optimize.maxConcurrentRewrites", "8").toInt))
    val results =
      new Array[(Seq[(String, Path, Seq[String])], Seq[String])](workSeq.size)
    def rewriteGroup(pv: Seq[String], fs: Seq[graft.sources.SizedFile])
        : (Seq[(String, Path, Seq[String])], Seq[String]) = {
      val nOut = math.max(1L,
        math.ceil(fs.map(_.length).sum.toDouble / targetBytes).toLong).toInt
      // new files carry only the DATA columns — partition values live in
      // the log (and the k=v path), exactly like the original writers
      // compacted files keep the PHYSICAL layout under column mapping
      // (one atomic select — chained renames would collide mid-fold)
      val data = cat.read(spark, fs).select(
        cat.schema.fieldNames.toIndexedSeq.map(c =>
          col(c).as(cat.physicalNames.getOrElse(c, c))): _*)
      val stage = s"$tablePath/.graft-optimize-${java.util.UUID.randomUUID}"
      data.repartition(nOut).write.mode("overwrite").parquet(stage)
      val destDir = cat.partitionColumns.zip(pv)
        .map { case (k, v) => s"$k=${escapePathName(v)}" }.mkString("/")
      val localNew = scala.collection.mutable.ListBuffer[(String, Path, Seq[String])]()
      FsUtil.listStatus(spark, stage)
        .filter(_.getPath.getName.endsWith(".parquet")).foreach { st =>
          val name = s"optimized-${java.util.UUID.randomUUID}.parquet"
          val relPath = if (destDir.isEmpty) name else s"$destDir/$name"
          val dest = new Path(tablePath, relPath)
          fsys.mkdirs(dest.getParent)
          if (!fsys.rename(st.getPath, dest))
            throw new BuzzException.ExecutionError(
              s"optimize staging rename failed for $relPath")
          localNew += ((relPath, dest, pv))
        }
      fsys.delete(new Path(stage), true)
      val localRemoved = fs.map { f =>
        rawByKey.getOrElse(f.key, throw new BuzzException.ExecutionError(
          s"optimize: no raw log path for live file ${f.key} — snapshot drifted"))
      }
      (localNew.toSeq, localRemoved)
    }
    if (conc <= 1) {
      workSeq.zipWithIndex.foreach { case ((pv, fs), i) =>
        results(i) = rewriteGroup(pv, fs)
      }
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(conc)
      try {
        val futs = workSeq.zipWithIndex.map { case ((pv, fs), i) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = results(i) = rewriteGroup(pv, fs)
          })
        }
        futs.foreach { f =>
          try f.get()
          catch { // surface the group's own exception, not the pool wrapper
            case e: java.util.concurrent.ExecutionException => throw e.getCause
          }
        }
      } finally pool.shutdownNow()
    }
    results.foreach { case (nf, rr) => newFiles ++= nf; removedRaws ++= rr }
    // commitRewrite recomputes fresh data-skipping stats for the rewritten
    // files (the compacted layout usually has WIDER per-file ranges than
    // what it replaced — stale ranges would be unsound, absent ones merely
    // unprunable) and runs the conflict-checked loop: losing the rename
    // race must not throw away the data rewrite (at 100 TB the rewrite is
    // hours, the commit is milliseconds). Concurrent appends and optimizes
    // of OTHER partitions commute (no append probe); a concurrent
    // DELETE/OPTIMIZE that touched one of ITS inputs fails loudly.
    val adds = newFiles.toSeq.map { case (relPath, dest, pv) =>
      val st = fsys.getFileStatus(dest)
      AddedFile(relPath, st.getLen, cat.partitionColumns.zip(pv), st.getModificationTime)
    }
    commitRewrite(spark, tablePath, adds, removedRaws.toSeq.distinct,
      cat.schema, "optimize", snapshotVersion = version0, dataChange = false)
  }

  /** RESTORE: commit a rollback of the live-file set to exactly
    * `version`'s snapshot — time travel turned into a WRITE, so history
    * keeps moving forward (the restore is itself a new commit; nothing is
    * rewritten or deleted). The "undo the bad load" tool: a botched append
    * or compaction is reverted by re-pointing the log at the old files.
    *
    * The commit is a pure log diff — files in the current snapshot but
    * not the target become `remove` actions, files in the target but not
    * the current are re-`add`ed with their logged size/partition values
    * (both `dataChange=true`: downstream incremental consumers must see
    * the data move). No data file is read, written, or moved, so restore
    * cost is O(|log|) regardless of table size. Fails loudly when a
    * target file no longer exists on disk (vacuum reaped it — the restore
    * horizon is the vacuum horizon) and when `version` is out of range;
    * restoring to the current state is a no-op that commits nothing.
    * Returns the new (or unchanged) latest version. */
  def deltaRestore(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      version: Long): Long = {
    import org.apache.hadoop.fs.Path
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import graft.sources.{DeltaCatalog, FsUtil}
    import graft.model.BuzzException
    val logDir = s"$tablePath/_delta_log"
    DeltaCatalog.assertWriterProtocol(spark, tablePath, "restore")
    // SEMANTIC retry loop: restore declares "the table IS version v's
    // snapshot", so losing the commit race means recomputing the log diff
    // against the new head — which by declaration also rolls back whatever
    // the concurrent winner committed. Metadata-only, so recomputation is
    // one log replay.
    var attempt = 0
    val maxAttempts = 10
    while (true) {
      val head = DeltaCatalog.latestVersion(spark, logDir)
      if (version < 0 || version > head)
        throw new BuzzException.BadRequest(
          s"restore target $version out of range: table is at version $head")
      val target = DeltaCatalog.liveRawAt(spark, tablePath, Some(version))
      val targetStats = DeltaCatalog.statsByRaw(spark, tablePath, Some(version))
      val targetDvs = DeltaCatalog.dvsByRaw(spark, tablePath, Some(version))
      val targetMtimes = DeltaCatalog.mtimesByRaw(spark, tablePath, Some(version))
      val current = DeltaCatalog.liveRawAt(spark, tablePath, None)
      val currentDvs = DeltaCatalog.dvsByRaw(spark, tablePath, None)
      if (target == current && targetDvs == currentDvs) return head
      val fsys = FsUtil.fs(spark, tablePath)
      val missing = (target.keySet -- current.keySet).filterNot(raw =>
        fsys.exists(new Path(DeltaCatalog.fileKey(tablePath, raw))))
      if (missing.nonEmpty)
        throw new BuzzException.BadRequest(
          s"cannot restore $tablePath to version $version: ${missing.size} " +
            s"target file(s) no longer exist (vacuumed), e.g. ${missing.head}")
      val missingDv = targetDvs.values.toSeq.distinct
        .map(d => graft.sources.DeletionVectors.resolve(tablePath, d))
        .filter(_.storageType != "i")
        .filterNot(r => fsys.exists(new Path(r.pathOrInline)))
      if (missingDv.nonEmpty)
        throw new BuzzException.BadRequest(
          s"cannot restore $tablePath to version $version: ${missingDv.size} " +
            s"deletion-vector file(s) no longer exist (vacuumed), " +
            s"e.g. ${missingDv.head.pathOrInline}")
      val now = System.currentTimeMillis()
      val info = commitInfoAction("RESTORE", Map("version" -> version.toString))
      // re-add files NEW to the restored snapshot, plus files live in both
      // whose deletion-vector state differs — the latter as a REMOVE
      // (carrying the superseded descriptor, so vacuum dates its vector
      // from THIS commit) followed by the re-add whose descriptor is the
      // target version's, at its TRUE cardinality
      val newFiles = (target.keySet -- current.keySet).toSeq.sorted
      val repointed = target.keySet.intersect(current.keySet)
        .filter(raw => targetDvs.get(raw) != currentDvs.get(raw)).toSeq.sorted
      def removeAction(raw: String, dv: Option[graft.sources.DvDescriptor]): JValue = {
        val base: List[(String, JValue)] = List(
          "path" -> JString(raw),
          "deletionTimestamp" -> JLong(now),
          "dataChange" -> JBool(true))
        JObject("remove" -> JObject(dv.fold(base)(d =>
          base :+ ("deletionVector" -> graft.sources.DeletionVectors.toJson(d)))))
      }
      def addAction(raw: String): JValue = {
        val (size, pv) = target(raw)
        val base: List[(String, JValue)] = List(
          "path" -> JString(raw),
          "size" -> JLong(size),
          "partitionValues" -> JObject(pv.map { case (k, v) =>
            k -> (JString(v): JValue) }.toList),
          "modificationTime" -> JLong(targetMtimes.getOrElse(raw, now)),
          "dataChange" -> JBool(true))
        // re-adds keep the stats and modification time they had at the
        // target version, so a restored table prunes exactly like the
        // original snapshot did and its files keep their cache identity
        val withStats = targetStats.get(raw)
          .fold(base)(s => base :+ ("stats" -> (JString(s): JValue)))
        val fields = targetDvs.get(raw).fold(withStats)(d =>
          withStats :+ ("deletionVector" -> graft.sources.DeletionVectors.toJson(d)))
        JObject("add" -> JObject(fields))
      }
      val actions: Seq[JValue] =
        info +:
        ((current.keySet -- target.keySet).toSeq.sorted
          .map(raw => removeAction(raw, currentDvs.get(raw))) ++
          repointed.map(raw => removeAction(raw, currentDvs.get(raw))) ++
          (newFiles ++ repointed).sorted.map(addAction))
      val body = actions.map(a => JsonMethods.compact(JsonMethods.render(a)))
        .mkString("", "\n", "\n")
      if (FsUtil.publishCommit(spark, logDir, head + 1, body)) return head + 1
      attempt += 1
      if (attempt >= maxAttempts)
        throw new BuzzException.ExecutionError(
          s"lost the restore commit race $maxAttempts times under $logDir — giving up")
      Thread.sleep(10L * attempt)
      }
    -1L // unreachable
  }

  /** Partition-level DELETE: one remove-actions commit dropping every
    * live file whose `partitionCol` equals `value` — the metadata-only
    * retention/right-to-erasure primitive (drop a day, a tenant, a
    * source) that Delta makes O(#files-in-partition) with ZERO data IO:
    * no rows are read or rewritten, and the files stay on disk for time
    * travel until [[deltaVacuum]] reclaims them.
    *
    * Deleting a partition that has no live files is a no-op (returns the
    * current head without committing) — idempotent replays and
    * already-empty partitions don't burn versions. Returns the new (or
    * unchanged) table version. */
  def deltaDeletePartition(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      partitionCol: String, value: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import graft.sources.{DeltaCatalog, FsUtil}
    import graft.model.BuzzException
    val logDir = s"$tablePath/_delta_log"
    DeltaCatalog.assertWriterProtocol(spark, tablePath, "delete from")
    // a misspelled or non-partition column would otherwise silently no-op
    // (every file's partitionValues lookup misses) and return the current
    // head — indistinguishable from deleting a genuinely empty partition,
    // i.e. a retention delete the caller believes succeeded. Validate
    // against the table's declared partition columns and fail loudly.
    val declared = DeltaCatalog
      .fromDeltaLog(spark, tablePath, "__delta_delete").partitionColumns
    if (!declared.contains(partitionCol))
      // BadRequest, not require: a caller's misspelled column is a CLIENT
      // error (every sibling misuse path in the Delta sinks maps to one)
      throw new BuzzException.BadRequest(
        s"$partitionCol is not a partition column of $tablePath " +
          s"(partitioned by ${declared.mkString("(", ",", ")")}) — " +
          "partition DELETE only targets declared partition columns")
    // SEMANTIC retry loop: the delete targets "the partition", not a file
    // list, so losing the commit race just means recomputing the doomed
    // set against the new head — a concurrent append into the partition
    // lands in the recomputed set, a concurrent delete/optimize of it
    // shrinks it, and an emptied partition degrades to the no-op. The
    // whole retry is metadata-only (one log replay), so it is cheap.
    var attempt = 0
    val maxAttempts = 10
    while (true) {
      val head = DeltaCatalog.latestVersion(spark, logDir)
      val doomed = DeltaCatalog.liveRawAt(spark, tablePath, None)
        .collect { case (raw, (_, pv)) if pv.get(partitionCol).contains(value) => raw }
        .toSeq.sorted
      if (doomed.isEmpty) return head
      val now = System.currentTimeMillis()
      val actions: Seq[JValue] =
        commitInfoAction("DELETE PARTITION",
          Map("partition_column" -> partitionCol, "value" -> value)) +:
        doomed.map(raw =>
          JObject("remove" -> JObject(
            "path" -> JString(raw),
            "deletionTimestamp" -> JLong(now),
            "dataChange" -> JBool(true))): JValue)
      val body = actions.map(a => JsonMethods.compact(JsonMethods.render(a)))
        .mkString("", "\n", "\n")
      if (FsUtil.publishCommit(spark, logDir, head + 1, body)) return head + 1
      attempt += 1
      if (attempt >= maxAttempts)
        throw new BuzzException.ExecutionError(
          s"lost the delete commit race $maxAttempts times under $logDir — giving up")
      Thread.sleep(10L * attempt)
    }
    -1L // unreachable
  }

  /** Per-commit change-data feed, derived from the commit's LOG ACTIONS:
    * rows of the version's added files are diffed against rows of its
    * removed files (partition values for removes come from the pre-commit
    * snapshot's live map), classified added / removed / changed by keyed
    * content hash ([[Joins.snapshotDiff]]). This is the real CDF shape —
    * IO is bounded by the files THE COMMIT TOUCHED, never the table: an
    * append reads its new files only, a metadata partition DELETE reads
    * the dropped partition only, and a compaction (remove+add of identical
    * rows) produces an EMPTY feed because every key hashes equal. A
    * two-snapshot diff (`v0` vs head, the sink_delta_cdf query) would
    * instead scan both full snapshots per boundary — at 100 TB the
    * difference between reading a day's partition and reading the lake.
    *
    * Keys must be unique per snapshot side within the commit's touched
    * files (the snapshotDiff contract). Files are read with the
    * at-version table schema. Returns (keyCols..., status). */
  def deltaChangesAt(
      spark: org.apache.spark.sql.SparkSession, tablePath: String, version: Long,
      keyCols: Seq[String], compareCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import graft.sources.DeltaCatalog
    require(version >= 0, s"version must be >= 0, got $version")
    val ca = parseCommitActions(spark, tablePath, version)
    val (adds, rawRemoves) = (ca.adds, ca.removes)
    val removes = rawRemoves.map(_._1)
    val cat = DeltaCatalog.fromDeltaLog(
      spark, tablePath, s"__cdf_v$version", versionAsOf = Some(version))
    // partition values (and DV state) of removed files live in the
    // PRE-commit snapshot
    val (pre, preDvs) =
      if (removes.isEmpty)
        (Map.empty[String, (Long, Map[String, String])],
          Map.empty[String, graft.sources.DvDescriptor])
      else
        (DeltaCatalog.liveRawAt(spark, tablePath, Some(version - 1)),
          DeltaCatalog.dvsByRaw(spark, tablePath, Some(version - 1)))
    changesFromActions(
      spark, tablePath, version, keyCols, compareCols, cat, adds, removes, pre, preDvs)
  }

  /** One commit file's parsed actions: (adds, removes, metaData-changed
    * flag, cdc actions). ONE file read and ONE parse pass serve every
    * consumer — the change-feed reader needs add/remove AND cdc from the
    * same commit, and parsing twice would double the driver's tail IO. */
  private[graft] final case class CommitActions(
      adds: Seq[(String, Long, Map[String, String],
        Option[graft.sources.DvDescriptor], Boolean)],
      removes: Seq[(String, Boolean)],
      metaChanged: Boolean,
      cdcs: Seq[(String, Long, Map[String, String])])

  /** MEMOIZED per (table, version, commit-file length, mtime): a published
    * commit JSON is immutable, so one parse serves every consumer — the
    * streaming sources' admission walk ([[cdfFileCount]] /
    * [[factFileCount]]) and their getBatch re-read the same versions each
    * trigger, and without the memo each trigger paid the tail IO twice.
    * The file's (length, mtime) in the key makes an out-of-band in-place
    * edit (log corruption, a test rewriting a commit body) a MISS instead
    * of stale actions — the same discipline as the replay memo's listing
    * fingerprint. The lookup costs ONE getFileStatus (which doubles as
    * the existence check the uncached path already paid).
    *
    * ASSUMPTION (documented, not just implied): published commits are
    * IMMUTABLE — the Delta protocol's contract (a writer only ever adds
    * new log files). On a filesystem with coarse mtime granularity an
    * in-place SAME-LENGTH rewrite landing within one mtime granule would
    * serve stale actions; no protocol-conformant writer does that, and
    * the engine's own log-corruption tests either change the length or
    * call [[invalidateCommitParseCache]] first.
    *
    * The LRU bound is count-based, so commits carrying very large action
    * lists (a CLONE or bootstrap re-adding 10^5+ files) are NOT memoized
    * ([[commitParseMemoMaxActions]]) — a handful of such entries would
    * pin table-metadata-sized driver memory behind a cache sized for
    * tail-IO commits; their consumers (replay, clone) memoize at the
    * snapshot level instead. */
  private final case class CommitParseKey(
      tablePath: String, version: Long, len: Long, mtime: Long)
  private val commitParseCacheMax = 1024
  private val commitParseMemoMaxActions = 10000
  private val commitParseCache =
    new java.util.LinkedHashMap[CommitParseKey, CommitActions](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[CommitParseKey, CommitActions]): Boolean =
        size > commitParseCacheMax
    }
  /** Count of UNCACHED commit-JSON parses — the seam the one-parse-per-
    * commit-per-trigger specs count against. Monotonic; test-only reader. */
  @volatile private[graft] var uncachedCommitParses: Long = 0L
  /** Test seam: drop every memoized commit parse. */
  private[graft] def invalidateCommitParseCache(): Unit =
    commitParseCache.synchronized(commitParseCache.clear())

  private[graft] def parseCommitActions(
      spark: org.apache.spark.sql.SparkSession, tablePath: String, version: Long)
      : CommitActions = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import graft.sources.FsUtil
    import graft.model.BuzzException
    val commitPath = f"$tablePath/_delta_log/$version%020d.json"
    val st =
      try FsUtil.status(spark, commitPath)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new BuzzException.BadRequest(
            s"commit $version does not exist under $tablePath/_delta_log")
      }
    val cacheKey = CommitParseKey(
      tablePath, version, st.getLen, st.getModificationTime)
    commitParseCache.synchronized(Option(commitParseCache.get(cacheKey)))
      .foreach(ca => return ca)
    val adds = scala.collection.mutable
      .ListBuffer[(String, Long, Map[String, String],
        Option[graft.sources.DvDescriptor], Boolean)]()
    val removes = scala.collection.mutable.ListBuffer[(String, Boolean)]()
    val cdcs = scala.collection.mutable.ListBuffer[(String, Long, Map[String, String])]()
    var metaChanged = false
    FsUtil.readString(spark, commitPath).linesIterator.filter(_.nonEmpty).foreach { line =>
      val v = JsonMethods.parse(line)
      v \ "add" match {
        case JObject(_) =>
          val raw = (v \ "add" \ "path").asInstanceOf[JString].s
          val size = v \ "add" \ "size" match {
            case JLong(l) => l
            case JInt(i)  => i.toLong
            case _        => 0L
          }
          val pv = v \ "add" \ "partitionValues" match {
            case JObject(fields) => fields.collect { case (k, JString(s)) => k -> s }.toMap
            case _               => Map.empty[String, String]
          }
          val dv = graft.sources.DeletionVectors.fromJson(v \ "add" \ "deletionVector")
          val dc = v \ "add" \ "dataChange" match {
            case JBool(b) => b
            case _        => true // absent dataChange is a fact change
          }
          adds += ((raw, size, pv, dv, dc))
        case _ => ()
      }
      v \ "remove" match {
        case JObject(_) =>
          val dc = v \ "remove" \ "dataChange" match {
            case JBool(b) => b
            case _        => true
          }
          removes += (((v \ "remove" \ "path").asInstanceOf[JString].s, dc))
        case _ => ()
      }
      v \ "metaData" match {
        case JObject(_) => metaChanged = true
        case _          => ()
      }
      v \ "cdc" match {
        case c @ JObject(_) =>
          val path = c \ "path" match { case JString(p) => p; case _ => "" }
          val size = c \ "size" match {
            case JLong(l) => l
            case JInt(i)  => i.toLong
            case _        => 0L
          }
          val pv = c \ "partitionValues" match {
            case JObject(fields) => fields.collect {
              case (k, JString(s)) => k -> s
              case (k, JNull) => k -> graft.sources.DeltaCatalog.NullPartitionValue
            }.toMap
            case _ => Map.empty[String, String]
          }
          if (path.nonEmpty) cdcs += ((path, size, pv))
        case _ => ()
      }
    }
    val parsed = CommitActions(adds.toSeq, removes.toSeq, metaChanged, cdcs.toSeq)
    val actionCount = parsed.adds.size + parsed.removes.size + parsed.cdcs.size
    commitParseCache.synchronized {
      uncachedCommitParses += 1
      if (actionCount <= commitParseMemoMaxActions)
        commitParseCache.put(cacheKey, parsed)
    }
    parsed
  }

  /** The snapshot-diff feed of one commit given its parsed actions, the
    * at-version catalog, and the PRE-commit live map (for removed files'
    * sizes/partition values). The maps are consumed eagerly — callers may
    * mutate their own state afterwards. */
  private def changesFromActions(
      spark: org.apache.spark.sql.SparkSession, tablePath: String, version: Long,
      keyCols: Seq[String], compareCols: Seq[String],
      cat: graft.sources.StaticCatalog,
      adds: Seq[(String, Long, Map[String, String],
        Option[graft.sources.DvDescriptor], Boolean)],
      removes: Seq[String],
      pre: Map[String, (Long, Map[String, String])],
      preDvs: Map[String, graft.sources.DvDescriptor]): org.apache.spark.sql.DataFrame = {
    import graft.sources.{DeletionVectors, DeltaCatalog, SizedFile}
    import graft.model.BuzzException
    def sized(raw: String, size: Long, pv: Map[String, String]): SizedFile =
      SizedFile(DeltaCatalog.fileKey(tablePath, raw), size,
        cat.partitionColumns.map(c => pv.getOrElse(c, DeltaCatalog.NullPartitionValue)))
    // each side reads under ITS OWN deletion-vector truth: adds under the
    // commit's descriptors, removes under the pre-commit state — a DV
    // delete (remove+re-add of the same path) then feeds exactly the
    // newly-deleted rows, instead of a spuriously empty diff
    val addDvs = adds.collect { case (raw, _, _, Some(dv), _) =>
      DeltaCatalog.fileKey(tablePath, raw) -> DeletionVectors.resolve(tablePath, dv)
    }.toMap
    val addedRows = cat.withDeletionVectors(addDvs).read(
      spark, adds.map { case (raw, size, pv, _, _) => sized(raw, size, pv) })
    val remDvs = removes.flatMap(raw => preDvs.get(raw).map(dv =>
      DeltaCatalog.fileKey(tablePath, raw) -> DeletionVectors.resolve(tablePath, dv))).toMap
    val remCat = cat.withDeletionVectors(remDvs)
    val removedRows = remCat.read(spark, removes.map { raw =>
      pre.get(raw) match {
        case Some((size, pv)) => sized(raw, size, pv)
        case None => throw new BuzzException.ExecutionError(
          s"commit $version removes $raw which is not live at ${version - 1}")
      }
    })
    Joins.snapshotDiff(removedRows, addedRows, keyCols, compareCols)
  }

  /** The per-version change feed over a version span: one snapshot-diff
    * per commit in (vFrom, vTo], each labeled with its version —
    * `changesBetween(v_a, v_b)` as a Delta reader exposes it.
    *
    * ONE forward replay serves the whole span: the live-file map is
    * seeded at vFrom (one log replay) and then maintained INCREMENTALLY
    * by applying each commit's own actions, so log IO is
    * O(vFrom + span), not the O(span · vTo) a per-version
    * [[deltaChangesAt]] loop pays (each call replays the log twice). A
    * mid-span metaData action (schema/partitioning change) re-derives
    * the at-version catalog once at that boundary — bounded by actual
    * schema changes, not by span.
    *
    * A span may CROSS RENAME COLUMN boundaries: `keyCols`/`compareCols`
    * are given in the CURRENT (`vTo`) logical names, and each era's reads
    * resolve them through the column mapping (physical names are stable
    * across renames — [[deltaRenameColumn]] pins them), so the feed
    * surfaces every version under the names the consumer knows today.
    * Upstream Delta's CDF refuses such spans; this engine carries the
    * mapping metadata that makes them well-defined. A requested column
    * whose PHYSICAL column does not exist in some era (added, or dropped
    * and re-added mid-span) still fails loudly — those rows genuinely
    * have no value to diff. Returns (version, keyCols..., status).
    *
    * Plan width: a commit that REWRITES rows (both adds and removes)
    * keeps its own keyed diff — the semantics need the join of its
    * pre-state against its adds — but single-sided commits (adds only →
    * every key 'added'; removes only → every key 'removed'; the
    * degenerate diffs where the join's other side is empty) batch into
    * ONE relation per (schema era, status), NON-contiguously with the
    * version joined per file — the same bounded-width shape as the
    * row-level feed ([[collectFeedRuns]]): an added/removed-ALTERNATING
    * span (or appends interleaved with rewrites) plans O(eras), never
    * O(commits). Only genuine rewrite commits add a join each; a span
    * that is ALL rewrites is linear by contract — consume such spans in
    * bounded chunks. */
  def deltaChangesBetween(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      vFrom: Long, vTo: Long,
      keyCols: Seq[String], compareCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import graft.sources.{ColumnMapping, DeltaCatalog}
    import graft.model.BuzzException
    require(vFrom < vTo, s"need vFrom < vTo, got $vFrom >= $vTo")
    var live = DeltaCatalog.liveRawAt(spark, tablePath, Some(vFrom))
    var liveDvs = DeltaCatalog.dvsByRaw(spark, tablePath, Some(vFrom))
    var cat = DeltaCatalog.fromDeltaLog(
      spark, tablePath, "__cdf_span", versionAsOf = Some(vFrom))
    // the caller's names are vTo's logical names; anchor them to PHYSICAL
    // names once, then re-surface each era's logical name for the reads
    val physByCurrent: Map[String, String] =
      DeltaCatalog.fromDeltaLog(spark, tablePath, "__cdf_span_to",
          versionAsOf = Some(vTo))
        .schema.fields.map(f => f.name -> ColumnMapping.physicalName(f)).toMap
    def eraNames(c: graft.sources.SplittableCatalog, cols: Seq[String],
        v: Long): Seq[String] = {
      val eraByPhys = c.schema.fields
        .map(f => ColumnMapping.physicalName(f) -> f.name).toMap
      cols.map { cur =>
        // partition columns live outside the data schema and can never be
        // renamed (deltaRenameColumn guards them): identity mapping
        if (c.partitionColumns.contains(cur)) cur
        else {
          val phys = physByCurrent.getOrElse(cur,
            throw new BuzzException.BadRequest(
              s"column '$cur' does not exist at version $vTo of $tablePath"))
          eraByPhys.getOrElse(phys, throw new BuzzException.BadRequest(
            s"column '$cur' (physical '$phys') does not exist at version $v " +
              s"of $tablePath — a span across a column's addition or " +
              "drop/re-add has no value to diff for it"))
        }
      }
    }
    import graft.sources.{DeletionVectors, SizedFile}
    val frames = scala.collection.mutable.ListBuffer[org.apache.spark.sql.DataFrame]()
    // single-sided runs keyed by (schema era, status, identity-mismatch
    // generation), NON-contiguous like the row-level feed's
    // collectFeedRuns: the degenerate diffs are per-file-labeled, so
    // commits of one (era, status) share one relation however the span
    // interleaves them with the other status or with rewrite commits
    // (whose keyed joins are independent frames and never force a flush);
    // a ping-pong path re-occurring with identical identity aliases onto
    // its entry (per-occurrence version labels), like the feed's
    final class DiffRun(val status: String,
        val cat: graft.sources.StaticCatalog, val eraKeys: Seq[String]) {
      val files = new RunFiles
    }
    var eraIdx = 0
    val open = scala.collection.mutable.LinkedHashMap[(Int, String, Int), DiffRun]()
    val curGen = scala.collection.mutable.HashMap[(Int, String), Int]()
    def runFrame(run: DiffRun): org.apache.spark.sql.DataFrame = {
      val runFiles = run.files.toSeq
      val dvs = runFiles.collect { case (raw, _, _, Some(dv), _) =>
        DeltaCatalog.fileKey(tablePath, raw) -> DeletionVectors.resolve(tablePath, dv)
      }.toMap
      val withVer = readWithCommitVersions(spark, run.cat.withDeletionVectors(dvs),
        runFiles.map { case (raw, size, pv, _, vs) =>
          SizedFile(DeltaCatalog.fileKey(tablePath, raw), size,
            run.cat.partitionColumns.map(c =>
              pv.getOrElse(c, DeltaCatalog.NullPartitionValue))) -> vs
        })
      // era-local logical key names -> the consumer's current names
      val renamed = run.eraKeys.zip(keyCols)
        .foldLeft(withVer.select(
          (run.eraKeys :+ "_commit_version").map(org.apache.spark.sql.functions.col): _*)) {
          case (d, (era, cur)) =>
            if (era == cur) d else d.withColumnRenamed(era, cur)
        }
      renamed.select(
        org.apache.spark.sql.functions.col("_commit_version").as("version") +:
        keyCols.map(org.apache.spark.sql.functions.col) :+
        org.apache.spark.sql.functions.lit(run.status).as("status"): _*)
    }
    ((vFrom + 1) to vTo).foreach { v =>
      val ca = parseCommitActions(spark, tablePath, v)
      val (adds, rawRemoves, metaChanged) = (ca.adds, ca.removes, ca.metaChanged)
      val removes = rawRemoves.map(_._1)
      if (metaChanged) {
        cat = DeltaCatalog.fromDeltaLog(
          spark, tablePath, s"__cdf_v$v", versionAsOf = Some(v))
        eraIdx += 1
      }
      // name resolution runs for EVERY version (empty commits included,
      // as before) — the loud missing-column contract is span-wide, not
      // just where a join happens to need the column
      val eraKeys = eraNames(cat, keyCols, v)
      val eraComps = eraNames(cat, compareCols, v)
      if (adds.nonEmpty || removes.nonEmpty) {
        if (adds.nonEmpty && removes.nonEmpty) {
          // `live`/`liveDvs` are the PRE-commit state here;
          // changesFromActions consumes them eagerly, so advancing them
          // afterwards is safe
          val df0 = changesFromActions(
            spark, tablePath, v, eraKeys, eraComps, cat, adds, removes, live, liveDvs)
          val df = eraKeys.zip(keyCols).foldLeft(df0) { case (d, (era, cur)) =>
            if (era == cur) d else d.withColumnRenamed(era, cur)
          }
          frames += df.select(org.apache.spark.sql.functions.lit(v).as("version"),
            org.apache.spark.sql.functions.col("*"))
        } else {
          val (status, files) =
            if (adds.nonEmpty)
              ("added", adds.map { case (raw, size, pv, dv, _) =>
                (raw, size, pv, dv, v) })
            else
              ("removed", removes.map { raw =>
                live.get(raw) match {
                  case Some((size, pv)) => (raw, size, pv, liveDvs.get(raw), v)
                  case None => throw new BuzzException.ExecutionError(
                    s"commit $v removes $raw which is not live at ${v - 1}")
                }
              })
          var gen = curGen.getOrElse((eraIdx, status), 0)
          var run = open.getOrElseUpdate((eraIdx, status, gen),
            new DiffRun(status, cat, eraKeys))
          if (!run.files.accepts(files)) {
            gen += 1
            curGen((eraIdx, status)) = gen
            run = open.getOrElseUpdate((eraIdx, status, gen),
              new DiffRun(status, cat, eraKeys))
          }
          run.files.add(files)
        }
      }
      live = live -- removes ++
        adds.map { case (raw, size, pv, _, _) => raw -> ((size, pv)) }
      // an add without a descriptor CLEARS its file's DV, like replay does
      liveDvs = liveDvs -- removes --
        adds.collect { case (raw, _, _, None, _) => raw } ++
        adds.collect { case (raw, _, _, Some(dv), _) => raw -> dv }
    }
    frames ++= open.values.map(runFrame)
    if (frames.isEmpty) {
      // a span of only metaData/empty commits diffs to nothing: the empty
      // frame through the SAME machinery, so schema/names/types match the
      // non-empty shape exactly
      val eraKeys = eraNames(cat, keyCols, vTo)
      val eraComps = eraNames(cat, compareCols, vTo)
      val df0 = changesFromActions(spark, tablePath, vTo, eraKeys, eraComps,
        cat, Nil, Nil, Map.empty, Map.empty)
      val df = eraKeys.zip(keyCols).foldLeft(df0) { case (d, (era, cur)) =>
        if (era == cur) d else d.withColumnRenamed(era, cur)
      }
      df.select(org.apache.spark.sql.functions.lit(vTo).as("version"),
        org.apache.spark.sql.functions.col("*")).limit(0)
    } else frames.reduce(_.unionAll(_))
  }

  /** Is change-data-feed capture ACTIVE on `tablePath` at the pinned
    * version — `delta.enableChangeDataFeed=true` in the table
    * configuration? When active, every row-level writer below stages its
    * change rows as `_change_data/` files and commits `cdc` actions. */
  private def cdfActive(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      versionAsOf: Option[Long]): Boolean =
    graft.sources.DeltaCatalog.tableConfiguration(spark, tablePath, versionAsOf)
      .get("delta.enableChangeDataFeed").exists(_.equalsIgnoreCase("true"))

  /** Stage `changeRows` — the table's columns plus `_change_type` — as
    * the protocol's `_change_data/` parquet files, returning the cdc
    * actions' (relPath, size, partitionValues). Data columns store
    * PHYSICAL names exactly like the data files (a column-mapped table's
    * feed reads under the same mapping); `_change_type` stores literally.
    * Files land under `_change_data/<k=v dirs>/part-*.parquet`, invisible
    * to snapshot readers (replay never adds them to the live set); vacuum
    * reaps them only when no surviving commit references them.
    *
    * Capture deliberately RE-SCANS the candidate files (one extra pruned
    * read per DML, MERGE: extra joins): the alternative — caching the
    * single rewrite scan to split kept vs changed rows — pins a
    * candidate-sized dataset in memory, which at 100 TB candidates is the
    * worse trade. Capture cost is bounded by the PRUNED candidate set and
    * only paid when the table opted into CDF. */
  private def stageChangeData(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      partitionCols: Seq[String], physicalNames: Map[String, String],
      changeRows: DataFrame): Seq[AddedFile] =
    stageIntoTable(changeRows, tablePath, partitionCols, physicalNames,
      destPrefix = "_change_data")

  /** Join each row's `_commit_version` from its source file — the seam
    * that lets a MULTI-COMMIT run read as ONE relation and still label
    * every row with the commit that produced it. `df` carries `__gfp`
    * (the scan's `_metadata.file_path`); `pathToVersions` maps each
    * file's [[graft.sources.SizedFile.scanPath]], the same string by
    * construction, one row per file — file-count-sized, built on
    * the driver from the commit actions already in hand, and BROADCAST
    * (an executor-side hash lookup per row, never a shuffle). The join is
    * LEFT with an executor-side raise_error guard: every scanned row
    * comes from a listed file, so a miss is an engine bug (a version map
    * keyed by anything but the scan path) and must surface as an ERROR
    * NAMING THE PATH, not
    * as silently vanished change rows (what an inner join's miss looks
    * like). AssertNotNull re-declares the guarded column non-nullable —
    * the guard fires before it ever could — so the feed schema keeps the
    * protocol's non-null `_commit_version`. That scalar join
    * ([[attachCommitVersionsScalar]]) is the all-singleton dispatch
    * target of [[attachCommitVersionsMulti]], the single entry point.
    *
    * The MULTI form handles PER-OCCURRENCE ALIASED files: a path
    * the span added (or removed) at SEVERAL versions within one run —
    * the single-path ping-pong history (remove, re-add, remove, …, e.g.
    * repeated RESTOREs oscillating between two versions) — maps to the
    * ASCENDING list of its occurrence labels. The file is scanned ONCE;
    * `explode` emits one labeled copy of each row per occurrence, so
    * plan width stays eras × kinds however often the history oscillates
    * one path (pre-aliasing, each re-add bumped a generation: ~N/2
    * relations per kind over an N-commit span, measured superlinear in
    * driver wall). The all-singleton case — every history a conformant
    * writer produces at depth — dispatches to the scalar join: zero
    * plan difference vs the pre-aliasing feed. */
  private[graft] def attachCommitVersionsMulti(
      spark: org.apache.spark.sql.SparkSession, df: DataFrame,
      pathToVersions: Seq[(String, Seq[Long])]): DataFrame =
    if (pathToVersions.forall(_._2.lengthCompare(1) == 0))
      attachCommitVersionsScalar(spark, df,
        pathToVersions.map { case (p, vs) => p -> vs.head })
    else {
      import org.apache.spark.sql.types._
      val arrTpe = ArrayType(LongType, containsNull = false)
      val rows = pathToVersions.map { case (p, vs) =>
        org.apache.spark.sql.Row(p, vs)
      }
      val verDf = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        StructType(Seq(
          StructField("__gvp", StringType, nullable = false),
          StructField("__gvers", arrTpe, nullable = false))))
      val joined = df.join(broadcast(verDf), df("__gfp") === verDf("__gvp"), "left")
      // same loud miss guard as the scalar join
      val guarded = when(col("__gvp").isNull,
          raise_error(concat(
            lit("cdf engine bug: scanned row's file is missing from the " +
              "per-file commit map (path normalization mismatch): "),
            col("__gfp"))).cast(arrTpe))
        .otherwise(col("__gvers"))
      // PIN the exploded version non-nullable with the same AssertNotNull
      // the scalar path uses, rather than relying on when/otherwise
      // propagating the array's containsNull=false — a Spark upgrade
      // changing that inference must not silently flip the feed schema
      // to a nullable _commit_version (the spec guards both paths)
      import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
      import org.apache.spark.sql.graftshim.GraftColumn
      joined.withColumn("__gver1", explode(guarded))
        .withColumn("_commit_version",
          GraftColumn.of(AssertNotNull(GraftColumn.expr(col("__gver1")),
            Seq("engine-internal per-file commit version list"))))
        .drop("__gfp", "__gvp", "__gvers", "__gver1")
    }

  private def attachCommitVersionsScalar(
      spark: org.apache.spark.sql.SparkSession, df: DataFrame,
      pathToVersion: Seq[(String, Long)]): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
    import org.apache.spark.sql.graftshim.GraftColumn
    val rows = pathToVersion.map { case (p, v) =>
      org.apache.spark.sql.Row(p, v)
    }
    val verDf = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(
        StructField("__gvp", StringType, nullable = false),
        StructField("__gver", LongType, nullable = false))))
    val joined = df.join(broadcast(verDf), df("__gfp") === verDf("__gvp"), "left")
    val guarded = when(col("__gvp").isNull,
        raise_error(concat(
          lit("cdf engine bug: scanned row's file is missing from the " +
            "per-file commit map (path normalization mismatch): "),
          col("__gfp"))).cast(LongType))
      .otherwise(col("__gver"))
    joined.withColumn("_commit_version",
        GraftColumn.of(AssertNotNull(GraftColumn.expr(guarded),
          Seq("engine-internal per-file commit version"))))
      .drop("__gfp", "__gvp", "__gver")
  }

  /** Read a RUN of commits' `_change_data` files — one schema era, any
    * number of contiguous commits — under the era catalog's schema plus
    * `_change_type`, with `_commit_version` joined per file. Rides the
    * SAME catalog read machinery as data files (declared physical names,
    * logical surfacing, one FileScan over the given files), so a run
    * reads as ONE FileScan however many commits OR partition tuples it
    * spans. */
  private def readChangeData(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      cat: graft.sources.StaticCatalog,
      cdcs: Seq[(String, Long, Map[String, String], Seq[Long])]): DataFrame = {
    import org.apache.spark.sql.types._
    import graft.sources.{DeltaCatalog, SizedFile}
    val cdcSchema = StructType(cat.schema.fields.toSeq :+
      StructField("_change_type", StringType, nullable = false))
    val cdcCat = new graft.sources.StaticCatalog(
      s"${cat.name}_cdc", cdcSchema, cat.partitionColumns, Nil)
    readWithCommitVersions(spark, cdcCat, cdcs.map { case (raw, size, pv, vs) =>
      SizedFile(DeltaCatalog.fileKey(tablePath, raw), size,
        cat.partitionColumns.map(c =>
          pv.getOrElse(c, DeltaCatalog.NullPartitionValue))) -> vs
    })
  }

  /** Read `files` through `cat` as ONE relation, each row labeled with
    * its file's commit versions ([[attachCommitVersionsMulti]]); the
    * version map is keyed by [[graft.sources.SizedFile.scanPath]], the
    * same string the scan reports as the row's `__gfp`. */
  private def readWithCommitVersions(
      spark: org.apache.spark.sql.SparkSession, cat: graft.sources.SplittableCatalog,
      files: Seq[(graft.sources.SizedFile, Seq[Long])]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    attachCommitVersionsMulti(spark, cat.readKeepingPath(spark, files.map(_._1)),
      files.map { case (f, vs) => f.scanPath(conf) -> vs })
  }

  /** The protocol's ROW-LEVEL change feed over the commit span
    * (vFrom, vTo]: every table column plus `_change_type` ('insert' |
    * 'update_preimage' | 'update_postimage' | 'delete') and
    * `_commit_version`. Commits carrying `cdc` actions — what
    * MERGE/UPDATE/DELETE write on tables with
    * `delta.enableChangeDataFeed=true` — are read AUTHORITATIVELY from
    * their `_change_data/` files (bounded by the changes, never the
    * table); commits without them DERIVE per the protocol: dataChange
    * adds are inserts, dataChange removes are deletes (read under the
    * PRE-commit deletion-vector state), and a rewrite commit (both,
    * without cdc) fails loudly as pre-enablement history — its
    * row-level diff is not recorded; [[deltaChangesBetween]] computes it
    * as a keyed snapshot diff instead. Additive schema evolution
    * mid-span conforms older eras with nulls; a physical re-mapping
    * (RENAME/DROP) mid-span fails loudly, as upstream's CDF does.
    * dataChange=false rewrites (OPTIMIZE/ZORDER/migrate) contribute
    * nothing. */
  def deltaChangeFeed(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      vFrom: Long, vTo: Long): DataFrame = {
    import graft.sources.DeltaCatalog
    import graft.model.BuzzException
    require(vFrom < vTo, s"need vFrom < vTo, got $vFrom >= $vTo")
    val cat0 = DeltaCatalog.fromDeltaLog(spark, tablePath, "__cdf_feed",
      versionAsOf = Some(vFrom))
    val live0 = DeltaCatalog.liveRawAt(spark, tablePath, Some(vFrom))
    val liveDvs0 = DeltaCatalog.dvsByRaw(spark, tablePath, Some(vFrom))
    val onMetaChange: Long => graft.sources.StaticCatalog = { v =>
      // physical re-mapping mid-span has no well-defined row feed —
      // same detection as the append-only consumers
      val before = DeltaCatalog.storedSchemaAt(spark, tablePath, Some(v - 1))
      val after = DeltaCatalog.storedSchemaAt(spark, tablePath, Some(v))
      for (b <- before; a <- after) {
        import graft.sources.ColumnMapping
        val bPhys = b.fields.map(f => ColumnMapping.physicalName(f) -> f.name).toMap
        val aPhys = a.fields.map(f => ColumnMapping.physicalName(f) -> f.name).toMap
        val renamed = bPhys.keySet.intersect(aPhys.keySet).filter(p => bPhys(p) != aPhys(p))
        val dropped = bPhys.keySet -- aPhys.keySet
        if (renamed.nonEmpty || dropped.nonEmpty)
          throw new BuzzException.BadRequest(
            s"deltaChangeFeed($tablePath): commit $v renames or drops " +
              "column(s) mid-span — the row feed is not well-defined " +
              "across a re-mapping; consume deltaChangesBetween instead")
      }
      DeltaCatalog.fromDeltaLog(spark, tablePath, s"__cdf_feed_v$v",
        versionAsOf = Some(v))
    }
    val (runs, catEnd, _, _) = collectFeedRuns(
      spark, tablePath, vFrom, vTo, cat0, live0, liveDvs0, onMetaChange)
    if (runs.isEmpty)
      catEnd.read(spark, Nil)
        .withColumn("_change_type", lit(""))
        .select(lit(0L).as("_commit_version"), col("*"))
        .limit(0)
    else
      runs.map { run =>
        val df = readFeedRun(spark, tablePath, run)
        val tableCols = run.cat.schema.fieldNames.toSeq ++ run.cat.partitionColumns
        df.select((col("_commit_version") +: tableCols.map(col) :+
          col("_change_type")): _*)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** A GROUP of same-kind, same-schema-era commits inside a feed span —
    * NOT necessarily contiguous: `kind` is "cdc" (authoritative
    * `_change_data` files), "insert" (derived: dataChange adds only) or
    * "delete" (derived: dataChange removes only, read under the
    * PRE-commit DV state resolved at collection time); `files` is
    * (raw path, size, partitionValues, DV to read under, ascending
    * occurrence versions) — ONE entry per distinct path, whose version
    * list grows past one element only when a ping-pong history re-adds
    * the path with identical identity ([[RunFiles]]).
    * The run — not the commit — is the unit the feed builds ONE relation
    * for, and because every per-file truth (version label, DV to read
    * under, partition values) is resolved by the walker AT ITS COMMIT,
    * the feed is a SET of per-file-labeled change rows — reading need not
    * preserve commit contiguity, so commits of one (era, kind) share one
    * run however the span interleaves kinds. Plan width is bounded by
    * schema eras × the three kinds (× rare per-path re-add generations),
    * never by commit count or by the span's alternation pattern — the
    * kind-ALTERNATING history (append, CDF-delete, append, …) of a
    * trigger-per-commit upsert pipeline plans the same handful of scans
    * as a same-kind span (a driver-side Catalyst analysis stall at
    * exactly the lag where 100 TB catch-up must work). */
  private[graft] final case class FeedRun(
      kind: String,
      cat: graft.sources.StaticCatalog,
      files: Seq[(String, Long, Map[String, String],
        Option[graft.sources.DvDescriptor], Seq[Long])])

  /** Per-path file accumulator for a NON-contiguous run: one entry per
    * DISTINCT path, carrying its (size, partitionValues, DV) identity
    * and the ascending list of its occurrence version labels. An
    * occurrence whose identity matches an existing entry ALIASES onto
    * it — the run's single read of the file will emit one labeled copy
    * of its rows per version ([[attachCommitVersionsMulti]]) — so a
    * single-path ping-pong history (remove, re-add, remove, … between
    * the same versions) costs version labels, never plan width. Only an
    * identity-MISMATCHED collision (a path re-added with a different
    * size, partition tuple, or deletion-vector truth — its two
    * occurrences are different row sets and need different reads)
    * forces the caller's generation bump. */
  private[graft] final class RunFiles {
    import scala.collection.mutable
    private val entries = mutable.LinkedHashMap[String,
      (Long, Map[String, String], Option[graft.sources.DvDescriptor],
        mutable.ListBuffer[Long])]()
    /** Can every occurrence land here without an identity conflict? */
    def accepts(files: Seq[(String, Long, Map[String, String],
        Option[graft.sources.DvDescriptor], Long)]): Boolean =
      files.forall { case (p, size, pv, dv, _) =>
        entries.get(p).forall { case (s0, pv0, dv0, _) =>
          s0 == size && pv0 == pv && dv0 == dv
        }
      }
    /** One batch = one commit's files. A path listed twice WITHIN a
      * batch is a protocol violation (one action per path per commit) —
      * loud, never silently aliased into a double-emitted row set. */
    def add(files: Seq[(String, Long, Map[String, String],
        Option[graft.sources.DvDescriptor], Long)]): Unit = {
      val batch = mutable.HashSet[String]()
      files.foreach { case (p, size, pv, dv, v) =>
        if (!batch.add(p))
          throw new graft.model.BuzzException.ExecutionError(
            s"commit $v lists file $p twice — the log violates the " +
              "protocol (one action per path per commit)")
        entries.getOrElseUpdate(p,
          (size, pv, dv, mutable.ListBuffer[Long]()))._4 += v
      }
    }
    def toSeq: Seq[(String, Long, Map[String, String],
        Option[graft.sources.DvDescriptor], Seq[Long])] =
      entries.iterator.map { case (p, (s, pv, dv, vs)) =>
        (p, s, pv, dv, vs.toList)
      }.toList
  }

  /** Walk the commits of (vFrom, vTo] once — parsing each commit JSON
    * once, memoized — grouping them into [[FeedRun]]s and advancing the
    * incrementally-maintained (live files, live DVs) state. Grouping is
    * by (schema era, kind, generation), NON-contiguously: a commit's
    * files join the era's OPEN run of their kind regardless of what kinds
    * landed in between, so an alternating history costs no extra plan
    * width. `onMetaChange` is the caller's schema-era transition: it
    * validates the change (rename/drop detection differs between the
    * batch feed and the pinned streaming source) and returns the era
    * catalog at `v`; a metaData commit starts a new era (its runs are
    * distinct — different physical schema). A path appearing AGAIN
    * within a run — removed and later re-added, the ping-pong history —
    * ALIASES onto its existing entry when its (size, partitionValues,
    * DV) identity matches: the run reads the file once and labels its
    * rows once per occurrence version, so even a span that oscillates
    * ONE path for N commits plans eras × kinds relations (pre-aliasing
    * it planned ~N/2 per kind, measured superlinear in driver wall). A
    * run closes only on an identity-MISMATCHED collision (different row
    * set — needs its own read) — the `generation` component, O(1) in
    * any real history. Returns (runs in first-file order, end-of-span
    * catalog, post-span live, post-span DVs). */
  private[graft] def collectFeedRuns(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      vFrom: Long, vTo: Long,
      cat0: graft.sources.StaticCatalog,
      live0: Map[String, (Long, Map[String, String])],
      liveDvs0: Map[String, graft.sources.DvDescriptor],
      onMetaChange: Long => graft.sources.StaticCatalog)
      : (Seq[FeedRun], graft.sources.StaticCatalog,
         Map[String, (Long, Map[String, String])],
         Map[String, graft.sources.DvDescriptor]) = {
    import graft.model.BuzzException
    var cat = cat0
    var live = live0
    var liveDvs = liveDvs0
    var eraIdx = 0
    // open runs keyed by (era, kind, generation), kept in first-file
    // order; a run accumulates files from EVERY commit of its (era, kind),
    // aliasing identity-matched re-occurrences of a path onto one entry
    // (per-occurrence version labels); only an identity-MISMATCHED
    // collision bumps the generation
    final class OpenRun(val kind: String, val cat: graft.sources.StaticCatalog) {
      val files = new RunFiles
    }
    val open = scala.collection.mutable.LinkedHashMap[(Int, String, Int), OpenRun]()
    val curGen = scala.collection.mutable.HashMap[(Int, String), Int]()
    ((vFrom + 1) to vTo).foreach { v =>
      val ca = parseCommitActions(spark, tablePath, v)
      if (ca.metaChanged) {
        cat = onMetaChange(v)
        eraIdx += 1
      }
      if (cat == null)
        throw new BuzzException.ExecutionError(
          s"cdf($tablePath): commit $v precedes any metaData action — " +
            "the log violates the protocol (version 0 must declare metaData)")
      val factAdds = ca.adds.filter(_._5)
      val factRemoves = ca.removes.filter(_._2).map(_._1)
      val (kind, files) =
        if (ca.cdcs.nonEmpty)
          ("cdc", ca.cdcs.map { case (raw, size, pv) =>
            (raw, size, pv,
              None: Option[graft.sources.DvDescriptor], v) })
        else if (factAdds.nonEmpty && factRemoves.nonEmpty)
          throw new BuzzException.BadRequest(
            s"deltaChangeFeed($tablePath): commit $v rewrites rows without " +
              "cdc actions — it was written before delta.enableChangeDataFeed " +
              "(or by a non-CDF writer); its row-level diff is not recorded. " +
              "Read it as a keyed snapshot diff via deltaChangesBetween")
        else if (factAdds.nonEmpty)
          ("insert", factAdds.map { case (raw, size, pv, dv, _) =>
            (raw, size, pv, dv, v) })
        else if (factRemoves.nonEmpty)
          ("delete", factRemoves.map { raw =>
            live.get(raw) match {
              case Some((size, pv)) => (raw, size, pv, liveDvs.get(raw), v)
              case None => throw new BuzzException.ExecutionError(
                s"commit $v removes $raw which is not live at ${v - 1}")
            }
          })
        else (null, Nil)
      if (kind != null) {
        var gen = curGen.getOrElse((eraIdx, kind), 0)
        var run = open.getOrElseUpdate((eraIdx, kind, gen), new OpenRun(kind, cat))
        if (!run.files.accepts(files)) {
          gen += 1
          curGen((eraIdx, kind)) = gen
          run = open.getOrElseUpdate((eraIdx, kind, gen), new OpenRun(kind, cat))
        }
        run.files.add(files)
      }
      val advanced = advanceFeedState(live, liveDvs, ca)
      live = advanced._1
      liveDvs = advanced._2
    }
    (open.values.map(r => FeedRun(r.kind, r.cat, r.files.toSeq)).toList,
      cat, live, liveDvs)
  }

  /** ONE relation for one [[FeedRun]]: every table column (the run era's
    * logical names) + `_change_type` + `_commit_version` (joined per
    * source file, [[attachCommitVersionsMulti]]). Derived kinds read through
    * the era catalog — one partitioned FileScan with each file's own
    * deletion-vector truth (adds under the commit's descriptors, removes
    * under the pre-commit state the walker resolved). */
  private[graft] def readFeedRun(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      run: FeedRun): DataFrame = {
    import graft.sources.{DeletionVectors, DeltaCatalog, SizedFile}
    if (run.kind == "cdc") readChangeData(spark, tablePath, run.cat, run.files
      .map { case (raw, size, pv, _, vs) => (raw, size, pv, vs) })
    else {
      val dvs = run.files.collect { case (raw, _, _, Some(dv), _) =>
        DeltaCatalog.fileKey(tablePath, raw) -> DeletionVectors.resolve(tablePath, dv)
      }.toMap
      readWithCommitVersions(spark, run.cat.withDeletionVectors(dvs),
        run.files.map { case (raw, size, pv, _, vs) =>
          SizedFile(DeltaCatalog.fileKey(tablePath, raw), size,
            run.cat.partitionColumns.map(c =>
              pv.getOrElse(c, DeltaCatalog.NullPartitionValue))) -> vs
        }).withColumn("_change_type",
          lit(if (run.kind == "insert") "insert" else "delete"))
    }
  }

  /** Fold one commit's adds/removes into the (live files, live DVs) maps —
    * the post-commit state. An add without a descriptor CLEARS its file's
    * DV, exactly like replay does. */
  private[graft] def advanceFeedState(
      live: Map[String, (Long, Map[String, String])],
      liveDvs: Map[String, graft.sources.DvDescriptor],
      ca: CommitActions): (Map[String, (Long, Map[String, String])],
        Map[String, graft.sources.DvDescriptor]) = {
    val removes = ca.removes.map(_._1)
    (live -- removes ++
      ca.adds.map { case (raw, size, pv, _, _) => raw -> ((size, pv)) },
      liveDvs -- removes --
        ca.adds.collect { case (raw, _, _, None, _) => raw } ++
        ca.adds.collect { case (raw, _, _, Some(dv), _) => raw -> dv })
  }

  /** A commit's change-feed ADMISSION cost in files — the unit of scan
    * work a `graft-delta-cdf` micro-batch pays for it: the cdc files when
    * the commit recorded its row-level feed, otherwise the derived
    * fact-changing adds + removes. */
  private[graft] def cdfFileCount(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      version: Long): Int = {
    val ca = parseCommitActions(spark, tablePath, version)
    if (ca.cdcs.nonEmpty) ca.cdcs.size
    else ca.adds.count(_._5) + ca.removes.count(_._2)
  }

  /** Set (or overwrite) table properties — one metaData-only commit
    * re-declaring the stored schema with `updates` merged into the
    * configuration (`TBLPROPERTIES`). The writer-obligation keys this
    * engine understands become ACTIVE immediately: `delta.appendOnly`
    * gates row-level DML, `delta.enableChangeDataFeed` makes every later
    * MERGE/UPDATE/DELETE stage `_change_data` files (the commit also
    * raises the protocol with the `changeDataFeed` writer feature so
    * non-CDF writers fail loudly instead of silently skipping capture).
    * Returns the committed version. */
  def deltaSetProperties(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      updates: Map[String, String]): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import graft.sources.{DeltaCatalog, FsUtil}
    import graft.model.BuzzException
    require(updates.nonEmpty, "deltaSetProperties with no updates")
    val logDir = s"$tablePath/_delta_log"
    DeltaCatalog.assertWriterProtocol(spark, tablePath, "set properties of")
    var attempt = 0
    val maxAttempts = 10
    while (attempt < maxAttempts) {
      val head = DeltaCatalog.latestVersion(spark, logDir)
      if (head < 0)
        throw new BuzzException.BadRequest(s"no delta table at $tablePath")
      val stored = DeltaCatalog.storedSchema(spark, tablePath).getOrElse(
        throw new BuzzException.BadRequest(s"no metaData action in $tablePath"))
      val cat = DeltaCatalog.fromDeltaLog(spark, tablePath, "__delta_props")
      val merged = DeltaCatalog.tableConfiguration(spark, tablePath) ++ updates
      val cdfOn = updates.get("delta.enableChangeDataFeed")
        .exists(_.equalsIgnoreCase("true"))
      if (cdfOn) {
        // the feed's own output columns are reserved: a data column named
        // _change_type would be clobbered by capture and make the feed's
        // read schema ambiguous (upstream rejects enabling CDF likewise)
        val reserved = Set("_change_type", "_commit_version")
        val clash = stored.fieldNames.filter(reserved).sorted
        if (clash.nonEmpty)
          throw new BuzzException.BadRequest(
            s"cannot enable change data feed on $tablePath: column(s) " +
              s"${clash.mkString(", ")} are reserved for the feed's output — " +
              "rename them first")
      }
      val actions: Seq[JValue] =
        Seq(commitInfoAction("SET TBLPROPERTIES", updates)) ++
        (if (cdfOn)
          Seq(featureProtocol(
            DeltaCatalog.tableProtocol(spark, tablePath, None),
            extraWriter = Set("changeDataFeed")))
         else Nil) ++
        Seq(JObject("metaData" -> JObject(List[(String, JValue)](
          "id" -> JString(DeltaCatalog.tableId(spark, tablePath)
            .getOrElse(java.util.UUID.randomUUID.toString)),
          "format" -> JObject("provider" -> JString("parquet")),
          "schemaString" -> JString(stored.json),
          "partitionColumns" -> JArray(
            cat.partitionColumns.map(JString(_): JValue).toList),
          "configuration" -> JObject(merged.toList.sortBy(_._1)
            .map { case (k, v) => k -> (JString(v): JValue) })))))
      val body = actions.map(a => JsonMethods.compact(JsonMethods.render(a)))
        .mkString("", "\n", "\n")
      if (FsUtil.publishCommit(spark, logDir, head + 1, body)) return head + 1
      attempt += 1
      Thread.sleep(10L * attempt)
    }
    throw new BuzzException.ExecutionError(
      s"lost the properties commit race $maxAttempts times under $logDir — giving up")
  }

  /** Write a single-part checkpoint of the CURRENT snapshot at the latest
    * version and advertise it via `_last_checkpoint` — the log-compaction
    * step that keeps a long-lived table's open cost O(checkpoint + tail)
    * instead of O(every commit since v0). With `cleanCommits` the
    * pre-checkpoint JSON commits are deleted (delta log retention);
    * readers then MUST seed from the checkpoint — which
    * [[graft.sources.DeltaCatalog]] does, failing loudly if a reader
    * ignores it. Returns the checkpointed version. */
  def deltaCheckpoint(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      cleanCommits: Boolean = false, parts: Int = 1,
      tombstoneRetainMs: Long = 7L * 24 * 3600 * 1000): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.sources.{DeltaCatalog, FsUtil}
    val logDir = s"$tablePath/_delta_log"
    DeltaCatalog.assertWriterProtocol(spark, tablePath, "checkpoint")
    // pin ONE snapshot version FIRST and derive every state slice from it
    // (files, stats, DVs, txns, protocol): independent unpinned replays
    // would let a commit land between the reads, producing a checkpoint
    // stamped at a version whose adds it misses — with cleanCommits those
    // files drop from the live set permanently
    val version = DeltaCatalog.latestVersion(spark, logDir)
    onCheckpointPinned()
    val asOf = Some(version)
    // ONE replay serves every state slice (catalog, raw paths, stats,
    // DVs, tombstones, txns, protocol, configuration) — per-accessor
    // replays would redo the same full log replay nine times
    val snap = DeltaCatalog.logSnapshot(spark, tablePath, "__delta_cp", asOf)
    val cat = snap.catalog
    // the checkpoint must persist the RAW log paths — the seed decodes
    // them exactly once on re-read, like commit replay does
    val rawByKey = snap.liveRawByKey
    val statsByRaw = snap.statsByRaw
    val dvByRaw = snap.dvsByRaw
    val fsys = FsUtil.fs(spark, tablePath)
    // full table schema = data schema + partition columns (this engine's
    // writers declare partition columns as strings in schemaString)
    val fullSchema = StructType(cat.schema.fields.toSeq ++
      cat.partitionColumns.map(c => StructField(c, StringType, nullable = true)))
    val cpSchema = StructType(Seq(
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        // the configuration carries WRITER OBLIGATIONS (delta.appendOnly,
        // delta.constraints.*): dropping it across commit cleaning would
        // silently disarm the writer gate on this table
        StructField("configuration", MapType(StringType, StringType)))), nullable = true),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("size", LongType),
        StructField("partitionValues", MapType(StringType, StringType)),
        // the spec's REQUIRED add fields for checkpoints: a conformant
        // foreign reader parsing the add schema may reject or mis-default
        // their absence. dataChange is false by spec (a checkpoint
        // restates state, it never changes facts); modificationTime is
        // each file's own, from its add action, so a checkpoint keeps
        // every file's cache identity (the checkpoint wall time only where
        // an add carried none: a stat per live file would cost 10^6 stats
        // at the measured bound)
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        // data-skipping stats must survive into the checkpoint, or commit
        // cleaning would silently degrade every read back to footer IO
        StructField("stats", StringType),
        // deletion-vector descriptors must survive too — as the protocol's
        // STRUCT, or commit cleaning would RESURRECT merge-on-read-deleted
        // rows (and a flat string would be unreadable to foreign readers)
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", IntegerType),
          StructField("sizeInBytes", IntegerType),
          StructField("cardinality", LongType)))))), nullable = true),
      // UNEXPIRED remove tombstones must survive too, or commit cleaning
      // would degrade vacuum's retention dating (file deletionTimestamps
      // and superseded-DV unreference times) to file mtimes — exactly the
      // early-reap class the tombstone discipline exists to prevent
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", IntegerType),
          StructField("sizeInBytes", IntegerType),
          StructField("cardinality", LongType)))))), nullable = true),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType))), nullable = true),
      // a feature bump (DV / column mapping) must survive commit cleaning,
      // or the checkpointed table silently reverts to an unversioned one
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", LongType),
        StructField("minWriterVersion", LongType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType)))), nullable = true)))
    val cpNow = System.currentTimeMillis()
    val rows: Seq[Row] =
      // the table's stable id must survive the checkpoint — minting a new
      // one would make readers see a different table after log cleaning
      (Row(Row(DeltaCatalog.tableId(spark, tablePath)
          .getOrElse(java.util.UUID.randomUUID.toString),
        Row("parquet", Map.empty[String, String]), fullSchema.json,
        cat.partitionColumns, snap.configuration),
        null, null, null, null) +:
        cat.files.map { f =>
          val raw = rawByKey.getOrElse(f.key,
            throw new graft.model.BuzzException.ExecutionError(
              s"checkpoint: no raw log path for live file ${f.key}"))
          val dvRow = dvByRaw.get(raw).map(d =>
            Row(d.storageType, d.pathOrInlineDv,
              d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull
          Row(null,
            Row(raw, f.length,
              cat.partitionColumns.zip(f.partitionValues).toMap,
              if (f.modificationTime > 0) f.modificationTime else cpNow,
              java.lang.Boolean.FALSE,
              statsByRaw.get(raw).orNull, dvRow), null, null, null)
        }) ++
        // unexpired tombstones (see cpSchema note); expired ones are
        // dropped here, which is what bounds the checkpoint's remove
        // section by the retention window instead of table history
        snap.tombstonesByRaw.toSeq
          .filter(_._2._1 >= System.currentTimeMillis() - tombstoneRetainMs)
          .sortBy(_._1)
          .map { case (raw, (ts, dv)) =>
            val dvRow = dv.map(d => Row(d.storageType, d.pathOrInlineDv,
              d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull
            Row(null, null, Row(raw, ts, java.lang.Boolean.FALSE, dvRow), null, null)
          } ++
        // txn state must survive into the checkpoint, or commit cleaning
        // would amnesia every writer's idempotence watermark
        snap.txns.toSeq.sortBy(_._1)
          .map { case (app, ver) => Row(null, null, null, Row(app, ver), null) } ++
        // the protocol declaration must survive too (see cpSchema note)
        snap.protocol.toSeq
          .map { case (mr, mw, rf, wf) =>
            Row(null, null, null, null, Row(mr, mw, rf, wf)) }
    require(parts >= 1, s"parts must be >= 1, got $parts")
    val stage = s"$tablePath/.graft-checkpoint-${java.util.UUID.randomUUID}"
    // multi-part (the protocol's V.checkpoint.I.N.parquet layout): a 100 TB
    // table's checkpoint carries millions of add rows — splitting lets N
    // reader tasks seed the snapshot in parallel and keeps any one file
    // under object-store hot-read sizes. Empty slices write no file, so
    // the declared part count is the count actually LANDED.
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.min(parts, rows.size)), cpSchema)
      .repartition(parts).write.mode("overwrite").parquet(stage)
    val staged = FsUtil.listStatus(spark, stage)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName).map(_.getPath)
    val n = staged.size
    val dests =
      if (n == 1) Seq(new Path(logDir, f"$version%020d.checkpoint.parquet"))
      else (1 to n).map(i =>
        new Path(logDir, f"$version%020d.checkpoint.$i%010d.$n%010d.parquet"))
    staged.zip(dests).foreach { case (src, dest) =>
      fsys.delete(dest, false)
      if (!fsys.rename(src, dest))
        throw new graft.model.BuzzException.ExecutionError(
          s"checkpoint rename failed for $dest")
    }
    fsys.delete(new Path(stage), true)
    // the tombstone EXPIRY WATERMARK rides in _last_checkpoint (foreign
    // readers ignore unknown fields): tombstones with deletionTimestamp
    // below `tombstoneFloor` may have been expired from SOME checkpoint
    // in this table's seed chain and are unrecoverable — their files date
    // by mtime, which vacuum may only trust for cutoffs that stay ABOVE
    // the floor. Each checkpoint's own expiry threshold is (its wall time
    // - its retention); the chain's floor is the MAXIMUM over history —a
    // later checkpoint declaring a LONGER retention seeds from the
    // earlier one's survivors and cannot resurrect what it dropped. The
    // floor is a fixed instant, so it ages out naturally: once
    // now - retainMs clears it, any window is exact again.
    val tombstoneFloor = math.max(
      graft.sources.DeltaCatalog.checkpointTombstoneFloor(spark, logDir)
        .getOrElse(Long.MinValue),
      cpNow - tombstoneRetainMs)
    FsUtil.writeString(spark, s"$logDir/_last_checkpoint",
      if (n == 1)
        s"""{"version":$version,"size":${rows.size},"tombstoneRetainMs":$tombstoneRetainMs,"tombstoneFloor":$tombstoneFloor}"""
      else
        s"""{"version":$version,"size":${rows.size},"parts":$n,"tombstoneRetainMs":$tombstoneRetainMs,"tombstoneFloor":$tombstoneFloor}""")
    if (cleanCommits) {
      val CommitName = raw"(\d{20})\.json".r
      // superseded checkpoints go with their commits: `_last_checkpoint`
      // names exactly one checkpoint, so older ones are pure debris (and
      // at a checkpoint-per-day cadence on a 100 TB table they dominate
      // _delta_log's footprint within weeks)
      val OldCheckpoint = raw"(\d{20})\.checkpoint(\.\d{10}\.\d{10})?\.parquet".r
      FsUtil.listStatus(spark, logDir).foreach { st =>
        st.getPath.getName match {
          case CommitName(v) if v.toLong <= version => fsys.delete(st.getPath, false)
          case OldCheckpoint(v, _) if v.toLong < version =>
            fsys.delete(st.getPath, false)
          case _ =>
        }
      }
    }
    version
  }

  /** VACUUM: delete data files under the table that the CURRENT snapshot
    * no longer references (the tombstones OPTIMIZE and rewrites leave
    * behind). This is the retention decision that TRADES time travel for
    * space — versions whose files are vacuumed fail at read time — so it
    * is a separate call, never bundled into optimize. Staged (dot-prefix)
    * directories are reaped too.
    *
    * `retainMs` is the protocol's `RETAIN N HOURS` guard: an unreferenced
    * file is deleted only once its tombstone (`remove.deletionTimestamp`
    * from the log; file mtime when history was checkpoint-cleaned) is at
    * least that old — protecting in-flight readers of a recent snapshot
    * and the time-travel window. The default 0 reclaims immediately
    * (single-writer test/dev semantics); production tables should pass
    * the upstream default of 7 days. Returns the number of files
    * deleted. */
  def deltaVacuum(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      retainMs: Long = 0L): Long = {
    import org.apache.hadoop.fs.Path
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    require(retainMs >= 0, s"retainMs must be >= 0, got $retainMs")
    import graft.sources.{DeltaCatalog, FsUtil}
    // deleting files under a table whose writer features we don't know is
    // as dangerous as committing to it (an unknown feature may reference
    // sidecars this GC can't see) — same gate as the log writers
    DeltaCatalog.assertWriterProtocol(spark, tablePath, "vacuum")
    // a retention cutoff BELOW the table's tombstone expiry watermark
    // cannot be honored exactly: tombstones under the floor were expired
    // by some past checkpoint (a later checkpoint cannot resurrect them,
    // however long its declared retention), so their files would date by
    // file mtime — a file unreferenced recently but CREATED long ago
    // could then be reaped inside the promised window. Refuse loudly
    // instead of under-retaining; the floor ages out as wall time passes.
    DeltaCatalog.checkpointTombstoneFloor(spark, s"$tablePath/_delta_log")
      .filter(floor => retainMs > 0L &&
        System.currentTimeMillis() - retainMs < floor)
      .foreach { floor =>
        throw new graft.model.BuzzException.BadRequest(
          s"vacuum retainMs=$retainMs reaches below the table's tombstone " +
            s"expiry watermark ($floor): a past checkpoint expired " +
            "tombstones in that range, so files there date by mtime and " +
            "could be reaped inside the promised window — use a shorter " +
            "window, or retry once the watermark has aged past it")
      }
    val cat = DeltaCatalog.fromDeltaLog(spark, tablePath, "__delta_vacuum")
    val fsys = FsUtil.fs(spark, tablePath)
    val cutoff = System.currentTimeMillis() - retainMs
    // tombstone age from the REPLAYED state (newest remove per path wins;
    // the checkpoint carries unexpired tombstones across commit cleaning,
    // so this map survives log retention — pre-r10, cleaning degraded
    // dating to file mtimes and could reap inside the promised window).
    // A remove's embedded descriptor tombstones the file's deletion
    // VECTOR too — dating the vector from when it became UNREFERENCED,
    // not its creation time: a vector superseded moments ago must ride
    // out the full retention window for in-flight readers and time
    // travel, however old its bytes are. Tombstones the checkpoint
    // writer expired date by mtime below (conservative only when the
    // caller's retainMs exceeds the checkpoint's tombstoneRetainMs —
    // keep them aligned).
    val tombstones0: Map[String, Long] =
      if (retainMs == 0L) Map.empty // cutoff = now: every candidate is old enough
      else {
        val ts = scala.collection.mutable.HashMap[String, Long]()
        DeltaCatalog.tombstonesByRaw(spark, tablePath).foreach {
          case (raw, (t, dv)) =>
            ts(DeltaCatalog.fileKey(tablePath, raw)) = t
            dv.foreach { d =>
              val r = graft.sources.DeletionVectors.resolve(tablePath, d)
              if (r.storageType != "i")
                ts(r.pathOrInline) = math.max(ts.getOrElse(r.pathOrInline, 0L), t)
            }
        }
        ts.toMap
      }
    // membership is decided on fully-QUALIFIED absolute paths — the same
    // derivation reads use — never on re-derived relative strings, whose
    // escape/decode round-trip desyncs for escaped partition values (and
    // would then delete the CURRENT snapshot's files)
    def qual(p: String): String = fsys.makeQualified(new Path(p)).toString
    val tombstones = tombstones0.map { case (k, v) => qual(k) -> v }
    def oldEnough(p: Path): Boolean =
      retainMs == 0L || {
        val ts = tombstones.getOrElse(
          qual(p.toString), fsys.getFileStatus(p).getModificationTime)
        ts <= cutoff
      }
    val live = cat.files.map(f => qual(f.key)).toSet
    // abort if any live file is not where the snapshot says it is: the
    // log↔disk mapping is broken (encoding drift, partial copy) and any
    // "unreferenced" verdict below would be meaningless — deleting on a
    // broken mapping is how a vacuum eats live data
    val missing = live.filterNot(p => fsys.exists(new Path(p)))
    if (missing.nonEmpty)
      throw new graft.model.BuzzException.ExecutionError(
        s"vacuum aborted: ${missing.size} live file(s) missing on disk " +
          s"(first: ${missing.head}) — snapshot and layout disagree")
    // deletion-vector GC inputs: a `deletion_vector_*.bin` file no CURRENT
    // descriptor points at was superseded by a DV merge or materialized by
    // a rewrite — same retention trade as the data tombstones (time travel
    // to a version that referenced it stops working). Dated by the
    // superseding commit's remove tombstone above — when history was
    // checkpoint-cleaned, mtime is the (conservative-enough) fallback.
    val referencedDvs = cat.deletionVectors.values
      .collect { case r if r.storageType != "i" => qual(r.pathOrInline) }.toSet
    var deleted = 0L
    def walk(dir: Path): Unit =
      fsys.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          // `_dv`: the pre-r10 engine dialect's parquet DV sidecars —
          // this GC neither reads nor owns them; deleting "unreferenced"
          // parquet inside would resurrect a legacy table's deleted rows.
          // `_change_data`: cdc files are referenced by their COMMIT
          // JSONs, never by the live set — "unreferenced" is meaningless
          // here and deleting them would amputate the change feed
          if (name == "_delta_log" || name == "_dv" || name == "_change_data") ()
          else if (name.startsWith(".") && oldEnough(st.getPath)) {
            fsys.delete(st.getPath, true); deleted += 1
          } else if (!name.startsWith(".")) walk(st.getPath)
        } else if (name.endsWith(".parquet") &&
            !live.contains(qual(st.getPath.toString)) &&
            oldEnough(st.getPath)) {
          fsys.delete(st.getPath, false)
          deleted += 1
        } else if (name.startsWith("deletion_vector_") && name.endsWith(".bin") &&
            !referencedDvs.contains(qual(st.getPath.toString)) &&
            oldEnough(st.getPath)) {
          fsys.delete(st.getPath, false)
          deleted += 1
        }
      }
    walk(new Path(tablePath))
    // _change_data GC: a cdc file is referenced by its COMMIT JSON, never
    // the live set, so "unreferenced" means no SURVIVING commit's cdc
    // actions name it — a conflicted writer's orphaned staging, or files
    // whose commits were checkpoint-cleaned (their feed span is already
    // unreadable). One scan of the surviving commits builds the reference
    // set; reaping dates by mtime under the same retention rule.
    val cdcDir = new Path(tablePath, "_change_data")
    if (fsys.exists(cdcDir)) {
      val CommitName = raw"(\d{20})\.json".r
      val referencedCdc: Set[String] =
        graft.sources.FsUtil.listStatus(spark, s"$tablePath/_delta_log")
          .flatMap(st => st.getPath.getName match {
            case CommitName(v) =>
              parseCommitActions(spark, tablePath, v.toLong).cdcs.map {
                case (raw, _, _) =>
                  qual(DeltaCatalog.fileKey(tablePath, raw))
              }
            case _ => Nil
          }).toSet
      def walkCdc(dir: Path): Unit =
        fsys.listStatus(dir).foreach { st =>
          if (st.isDirectory) walkCdc(st.getPath)
          else if (st.getPath.getName.endsWith(".parquet") &&
              !referencedCdc.contains(qual(st.getPath.toString)) &&
              oldEnough(st.getPath)) {
            fsys.delete(st.getPath, false)
            deleted += 1
          }
        }
      walkCdc(cdcDir)
    }
    deleted
  }

  /** The key-range pruning a keyed writer (MERGE / APPLY CHANGES) runs
    * before its copy-on-write rewrite: `candRaws`/`candFiles` are the live
    * files that can possibly contain a touched key TUPLE, `columns` one
    * entry per key column (in `keyCols` order) carrying that column's
    * bounds extractor and Catalyst type — shared with the
    * concurrent-append probe, which intersects EVERY column's evidence. */
  private[graft] final case class KeyPruning(
      candRaws: Seq[String],
      candFiles: Seq[graft.sources.SizedFile],
      columns: Seq[KeyColumnPruning])

  /** One key column's pruning machinery: `typedBounds` extracts a file's
    * logged (min, max) for this column from the PRE-PARSED stats map —
    * None when the evidence is missing, malformed, or of an unexpected
    * JSON type for the column's declared type. */
  private[graft] final case class KeyColumnPruning(
      keyCol: String,
      boundsOf: org.json4s.JValue => Option[(Any, Any)],
      keyType: org.apache.spark.sql.types.DataType)

  /** Count of FULL stats parse passes (one per keyed apply) — the seam
    * the one-parse-per-apply spec counts against. Incremented under a
    * lock (concurrent keyed applies are supported; a bare volatile
    * read-modify-write would lose counts). Monotonic; test-only. */
  @volatile private[graft] var statsParsePasses: Long = 0L
  private val statsParseLock = new Object
  private def countStatsParsePass(): Unit =
    statsParseLock.synchronized { statsParsePasses += 1 }

  /** Parse ONE file's `add.stats` JSON (JNothing when malformed — the
    * unconditional-candidate signal). Callers iterate file-at-a-time and
    * reduce the AST to typed bounds IMMEDIATELY: at 10^6 live files a
    * map of retained json4s trees would be a multi-GB driver residency,
    * so no AST may outlive its own iteration. */
  private def parseOneStats(s: String): org.json4s.JValue =
    try org.json4s.jackson.JsonMethods.parse(s)
    catch { case _: Exception => org.json4s.JNothing }

  /** One key column's typed-bounds extractor over the pre-parsed stats.
    * Pruning must only ever SHRINK the set on evidence that parses: a
    * file whose stats are missing, malformed, or of an unexpected JSON
    * type for the column's declared type yields None (-> unconditional
    * candidate: dropping it would keep its matched base row while the
    * change row inserts — duplicate keys). Integral bounds compare as
    * exact longs, never through Double (whose 2^53 mantissa cannot
    * represent every long). */
  private def keyColumnPruning(
      cat: graft.sources.StaticCatalog, keyCol: String): KeyColumnPruning = {
    import org.json4s._
    import org.apache.spark.sql.types._
    // stats are keyed by the column's PHYSICAL name (what the files
    // store — identity unless the column was renamed)
    val keyPhys = graft.sources.ColumnMapping.physicalName(cat.schema(keyCol))
    val keyType = cat.schema(keyCol).dataType
    def longOf(v: JValue): Option[Long] = v match {
      case JInt(x) if x.isValidLong => Some(x.toLong)
      case JLong(x)                 => Some(x)
      case _                        => None // non-integral stats for an integral key
    }
    def doubleOf(v: JValue): Option[Double] = v match {
      case JInt(x)     => Some(x.toDouble)
      case JLong(x)    => Some(x.toDouble)
      case JDouble(x)  => Some(x)
      case JDecimal(x) => Some(x.toDouble)
      case _           => None
    }
    def stringOf(v: JValue): Option[String] = v match {
      case JString(s) => Some(s)
      case _          => None
    }
    def boundsOf(j: JValue): Option[(Any, Any)] =
      (j \ "minValues" \ keyPhys, j \ "maxValues" \ keyPhys) match {
        case (JNothing, _) | (_, JNothing) => None
        case (mn, mx) => keyType match {
          case ByteType | ShortType | IntegerType | LongType =>
            for (lo <- longOf(mn); hi <- longOf(mx)) yield (lo, hi)
          case FloatType | DoubleType =>
            for (lo <- doubleOf(mn); hi <- doubleOf(mx)) yield (lo, hi)
          case StringType =>
            for (lo <- stringOf(mn); hi <- stringOf(mx)) yield (lo, hi)
          case _ => None // unprunable key type
        }
      }
    KeyColumnPruning(keyCol, j => boundsOf(j), keyType)
  }

  /** One column's surviving candidate raws: the column's distinct touched
    * keys joined against the live files' logged (min, max) ranges
    * (metadata-sized, broadcast). Boundless files survive unconditionally. */
  private def pruneOneColumn(
      spark: org.apache.spark.sql.SparkSession,
      withBounds: Seq[(String, Option[(Any, Any)])],
      keys: DataFrame,
      keyType: org.apache.spark.sql.types.DataType): Set[String] = {
    import org.apache.spark.sql.types._
    val (ranged, unconditional0) = withBounds.partition(_._2.isDefined)
    val unconditional = unconditional0.map(_._1)
    val matchedRaws: Seq[String] =
      if (ranged.isEmpty) Nil
      else {
        import spark.implicits._
        val bounds = ranged.collect { case (raw, Some((lo, hi))) => (raw, lo, hi) }
        val rangesDf = keyType match {
          case ByteType | ShortType | IntegerType | LongType =>
            bounds.map { case (raw, lo, hi) =>
              (raw, lo.asInstanceOf[Long], hi.asInstanceOf[Long])
            }.toDF("__raw", "__mn", "__mx")
          case FloatType | DoubleType =>
            bounds.map { case (raw, lo, hi) =>
              (raw, lo.asInstanceOf[Double], hi.asInstanceOf[Double])
            }.toDF("__raw", "__mn", "__mx")
          case _ =>
            bounds.map { case (raw, lo, hi) =>
              (raw, lo.asInstanceOf[String], hi.asInstanceOf[String])
            }.toDF("__raw", "__mn", "__mx")
        }
        keys.join(broadcast(rangesDf),
            col("__k") >= col("__mn") && col("__k") <= col("__mx"))
          .select("__raw").distinct().collect().map(_.getString(0)).toSeq
      }
    (unconditional ++ matchedRaws).toSet
  }

  /** COMPOSITE-KEY candidate pruning: intersect the per-column verdicts.
    * A file can hold a row matching some change tuple only if EVERY key
    * column's logged (min, max) admits some change value of that column —
    * the contrapositive makes any single column's disjointness a sound
    * prune, so the intersection is a sound (and tighter) candidate set.
    * The snapshot metadata (live map, stats) is fetched ONCE and the
    * stats JSON parsed ONCE for all columns (seam-counted:
    * [[statsParsePasses]]); per column the only repeated work is one
    * broadcast range-join over metadata-sized inputs. */
  private def pruneCandidatesByKeys(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      snapVer: Long, cat: graft.sources.StaticCatalog,
      changes: DataFrame, keyCols: Seq[String]): KeyPruning = {
    import org.apache.hadoop.fs.Path
    import graft.sources.{DeltaCatalog, SizedFile}
    val ver = if (snapVer >= 0) Some(snapVer) else None
    val liveRaw = DeltaCatalog.liveRawAt(spark, tablePath, ver)
    val statsByRaw = DeltaCatalog.statsByRaw(spark, tablePath, ver)
    val liveSorted = liveRaw.keys.toSeq.sorted
    val columns = keyCols.map(k => keyColumnPruning(cat, k))
    // ONE pass over the live set: each file's stats JSON is parsed once
    // and reduced to EVERY key column's typed bounds immediately — the
    // AST never outlives its iteration (10^6 retained json4s trees would
    // be a multi-GB driver residency), and the pass count is the seam
    // the one-parse-per-apply spec pins
    countStatsParsePass()
    val boundsBuilders =
      columns.map(_ => Map.newBuilder[String, (Any, Any)])
    liveSorted.foreach { raw =>
      statsByRaw.get(raw).foreach { stats =>
        val j = parseOneStats(stats)
        columns.iterator.zip(boundsBuilders.iterator).foreach {
          case (c, b) => c.boundsOf(j).foreach(bb => b += raw -> bb)
        }
      }
    }
    val boundsPerColumn = boundsBuilders.map(_.result())
    val keep = columns.zip(boundsPerColumn).map { case (c, bounds) =>
      val withBounds = liveSorted.map(raw => raw -> bounds.get(raw))
      pruneOneColumn(spark,
        withBounds, changes.select(col(c.keyCol).as("__k")).distinct(), c.keyType)
    }.reduce(_ intersect _)
    val candRaws = liveSorted.filter(keep)
    val partitionCols = cat.partitionColumns
    val candFiles = candRaws.map { raw =>
      val (size, pv) = liveRaw(raw)
      SizedFile(DeltaCatalog.fileKey(tablePath, raw), size,
        partitionCols.map(c => pv.getOrElse(c, DeltaCatalog.NullPartitionValue)))
    }
    KeyPruning(candRaws, candFiles, columns)
  }

  /** The concurrent-append probe (WriteSerializable) for a keyed rewrite:
    * a file committed since the snapshot conflicts UNLESS its logged
    * bounds prove it disjoint from the touched keys' per-column [min,
    * max] envelopes — its rows could carry a key this operation matched
    * against the OLD base, and re-committing would silently duplicate or
    * miss them. EVERY key column's evidence counts: all change tuples'
    * values for column c lie inside c's envelope, so a file whose logged
    * range for ANY ONE column misses that envelope cannot hold a
    * matching composite key (disjointness in one coordinate is
    * disjointness of the tuples) — a concurrent append disjoint only in
    * the SECOND key column commits without a retry, where r12's
    * leading-column-only probe throttled every concurrent writer under a
    * low-cardinality leading key. Still conservative by construction:
    * unparseable bounds conflict; envelopes (not exact key sets) may
    * over-reject, never under-reject. `envelopes` aligns with
    * `pruning.columns`. */
  private def keyEnvelopeProbe(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      pruning: KeyPruning, envelopes: Seq[(Any, Any)])
      : Map[String, (Long, Map[String, String])] => Seq[String] = {
    import org.apache.spark.sql.types._
    import graft.sources.DeltaCatalog
    def disjoint(keyType: DataType, lo: Any, hi: Any, chMin: Any, chMax: Any): Boolean =
      keyType match {
        case ByteType | ShortType | IntegerType | LongType =>
          val (l, h) = (lo.asInstanceOf[Long], hi.asInstanceOf[Long])
          val (cl, ch0) = (chMin.asInstanceOf[Number].longValue,
            chMax.asInstanceOf[Number].longValue)
          h < cl || l > ch0
        case FloatType | DoubleType =>
          val (l, h) = (lo.asInstanceOf[Double], hi.asInstanceOf[Double])
          val (cl, ch0) = (chMin.asInstanceOf[Number].doubleValue,
            chMax.asInstanceOf[Number].doubleValue)
          h < cl || l > ch0
        case _ =>
          val (l, h) = (lo.asInstanceOf[String], hi.asInstanceOf[String])
          val (cl, ch0) = (chMin.asInstanceOf[String], chMax.asInstanceOf[String])
          h < cl || l > ch0
      }
    appended =>
      if (appended.isEmpty) Nil
      else {
        // parse ONLY the appended files' stats, once per file for all
        // columns (AST transient, like the pruning pass)
        val headStats = DeltaCatalog.statsByRaw(spark, tablePath)
        countStatsParsePass()
        appended.keys.toSeq.sorted.filterNot { raw =>
          val j = headStats.get(raw)
            .map(parseOneStats).getOrElse(org.json4s.JNothing)
          pruning.columns.zip(envelopes).exists { case (c, (cl, ch)) =>
            c.boundsOf(j).exists { case (lo, hi) =>
              disjoint(c.keyType, lo, hi, cl, ch)
            }
          }
        }
      }
  }

  /** Delta-native transactional MERGE (copy-on-write upsert): apply a
    * keyed change set to the TABLE — matched rows are replaced by their
    * change row (UPDATE SET *), unmatched change rows are inserted — as
    * ONE commit that removes only the REWRITTEN files and adds their
    * replacements plus the insert files. Time travel to the pre-merge
    * version keeps working (old files stay for VACUUM).
    *
    * The 100 TB property is the file pruning: a candidate file — one that
    * can possibly contain a matched key — is found by joining the change
    * keys against the LOG's per-file (min, max) key ranges
    * (`add.stats`, metadata-sized, broadcast), so a merge that touches 3
    * keys rewrites ~3 files, not the table. Files without a usable key
    * range are conservative candidates. Untouched files are never read,
    * never rewritten, and stay live under their original paths.
    *
    * Contract: `changes` must carry exactly the table's columns (data +
    * partition); change keys must be UNIQUE and non-null (real MERGE's
    * multiple-match ambiguity is an error, not a silent dedup); base keys
    * are assumed unique (a duplicated base key would duplicate its change
    * row — the caller owns key discipline, as in every MERGE). A change
    * row may move a row ACROSS partitions (copy-on-write handles it
    * naturally: the old file is removed whole, the row lands in its new
    * partition's file). Commit races retry conflict-checked like
    * OPTIMIZE: re-commit iff every removed file is still live.
    *
    * Returns the committed version. */
  def deltaMerge(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      changes: DataFrame, keyCol: String): Long =
    deltaMerge(spark, tablePath, changes, Seq(keyCol), None)

  def deltaMerge(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      changes: DataFrame, keyCol: String, txn: Option[(String, Long)]): Long =
    deltaMerge(spark, tablePath, changes, Seq(keyCol), txn)

  /** Composite-key [[deltaMerge]] primary: `keyCols` is the (compound)
    * match key — every CDC entry point takes the same shape the
    * SCD2/reconcile helpers always did. Key discipline (non-null, unique)
    * applies to the TUPLE; candidate pruning intersects the per-column
    * verdicts (a file can hold a matching composite key only if EVERY key
    * column's logged range admits some change value of that column), and
    * the concurrent-append probe intersects the per-column envelopes the
    * same way — an append disjoint in ANY key column commits without a
    * retry; still conservative, never under-rejecting. */
  def deltaMerge(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      changes: DataFrame, keyCols: Seq[String],
      txn: Option[(String, Long)] = None): Long = {
    import org.apache.hadoop.fs.Path
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import org.apache.spark.sql.types._
    import graft.sources.{DeltaCatalog, FsUtil, SizedFile}
    import graft.model.BuzzException
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"merge keys must be non-empty and distinct, got ${keyCols.mkString(",")}")
    val logDir = s"$tablePath/_delta_log"
    // SetTransaction idempotence, the streaming-CDC handshake: a replayed
    // micro-batch whose (appId, version) the log already carries is
    // SKIPPED — exactly-once upsert end to end, like deltaAppend's leg
    txn.foreach { case (appId, txnVer) =>
      if (DeltaCatalog.lastTxnVersion(spark, tablePath, appId).exists(_ >= txnVer))
        return DeltaCatalog.latestVersion(spark, logDir)
    }
    // pin the snapshot FIRST; every read below resolves at this version, so
    // `commitRewrite(snapshotVersion = snapVer)` detects EVERY commit that
    // lands after this point — there is no window a concurrent writer can
    // slip into unchecked
    val snapVer = DeltaCatalog.latestVersion(spark, logDir)
    val cat = DeltaCatalog.fromDeltaLog(spark, tablePath, "__delta_merge",
      versionAsOf = if (snapVer >= 0) Some(snapVer) else None)
    val partitionCols = cat.partitionColumns
    keyCols.foreach(k => if (!cat.schema.fieldNames.contains(k))
      throw new BuzzException.BadRequest(
        s"merge key '$k' is not a data column of $tablePath " +
          s"(data columns: ${cat.schema.fieldNames.mkString(",")})"))
    val ch = partitionCols.foldLeft(changes)((d, c) => d.withColumn(c, col(c).cast("string")))
    val incoming = ch.schema.fields.filterNot(f => partitionCols.contains(f.name))
      .map(f => f.name -> f.dataType.sql).toSeq
    val declared = cat.schema.fields.map(f => f.name -> f.dataType.sql).toSeq
    if (incoming != declared || !partitionCols.forall(ch.columns.contains))
      throw new BuzzException.SchemaMismatch(
        s"merge changes schema ${incoming.mkString(",")} does not match " +
          s"$tablePath's metaData ${declared.mkString(",")} " +
          s"(+ partition cols ${partitionCols.mkString(",")})")
    // key discipline up front, ONE aggregate over the change set: null
    // key components can never match, duplicate key tuples are MERGE's
    // ambiguity error
    val anyKeyNull = keyCols.map(col(_).isNull).reduce(_ || _)
    // one aggregate: count / distinct / null-count, then EVERY key
    // column's (min, max) — the per-column envelopes the concurrent-
    // append probe intersects
    val kstat = ch.agg(
      count(lit(1)),
      (Seq(countDistinct(keyCols.head, keyCols.tail: _*),
        count(when(anyKeyNull, 1))) ++
        keyCols.flatMap(k => Seq(min(col(k)), max(col(k))))): _*).head()
    val envelopes = keyCols.indices.map(i =>
      (kstat.get(3 + 2 * i), kstat.get(4 + 2 * i)))
    if (kstat.getLong(2) > 0)
      throw new BuzzException.BadRequest(
        s"merge changes carry ${kstat.getLong(2)} NULL " +
          s"'${keyCols.mkString(",")}' key(s)")
    if (kstat.getLong(0) != kstat.getLong(1))
      throw new BuzzException.BadRequest(
        s"merge changes carry duplicate '${keyCols.mkString(",")}' keys " +
          s"(${kstat.getLong(0)} rows, ${kstat.getLong(1)} distinct) — ambiguous match")
    if (kstat.getLong(0) == 0L) return DeltaCatalog.latestVersion(spark, logDir)

    val pruning = pruneCandidatesByKeys(spark, tablePath, snapVer, cat, ch, keyCols)
    val candRaws = pruning.candRaws
    val candFiles = pruning.candFiles

    // copy-on-write: candidate rows full-outer the change set on the key;
    // a matched row is REPLACED by its change row, unmatched change rows
    // insert. Untouched files never enter the plan.
    val outCols = cat.schema.fieldNames.toSeq ++ partitionCols
    val keyEq = keyCols.map(k => col(s"b.$k") === col(s"c.$k")).reduce(_ && _)
    val baseCand = cat.read(spark, candFiles).select(outCols.map(col): _*).as("b")
    val merged = baseCand
      .join(ch.select(outCols.map(col): _*).as("c"), keyEq, "full_outer")
      .select(outCols.map(n =>
        when(col(s"c.${keyCols.head}").isNotNull, col(s"c.$n"))
          .otherwise(col(s"b.$n")).as(n)): _*)
    val adds = stageIntoTable(merged, tablePath, partitionCols, cat.physicalNames)
    // change-data capture (delta.enableChangeDataFeed): matched rows ship
    // preimage + postimage, unmatched change rows ship as inserts —
    // bounded by the candidates and the change set, never the table
    val cdcAdds =
      if (!cdfActive(spark, tablePath, if (snapVer >= 0) Some(snapVer) else None)) Nil
      else {
        val baseRows = cat.read(spark, candFiles).select(outCols.map(col): _*)
        val chRows = ch.select(outCols.map(col): _*)
        val pre = baseRows.join(chRows.select(keyCols.map(col): _*),
            keyCols, "left_semi")
          .withColumn("_change_type", lit("update_preimage"))
        // postimages via INNER join against base keys, not semi: a
        // duplicated base key rewrites N rows to the change values (the
        // documented caller-owns-uniqueness contract), so the feed must
        // pair N preimages with N postimages or a replica applying it
        // diverges from the table
        val post = chRows.join(baseRows.select(keyCols.map(col): _*),
            keyCols, "inner")
          .withColumn("_change_type", lit("update_postimage"))
        val ins = chRows.join(baseRows.select(keyCols.map(col): _*),
            keyCols, "left_anti")
          .withColumn("_change_type", lit("insert"))
        stageChangeData(spark, tablePath, partitionCols, cat.physicalNames,
          pre.unionByName(post).unionByName(ins)
            .select((outCols :+ "_change_type").map(col): _*))
      }
    val appendProbe = keyEnvelopeProbe(spark, tablePath, pruning, envelopes)
    commitRewrite(spark, tablePath, adds, candRaws,
      StructType(cat.schema.fields), "merge", snapshotVersion = snapVer,
      txn = txn, concurrentAddConflicts = appendProbe,
      operationParams = Map("key" -> keyCols.mkString(",")), cdcAdds = cdcAdds)
  }

  /** APPLY a CHANGE-FEED dialect change set — the table's columns plus
    * `_change_type` ('insert' | 'update_preimage' | 'update_postimage' |
    * 'delete') and optionally `_commit_version` — to the table: MERGE
    * generalized with a DELETE leg, consuming [[deltaChangeFeed]] /
    * `graft-delta-cdf` output directly. This is the CDC-apply half of
    * log-based replication: tail a source table's feed, apply it here,
    * and the tables converge.
    *
    * NETTING: `update_preimage` rows are informational and dropped; when
    * `_commit_version` is present, the LAST change per key wins (an
    * earlier insert then later delete nets to the delete). After netting
    * each key must be unique and non-null — two changes to one key at the
    * same version is the same ambiguity error as MERGE's duplicate keys.
    * A netted 'delete' whose key is absent from the table is a NO-OP
    * (CDC replay is idempotent), never an error.
    *
    * Same 100 TB shape as [[deltaMerge]]: candidate files come from the
    * net keys joined against the log's per-file key ranges (an apply
    * touching 3 keys rewrites ~3 files, not the table), one conflict-
    * checked commit, SetTransaction idempotence via `txn` for exactly-once
    * streaming apply, and CDF capture on THIS table when it opted in
    * (deletes ship the base row as 'delete', updates pre+post, inserts
    * insert — a replica's replica stays consistent). Returns the
    * committed version. */
  def deltaApplyChanges(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      changes: DataFrame, keyCol: String): Long =
    deltaApplyChanges(spark, tablePath, changes, Seq(keyCol), None)

  def deltaApplyChanges(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      changes: DataFrame, keyCol: String, txn: Option[(String, Long)]): Long =
    deltaApplyChanges(spark, tablePath, changes, Seq(keyCol), txn)

  /** Composite-key [[deltaApplyChanges]] primary — netting, key
    * discipline, candidate pruning and the concurrent-append probe all
    * operate on the key TUPLE (see [[deltaMerge]]'s composite notes).
    * `allowMissingColumns` opts into the ADDITIVE-EVOLUTION seam: dst
    * data columns absent from the change set project as typed NULLs
    * (what replication's chunked resume needs); the DEFAULT is the loud
    * SchemaMismatch — a direct caller's accidentally-dropped column must
    * never silently null out matched rows' values. */
  def deltaApplyChanges(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      changes: DataFrame, keyCols: Seq[String],
      txn: Option[(String, Long)] = None,
      allowMissingColumns: Boolean = false): Long =
    deltaApplyChangesMetrics(spark, tablePath, changes, keyCols, txn,
      allowMissingColumns).version

  /** One keyed apply's observability — the CDC counterpart of
    * [[graft.plans.BuzzEngine]]'s per-worker query metrics (reference
    * precedent: hbee_service.rs:45-52 reports each worker's scan work):
    * `version` the committed dst version (the current head when the
    * apply was an idempotent txn replay or netted to zero changes),
    * `netChanges` rows in the netted change set, `filesScanned` the
    * pruned candidate files read, `filesRewritten` candidates
    * removed+replaced — EQUAL to `filesScanned` today BY CONSTRUCTION
    * (pure copy-on-write rewrites every candidate it reads); the two
    * fields exist separately for a future merge-on-read apply, where a
    * scanned-but-untouched candidate would diverge them. `filesAdded`
    * is the replacement + insert files committed. The numbers ride the
    * commit's operationParameters, so `deltaHistory` answers "what did
    * each apply cost" long after the call returned. */
  final case class ApplyMetrics(
      version: Long, netChanges: Long, filesScanned: Long,
      filesRewritten: Long, filesAdded: Long)

  /** [[deltaApplyChanges]] returning [[ApplyMetrics]] instead of just the
    * version — what replication sums per chunk into its
    * [[ReplicateReport]]. */
  def deltaApplyChangesMetrics(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      changes: DataFrame, keyCols: Seq[String],
      txn: Option[(String, Long)] = None,
      allowMissingColumns: Boolean = false): ApplyMetrics = {
    import org.apache.spark.sql.types._
    import graft.sources.DeltaCatalog
    import graft.model.BuzzException
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"apply keys must be non-empty and distinct, got ${keyCols.mkString(",")}")
    val logDir = s"$tablePath/_delta_log"
    txn.foreach { case (appId, txnVer) =>
      if (DeltaCatalog.lastTxnVersion(spark, tablePath, appId).exists(_ >= txnVer))
        return ApplyMetrics(DeltaCatalog.latestVersion(spark, logDir), 0L, 0L, 0L, 0L)
    }
    if (!changes.columns.contains("_change_type"))
      throw new BuzzException.BadRequest(
        "deltaApplyChanges: changes carry no _change_type column — for a " +
          "plain keyed upsert use deltaMerge")
    val snapVer = DeltaCatalog.latestVersion(spark, logDir)
    val cat = DeltaCatalog.fromDeltaLog(spark, tablePath, "__delta_apply",
      versionAsOf = if (snapVer >= 0) Some(snapVer) else None)
    val partitionCols = cat.partitionColumns
    keyCols.foreach(k => if (!cat.schema.fieldNames.contains(k))
      throw new BuzzException.BadRequest(
        s"apply key '$k' is not a data column of $tablePath " +
          s"(data columns: ${cat.schema.fieldNames.mkString(",")})"))
    val hasVer = changes.columns.contains("_commit_version")
    // partition columns are checked BEFORE the cast fold (col() on a
    // missing name is a raw AnalysisException) and are never defaulted:
    // every change row must say which partition it lands in
    val missingPart = partitionCols.filterNot(changes.columns.contains)
    if (missingPart.nonEmpty)
      throw new BuzzException.SchemaMismatch(
        s"apply changes lack partition column(s) ${missingPart.mkString(", ")} " +
          s"of $tablePath — partition columns cannot be defaulted")
    val ch0 = partitionCols.foldLeft(changes)((d, c) =>
      d.withColumn(c, col(c).cast("string")))
    val metaCols = Seq("_change_type") ++ (if (hasVer) Seq("_commit_version") else Nil)
    val incoming = ch0.schema.fields
      .filterNot(f => partitionCols.contains(f.name) || metaCols.contains(f.name))
      .map(f => f.name -> f.dataType.sql).toSeq
    // the ADDITIVE-EVOLUTION seam: a change set missing dst DATA columns
    // is a feed from before the source's ADD COLUMN — reachable in
    // chunked replication when a crashed run already evolved the replica
    // and the resume's smaller chunk ends before the evolution commit.
    // Those rows' columns did not exist at their commits, so under
    // allowMissingColumns they project as typed NULLs (the feed's own
    // conformance) instead of wedging catch-up behind a SchemaMismatch
    // until a manual resync — but ONLY under the flag: for a direct
    // caller a missing column is far more likely a dropped projection,
    // and silently nulling matched rows' values would be data loss.
    // Partition columns cannot be defaulted (every row must land in a
    // partition) and always fail; extra, retyped or reordered surviving
    // columns fail exactly as before.
    val missingData = cat.schema.fields.toSeq.filterNot(f => ch0.columns.contains(f.name))
    if (missingData.nonEmpty && !allowMissingColumns)
      throw new BuzzException.SchemaMismatch(
        s"apply changes lack data column(s) " +
          s"${missingData.map(_.name).mkString(", ")} of $tablePath — a " +
          "pre-evolution feed chunk may pass allowMissingColumns = true " +
          "to project them as typed NULLs; anything else should fix the " +
          "change set (or deltaResync to converge from snapshots)")
    val declared = cat.schema.fields.map(f => f.name -> f.dataType.sql).toSeq
      .filterNot { case (n, _) => missingData.exists(_.name == n) }
    if (incoming != declared || !partitionCols.forall(ch0.columns.contains))
      throw new BuzzException.SchemaMismatch(
        s"apply changes schema ${incoming.mkString(",")} does not match " +
          s"$tablePath's metaData ${declared.mkString(",")} " +
          s"(+ partition cols ${partitionCols.mkString(",")})")
    val chc = missingData.foldLeft(ch0)((d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType)))
    // contract check in ONE pass over the distinct (type, version-null)
    // pairs: an unknown or NULL _change_type, or a NULL _commit_version,
    // must fail loudly — the netting below would otherwise silently DROP
    // such rows (null never equals the per-key max, null <> 'x' is null)
    val badTypes = ch0.select(col("_change_type"),
        if (hasVer) col("_commit_version").isNull else lit(false))
      .distinct().collect()
      .map(r => (Option(r.getString(0)).getOrElse("NULL"), r.getBoolean(1)))
    val unknown = badTypes.map(_._1)
      .filterNot(Set("insert", "update_preimage", "update_postimage", "delete"))
    if (unknown.nonEmpty)
      throw new BuzzException.BadRequest(
        s"deltaApplyChanges: unknown _change_type value(s) ${unknown.sorted.mkString(", ")}")
    if (badTypes.exists(_._2))
      throw new BuzzException.BadRequest(
        "deltaApplyChanges: NULL _commit_version row(s) — the netting " +
          "order is undefined for them; drop the column for an unordered " +
          "change set, or fill the version")
    // NET the feed: preimages drop, then the last change per key wins.
    // The vmax join matches keys NULL-SAFELY (<=>): a NULL key component
    // must survive netting to reach the loud NULL-key check below —
    // null-unsafe equality would silently DISCARD null-keyed changes
    // instead of rejecting them as the key-discipline contract promises.
    val nonPre = chc.filter(col("_change_type") =!= "update_preimage")
    val last =
      if (!hasVer) nonPre
      else {
        val vmax = nonPre.groupBy(keyCols.map(k => col(k).as(s"__k_$k")): _*)
          .agg(max(col("_commit_version")).as("__vmax"))
        nonPre.join(vmax,
          keyCols.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _) &&
            col("_commit_version") === col("__vmax"))
          .drop(keyCols.map(k => s"__k_$k") :+ "__vmax": _*)
      }
    // key discipline over the NET set: nulls never match; a key still
    // duplicated after netting (same winning version, or no version
    // column) is ambiguous, exactly like MERGE
    val anyKeyNull = keyCols.map(col(_).isNull).reduce(_ || _)
    val kstat = last.agg(
      count(lit(1)),
      (Seq(countDistinct(keyCols.head, keyCols.tail: _*),
        count(when(anyKeyNull, 1))) ++
        keyCols.flatMap(k => Seq(min(col(k)), max(col(k))))): _*).head()
    val envelopes = keyCols.indices.map(i =>
      (kstat.get(3 + 2 * i), kstat.get(4 + 2 * i)))
    if (kstat.getLong(2) > 0)
      throw new BuzzException.BadRequest(
        s"apply changes carry ${kstat.getLong(2)} NULL " +
          s"'${keyCols.mkString(",")}' key(s)")
    if (kstat.getLong(0) != kstat.getLong(1))
      throw new BuzzException.BadRequest(
        s"apply changes net to duplicate '${keyCols.mkString(",")}' keys " +
          s"(${kstat.getLong(0)} rows, ${kstat.getLong(1)} distinct) — ambiguous")
    if (kstat.getLong(0) == 0L)
      return ApplyMetrics(DeltaCatalog.latestVersion(spark, logDir), 0L, 0L, 0L, 0L)

    val pruning = pruneCandidatesByKeys(spark, tablePath, snapVer, cat, last, keyCols)

    // generalized copy-on-write: matched delete drops the row, matched
    // upsert replaces it, unmatched upsert inserts, unmatched delete
    // no-ops. Untouched files never enter the plan.
    val outCols = cat.schema.fieldNames.toSeq ++ partitionCols
    val keyEq = keyCols.map(k => col(s"b.$k") === col(s"c.$k")).reduce(_ && _)
    val baseCand = cat.read(spark, pruning.candFiles)
      .select(outCols.map(col): _*).as("b")
    val chAll = last.select((outCols :+ "_change_type").map(col): _*).as("c")
    val rewritten = baseCand
      .join(chAll, keyEq, "full_outer")
      .filter(col("c._change_type").isNull || col("c._change_type") =!= "delete")
      .select(outCols.map(n =>
        when(col(s"c.${keyCols.head}").isNotNull, col(s"c.$n"))
          .otherwise(col(s"b.$n")).as(n)): _*)
    val adds = stageIntoTable(rewritten, tablePath, partitionCols, cat.physicalNames)
    // CDF capture on THIS table: updates ship pre+post, inserts insert,
    // matched deletes ship the BASE row as 'delete' — bounded by the
    // candidates and the change set, never the table
    val cdcAdds =
      if (!cdfActive(spark, tablePath, if (snapVer >= 0) Some(snapVer) else None)) Nil
      else {
        val baseRows = cat.read(spark, pruning.candFiles).select(outCols.map(col): _*)
        val ups = last.filter(col("_change_type") =!= "delete")
          .select(outCols.map(col): _*)
        val delKeys = last.filter(col("_change_type") === "delete")
          .select(keyCols.map(col): _*)
        val pre = baseRows.join(ups.select(keyCols.map(col): _*),
            keyCols, "left_semi")
          .withColumn("_change_type", lit("update_preimage"))
        val post = ups.join(baseRows.select(keyCols.map(col): _*),
            keyCols, "inner")
          .withColumn("_change_type", lit("update_postimage"))
        val ins = ups.join(baseRows.select(keyCols.map(col): _*),
            keyCols, "left_anti")
          .withColumn("_change_type", lit("insert"))
        val del = baseRows.join(delKeys, keyCols, "left_semi")
          .withColumn("_change_type", lit("delete"))
        stageChangeData(spark, tablePath, partitionCols, cat.physicalNames,
          pre.unionByName(post).unionByName(ins).unionByName(del)
            .select((outCols :+ "_change_type").map(col): _*))
      }
    val appendProbe = keyEnvelopeProbe(spark, tablePath, pruning, envelopes)
    val v = commitRewrite(spark, tablePath, adds, pruning.candRaws,
      StructType(cat.schema.fields), "apply changes to",
      snapshotVersion = snapVer, txn = txn,
      concurrentAddConflicts = appendProbe,
      operationParams = Map(
        "key" -> keyCols.mkString(","),
        "netChanges" -> kstat.getLong(0).toString,
        "filesRewritten" -> pruning.candRaws.size.toString,
        "filesAdded" -> adds.size.toString), cdcAdds = cdcAdds)
    ApplyMetrics(v, kstat.getLong(0), pruning.candRaws.size.toLong,
      pruning.candRaws.size.toLong, adds.size.toLong)
  }

  /** REPLICATE `srcPath` into `dstPath` by tailing the source's row-level
    * change feed — log-based CDC replication, the batch twin of
    * `graft-delta-cdf` → [[deltaApplyChanges]]:
    *
    *   - first call BOOTSTRAPS: one snapshot read of src at its head,
    *     appended into a fresh dst (same partitioning);
    *   - each later call reads ONLY the feed of (lastApplied, srcHead] —
    *     [[deltaChangeFeed]], bounded by the new commits' changes, never
    *     the table — nets it and applies it in ONE commit;
    *   - the applied-through src version rides the dst commit as a
    *     SetTransaction (`appId = "graft-replicate:" + srcPath`), so the
    *     watermark is ATOMIC with the data: a crashed/replayed call can
    *     never double-apply (idempotence), and calling with nothing new
    *     is a no-op;
    *   - a dst that exists WITHOUT the watermark fails loudly (it is not
    *     this source's replica — applying a feed to it would corrupt it).
    *
    * Row-level DML on src must have been CDF-captured
    * (`delta.enableChangeDataFeed`) — a rewrite commit without cdc
    * actions fails loudly in the feed, naming the fix. Returns dst's
    * committed version (or its head when already caught up). */
  def deltaReplicate(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String, keyCol: String): Long =
    deltaReplicate(spark, srcPath, dstPath, Seq(keyCol))

  /** Composite-key / bounded-catch-up [[deltaReplicate]] primary:
    * `keyCols` is the replica's (compound) primary key;
    * `maxVersionsPerApply` CHUNKS a long catch-up — a replica that lagged
    * 10⁴ commits applies them as ⌈lag / N⌉ successive feeds, each its own
    * conflict-checked dst commit carrying the chunk-end SetTransaction
    * watermark, so (a) per-apply driver work (feed walk, netting, key
    * stats) is bounded by the chunk however long the lag, and (b) a crash
    * mid-catch-up resumes AT THE LAST CHUNK's watermark instead of
    * redoing the whole span — the idempotence the watermark already
    * guarantees makes chunked commits exactly as safe as one. */
  def deltaReplicate(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String, keyCols: Seq[String],
      maxVersionsPerApply: Int = 1000): Long =
    deltaReplicateReport(spark, srcPath, dstPath, keyCols,
      maxVersionsPerApply).version

  /** What one [[deltaReplicate]] call DID — the replication counterpart
    * of the engine's per-worker query metrics (every chunk's numbers
    * also ride its dst commit's operationParameters, so `deltaHistory`
    * keeps the per-apply record durably): `version` dst's committed
    * head, `chunks` watermarked applies performed, `versions` source
    * commits consumed this call, `rowsNetted` / `filesRewritten` /
    * `filesAdded` summed over the chunks' [[ApplyMetrics]] (a resync
    * fallback's one snapshot-diff apply contributes its metrics and
    * sets `resynced` — it is NOT a maxVersionsPerApply-bounded chunk,
    * so it does not count in `chunks`), `bootstrapped` / `resynced`
    * which leg ran (a bootstrap's one snapshot append and an untouched
    * caught-up call both report zero chunk sums). */
  final case class ReplicateReport(
      version: Long, chunks: Long, versions: Long, rowsNetted: Long,
      filesRewritten: Long, filesAdded: Long,
      bootstrapped: Boolean, resynced: Boolean)

  /** [[deltaReplicate]] returning the full [[ReplicateReport]]. */
  def deltaReplicateReport(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String, keyCols: Seq[String],
      maxVersionsPerApply: Int = 1000): ReplicateReport = {
    import graft.sources.DeltaCatalog
    import graft.model.BuzzException
    require(maxVersionsPerApply >= 1,
      s"maxVersionsPerApply must be >= 1, got $maxVersionsPerApply")
    val appId = s"graft-replicate:$srcPath"
    val srcHead = DeltaCatalog.latestVersion(spark, s"$srcPath/_delta_log")
    if (srcHead < 0)
      throw new BuzzException.BadRequest(
        s"deltaReplicate: source $srcPath has no Delta log")
    val dstHead = DeltaCatalog.latestVersion(spark, s"$dstPath/_delta_log")
    if (dstHead < 0) {
      // bootstrap: snapshot at srcHead, watermark atomic with the data
      val srcCat = DeltaCatalog.fromDeltaLog(spark, srcPath, "__replicate_src",
        versionAsOf = Some(srcHead))
      val v = deltaAppend(srcCat.read(spark, srcCat.files), dstPath,
        partitionCols = srcCat.partitionColumns,
        txn = Some((appId, srcHead)), operationName = "REPLICATE BOOTSTRAP")
      return ReplicateReport(v, 0L, 0L, 0L, 0L, 0L,
        bootstrapped = true, resynced = false)
    }
    val applied = DeltaCatalog.lastTxnVersion(spark, dstPath, appId).getOrElse(
      throw new BuzzException.BadRequest(
        s"deltaReplicate: $dstPath exists but carries no '$appId' " +
          "watermark — it is not a replica of this source; replicate " +
          "into a fresh path (or drop the table) instead"))
    if (applied >= srcHead)
      return ReplicateReport(dstHead, 0L, 0L, 0L, 0L, 0L,
        bootstrapped = false, resynced = false)
    var from = applied
    var result = dstHead
    var chunks = 0L
    var rows = 0L
    var rewritten = 0L
    var added = 0L
    while (from < srcHead) {
      val chunkEnd = math.min(from + maxVersionsPerApply, srcHead)
      // is the chunk's ROW-LEVEL feed expressible? A commit that rewrites
      // rows WITHOUT cdc actions — a RESTORE, or row-level DML from before
      // delta.enableChangeDataFeed — has no recorded feed; fall back to the
      // keyed SNAPSHOT DIFF, which is correct across any history (one
      // tail-IO pass over the chunk's commit JSONs decides, deterministic —
      // no exception-driven control flow). The resync converges dst to
      // srcHead in one shot, so it also ends the catch-up loop.
      val expressible = ((from + 1) to chunkEnd).forall { v =>
        val ca = parseCommitActions(spark, srcPath, v)
        ca.cdcs.nonEmpty || !(ca.adds.exists(_._5) && ca.removes.exists(_._2))
      }
      if (!expressible) {
        // the resync may converge PAST this call's pinned srcHead (it
        // re-reads its own head); versions counts what it really consumed.
        // `chunks` stays the feed-apply count — the resync leg is not a
        // maxVersionsPerApply-bounded chunk; `resynced` records it ran
        val (m, stamped) = resyncMetrics(spark, srcPath, dstPath, keyCols)
        return ReplicateReport(m.version, chunks,
          math.max(stamped, srcHead) - applied,
          rows + m.netChanges, rewritten + m.filesRewritten,
          added + m.filesAdded, bootstrapped = false, resynced = true)
      }
      val feed = deltaChangeFeed(spark, srcPath, from, chunkEnd)
      // additive schema evolution carried by the feed evolves dst FIRST
      // (renames/drops already failed loudly in the feed walk)
      evolveReplicaSchema(spark, dstPath, feed)
      val m = deltaApplyChangesMetrics(spark, dstPath, feed, keyCols,
        txn = Some((appId, chunkEnd)), allowMissingColumns = true)
      chunks += 1L
      rows += m.netChanges
      rewritten += m.filesRewritten
      added += m.filesAdded
      // a chunk netting to zero changes (OPTIMIZE/metadata only) commits
      // nothing — advance the watermark with a txn-only commit or every
      // later call re-reads the same span
      result =
        if (DeltaCatalog.lastTxnVersion(spark, dstPath, appId).forall(_ < chunkEnd))
          commitWatermark(spark, dstPath, appId, chunkEnd)
        else m.version
      from = chunkEnd
    }
    ReplicateReport(result, chunks, srcHead - applied, rows, rewritten, added,
      bootstrapped = false, resynced = false)
  }

  /** ADDITIVE schema evolution for a replica: when `feed` (a change-feed
    * or snapshot-diff change set) carries columns dst does not have yet —
    * the source was ALTERed ADD COLUMN since the last apply — evolve dst
    * BEFORE applying, via [[deltaAppend]]'s evolution commit (zero data
    * files, merged schema re-declared under the table's id, new columns
    * forced nullable with fresh physical names on mapped tables). Old
    * replica rows read the new column as null, exactly like the source's
    * own pre-evolution rows. Non-additive changes never reach here:
    * renames/drops fail loudly in the feed walk, and a retype fails in
    * deltaAppend's evolution check. No-op when dst already has every feed
    * column. */
  private def evolveReplicaSchema(
      spark: org.apache.spark.sql.SparkSession, dstPath: String,
      feed: DataFrame): Unit = {
    import graft.sources.DeltaCatalog
    val dstCat = DeltaCatalog.fromDeltaLog(spark, dstPath, "__replicate_evolve")
    val dstCols = (dstCat.schema.fieldNames ++ dstCat.partitionColumns).toSet
    val feedDataCols = feed.schema.fields.toSeq.filterNot(f =>
      f.name == "_change_type" || f.name == "_commit_version")
    if (feedDataCols.forall(f => dstCols(f.name))) return
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(feedDataCols))
    deltaAppend(empty, dstPath, partitionCols = dstCat.partitionColumns,
      mergeSchema = true, operationName = "REPLICATE EVOLVE")
    ()
  }

  /** Advance a SetTransaction watermark with a TXN-ONLY commit — what a
    * replication span that NETS TO ZERO CHANGES (only OPTIMIZE /
    * metadata commits, or a diff that found nothing) records: no
    * data-touching apply happens, but the applied-through version must
    * still land or every later call re-reads the same span. Removes/adds
    * nothing, so it commutes with everything — race losses just retry at
    * the next version. */
  private def commitWatermark(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      appId: String, txnVer: Long): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import graft.sources.{DeltaCatalog, FsUtil}
    import graft.model.BuzzException
    val logDir = s"$tablePath/_delta_log"
    DeltaCatalog.assertWriterProtocol(spark, tablePath, "stamp watermark on")
    val actions: Seq[JValue] = Seq(
      commitInfoAction("APPLY CHANGES", Map("netChanges" -> "0")),
      JObject("txn" -> JObject(
        "appId" -> JString(appId), "version" -> JLong(txnVer))))
    val body = actions.map(a => JsonMethods.compact(JsonMethods.render(a)))
      .mkString("", "\n", "\n")
    var attempt = 0
    while (attempt < 10) {
      val head = DeltaCatalog.latestVersion(spark, logDir)
      if (DeltaCatalog.lastTxnVersion(spark, tablePath, appId).exists(_ >= txnVer))
        return head // a concurrent call already advanced it
      if (FsUtil.publishCommit(spark, logDir, head + 1, body)) return head + 1
      attempt += 1
      Thread.sleep(10L * attempt)
    }
    throw new BuzzException.ExecutionError(
      s"lost the watermark commit race 10 times under $logDir — giving up")
  }

  /** CONVERGE `dstPath` to `srcPath`'s current snapshot by KEYED DIFF —
    * the repair leg of replication, correct across ANY source history
    * (RESTORE, row-level DML from before CDF enablement, or a replica
    * someone wrote to directly): read both snapshots ONCE, full-outer on
    * the key, emit the MINIMAL change set (src-only rows insert, dst-only
    * rows delete, null-safe-differing rows update), and apply it in one
    * commit under the same `graft-replicate:` watermark
    * [[deltaReplicate]] uses — the two compose freely, and replicate
    * itself falls back to this when a feed span is not CDC-expressible.
    *
    * Cost is one scan of EACH snapshot plus a key-shuffled join — the
    * feed path is cheaper when available (bounded by the changes); this
    * is the path whose cost is bounded by the TABLES. The apply still
    * rewrites only candidate files, so an almost-converged resync
    * commits almost nothing (a fully-converged one commits a txn-only
    * watermark). DESTRUCTIVE toward dst by design (dst-only rows are
    * deleted); calling it directly on a non-replica adopts the table as
    * a replica (stamps the watermark). A src whose keys are not unique
    * fails in the apply's key discipline. Returns dst's committed
    * version. */
  def deltaResync(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String, keyCol: String): Long =
    deltaResync(spark, srcPath, dstPath, Seq(keyCol))

  /** Composite-key [[deltaResync]] primary. */
  def deltaResync(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String, keyCols: Seq[String]): Long =
    resyncMetrics(spark, srcPath, dstPath, keyCols)._1.version

  /** [[deltaResync]] with the diff-apply's [[ApplyMetrics]] and the SRC
    * HEAD it actually converged to/stamped — resync re-reads its own
    * head, which can be NEWER than a falling-back replicate's pinned
    * snapshot, and the report's `versions` must count what was really
    * consumed. */
  private def resyncMetrics(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String, keyCols: Seq[String]): (ApplyMetrics, Long) = {
    import graft.sources.DeltaCatalog
    import graft.model.BuzzException
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"resync keys must be non-empty and distinct, got ${keyCols.mkString(",")}")
    val appId = s"graft-replicate:$srcPath"
    val srcHead = DeltaCatalog.latestVersion(spark, s"$srcPath/_delta_log")
    if (srcHead < 0)
      throw new BuzzException.BadRequest(
        s"deltaResync: source $srcPath has no Delta log")
    if (DeltaCatalog.latestVersion(spark, s"$dstPath/_delta_log") < 0) {
      val srcCat = DeltaCatalog.fromDeltaLog(spark, srcPath, "__resync_src",
        versionAsOf = Some(srcHead))
      return (ApplyMetrics(
        deltaAppend(srcCat.read(spark, srcCat.files), dstPath,
          partitionCols = srcCat.partitionColumns,
          txn = Some((appId, srcHead)), operationName = "REPLICATE BOOTSTRAP"),
        0L, 0L, 0L, 0L), srcHead)
    }
    val srcCat = DeltaCatalog.fromDeltaLog(spark, srcPath, "__resync_src",
      versionAsOf = Some(srcHead))
    // schema agreement BOTH ways before diffing: src missing a replica
    // column is never expressible (fail loudly); src-only columns are the
    // source's ADDITIVE evolution — evolve dst first (the feed path does
    // the same), then diff under the EVOLVED schema so the new column's
    // data replicates instead of being silently projected away
    val srcRead = srcCat.read(spark, srcCat.files)
    val dstCat0 = DeltaCatalog.fromDeltaLog(spark, dstPath, "__resync_dst")
    val missing = (dstCat0.schema.fieldNames.toSeq ++ dstCat0.partitionColumns)
      .filterNot(srcRead.columns.contains)
    if (missing.nonEmpty)
      throw new BuzzException.SchemaMismatch(
        s"deltaResync: source $srcPath lacks replica column(s) " +
          s"${missing.mkString(", ")}")
    evolveReplicaSchema(spark, dstPath, srcRead)
    val dstCat = DeltaCatalog.fromDeltaLog(spark, dstPath, "__resync_dst")
    val cols: Seq[String] =
      dstCat.schema.fieldNames.toSeq ++ dstCat.partitionColumns
    val sDf = srcRead.select(cols.map(col): _*).as("s")
    val dDf = dstCat.read(spark, dstCat.files).select(cols.map(col): _*).as("d")
    val sKey = col(s"s.${keyCols.head}")
    val dKey = col(s"d.${keyCols.head}")
    val keyEq = keyCols.map(k => col(s"s.$k") === col(s"d.$k")).reduce(_ && _)
    // null-safe comparison: a column differing only in nullness differs
    val differs = cols.filterNot(keyCols.contains)
      .map(c => !(col(s"s.$c") <=> col(s"d.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val changes = sDf
      .join(dDf, keyEq, "full_outer")
      .select(cols.map(c =>
        when(sKey.isNotNull, col(s"s.$c")).otherwise(col(s"d.$c")).as(c)) :+
        when(dKey.isNull, lit("insert"))
          .when(sKey.isNull, lit("delete"))
          .when(differs, lit("update_postimage"))
          .otherwise(lit(null)).as("_change_type"): _*)
      .filter(col("_change_type").isNotNull)
    // the SetTransaction guard protects ADVANCING spans from replay; a
    // repair at an src version already stamped (drift at an unchanged
    // source) must still apply — pass no txn, the watermark is already
    // current
    val alreadyStamped =
      DeltaCatalog.lastTxnVersion(spark, dstPath, appId).exists(_ >= srcHead)
    val m = deltaApplyChangesMetrics(spark, dstPath, changes, keyCols,
      txn = if (alreadyStamped) None else Some((appId, srcHead)))
    // an already-converged diff commits nothing: stamp the watermark so
    // replicate's fallback does not re-diff the same span forever
    val outVer =
      if (DeltaCatalog.lastTxnVersion(spark, dstPath, appId).forall(_ < srcHead))
        commitWatermark(spark, dstPath, appId, srcHead)
      else m.version
    (m.copy(version = outVer), srcHead)
  }

  /** A data file a commit adds: its table-relative path, size, Hive
    * partition values and modification time, as the add action records
    * them. */
  private[graft] final case class AddedFile(
      rel: String, size: Long, partitionValues: Seq[(String, String)],
      modificationTime: Long)

  /** Commit a copy-on-write REWRITE (remove `removedRaws`, add `adds` with
    * fresh data-skipping stats) under the OPTIMIZE conflict discipline.
    *
    * `snapshotVersion` is the version the caller READ its live-file set
    * at; the FIRST publish attempt targets `snapshotVersion + 1`, so ANY
    * commit that lands between the snapshot read and this commit — not
    * just a same-version rename loss — forces the conflict checks below.
    * (Deriving the first target from `latestVersion + 1` at commit time
    * would silently absorb an intermediate commit: a concurrent DELETE of
    * one of the rewrite's inputs would have its deleted rows resurrected
    * by the re-added rewrite output with no error.)
    *
    * On losing the race, the rewrite re-commits at the next version iff
    * (a) every file it removes is STILL live (a concurrent commit that
    * rewrote/deleted an input does not commute — re-adding its rows would
    * resurrect deleted data), and (b) `concurrentAddConflicts`, fed the
    * files ADDED since the snapshot, returns empty. Row-level DML (MERGE /
    * DELETE WHERE / UPDATE) passes a predicate/key probe there — a
    * concurrent append whose rows could match the operation must fail
    * loudly (upstream Delta's ConcurrentAppendException under
    * WriteSerializable), not be silently skipped; compaction (OPTIMIZE /
    * ZORDER) commutes with appends and passes the default no-op.
    * Shared by the row-level writers (MERGE, DELETE WHERE, UPDATE) and
    * the layout writers (OPTIMIZE, ZORDER). */
  private[graft] def commitRewrite(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      adds: Seq[AddedFile],
      removedRaws: Seq[String],
      dataSchema: org.apache.spark.sql.types.StructType,
      opName: String,
      snapshotVersion: Long,
      dataChange: Boolean = true,
      txn: Option[(String, Long)] = None,
      concurrentAddConflicts: Map[String, (Long, Map[String, String])] => Seq[String] =
        _ => Nil,
      dvByRel: Map[String, graft.sources.DvDescriptor] = Map.empty,
      protocolActions: Seq[org.json4s.JValue] = Nil,
      operationParams: Map[String, String] = Map.empty,
      cdcAdds: Seq[AddedFile] = Nil): Long = {
    import org.apache.hadoop.fs.Path
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import graft.sources.{DeletionVectors, DeltaCatalog, FsUtil}
    import graft.model.BuzzException
    val logDir = s"$tablePath/_delta_log"
    // the WRITER protocol gate — mirror of the reader-side gate: a table
    // demanding writer semantics this engine lacks must fail loudly here,
    // never commit silently
    DeltaCatalog.assertWriterProtocol(spark, tablePath, opName)
    val statsByPath: Map[String, String] =
      try graft.sources.ZoneMap.deltaFileStats(
        spark, adds.map(a => new Path(tablePath, a.rel).toString),
        // the files store PHYSICAL names (identity unless column-mapped)
        graft.sources.ColumnMapping.toPhysical(dataSchema))
      catch { case scala.util.control.NonFatal(_) => Map.empty }
    val now = System.currentTimeMillis()
    val addActions: Seq[JValue] = adds.map { case AddedFile(rel, size, pv, mtime) =>
      val base: List[(String, JValue)] = List(
        "path" -> JString(DeltaCatalog.encodePath(rel)),
        "size" -> JLong(size),
        "partitionValues" -> JObject(pv.map { case (k, v) => k -> (JString(v): JValue) }.toList),
        // a re-added file whose earlier add carried no time gets the commit's
        "modificationTime" -> JLong(if (mtime > 0) mtime else now),
        "dataChange" -> JBool(dataChange))
      val withStats = statsByPath.get(new Path(tablePath, rel).toString)
        .fold(base)(s => base :+ ("stats" -> (JString(s): JValue)))
      val fields = dvByRel.get(rel).fold(withStats)(d =>
        withStats :+ ("deletionVector" -> DeletionVectors.toJson(d)))
      JObject("add" -> JObject(fields))
    }
    // removes carry the file's PRE-commit DV descriptor (the protocol's
    // remove.deletionVector field): that timestamped tombstone is what
    // lets vacuum date a superseded vector from when it became
    // UNREFERENCED, not from its (arbitrarily older) creation time
    val removedDvs: Map[String, graft.sources.DvDescriptor] =
      if (removedRaws.isEmpty) Map.empty
      else DeltaCatalog.dvsByRaw(spark, tablePath,
        if (snapshotVersion >= 0) Some(snapshotVersion) else None)
    val removeActions: Seq[JValue] = removedRaws.map { raw =>
      val base: List[(String, JValue)] = List(
        "path" -> JString(raw),
        "deletionTimestamp" -> JLong(now),
        "dataChange" -> JBool(dataChange))
      val fields = removedDvs.get(raw).fold(base)(d =>
        base :+ ("deletionVector" -> DeletionVectors.toJson(d)))
      JObject("remove" -> JObject(fields)): JValue
    }
    val txnActions: Seq[JValue] = txn.toSeq.map { case (appId, txnVer) =>
      JObject("txn" -> JObject(
        "appId" -> JString(appId), "version" -> JLong(txnVer)))
    }
    // the protocol's change-data actions: replay ignores them (cdc files
    // are never part of the live set); change-feed readers consume them
    // AUTHORITATIVELY for this commit instead of deriving from add/remove
    val cdcActions: Seq[JValue] = cdcAdds.map { case AddedFile(rel, size, pv, _) =>
      JObject("cdc" -> JObject(List[(String, JValue)](
        "path" -> JString(DeltaCatalog.encodePath(rel)),
        "partitionValues" -> JObject(pv.map { case (k, v) => k -> (JString(v): JValue) }.toList),
        "size" -> JLong(size),
        "dataChange" -> JBool(false))))
    }
    val operation = opName match {
      case "merge"            => "MERGE"
      case "delete"           => "DELETE"
      case "dv-delete"        => "DELETE"
      case "update"           => "UPDATE"
      case "optimize"         => "OPTIMIZE"
      case "zorder"           => "OPTIMIZE ZORDER"
      case "apply changes to" => "APPLY CHANGES"
      case other              => other.toUpperCase(java.util.Locale.ROOT)
    }
    val info = commitInfoAction(operation,
      if (opName == "dv-delete") operationParams + ("mode" -> "merge-on-read")
      else operationParams)
    // removes BEFORE adds: replay applies actions in line order, and a
    // deletion-vector commit re-adds the SAME path it removes — the add
    // must win within the commit (the protocol's reconciliation order)
    val body = (Seq(info) ++ protocolActions ++ txnActions ++ cdcActions ++
        removeActions ++ addActions)
      .map(a => JsonMethods.compact(JsonMethods.render(a)))
      .mkString("", "\n", "\n")
    onBeforePublish()
    // the live set as of the SNAPSHOT the caller planned against —
    // anything live now but absent here was appended concurrently
    lazy val liveAtSnapshot: Set[String] =
      if (snapshotVersion < 0) Set.empty
      else DeltaCatalog.liveRawAt(spark, tablePath, Some(snapshotVersion)).keySet
    var version = snapshotVersion + 1
    var attempt = 0
    val maxAttempts = 10
    while (!FsUtil.publishCommit(spark, logDir, version, body)) {
      attempt += 1
      if (attempt >= maxAttempts)
        throw new BuzzException.ExecutionError(
          s"lost the $opName commit race $maxAttempts times under $logDir — giving up")
      // a concurrent REPLAY of the same streaming batch may have landed
      // this exact commit — idempotence beats conflict detection
      txn.foreach { case (appId, txnVer) =>
        if (DeltaCatalog.lastTxnVersion(spark, tablePath, appId).exists(_ >= txnVer))
          return DeltaCatalog.latestVersion(spark, logDir)
      }
      val liveNow = DeltaCatalog.liveRawAt(spark, tablePath, None)
      val gone = removedRaws.toSet -- liveNow.keySet
      if (gone.nonEmpty)
        throw new BuzzException.ExecutionError(
          s"$opName conflicts with a concurrent commit: ${gone.size} of its " +
            s"input files are no longer live (e.g. ${gone.head}) — rerun " +
            "against the current snapshot")
      // still-live is NOT enough once deletion vectors exist: a concurrent
      // DV delete re-adds an input file AT ITS OWN PATH with a new
      // descriptor, and blindly re-committing would replace that
      // descriptor with this rewrite's view of the file — resurrecting
      // the concurrent delete's rows. Any input whose DV changed since
      // the snapshot conflicts.
      val dvNow = DeltaCatalog.dvsByRaw(spark, tablePath, None)
      lazy val dvAtSnapshot =
        if (snapshotVersion < 0) Map.empty[String, graft.sources.DvDescriptor]
        else DeltaCatalog.dvsByRaw(spark, tablePath, Some(snapshotVersion))
      val dvDrift = removedRaws.filter(raw =>
        dvNow.get(raw) != dvAtSnapshot.get(raw))
      if (dvDrift.nonEmpty)
        throw new BuzzException.ExecutionError(
          s"$opName conflicts with a concurrent commit: ${dvDrift.size} of " +
            s"its input files changed deletion-vector state since snapshot " +
            s"v$snapshotVersion (e.g. ${dvDrift.head}) — rerun against the " +
            "current snapshot")
      // a concurrent metaData/configuration change does NOT commute with a
      // rewrite: the plan AND its capture decisions were made under the
      // snapshot's metadata (a schema evolution changes the projection; a
      // TBLPROPERTIES flip like delta.enableChangeDataFeed or
      // delta.appendOnly changes what this commit is OBLIGED to carry) —
      // upstream Delta's MetadataChangedException. Fail loudly, rerun.
      if (snapshotVersion >= 0) {
        val metaAtSnapshot = (
          DeltaCatalog.storedSchemaAt(spark, tablePath, Some(snapshotVersion)).map(_.json),
          DeltaCatalog.tableConfiguration(spark, tablePath, Some(snapshotVersion)))
        val metaNow = (
          DeltaCatalog.storedSchema(spark, tablePath).map(_.json),
          DeltaCatalog.tableConfiguration(spark, tablePath))
        if (metaNow != metaAtSnapshot)
          throw new BuzzException.ExecutionError(
            s"$opName conflicts with a concurrent metadata change: the " +
              s"table's schema or configuration moved since snapshot " +
              s"v$snapshotVersion — rerun against the current snapshot")
      }
      val appended = liveNow.view.filterKeys(!liveAtSnapshot.contains(_)).toMap
      val conflicting = concurrentAddConflicts(appended)
      if (conflicting.nonEmpty)
        throw new BuzzException.ExecutionError(
          s"$opName conflicts with a concurrent append: ${conflicting.size} " +
            s"file(s) committed since snapshot v$snapshotVersion could hold " +
            s"matching rows (e.g. ${conflicting.head}) — rerun against the " +
            "current snapshot")
      version = DeltaCatalog.latestVersion(spark, logDir) + 1
      Thread.sleep(10L * attempt)
    }
    version
  }

  /** The audit stamp every writer prepends to its commit — the protocol's
    * `commitInfo` action (DESCRIBE HISTORY's raw material). Replay ignores
    * it; [[deltaHistory]] surfaces it. */
  private def commitInfoAction(
      operation: String, params: Map[String, String]): org.json4s.JValue = {
    import org.json4s._
    JObject("commitInfo" -> JObject(
      "timestamp" -> JLong(System.currentTimeMillis()),
      "operation" -> JString(operation),
      "operationParameters" -> JObject(
        params.toList.sortBy(_._1).map { case (k, v) => k -> (JString(v): JValue) }),
      "engineInfo" -> JString("graft")))
  }

  /** DESCRIBE HISTORY: one row per SURVIVING commit file — (version,
    * timestamp, operation, parameters). Operations come from each
    * commit's own `commitInfo` stamp; commits written before stamping (or
    * by other engines) surface operation = null. History is bounded by
    * log retention: commits cleaned into a checkpoint no longer have
    * per-version rows (their net effect lives in the checkpoint), exactly
    * like upstream's DESCRIBE HISTORY after log cleanup. Driver-side
    * O(#commit files) — the log is metadata, never data-sized. */
  def deltaHistory(
      spark: org.apache.spark.sql.SparkSession, tablePath: String): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import graft.sources.FsUtil
    import graft.model.BuzzException
    val logDir = s"$tablePath/_delta_log"
    if (!FsUtil.isDirectory(spark, logDir))
      throw new BuzzException.BadRequest(s"no _delta_log under $tablePath")
    val CommitName = raw"(\d{20})\.json".r
    val rows = FsUtil.listStatus(spark, logDir).flatMap { st =>
      st.getPath.getName match {
        case CommitName(v) =>
          val info = FsUtil.readString(spark, st.getPath.toString).linesIterator
            .filter(_.nonEmpty)
            .map(l => try JsonMethods.parse(l) \ "commitInfo"
              catch { case _: Exception => JNothing })
            .collectFirst { case ci if ci != JNothing => ci }
          def str(j: JValue): Option[String] =
            j match { case JString(s) => Some(s); case _ => None }
          def lng(j: JValue): Option[Long] = j match {
            case JInt(x)  => Some(x.toLong)
            case JLong(x) => Some(x)
            case _        => None
          }
          val params: Map[String, String] = info.map(_ \ "operationParameters") match {
            case Some(JObject(fs)) =>
              fs.collect { case (k, JString(s)) => k -> s }.toMap
            case _ => Map.empty
          }
          Some((v.toLong,
            info.flatMap(ci => lng(ci \ "timestamp"))
              .getOrElse(st.getModificationTime),
            info.flatMap(ci => str(ci \ "operation")).orNull,
            params))
        case _ => None
      }
    }.sortBy(_._1)
    import spark.implicits._
    rows.toSeq.toDF("version", "timestamp", "operation", "parameters")
  }

  /** The reader-v3 feature declaration the mapped/DV'd writers stamp into
    * their commits — an engine that implements neither must fail loudly
    * rather than silently resurrect deleted rows or misread columns.
    *
    * The raise is a UNION with the table's pre-existing protocol, never a
    * replacement: replay takes the LATEST protocol action, so stamping a
    * fixed list would silently DROP a foreign table's declared features
    * (an `appendOnly` obligation would vanish from the log the first time
    * a DV delete touched the table). Per the protocol's upgrade rule, a
    * legacy version tier's implied features are enumerated into the
    * feature lists when crossing into the v3/v7 feature-list form. */
  private def featureProtocol(
      existing: Option[(Long, Long, Seq[String], Seq[String])],
      extraWriter: Set[String] = Set.empty): org.json4s.JValue = {
    import org.json4s._
    val needed = Set("columnMapping", "deletionVectors")
    val (readerFeats, writerFeats) = existing match {
      case None => (needed, needed ++ extraWriter)
      case Some((mr, mw, rf, wf)) =>
        val legacyR = if (mr >= 2 && mr < 3) Set("columnMapping") else Set.empty[String]
        val legacyW =
          (if (mw >= 2 && mw < 7) Set("appendOnly", "invariants") else Set.empty[String]) ++
          (if (mw >= 3 && mw < 7) Set("checkConstraints") else Set.empty[String]) ++
          (if (mw >= 4 && mw < 7) Set("changeDataFeed", "generatedColumns")
           else Set.empty[String]) ++
          (if (mw >= 5 && mw < 7) Set("columnMapping") else Set.empty[String]) ++
          (if (mw >= 6 && mw < 7) Set("identityColumns") else Set.empty[String])
        (needed ++ rf ++ legacyR, needed ++ wf ++ legacyW ++ extraWriter)
    }
    def arr(s: Set[String]) = JArray(s.toList.sorted.map(JString(_): JValue))
    JObject("protocol" -> JObject(
      "minReaderVersion" -> JInt(3), "minWriterVersion" -> JInt(7),
      "readerFeatures" -> arr(readerFeats), "writerFeatures" -> arr(writerFeats)))
  }

  /** [[featureProtocol]] against `tablePath`'s current log head. */
  private def featureProtocol(
      spark: org.apache.spark.sql.SparkSession, tablePath: String): org.json4s.JValue =
    featureProtocol(graft.sources.DeltaCatalog.tableProtocol(spark, tablePath, None))

  /** Test seam: invoked once immediately before [[commitRewrite]]'s first
    * publish attempt, so specs can deterministically interleave a
    * concurrent commit between snapshot read and publish. No-op in
    * production. */
  private[graft] var onBeforePublish: () => Unit = () => ()

  /** Test seam: invoked once immediately after [[deltaCheckpoint]] pins
    * its snapshot version, so specs can deterministically land a commit
    * mid-checkpoint and prove the pinned replay never mixes state across
    * versions. No-op in production. */
  private[graft] var onCheckpointPinned: () => Unit = () => ()

  /** Incremental table-to-table SYNC with exactly-once resume — the
    * Delta streaming-source contract as one idempotent batch call.
    * Each invocation reads the source commits SINCE THE LAST SYNC and
    * appends their added rows to `dstPath` as ONE transactional commit
    * stamped with SetTransaction `(appId, srcHeadVersion)`; the stamp is
    * the resume watermark, so a crashed or replayed sync re-lands
    * nothing (deltaAppend's txn idempotence) and the next call continues
    * from where the last one actually COMMITTED. The first sync ships
    * the source's full current snapshot (deletion vectors applied);
    * later syncs read ONLY the new commits' files — IO tracks the delta,
    * never the table, which is what makes hourly syncs of a 100 TB
    * source viable.
    *
    * Commit-class semantics (upstream's streaming source, same rules):
    * `dataChange=false` commits (OPTIMIZE/ZORDER — bytes moved, not
    * facts) are SKIPPED; a `dataChange=true` remove (row-level DML,
    * partition delete, DV delete, RESTORE) fails loudly — an append-only
    * feed cannot express a retraction; re-clone or feed from
    * [[deltaChangesBetween]] instead. Schema evolution mid-span is fine:
    * rows are read under the source's HEAD schema (absent nullable
    * columns read as null) and the destination evolves additively.
    * Returns the destination's committed version (unchanged when the
    * source has nothing new). */
  /** One source commit's fact-adding files under the APPEND-ONLY
    * consumption contract shared by [[deltaSync]] and the streaming tail
    * ([[graft.streaming.DeltaTailSource]]): dataChange=false rewrites
    * (OPTIMIZE/ZORDER) are skipped, a fact-retracting remove or a
    * deletion-vectored add fails loudly (append-only consumers cannot
    * express row removal), and a metaData action that RE-MAPS physical
    * names (RENAME/DROP COLUMN) fails loudly — already-shipped rows
    * cannot be re-mapped downstream; additive evolution passes. */
  private[graft] def appendOnlyFactFiles(
      spark: org.apache.spark.sql.SparkSession, srcPath: String, v: Long,
      cat: graft.sources.SplittableCatalog, who: String): Seq[graft.sources.SizedFile] = {
    import org.apache.hadoop.fs.Path
    import graft.sources.{DeltaCatalog, SizedFile}
    import graft.model.BuzzException
    val ca = parseCommitActions(spark, srcPath, v)
    val (adds, removes, metaChanged) = (ca.adds, ca.removes, ca.metaChanged)
    // v0's metaData is the table's BIRTH, not a re-mapping: no before-state
    if (metaChanged && v > 0) {
      // a mid-span RENAME/DROP COLUMN would otherwise diverge SILENTLY:
      // the metaData-only commit ships no rows, later increments land
      // under the new logical name, and already-shipped rows stay under
      // the old column — the consumer stops reproducing the source's
      // facts. Detect a changed physical-name mapping and fail loudly
      // (additive evolution — new physicals — passes untouched).
      val before = DeltaCatalog.storedSchemaAt(spark, srcPath, Some(v - 1))
      val after = DeltaCatalog.storedSchemaAt(spark, srcPath, Some(v))
      for (b <- before; a <- after) {
        import graft.sources.ColumnMapping
        val bPhys = b.fields.map(f => ColumnMapping.physicalName(f) -> f.name).toMap
        val aPhys = a.fields.map(f => ColumnMapping.physicalName(f) -> f.name).toMap
        val renamed = bPhys.keySet.intersect(aPhys.keySet)
          .filter(p => bPhys(p) != aPhys(p))
        val dropped = bPhys.keySet -- aPhys.keySet
        if (renamed.nonEmpty || dropped.nonEmpty)
          throw new BuzzException.BadRequest(
            s"$who: source commit $v renames or drops column(s) " +
              s"(${(renamed.map(p => s"${bPhys(p)}->${aPhys(p)}") ++
                dropped.map(p => s"${bPhys(p)} dropped")).toSeq.sorted.mkString(", ")}) — " +
              "an append-only consumer cannot re-map already-shipped rows; " +
              "re-clone the destination or consume deltaChangesBetween")
      }
    }
    val retractions = removes.filter(_._2)
    if (retractions.nonEmpty)
      throw new BuzzException.BadRequest(
        s"$who: source commit $v retracts " +
          s"${retractions.size} file(s) (e.g. ${retractions.head._1}) — " +
          "an append-only consumer cannot express row removal; re-clone " +
          "the source or consume deltaChangesBetween instead")
    adds.collect { case (raw, size, pv, dv, true) =>
      if (dv.isDefined)
        throw new BuzzException.BadRequest(
          s"$who: source commit $v adds a deletion-vectored " +
            "file — an append-only consumer cannot express row removal")
      SizedFile(DeltaCatalog.fileKey(srcPath, raw), size,
        cat.partitionColumns.map(c =>
          pv.getOrElse(c, DeltaCatalog.NullPartitionValue)))
    }
  }

  /** The count of a commit's fact-adding files WITHOUT the contract
    * checks — the streaming tail's admission control (maxFilesPerTrigger)
    * sizes batches with this; the checks run in getBatch where failure
    * is loud and attributable. */
  private[graft] def factFileCount(
      spark: org.apache.spark.sql.SparkSession, srcPath: String, v: Long): Int =
    parseCommitActions(spark, srcPath, v).adds.count(_._5)

  /** The table's configuration as metaData JSON fields — every writer
    * that RE-DECLARES metaData (rename/drop/evolve/clone) must carry it
    * forward, or the re-declaration would silently disarm the table's
    * writer obligations (delta.appendOnly, delta.constraints.*). Empty
    * list when the table never configured anything. */
  private def configurationFields(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String): List[(String, org.json4s.JValue)] = {
    import org.json4s._
    val cfg = graft.sources.DeltaCatalog.tableConfiguration(spark, tablePath)
    if (cfg.isEmpty) Nil
    else List("configuration" -> (JObject(cfg.toList.sortBy(_._1)
      .map { case (k, v) => k -> (JString(v): JValue) }): JValue))
  }

  def deltaSync(
      spark: org.apache.spark.sql.SparkSession, srcPath: String,
      dstPath: String, appId: String): Long = {
    import org.apache.hadoop.fs.Path
    import graft.sources.{DeltaCatalog, SizedFile}
    import graft.model.BuzzException
    val srcLog = s"$srcPath/_delta_log"
    val dstLog = s"$dstPath/_delta_log"
    val head = DeltaCatalog.latestVersion(spark, srcLog)
    if (head < 0)
      throw new BuzzException.BadRequest(s"no delta table at $srcPath")
    val applied: Long =
      if (DeltaCatalog.latestVersion(spark, dstLog) < 0) -1L
      else DeltaCatalog.lastTxnVersion(spark, dstPath, appId).getOrElse(-1L)
    if (applied >= head) return DeltaCatalog.latestVersion(spark, dstLog)
    val cat = DeltaCatalog.fromDeltaLog(spark, srcPath, "__sync_src",
      versionAsOf = Some(head))
    val batch: DataFrame =
      if (applied < 0) {
        // first sync: the full snapshot, deletion vectors applied
        cat.read(spark, cat.files)
      } else {
        // incremental: the fact-adding files of (applied, head]
        val spanAdds = ((applied + 1) to head).flatMap(v =>
          appendOnlyFactFiles(spark, srcPath, v, cat, s"sync($appId)"))
        cat.read(spark, spanAdds)
      }
    deltaAppend(batch, dstPath, cat.partitionColumns,
      txn = Some((appId, head)), mergeSchema = true, operationName = "SYNC")
  }

  /** RENAME COLUMN via column mapping (name mode): one metaData-only
    * commit re-declares the schema with the field under its new LOGICAL
    * name, pinning its CURRENT physical name into the field metadata
    * (`delta.columnMapping.physicalName`) — ZERO files rewritten at any
    * table size. Readers scan under physical names and surface logical
    * ones ([[graft.sources.SplittableCatalog.read]]); every writer
    * funnels through the physical layout, so later appends/rewrites stay
    * uniform with the old files; stats/zone pruning key by physical
    * names throughout. The commit also raises the protocol to reader v3
    * with the `columnMapping` feature, so a reader that does not
    * implement the mapping fails loudly instead of reading wrong columns.
    *
    * Guards: partition columns cannot be renamed (their name is baked
    * into the directory layout), the new name must collide with neither a
    * logical nor a PHYSICAL name (two fields resolving to one parquet
    * column would be ambiguous). Time travel to pre-rename versions
    * serves the old name (each replay's schemaString is its own).
    * Returns the committed version. */
  def deltaRenameColumn(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      oldName: String, newName: String): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import graft.sources.{ColumnMapping, DeltaCatalog, FsUtil}
    import graft.model.BuzzException
    val logDir = s"$tablePath/_delta_log"
    DeltaCatalog.assertWriterProtocol(spark, tablePath, "rename column of")
    if (newName.isEmpty || newName == oldName)
      throw new BuzzException.BadRequest(
        s"invalid rename '$oldName' -> '$newName'")
    // SEMANTIC retry loop (metadata-only): losing the commit race means
    // re-deriving the schema against the new head and re-validating
    var attempt = 0
    val maxAttempts = 10
    while (attempt < maxAttempts) {
      val head = DeltaCatalog.latestVersion(spark, logDir)
      if (head < 0)
        throw new BuzzException.BadRequest(s"no delta table at $tablePath")
      val cat = DeltaCatalog.fromDeltaLog(spark, tablePath, "__delta_rename")
      if (cat.partitionColumns.contains(oldName))
        throw new BuzzException.BadRequest(
          s"cannot rename partition column '$oldName' — its name is the " +
            "directory layout; rewrite the table instead")
      val stored = DeltaCatalog.storedSchema(spark, tablePath).getOrElse(
        throw new BuzzException.BadRequest(s"no metaData action in $tablePath"))
      if (!stored.fieldNames.contains(oldName))
        throw new BuzzException.BadRequest(
          s"unknown column '$oldName' (table has ${stored.fieldNames.mkString(",")})")
      if (stored.fieldNames.contains(newName))
        throw new BuzzException.BadRequest(
          s"column '$newName' already exists")
      val physicalTaken = stored.fields.map(ColumnMapping.physicalName).toSet
      if (physicalTaken.contains(newName))
        throw new BuzzException.BadRequest(
          s"cannot rename to '$newName': a renamed column still stores its " +
            "data under that physical name")
      val renamed = org.apache.spark.sql.types.StructType(stored.fields.map(f =>
        if (f.name == oldName) ColumnMapping.renamed(f, newName) else f))
      val actions: Seq[JValue] = Seq(
        commitInfoAction("RENAME COLUMN",
          Map("old" -> oldName, "new" -> newName)),
        featureProtocol(spark, tablePath),
        JObject("metaData" -> JObject(List[(String, JValue)](
          "id" -> JString(DeltaCatalog.tableId(spark, tablePath)
            .getOrElse(java.util.UUID.randomUUID.toString)),
          "format" -> JObject("provider" -> JString("parquet")),
          "schemaString" -> JString(renamed.json),
          "partitionColumns" -> JArray(
            cat.partitionColumns.map(JString(_): JValue).toList)) ++
          configurationFields(spark, tablePath))))
      val body = actions.map(a => JsonMethods.compact(JsonMethods.render(a)))
        .mkString("", "\n", "\n")
      if (FsUtil.publishCommit(spark, logDir, head + 1, body)) return head + 1
      attempt += 1
      Thread.sleep(10L * attempt)
    }
    throw new BuzzException.ExecutionError(
      s"lost the rename commit race $maxAttempts times under $logDir — giving up")
  }

  /** DROP COLUMN via column mapping: one metaData-only commit re-declares
    * the schema WITHOUT the field — zero files rewritten; the bytes stay
    * in place (and in every time-travelable snapshot) until rewrites age
    * them out. Every surviving data field gets its physical name PINNED,
    * which flips the table into mapped mode: schema evolution then
    * assigns fresh `col-<uuid>` physical names to new columns, so
    * re-adding a column under the dropped NAME reads the old files as
    * all-null instead of resurrecting the dropped bytes — the classic
    * drop/re-add corruption, excluded by construction (spec-asserted).
    * Completes the metadata-only schema triad with additive evolution
    * (`deltaAppend(mergeSchema)`) and [[deltaRenameColumn]].
    *
    * Guards: partition columns (their name is the directory layout) and
    * the last remaining data column cannot be dropped. Returns the
    * committed version. */
  def deltaDropColumn(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      name: String): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import graft.sources.{ColumnMapping, DeltaCatalog, FsUtil}
    import graft.model.BuzzException
    val logDir = s"$tablePath/_delta_log"
    DeltaCatalog.assertWriterProtocol(spark, tablePath, "drop column of")
    var attempt = 0
    val maxAttempts = 10
    while (attempt < maxAttempts) {
      val head = DeltaCatalog.latestVersion(spark, logDir)
      if (head < 0)
        throw new BuzzException.BadRequest(s"no delta table at $tablePath")
      val cat = DeltaCatalog.fromDeltaLog(spark, tablePath, "__delta_drop")
      if (cat.partitionColumns.contains(name))
        throw new BuzzException.BadRequest(
          s"cannot drop partition column '$name' — its name is the " +
            "directory layout; rewrite the table instead")
      val stored = DeltaCatalog.storedSchema(spark, tablePath).getOrElse(
        throw new BuzzException.BadRequest(s"no metaData action in $tablePath"))
      if (!stored.fieldNames.contains(name))
        throw new BuzzException.BadRequest(
          s"unknown column '$name' (table has ${stored.fieldNames.mkString(",")})")
      if (cat.schema.fieldNames.toSeq == Seq(name))
        throw new BuzzException.BadRequest(
          s"cannot drop '$name' — it is the table's only data column")
      val newSchema = org.apache.spark.sql.types.StructType(
        stored.fields.filterNot(_.name == name).map(f =>
          if (cat.partitionColumns.contains(f.name)) f
          else ColumnMapping.pinned(f)))
      val actions: Seq[JValue] = Seq(
        commitInfoAction("DROP COLUMN", Map("column" -> name)),
        featureProtocol(spark, tablePath),
        JObject("metaData" -> JObject(List[(String, JValue)](
          "id" -> JString(DeltaCatalog.tableId(spark, tablePath)
            .getOrElse(java.util.UUID.randomUUID.toString)),
          "format" -> JObject("provider" -> JString("parquet")),
          "schemaString" -> JString(newSchema.json),
          "partitionColumns" -> JArray(
            cat.partitionColumns.map(JString(_): JValue).toList)) ++
          configurationFields(spark, tablePath))))
      val body = actions.map(a => JsonMethods.compact(JsonMethods.render(a)))
        .mkString("", "\n", "\n")
      if (FsUtil.publishCommit(spark, logDir, head + 1, body)) return head + 1
      attempt += 1
      Thread.sleep(10L * attempt)
    }
    throw new BuzzException.ExecutionError(
      s"lost the drop commit race $maxAttempts times under $logDir — giving up")
  }

  /** SHALLOW CLONE: create `dstPath` as a NEW Delta table whose v0
    * references the SOURCE's live data files by ABSOLUTE path — zero
    * bytes of data copied, O(#files) metadata, done in the time of one
    * log write. The clone carries the source's schemaString verbatim,
    * its per-file `add.stats` (so data skipping works immediately), and
    * its deletion-vector descriptors (so merge-on-read deletes carry
    * over) — but a FRESH table id: the clone is a different table that
    * happens to start from the same bytes. The dev/test pattern: clone a
    * 100 TB production table, run destructive experiments against the
    * clone, throw it away — every write to the clone (append, DML,
    * OPTIMIZE) is copy-on-write into the CLONE's directory, so the
    * source is physically untouchable through the clone.
    *
    * Caveats (same as the upstream feature): the clone pins the source's
    * CURRENT snapshot (later source commits don't appear), and a VACUUM
    * on the SOURCE can reap files the clone still references once the
    * source itself stops referencing them — cloned tables share the
    * source's retention fate. The clone's own VACUUM never deletes
    * source files (membership is decided under the clone's root).
    * Returns the clone's version (always 0). */
  def deltaCloneShallow(
      spark: org.apache.spark.sql.SparkSession, srcPath: String,
      dstPath: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import graft.sources.{DeltaCatalog, FsUtil}
    import graft.model.BuzzException
    val srcLog = s"$srcPath/_delta_log"
    val dstLog = s"$dstPath/_delta_log"
    if (DeltaCatalog.latestVersion(spark, dstLog) >= 0)
      throw new BuzzException.BadRequest(
        s"clone destination $dstPath is already a delta table")
    val snapVer = DeltaCatalog.latestVersion(spark, srcLog)
    if (snapVer < 0)
      throw new BuzzException.BadRequest(s"no delta table at $srcPath")
    val asOf = Some(snapVer)
    val live = DeltaCatalog.liveRawAt(spark, srcPath, asOf)
    val stats = DeltaCatalog.statsByRaw(spark, srcPath, asOf)
    val dvs = DeltaCatalog.dvsByRaw(spark, srcPath, asOf)
    val mtimes = DeltaCatalog.mtimesByRaw(spark, srcPath, asOf)
    val srcCat = DeltaCatalog.fromDeltaLog(spark, srcPath, "__clone_src",
      versionAsOf = asOf)
    val schemaJson = DeltaCatalog.storedSchema(spark, srcPath)
      .map(_.json)
      .getOrElse(throw new BuzzException.BadRequest(
        s"no metaData action in $srcPath"))
    val adds: Seq[JValue] = live.toSeq.sortBy(_._1).map { case (raw, (size, pv)) =>
      val base: List[(String, JValue)] = List(
        "path" -> JString(new Path(DeltaCatalog.fileKey(srcPath, raw)).toUri.toString),
        "size" -> JLong(size),
        "partitionValues" -> JObject(pv.map { case (k, v) =>
          k -> (JString(v): JValue) }.toList),
        "modificationTime" -> JLong(mtimes.getOrElse(raw, System.currentTimeMillis())),
        "dataChange" -> JBool(true))
      val withStats = stats.get(raw)
        .fold(base)(s => base :+ ("stats" -> (JString(s): JValue)))
      // a carried vector keeps its true offset/size/cardinality; "u"
      // descriptors (paths relative to the SOURCE root) become absolute
      // "p" references, exactly how the protocol says clones point at
      // foreign vector files
      val fields = dvs.get(raw).fold(withStats) { d =>
        val ported = d.storageType match {
          case "u" =>
            val abs = graft.sources.DeletionVectors.resolve(srcPath, d).pathOrInline
            d.copy(storageType = "p", pathOrInlineDv = abs)
          case _ => d
        }
        withStats :+ ("deletionVector" -> graft.sources.DeletionVectors.toJson(ported))
      }
      JObject("add" -> JObject(fields))
    }
    // the clone inherits the source's feature obligations: carried DV
    // descriptors or column-mapping metadata demand the v3 declaration
    val srcProtocol = DeltaCatalog.tableProtocol(spark, srcPath, None)
    val protocol: JValue =
      if (dvs.nonEmpty || graft.sources.ColumnMapping.isMapped(
          org.apache.spark.sql.types.DataType.fromJson(schemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType]))
        featureProtocol(srcProtocol)
      else srcProtocol match {
        // the clone keeps the source's own feature obligations verbatim
        // (feature lists only exist at the v3/v7 tiers, per the spec)
        case Some((mr, mw, rf, wf)) =>
          val base: List[(String, JValue)] = List(
            "minReaderVersion" -> JLong(mr), "minWriterVersion" -> JLong(mw))
          val withR = if (mr >= 3) base :+
            ("readerFeatures" -> (JArray(rf.toList.map(JString(_): JValue)): JValue))
          else base
          val withW = if (mw >= 7) withR :+
            ("writerFeatures" -> (JArray(wf.toList.map(JString(_): JValue)): JValue))
          else withR
          JObject("protocol" -> JObject(withW))
        case None => JObject("protocol" -> JObject(
          "minReaderVersion" -> JInt(1), "minWriterVersion" -> JInt(2)))
      }
    val actions: Seq[JValue] =
      commitInfoAction("CLONE", Map("source" -> srcPath)) ::
      protocol ::
      JObject("metaData" -> JObject(List[(String, JValue)](
        // a FRESH id: the clone is a new table, not the source's history
        "id" -> JString(java.util.UUID.randomUUID.toString),
        "format" -> JObject("provider" -> JString("parquet")),
        "schemaString" -> JString(schemaJson),
        "partitionColumns" -> JArray(
          srcCat.partitionColumns.map(JString(_): JValue).toList)) ++
        // the clone inherits the source's writer obligations too
        configurationFields(spark, srcPath))) ::
      adds.toList
    val body = actions.map(a => JsonMethods.compact(JsonMethods.render(a)))
      .mkString("", "\n", "\n")
    FsUtil.fs(spark, dstPath).mkdirs(new Path(dstLog))
    if (!FsUtil.publishCommit(spark, dstLog, 0L, body))
      throw new BuzzException.ExecutionError(
        s"clone lost the v0 race under $dstLog — destination created concurrently")
    0L
  }

  /** Row-level DELETE WHERE: rewrite — as ONE commit — only the files
    * that can possibly hold a matching row, dropping the rows where
    * `predicateSql` is TRUE (NULL predicate rows are KEPT, SQL DELETE
    * semantics). Candidates come from [[graft.sources.ZoneMap
    * .pruneForQuery]] over the live file list — for a Delta table the
    * zone cache is seeded from the log's own `add.stats`, so candidate
    * selection reads ZERO footers; a range predicate on a clustered
    * column rewrites only the intersecting files. Untouched files stay
    * live under their original paths; the pre-delete snapshot remains
    * time-travelable. Complements [[deltaDeletePartition]] (metadata-only,
    * whole partitions) with the row-precision the GDPR/retention path
    * needs, and [[deltaMerge]] (keyed upsert) with predicate semantics.
    * Commit races retry conflict-checked like OPTIMIZE. Returns the new
    * (or unchanged, when nothing can match) version. */
  def deltaDeleteWhere(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      predicateSql: String): Long = {
    import org.apache.spark.sql.types.StructType
    import graft.sources.{DeltaCatalog, ZoneMap}
    import graft.model.BuzzException
    val logDir = s"$tablePath/_delta_log"
    // pin the snapshot FIRST so commitRewrite can detect every commit
    // that lands after this point (see its scaladoc)
    val snapVer = DeltaCatalog.latestVersion(spark, logDir)
    val cat = DeltaCatalog.fromDeltaLog(spark, tablePath, "__delta_delwhere",
      versionAsOf = if (snapVer >= 0) Some(snapVer) else None)
    // validate the predicate against the table schema EARLY (analysis on
    // an empty relation) — an unresolvable column is a client error, not
    // a mid-rewrite crash
    val pred =
      try {
        val p = expr(predicateSql)
        cat.read(spark, Nil).filter(p).queryExecution.analyzed
        p
      } catch {
        case e: BuzzException.BuzzError => throw e
        case e: Exception => throw new BuzzException.BadRequest(
          s"invalid DELETE predicate '$predicateSql': ${e.getMessage}")
      }
    val candFiles = ZoneMap.pruneForQuery(
      spark, cat.schema, cat.files, s"SELECT * FROM __t WHERE $predicateSql")
    if (candFiles.isEmpty) return DeltaCatalog.latestVersion(spark, logDir)
    val rawByKey = DeltaCatalog.liveRawByKey(spark, tablePath,
      if (snapVer >= 0) Some(snapVer) else None)
    val candRaws = candFiles.map(f => rawByKey.getOrElse(f.key,
      throw new BuzzException.ExecutionError(
        s"delete: no raw log path for live file ${f.key} — snapshot drifted")))
    // change-data capture: exactly the deleted rows. Computed FIRST —
    // when capture is on and ZERO rows match (candidate stats were
    // conservative), committing the no-op rewrite anyway would publish a
    // dataChange commit with no cdc actions, permanently poisoning
    // deltaChangeFeed over every span containing it; no facts change, so
    // skip the commit entirely.
    val cdcAdds =
      if (!cdfActive(spark, tablePath, if (snapVer >= 0) Some(snapVer) else None)) Nil
      else {
        val deleted = cat.read(spark, candFiles)
          .filter(coalesce(pred, lit(false)))
          .withColumn("_change_type", lit("delete"))
        if (deleted.isEmpty) return DeltaCatalog.latestVersion(spark, logDir)
        stageChangeData(spark, tablePath, cat.partitionColumns, cat.physicalNames, deleted)
      }
    // DELETE keeps rows where the predicate is FALSE or NULL
    val kept = cat.read(spark, candFiles)
      .filter(!coalesce(pred, lit(false)))
    val adds = stageIntoTable(kept, tablePath, cat.partitionColumns, cat.physicalNames)
    commitRewrite(spark, tablePath, adds, candRaws,
      StructType(cat.schema.fields), "delete", snapshotVersion = snapVer,
      concurrentAddConflicts =
        predicateAppendProbe(spark, tablePath, predicateSql),
      operationParams = Map("predicate" -> predicateSql), cdcAdds = cdcAdds)
  }

  /** Concurrent-append probe shared by DELETE WHERE and UPDATE: of the
    * files committed since the operation's snapshot, those whose zone
    * evidence cannot PROVE their rows miss `predicateSql` — such an
    * append does not commute (the rewrite would silently skip matching
    * rows the operation's contract covers), so the commit must fail
    * loudly (upstream Delta's ConcurrentAppendException). The probe
    * re-resolves the HEAD catalog so the appended files' own `add.stats`
    * seed the zone cache; a file without provable-miss stats
    * conservatively conflicts. */
  private def predicateAppendProbe(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      predicateSql: String)
      : Map[String, (Long, Map[String, String])] => Seq[String] = { appended =>
    if (appended.isEmpty) Nil
    else {
      import org.apache.hadoop.fs.Path
      import graft.sources.{DeltaCatalog, ZoneMap}
      val headCat = DeltaCatalog.fromDeltaLog(spark, tablePath, "__append_probe")
      val byKey = headCat.files.map(f => f.key -> f).toMap
      val appendedFiles = appended.keys.toSeq.sorted.flatMap { raw =>
        byKey.get(DeltaCatalog.fileKey(tablePath, raw))
      }
      ZoneMap.pruneForQuery(
        spark, headCat.schema, appendedFiles,
        s"SELECT * FROM __t WHERE $predicateSql", exhaustive = true).map(_.key)
    }
  }

  /** Row-level DELETE as MERGE-ON-READ: instead of rewriting every file
    * that holds a matching row ([[deltaDeleteWhere]]'s copy-on-write),
    * write each affected file's DELETED ROW INDEXES as a portable
    * RoaringBitmap framed in a protocol-format `deletion_vector_*.bin`
    * file under the table root ([[graft.sources.DeletionVectors]] — the
    * Delta protocol's own DV persistence, so a conformant external reader
    * decodes these vectors byte-for-byte), and commit each affected file
    * re-ADDED in place with a `deletionVector` descriptor (`storageType`
    * "u", offset/sizeInBytes/cardinality). Readers anti-join
    * the vectors out through the scan's own `_metadata.row_index`
    * ([[graft.sources.SplittableCatalog.read]]), so the data plane never
    * moves: at 100 TB, deleting one user's rows from a terabyte of
    * clustered files is a megabyte of sidecar + one log commit, where
    * copy-on-write re-writes the terabyte. The trade is read-side: each
    * DV'd file pays the anti-join until a rewrite (OPTIMIZE / ZORDER /
    * any copy-on-write DML) materializes the deletes and drops the
    * descriptor — reads via the catalog already apply DVs, so every
    * rewrite path materializes for free.
    *
    * A file whose every row ends up deleted keeps a full-cardinality DV
    * (reads yield zero rows from it) — OPTIMIZE reclaims it. An existing
    * DV on a re-matched file is MERGED into the new batch (a descriptor
    * names exactly one batch); superseded batches become garbage that
    * [[deltaVacuum]] reaps once unreferenced. Same predicate semantics as
    * [[deltaDeleteWhere]] (TRUE deletes, NULL keeps), same zone-pruned
    * candidate selection, same snapshot-pinned conflict discipline
    * including the concurrent-append probe. Returns the committed (or
    * unchanged, when nothing matches) version. */
  def deltaDeleteVectors(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      predicateSql: String): Long = {
    import org.apache.hadoop.fs.Path
    import graft.sources.{DeltaCatalog, ZoneMap}
    import graft.model.BuzzException
    val logDir = s"$tablePath/_delta_log"
    // pin the snapshot FIRST (commitRewrite discipline)
    val snapVer = DeltaCatalog.latestVersion(spark, logDir)
    val cat = DeltaCatalog.fromDeltaLog(spark, tablePath, "__delta_dv",
      versionAsOf = if (snapVer >= 0) Some(snapVer) else None)
    val pred =
      try {
        val p = expr(predicateSql)
        cat.read(spark, Nil).filter(p).queryExecution.analyzed
        p
      } catch {
        case e: BuzzException.BuzzError => throw e
        case e: Exception => throw new BuzzException.BadRequest(
          s"invalid DELETE predicate '$predicateSql': ${e.getMessage}")
      }
    val candFiles = ZoneMap.pruneForQuery(
      spark, cat.schema, cat.files, s"SELECT * FROM __t WHERE $predicateSql")
    if (candFiles.isEmpty) return DeltaCatalog.latestVersion(spark, logDir)
    val rawByKey = DeltaCatalog.liveRawByKey(spark, tablePath,
      if (snapVer >= 0) Some(snapVer) else None)
    // newly-matching PHYSICAL rows (the raw view sees already-DV'd rows
    // too — re-listing them is harmless, the union dedups)
    val matches = cat.readWithRowIndex(spark, candFiles)
      .filter(coalesce(pred, lit(false)))
      .select(col("__gfp").as("__path"), col("__gri").as("__ri"))
    // carry over each candidate's EXISTING deleted rows — its descriptor
    // will re-point to the new vector (a descriptor names exactly one)
    val conf = spark.sessionState.newHadoopConf()
    val scanPathOf = candFiles.map(f => f.key -> f.scanPath(conf)).toMap
    val existingPairs = candFiles.flatMap(f =>
      cat.deletionVectors.get(f.key).map(dv => (scanPathOf(f.key), dv)))
    val existingRows = graft.sources.DeletionVectors.deletedRowsDF(spark, existingPairs)
    val allDeleted = matches.unionAll(existingRows).distinct()
    val dvByPath = writeVectorFiles(spark, tablePath, allDeleted)
    if (dvByPath.isEmpty) // nothing matched anywhere: no commit
      return DeltaCatalog.latestVersion(spark, logDir)
    val affected = candFiles.filter(f => dvByPath.contains(scanPathOf(f.key)))
    val removedRaws = affected.map(f => rawByKey.getOrElse(f.key,
      throw new BuzzException.ExecutionError(
        s"dv-delete: no raw log path for live file ${f.key} — snapshot drifted")))
    // re-ADD each affected file at its own path with the DV descriptor;
    // sizes and partition values are unchanged, stats recompute from the
    // (unmoved) footer inside commitRewrite
    val adds = affected.map { f =>
      val raw = rawByKey(f.key)
      AddedFile(DeltaCatalog.decodePath(raw), f.length,
        cat.partitionColumns.zip(f.partitionValues), f.modificationTime)
    }
    val dvByRel = affected.map { f =>
      val rel = DeltaCatalog.decodePath(rawByKey(f.key))
      rel -> dvByPath(scanPathOf(f.key))
    }.toMap
    // change-data capture: the NEWLY-deleted visible rows (the DV-applied
    // read excludes rows earlier vectors already deleted). Zero visible
    // matches with capture on — e.g. re-running a predicate whose rows an
    // earlier vector already deleted — means no facts change: skip the
    // commit instead of publishing a cdc-less rewrite that would poison
    // the feed (see deltaDeleteWhere).
    val cdcAdds =
      if (!cdfActive(spark, tablePath, if (snapVer >= 0) Some(snapVer) else None)) Nil
      else {
        val deleted = cat.read(spark, candFiles)
          .filter(coalesce(pred, lit(false)))
          .withColumn("_change_type", lit("delete"))
        if (deleted.isEmpty) return DeltaCatalog.latestVersion(spark, logDir)
        stageChangeData(spark, tablePath, cat.partitionColumns, cat.physicalNames, deleted)
      }
    commitRewrite(spark, tablePath, adds, removedRaws,
      org.apache.spark.sql.types.StructType(cat.schema.fields), "dv-delete",
      snapshotVersion = snapVer,
      concurrentAddConflicts =
        predicateAppendProbe(spark, tablePath, predicateSql),
      dvByRel = dvByRel,
      cdcAdds = cdcAdds,
      // a reader that doesn't implement DVs must fail loudly, not
      // silently resurrect the deleted rows
      protocolActions = Seq(featureProtocol(
        DeltaCatalog.tableProtocol(spark, tablePath,
          if (snapVer >= 0) Some(snapVer) else None))),
      operationParams = Map("predicate" -> predicateSql))
  }

  /** Write the protocol's `.bin` vector files DISTRIBUTED from `rows`
    * ((`__path` scan path, `__ri` row index)): each task
    * serializes its files' portable RoaringBitmaps into one vector file
    * under the table root and reports the framed descriptors keyed by
    * scan path — deleted rows never pass through the driver, and
    * the bytes on disk are the interoperable format any conformant Delta
    * reader decodes. Shared by [[deltaDeleteVectors]] and
    * [[deltaMigrateDvs]]. */
  private def writeVectorFiles(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      rows: DataFrame): Map[String, graft.sources.DvDescriptor] = {
    import org.apache.hadoop.fs.Path
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.SerializableWritable(
        spark.sparkContext.hadoopConfiguration))
    import spark.implicits._
    rows.repartition(col("__path")).select("__path", "__ri")
      .as[(String, Long)]
      .mapPartitions { it =>
        val byPath = scala.collection.mutable.HashMap[String,
          scala.collection.mutable.ArrayBuilder.ofLong]()
        it.foreach { case (p, ri) =>
          byPath.getOrElseUpdate(p, new scala.collection.mutable.ArrayBuilder.ofLong) += ri
        }
        if (byPath.isEmpty) Iterator.empty
        else {
          val tableDir = new Path(tablePath)
          val fsys = tableDir.getFileSystem(confBc.value.value)
          val entries = byPath.toSeq.sortBy(_._1).map { case (p, b) =>
            val rows0 = b.result(); java.util.Arrays.sort(rows0); p -> rows0
          }
          val (_, described) =
            graft.sources.DeletionVectors.writeDvFile(fsys, tableDir, entries)
          described.iterator
        }
      }.collect().toMap
  }

  /** Migrate every pre-r10 parquet-sidecar deletion vector (the engine's
    * own legacy dialect: `storageType "p"` pointing at a `_dv/delete-*`
    * parquet directory of (`__path`, `__ri`) rows) into the PROTOCOL's
    * framed RoaringBitmap `.bin` format in ONE commit: each legacy-DV'd
    * live file is re-added in place with a protocol descriptor carrying
    * exactly the same deleted rows, `dataChange = false` (no facts
    * change — incremental consumers skip it), under the OPTIMIZE conflict
    * discipline. Time travel to pre-migration versions keeps reading the
    * sidecars through the read-only legacy decode
    * ([[graft.sources.DeletionVectors.deletedRowsDF]]); VACUUM never
    * walks `_dv/`, so those reads stay valid. Returns the committed
    * version, or the unchanged head when the table has no legacy
    * vectors. */
  def deltaMigrateDvs(
      spark: org.apache.spark.sql.SparkSession, tablePath: String): Long = {
    import org.apache.spark.sql.types.StructType
    import graft.sources.DeltaCatalog
    import graft.model.BuzzException
    val logDir = s"$tablePath/_delta_log"
    // pin the snapshot FIRST (commitRewrite discipline)
    val snapVer = DeltaCatalog.latestVersion(spark, logDir)
    val cat = DeltaCatalog.fromDeltaLog(spark, tablePath, "__delta_migrate_dv",
      versionAsOf = if (snapVer >= 0) Some(snapVer) else None)
    val affected = cat.files.filter(f =>
      cat.deletionVectors.get(f.key).exists(_.storageType == "legacy"))
    if (affected.isEmpty) return DeltaCatalog.latestVersion(spark, logDir)
    val rawByKey = DeltaCatalog.liveRawByKey(spark, tablePath,
      if (snapVer >= 0) Some(snapVer) else None)
    val conf = spark.sessionState.newHadoopConf()
    val scanPathOf = affected.map(f => f.key -> f.scanPath(conf)).toMap
    val entries = affected.map(f => (scanPathOf(f.key), cat.deletionVectors(f.key)))
    val rows = graft.sources.DeletionVectors.deletedRowsDF(spark, entries)
    val dvByPath = writeVectorFiles(spark, tablePath, rows)
    // every affected file MUST come out with a descriptor — a sidecar
    // that yielded no rows for a file it claims to delete from would
    // otherwise drop the descriptor and RESURRECT those rows
    val uncovered = affected.map(f => scanPathOf(f.key)).filterNot(dvByPath.contains)
    if (uncovered.nonEmpty)
      throw new BuzzException.ExecutionError(
        s"migrate-dvs: ${uncovered.size} legacy sidecar(s) decoded to zero " +
          s"deleted rows for their file (e.g. ${uncovered.head}) — sidecar " +
          "and descriptor disagree; refusing to drop the descriptor")
    val removedRaws = affected.map(f => rawByKey.getOrElse(f.key,
      throw new BuzzException.ExecutionError(
        s"migrate-dvs: no raw log path for live file ${f.key} — snapshot drifted")))
    val adds = affected.map { f =>
      AddedFile(DeltaCatalog.decodePath(rawByKey(f.key)), f.length,
        cat.partitionColumns.zip(f.partitionValues), f.modificationTime)
    }
    val dvByRel = affected.map { f =>
      DeltaCatalog.decodePath(rawByKey(f.key)) -> dvByPath(scanPathOf(f.key))
    }.toMap
    commitRewrite(spark, tablePath, adds, removedRaws,
      StructType(cat.schema.fields), "migrate-dvs",
      snapshotVersion = snapVer, dataChange = false, dvByRel = dvByRel,
      protocolActions = Seq(featureProtocol(
        DeltaCatalog.tableProtocol(spark, tablePath,
          if (snapVer >= 0) Some(snapVer) else None))))
  }

  /** OPTIMIZE ZORDER BY, Delta-native: rewrite the table's live files
    * Z-ordered on `(colX, colY)` and commit the layout change as one
    * remove+add transaction with `dataChange = false` (the protocol's
    * bytes-moved-not-facts marker — incremental consumers skip it, time
    * travel to the pre-rewrite layout still works). The rewritten files'
    * `add.stats` then carry TIGHT bounding boxes in BOTH dimensions, so
    * every log-stats consumer — [[deltaMerge]] candidates,
    * [[deltaDeleteWhere]]/[[deltaUpdate]] pruning, zone-map query
    * skipping — prunes on either column, where a single-column sort only
    * ever serves its own column. This is `OPTIMIZE table ZORDER BY`
    * re-expressed over this engine's log.
    *
    * 100 TB shape: the bin bounds are ONE tiny aggregate broadcast back;
    * the Z-value is a narrow integer projection; the only corpus-sized
    * movement is the range exchange the layout IS. At cluster scale run
    * per partition-directory (the commit shape is identical). Commit
    * races retry conflict-checked like OPTIMIZE. */
  def deltaZorder(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      colX: String, colY: String, bits: Int = 8, files: Int = 0): Long = {
    import org.apache.spark.sql.types.StructType
    import graft.sources.DeltaCatalog
    import graft.model.BuzzException
    require(bits >= 1 && bits <= 16, s"bits must be in [1,16], got $bits")
    val logDir = s"$tablePath/_delta_log"
    // pin the snapshot FIRST (commitRewrite discipline). No append probe:
    // a concurrent append's file stays live beside the rewritten layout —
    // rows commute, only ITS bytes end up un-Z-ordered.
    val snapVer = DeltaCatalog.latestVersion(spark, logDir)
    val cat = DeltaCatalog.fromDeltaLog(spark, tablePath, "__delta_zorder",
      versionAsOf = if (snapVer >= 0) Some(snapVer) else None)
    Seq(colX, colY).foreach { c =>
      if (!cat.schema.fieldNames.contains(c))
        throw new BuzzException.BadRequest(
          s"ZORDER column '$c' is not a data column of $tablePath " +
            s"(data columns: ${cat.schema.fieldNames.mkString(",")})")
    }
    if (cat.files.isEmpty) return DeltaCatalog.latestVersion(spark, logDir)
    val rawByKey = DeltaCatalog.liveRawByKey(spark, tablePath,
      if (snapVer >= 0) Some(snapVer) else None)
    val removedRaws = cat.files.map(f => rawByKey.getOrElse(f.key,
      throw new BuzzException.ExecutionError(
        s"zorder: no raw log path for live file ${f.key} — snapshot drifted")))
    val nFiles = if (files > 0) files else spark.sparkContext.defaultParallelism
    val data = cat.read(spark, cat.files)
    val stats = data.agg(
      min(col(colX)).as("__zx_mn"), max(col(colX)).as("__zx_mx"),
      min(col(colY)).as("__zy_mn"), max(col(colY)).as("__zy_mx"))
    val arranged = data.crossJoin(broadcast(stats))
      .withColumn("__z", zInterleave(
        binCode(col(colX), col("__zx_mn"), col("__zx_mx"), bits),
        binCode(col(colY), col("__zy_mn"), col("__zy_mx"), bits), bits))
      .drop("__zx_mn", "__zx_mx", "__zy_mn", "__zy_mx")
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    val adds = stageIntoTable(arranged, tablePath, cat.partitionColumns, cat.physicalNames)
    commitRewrite(spark, tablePath, adds, removedRaws,
      StructType(cat.schema.fields), "zorder", snapshotVersion = snapVer,
      dataChange = false)
  }

  /** Row-level UPDATE ... SET ... WHERE: rewrite — as ONE commit — only
    * the files that can possibly hold a matching row, applying `set`
    * (column → SQL expression) to rows where `predicateSql` is TRUE.
    * Every SET expression and the predicate evaluate against the OLD row
    * (single-projection semantics, like SQL UPDATE — a SET can swap two
    * columns), results are cast back to each column's declared type
    * (ANSI: overflow fails loudly, it never wraps), and NULL-predicate
    * rows are untouched. Candidate files come from the zone harvest over
    * the log-seeded stats cache, exactly like [[deltaDeleteWhere]] — an
    * update keyed to a clustered range rewrites only intersecting files.
    * Updating a PARTITION column re-homes rows (copy-on-write handles
    * cross-partition moves naturally). Completes the DML triad with
    * [[deltaMerge]] (keyed upsert) and [[deltaDeleteWhere]]. */
  def deltaUpdate(
      spark: org.apache.spark.sql.SparkSession, tablePath: String,
      predicateSql: String, set: Map[String, String]): Long = {
    import org.apache.spark.sql.types.StructType
    import graft.sources.{DeltaCatalog, ZoneMap}
    import graft.model.BuzzException
    val logDir = s"$tablePath/_delta_log"
    // pin the snapshot FIRST so commitRewrite can detect every commit
    // that lands after this point (see its scaladoc)
    val snapVer = DeltaCatalog.latestVersion(spark, logDir)
    val cat = DeltaCatalog.fromDeltaLog(spark, tablePath, "__delta_update",
      versionAsOf = if (snapVer >= 0) Some(snapVer) else None)
    if (set.isEmpty)
      throw new BuzzException.BadRequest("UPDATE with an empty SET clause")
    val allCols = cat.schema.fieldNames.toSeq ++ cat.partitionColumns
    set.keys.foreach { c =>
      if (!allCols.contains(c))
        throw new BuzzException.BadRequest(
          s"SET targets unknown column '$c' (table has ${allCols.mkString(",")})")
    }
    // validate predicate AND set expressions early: analysis over an empty
    // relation, so a typo is a client error before any data moves
    val empty = cat.read(spark, Nil)
    val updatedProjection =
      try {
        val predTrue = coalesce(expr(predicateSql), lit(false))
        val types = empty.schema.map(f => f.name -> f.dataType).toMap
        val proj = empty.columns.toSeq.map { c =>
          set.get(c) match {
            case Some(e) =>
              when(predTrue, expr(e).cast(types(c))).otherwise(col(c)).as(c)
            case None => col(c)
          }
        }
        empty.select(proj: _*).queryExecution.analyzed
        proj
      } catch {
        case e: BuzzException.BuzzError => throw e
        case e: Exception => throw new BuzzException.BadRequest(
          s"invalid UPDATE '$predicateSql' SET ${set.mkString(",")}: ${e.getMessage}")
      }
    val candFiles = ZoneMap.pruneForQuery(
      spark, cat.schema, cat.files, s"SELECT * FROM __t WHERE $predicateSql")
    if (candFiles.isEmpty) return DeltaCatalog.latestVersion(spark, logDir)
    val rawByKey = DeltaCatalog.liveRawByKey(spark, tablePath,
      if (snapVer >= 0) Some(snapVer) else None)
    val candRaws = candFiles.map(f => rawByKey.getOrElse(f.key,
      throw new BuzzException.ExecutionError(
        s"update: no raw log path for live file ${f.key} — snapshot drifted")))
    // change-data capture: the matched rows' before AND after images.
    // Computed FIRST — zero matched rows with capture on means no facts
    // change: skip the commit instead of publishing a cdc-less rewrite
    // that would poison the feed (see deltaDeleteWhere).
    val cdcAdds =
      if (!cdfActive(spark, tablePath, if (snapVer >= 0) Some(snapVer) else None)) Nil
      else {
        val hit = cat.read(spark, candFiles)
          .filter(coalesce(expr(predicateSql), lit(false)))
        if (hit.isEmpty) return DeltaCatalog.latestVersion(spark, logDir)
        stageChangeData(spark, tablePath, cat.partitionColumns, cat.physicalNames,
          hit.withColumn("_change_type", lit("update_preimage")).unionByName(
            hit.select(updatedProjection: _*)
              .withColumn("_change_type", lit("update_postimage"))))
      }
    val updated = cat.read(spark, candFiles).select(updatedProjection: _*)
    val adds = stageIntoTable(updated, tablePath, cat.partitionColumns, cat.physicalNames)
    commitRewrite(spark, tablePath, adds, candRaws,
      StructType(cat.schema.fields), "update", snapshotVersion = snapVer,
      concurrentAddConflicts =
        predicateAppendProbe(spark, tablePath, predicateSql),
      operationParams = Map("predicate" -> predicateSql) ++
        set.map { case (k, v) => s"set:$k" -> v },
      cdcAdds = cdcAdds)
  }

  /** Stage `data` as parquet under a hidden temp dir INSIDE the table
    * (same filesystem — renames stay atomic-ish and cheap), then move each
    * file into its final `k=v/...` place; nothing is visible to readers
    * until a commit references the files. Returns one [[AddedFile]] per
    * staged file, sized and dated by its placed status. A crash mid-stage
    * leaves only invisible files for the next maintenance pass. */
  private def stageIntoTable(
      data: DataFrame, tablePath: String, partitionCols: Seq[String],
      physicalNames: Map[String, String] = Map.empty,
      destPrefix: String = "")
      : Seq[AddedFile] = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    import graft.sources.FsUtil
    import graft.model.BuzzException
    val spark = data.sparkSession
    val fsys = FsUtil.fs(spark, tablePath)
    val stage = s"$tablePath/.graft-stage-${java.util.UUID.randomUUID}"
    // column-mapped tables store PHYSICAL names in the files — every
    // writer funnels through here, so the physical layout stays uniform
    // across appends and rewrites regardless of later renames. ONE atomic
    // select, not sequential renames: a chain like (w→v, v→col-uuid)
    // would otherwise collide on the intermediate name
    val physicalData =
      if (physicalNames.isEmpty) data
      else data.select(data.columns.toIndexedSeq.map(c =>
        col(c).as(physicalNames.getOrElse(c, c))): _*)
    val w = physicalData.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(stage)
    val HivePart = "([^=/]+)=([^/]*)".r
    def walk(dir: Path, segs: Seq[(String, String)]): Seq[(Path, Seq[(String, String)])] =
      fsys.listStatus(dir).toSeq.flatMap { st =>
        if (st.isDirectory) st.getPath.getName match {
          case HivePart(k, v) => walk(st.getPath, segs :+ (k -> v))
          case _              => walk(st.getPath, segs)
        }
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath -> segs)
        else Nil
      }
    val adds = walk(new Path(stage), Nil).map { case (file, segs) =>
      val rel = ((if (destPrefix.isEmpty) Nil else Seq(destPrefix)) ++
        segs.map { case (k, v) => s"$k=$v" } :+ file.getName).mkString("/")
      val dest = new Path(tablePath, rel)
      fsys.mkdirs(dest.getParent)
      if (!fsys.rename(file, dest))
        throw new BuzzException.ExecutionError(s"staging rename failed for $rel")
      val pv = segs.map { case (k, v) => k -> unescapePathName(v) }
      val st = fsys.getFileStatus(dest)
      AddedFile(rel, st.getLen, pv, st.getModificationTime)
    }
    fsys.delete(new Path(stage), true)
    adds
  }

  /** With `mergeSchema = true`, ADDITIVE schema evolution: incoming
    * columns unknown to the table are appended to its schema (forced
    * nullable — pre-evolution files lack them, and absent ≡ all-null at
    * read time), and the commit carries a metaData action re-declaring
    * the merged schema under the table's SAME id. Incoming columns may
    * also omit declared nullable columns (the new files simply won't
    * store them). What evolution never allows: changing an existing
    * column's TYPE, dropping a non-nullable column, or touching the
    * partitioning — each still fails loudly, evolved or not. Without the
    * flag the exact-schema contract is unchanged. */
  def deltaAppend(
      df: DataFrame, tablePath: String, partitionCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None, mergeSchema: Boolean = false,
      operationName: String = "APPEND"): Long = {
    import org.apache.hadoop.fs.Path
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import graft.sources.{DeltaCatalog, FsUtil}
    import graft.model.BuzzException
    val spark = df.sparkSession
    val logDir = s"$tablePath/_delta_log"
    val data = partitionCols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("string")))
    // "the table exists" must mean "the log HAS a commit", not "the log
    // directory exists" — a concurrent creator mkdirs the directory
    // BEFORE publishing v0, and validating/replaying inside that window
    // would fail on an empty log instead of racing for version 0
    def tableLive(): Boolean = DeltaCatalog.latestVersion(spark, logDir) >= 0
    val tableExists = tableLive()
    // SetTransaction idempotence (the protocol's `txn` action): a commit
    // stamped (appId, version) that the log already carries at >= version
    // is a REPLAY — skip it instead of doubling the batch. This is what
    // makes foreachBatch restart semantics exactly-once end to end.
    // txn-replay check and schema/partitioning validation run before the
    // data write AND again on every commit retry (a concurrent writer may
    // have replayed the txn or changed the metaData between attempts)
    def txnAlreadyApplied(): Boolean = txn.exists { case (appId, txnVer) =>
      tableLive() &&
        DeltaCatalog.lastTxnVersion(spark, tablePath, appId).exists(_ >= txnVer)
    }
    // When evolution adds columns, holds the merged FULL schema (stored
    // layout + new columns appended, forced nullable) the winning commit
    // must re-declare; None when this append leaves the schema unchanged.
    // Refreshed on every commit retry — a concurrent writer may have
    // already evolved the table past us.
    var evolvedSchema: Option[org.apache.spark.sql.types.StructType] = None
    def validateAgainstLive(): Unit = {
      val cat = DeltaCatalog.fromDeltaLog(spark, tablePath, "__delta_sink")
      if (cat.partitionColumns != partitionCols)
        throw new BuzzException.SchemaMismatch(
          s"$tablePath is partitioned by (${cat.partitionColumns.mkString(",")}), " +
            s"append declares (${partitionCols.mkString(",")})")
      val incomingFields = data.schema.fields.filterNot(f => partitionCols.contains(f.name))
      if (!mergeSchema) {
        val incoming = incomingFields.map(f => f.name -> f.dataType.sql).toSeq
        val declared = cat.schema.fields.map(f => f.name -> f.dataType.sql).toSeq
        if (incoming != declared)
          throw new BuzzException.SchemaMismatch(
            s"append schema ${incoming.mkString(",")} does not match " +
              s"$tablePath's metaData ${declared.mkString(",")}")
        evolvedSchema = None
      } else {
        val declaredByName = cat.schema.fields.map(f => f.name -> f).toMap
        incomingFields.foreach { f =>
          declaredByName.get(f.name).foreach { d =>
            if (d.dataType.sql != f.dataType.sql)
              throw new BuzzException.SchemaMismatch(
                s"evolution cannot retype column '${f.name}': table declares " +
                  s"${d.dataType.sql}, append carries ${f.dataType.sql}")
          }
        }
        // omitting a declared NULLABLE column is fine (the new files just
        // won't store it — absent ≡ all-null); omitting a non-nullable
        // column would make its absence read back as null, a contract breach
        val incomingNames = incomingFields.map(_.name).toSet
        cat.schema.fields.filterNot(_.nullable).foreach { d =>
          if (!incomingNames.contains(d.name))
            throw new BuzzException.SchemaMismatch(
              s"append omits non-nullable column '${d.name}' — its absence " +
                "would read back as null")
        }
        // on a MAPPED table (post rename/drop) every evolved column gets a
        // fresh uuid PHYSICAL name: it can never collide with a live
        // physical name NOR with bytes a dropped column left behind in old
        // files (re-adding a dropped column's name must read all-null, not
        // resurrect). Unmapped tables keep identity naming.
        val tableMapped = graft.sources.ColumnMapping.isMapped(cat.schema)
        val newCols = incomingFields.filterNot(f => declaredByName.contains(f.name))
          .map(_.copy(nullable = true))
          .map(f =>
            if (tableMapped) graft.sources.ColumnMapping.withPhysical(
              f, s"col-${java.util.UUID.randomUUID}")
            else f)
        // even unmapped, an evolved column's name must not shadow a
        // PHYSICAL name some renamed column still stores under — two
        // fields resolving to one parquet column would be ambiguous
        val physicalTaken = cat.schema.fields
          .map(graft.sources.ColumnMapping.physicalName).toSet
        newCols.find(f =>
          physicalTaken.contains(graft.sources.ColumnMapping.physicalName(f)))
          .foreach { f =>
            throw new BuzzException.SchemaMismatch(
              s"evolution cannot add column '${f.name}': a renamed column " +
                "still stores its data under that physical name")
          }
        evolvedSchema =
          if (newCols.isEmpty) None
          else DeltaCatalog.storedSchema(spark, tablePath).map(stored =>
            org.apache.spark.sql.types.StructType(stored.fields ++ newCols))
      }
    }
    if (txnAlreadyApplied()) return DeltaCatalog.latestVersion(spark, logDir)
    if (tableExists) {
      // appends are the one operation an appendOnly table permits — the
      // gate still rejects unimplemented writer features (invariants...)
      DeltaCatalog.assertWriterProtocol(spark, tablePath, "append")
      validateAgainstLive()
    }
    // column mapping: incoming data uses LOGICAL names; the files (and
    // their stats) store PHYSICAL ones. Empty unless the table carries
    // RENAME/DROP COLUMN metadata. An evolving append must include ITS
    // OWN new columns' fresh physical names (not yet in the stored
    // schema), so the evolved declaration wins when present.
    val physNames: Map[String, String] =
      if (!tableExists) Map.empty
      else graft.sources.ColumnMapping.mapping(
        evolvedSchema.orElse(DeltaCatalog.storedSchema(spark, tablePath))
          .getOrElse(org.apache.spark.sql.types.StructType(Nil)))
    // stage the data files under the table, invisible until the commit
    val fsys = FsUtil.fs(spark, tablePath)
    val adds = stageIntoTable(data, tablePath, partitionCols, physNames)
    // per-file data-skipping stats (the protocol's `add.stats`), computed
    // once from the new files' footers — bounded by the files THIS commit
    // wrote, and carried by the log so readers prune without footer IO.
    // Optional by contract: a stats failure never blocks the commit.
    val dataSchema = org.apache.spark.sql.types.StructType(
      data.schema.fields.filterNot(f => partitionCols.contains(f.name))
        .map(f => f.copy(name = physNames.getOrElse(f.name, f.name))))
    val statsByPath: Map[String, String] =
      try graft.sources.ZoneMap.deltaFileStats(
        spark, adds.map(a => new Path(tablePath, a.rel).toString),
        dataSchema)
      catch { case scala.util.control.NonFatal(_) => Map.empty }
    val addActions: Seq[JValue] = adds.map { case AddedFile(rel, size, pv, mtime) =>
      val base: List[(String, JValue)] = List(
        // URI-encode the on-disk rel path per the protocol — the reader
        // URI-decodes add.path, so a raw name containing '%' (Hive-escaped
        // partition values) would otherwise decode to a nonexistent path
        "path" -> JString(DeltaCatalog.encodePath(rel)),
        "size" -> JLong(size),
        "partitionValues" -> JObject(pv.map { case (k, v) => k -> (JString(v): JValue) }.toList),
        "modificationTime" -> JLong(mtime),
        "dataChange" -> JBool(true))
      val fields = statsByPath.get(new Path(tablePath, rel).toString)
        .fold(base)(s => base :+ ("stats" -> (JString(s): JValue)))
      JObject("add" -> JObject(fields))
    }
    val txnActions: Seq[JValue] = txn.toSeq.map { case (appId, txnVer) =>
      JObject("txn" -> JObject(
        "appId" -> JString(appId), "version" -> JLong(txnVer)))
    }
    def body(version: Long): String = {
      val info = commitInfoAction(operationName,
        if (partitionCols.isEmpty) Map.empty
        else Map("partitionBy" -> partitionCols.mkString(",")))
      val actions: Seq[JValue] =
        if (version == 0L) info ::
          JObject("protocol" -> JObject(
            "minReaderVersion" -> JInt(1), "minWriterVersion" -> JInt(2))) ::
          JObject("metaData" -> JObject(
            "id" -> JString(java.util.UUID.randomUUID.toString),
            "format" -> JObject("provider" -> JString("parquet")),
            "schemaString" -> JString(data.schema.json),
            "partitionColumns" -> JArray(partitionCols.map(JString(_): JValue).toList))) ::
          (txnActions ++ addActions).toList
        else {
          // evolution re-declares the merged schema under the table's SAME
          // id — minting a new one would make readers see a different table
          val meta: List[JValue] = evolvedSchema.toList.map { merged =>
            JObject("metaData" -> JObject(List[(String, JValue)](
              "id" -> JString(DeltaCatalog.tableId(spark, tablePath)
                .getOrElse(java.util.UUID.randomUUID.toString)),
              "format" -> JObject("provider" -> JString("parquet")),
              "schemaString" -> JString(merged.json),
              "partitionColumns" -> JArray(
                partitionCols.map(JString(_): JValue).toList)) ++
              configurationFields(spark, tablePath)))
          }
          (info :: (meta ++ txnActions ++ addActions).toList)
        }
      actions.map(a => JsonMethods.compact(JsonMethods.render(a)))
        .mkString("", "\n", "\n")
    }
    // OPTIMISTIC-CONCURRENCY commit loop: losing the atomic rename race
    // means a concurrent writer took the version — an append COMMUTES
    // with any append/OPTIMIZE/DELETE (its files are brand new, no
    // snapshot contains them yet), so the same add actions re-commit at
    // the next version after REVALIDATING against the current metaData (a
    // concurrent schema or partitioning change must still fail loudly)
    // and re-checking txn idempotence (a concurrent replay of the same
    // streaming batch must not double it). Bounded attempts: the loop is
    // lock-free, so a pathological commit storm surfaces as an error
    // rather than an unbounded spin.
    val maxAttempts = 10
    var attempt = 0
    while (true) {
      val tableNow = tableLive()
      if (attempt > 0) {
        if (txnAlreadyApplied()) return DeltaCatalog.latestVersion(spark, logDir)
        if (tableNow) validateAgainstLive()
      }
      val version =
        if (tableNow) DeltaCatalog.latestVersion(spark, logDir) + 1 else 0L
      if (!tableNow) fsys.mkdirs(new Path(logDir)) // no-op if a racer made it
      if (FsUtil.publishCommit(spark, logDir, version, body(version))) return version
      attempt += 1
      if (attempt >= maxAttempts)
        throw new BuzzException.ExecutionError(
          s"lost the commit race $maxAttempts times under $logDir — giving up")
      // linear backoff: a loser re-plans while the winner's commit
      // becomes visible, instead of burning attempts inside the window
      Thread.sleep(10L * attempt)
    }
    -1L // unreachable
  }
}
