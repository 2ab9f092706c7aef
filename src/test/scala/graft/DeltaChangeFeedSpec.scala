package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.BuzzException
import graft.operators.Sinks
import graft.sources.DeltaCatalog

/** The protocol's change data feed, WRITER side (with
  * `delta.enableChangeDataFeed=true`, MERGE/UPDATE/DELETE stage
  * `_change_data/` parquet files and commit `cdc` actions) and READER side
  * ([[Sinks.deltaChangeFeed]]: cdc commits read authoritatively,
  * append/full-remove commits derive insert/delete, pre-enablement
  * rewrites fail loudly). Round 10's writer gate REJECTED active-CDF
  * tables outright; round 11 makes the feature real. */
class DeltaChangeFeedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A CDF-enabled two-file table: ids 0-9 (v0), 10-19 (v1), CDF on (v2). */
  private def cdfTable(dir: String): Unit = {
    Sinks.deltaAppend((0L until 10L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), dir)
    Sinks.deltaAppend((10L until 20L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), dir)
    Sinks.deltaSetProperties(spark, dir, Map("delta.enableChangeDataFeed" -> "true"))
  }

  private def feed(dir: String, vFrom: Long, vTo: Long): Seq[(Long, String, Long, Long)] =
    Sinks.deltaChangeFeed(spark, dir, vFrom, vTo)
      .select(col("_commit_version"), col("_change_type"), col("id"), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq

  test("MERGE on a CDF table feeds preimage/postimage/insert rows with exact values") {
    val dir = tmpDir("cdf_merge")
    cdfTable(dir)
    // v3: update id=5 (v 10 -> 500), insert id=100
    Sinks.deltaMerge(spark, dir,
      Seq((5L, 500L), (100L, 1L)).toDF("id", "v"), "id")
    val rows = feed(dir, 2L, 3L)
    assert(rows === Seq(
      (3L, "insert", 100L, 1L),
      (3L, "update_postimage", 5L, 500L),
      (3L, "update_preimage", 5L, 10L)))
    // the table itself is right too
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "cdf_merge_read")
    val live = cat.read(spark, cat.files).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(live(5L) == 500L && live(100L) == 1L && live.size == 21)
  }

  test("UPDATE and both DELETE flavors feed their row images") {
    val dir = tmpDir("cdf_dml")
    cdfTable(dir)
    Sinks.deltaUpdate(spark, dir, "id = 7", Map("v" -> "v + 1"))  // v3: 14 -> 15
    Sinks.deltaDeleteWhere(spark, dir, "id = 8")                  // v4: copy-on-write
    Sinks.deltaDeleteVectors(spark, dir, "id = 15")               // v5: merge-on-read
    val rows = feed(dir, 2L, 5L)
    assert(rows === Seq(
      (3L, "update_postimage", 7L, 15L),
      (3L, "update_preimage", 7L, 14L),
      (4L, "delete", 8L, 16L),
      (5L, "delete", 15L, 30L)))
  }

  test("commits without cdc DERIVE: appends feed inserts, partition deletes feed deletes") {
    // the second pair's values percent-encode in the scan path: the feed
    // must still find each scanned file's commit version
    Seq(("a", "b"), ("c%d", "a b")).foreach { case (a, b) =>
      val dir = tmpDir("cdf_derive")
      Sinks.deltaAppend(
        Seq((1L, 10L, a), (2L, 20L, b)).toDF("id", "v", "p"), dir, Seq("p")) // v0
      Sinks.deltaAppend(Seq((3L, 30L, a)).toDF("id", "v", "p"), dir, Seq("p")) // v1
      Sinks.deltaDeletePartition(spark, dir, "p", a)                           // v2
      val rows = Sinks.deltaChangeFeed(spark, dir, 0L, 2L)
        .select(col("_commit_version"), col("_change_type"), col("id"), col("p"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
        .sortBy(t => (t._1, t._3)).toSeq
      assert(rows === Seq(
        (1L, "insert", 3L, a),
        (2L, "delete", 1L, a),
        (2L, "delete", 3L, a)))
    }
  }

  test("a PARTITIONED table's cdc run reads as ONE scan across partition tuples") {
    // the second table's values `a b` and `c%d` percent-encode in the scan
    // path, which the per-file commit-version join must match
    Seq(Seq("p0", "p1", "p2"), Seq("a b", "c%d", "e")).foreach { pv =>
      val dir = tmpDir("cdf_part_scan")
      Sinks.deltaAppend(
        (0L until 30L).map(i => (i, i * 2, pv((i % 3).toInt))).toDF("id", "v", "p"),
        dir, Seq("p"))
      Sinks.deltaSetProperties(spark, dir, Map("delta.enableChangeDataFeed" -> "true"))
      // one MERGE touching rows in all 3 partitions -> cdc files under 3
      // partition dirs; the feed must still plan ONE FileScan for them
      // (hive-layout single scan), not one leaf per partition tuple
      Sinks.deltaMerge(spark, dir,
        Seq((0L, 100L, pv(0)), (1L, 101L, pv(1)), (2L, 102L, pv(2)))
          .toDF("id", "v", "p"), "id")
      val feed = Sinks.deltaChangeFeed(spark, dir, 1L, 2L)
      val leaves = feed.queryExecution.optimizedPlan.collectLeaves().size
      assert(leaves <= 3, s"3-partition cdc run planned $leaves leaves")
      val rows = feed.select(col("_change_type"), col("id"), col("v"), col("p"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(rows === Seq(
        ("update_postimage", 0L, 100L, pv(0)),
        ("update_postimage", 1L, 101L, pv(1)),
        ("update_postimage", 2L, 102L, pv(2)),
        ("update_preimage", 0L, 0L, pv(0)),
        ("update_preimage", 1L, 2L, pv(1)),
        ("update_preimage", 2L, 4L, pv(2))))
      // every cdc file is labeled with the MERGE's commit
      assert(feed.select(col("p"), col("_commit_version")).distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSet ===
        pv.map(_ -> 2L).toSet)
    }
  }

  test("a pre-enablement rewrite commit in the span fails loudly, naming the way out") {
    val dir = tmpDir("cdf_pre")
    Sinks.deltaAppend((0L until 10L).map(i => (i, i)).toDF("id", "v"), dir) // v0
    Sinks.deltaDeleteWhere(spark, dir, "id = 3")                            // v1: no CDF yet
    val e = intercept[BuzzException.BadRequest](
      Sinks.deltaChangeFeed(spark, dir, 0L, 1L).collect())
    assert(e.getMessage.contains("deltaChangesBetween"))
    // dataChange=false rewrites contribute NOTHING (not an error)
    Sinks.deltaSetProperties(spark, dir, Map("delta.enableChangeDataFeed" -> "true")) // v2
    Sinks.deltaOptimize(spark, dir, targetBytes = 1L << 30)                 // v3
    assert(Sinks.deltaChangeFeed(spark, dir, 2L, 3L).count() === 0L)
  }

  test("cdc files survive vacuum; the feed replays identically after OPTIMIZE") {
    val dir = tmpDir("cdf_vacuum")
    cdfTable(dir)
    Sinks.deltaMerge(spark, dir, Seq((5L, 500L)).toDF("id", "v"), "id") // v3
    Sinks.deltaOptimize(spark, dir, targetBytes = 1L << 30)             // v4
    Sinks.deltaVacuum(spark, dir) // reaps the pre-optimize data files
    val rows = feed(dir, 2L, 3L)
    assert(rows === Seq(
      (3L, "update_postimage", 5L, 500L),
      (3L, "update_preimage", 5L, 10L)))
  }

  test("zero-match DML on a CDF table commits NOTHING — the feed is never poisoned") {
    val dir = tmpDir("cdf_nomatch")
    cdfTable(dir)
    val head = DeltaCatalog.latestVersion(spark, s"$dir/_delta_log")
    // stats put id=5 inside a candidate file's range, but no row matches
    // the conjunction — pre-fix this committed a dataChange rewrite with
    // no cdc actions, making every later feed over the span fail
    assert(Sinks.deltaDeleteWhere(spark, dir, "id = 5 AND v = 999") === head)
    assert(Sinks.deltaUpdate(spark, dir, "id = 5 AND v = 999",
      Map("v" -> "v + 1")) === head)
    // re-running a DV delete whose rows an earlier vector already removed
    Sinks.deltaDeleteVectors(spark, dir, "id = 6")          // head + 1
    assert(Sinks.deltaDeleteVectors(spark, dir, "id = 6") === head + 1)
    // the whole span still reads as a feed
    val rows = feed(dir, 2L, head + 1)
    assert(rows === Seq((head + 1, "delete", 6L, 12L)))
  }

  test("MERGE postimages pair preimages even when the base duplicates a key") {
    val dir = tmpDir("cdf_dupkey")
    // key 5 exists TWICE (two appends) — the documented caller-owns-
    // uniqueness contract rewrites both; the feed must pair 2 pre with 2 post
    Sinks.deltaAppend((0L until 10L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), dir)
    Sinks.deltaAppend(Seq((5L, 777L)).toDF("id", "v"), dir)
    Sinks.deltaSetProperties(spark, dir, Map("delta.enableChangeDataFeed" -> "true"))
    Sinks.deltaMerge(spark, dir, Seq((5L, 500L)).toDF("id", "v"), "id")
    val rows = feed(dir, 2L, 3L)
    assert(rows.count(_._2 == "update_preimage") === 2)
    assert(rows.count(_._2 == "update_postimage") === 2)
    assert(rows.filter(_._2 == "update_postimage").forall(_._4 == 500L))
    assert(rows.filter(_._2 == "update_preimage").map(_._4).sorted === Seq(10L, 777L))
  }

  test("a concurrent TBLPROPERTIES flip conflicts the in-flight DML instead of skipping capture") {
    val dir = tmpDir("cdf_race")
    Sinks.deltaAppend((0L until 10L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), dir)
    // a MERGE plans under CDF-off; CDF turns on between its snapshot read
    // and publish — silently absorbing that would commit the rewrite
    // WITHOUT capture although CDF is active from the prior version
    Sinks.onBeforePublish = () => {
      Sinks.onBeforePublish = () => ()
      Sinks.deltaSetProperties(spark, dir, Map("delta.enableChangeDataFeed" -> "true"))
    }
    try {
      val e = intercept[graft.model.BuzzException.ExecutionError](
        Sinks.deltaMerge(spark, dir, Seq((5L, 500L)).toDF("id", "v"), "id"))
      assert(e.getMessage.contains("metadata change"))
    } finally Sinks.onBeforePublish = () => ()
    // rerun against the current snapshot: captures properly
    val v = Sinks.deltaMerge(spark, dir, Seq((5L, 500L)).toDF("id", "v"), "id")
    val rows = feed(dir, v - 1, v)
    assert(rows.map(_._2).sorted === Seq("update_postimage", "update_preimage"))
  }

  test("enabling CDF refuses reserved column names") {
    val dir = tmpDir("cdf_reserved")
    Sinks.deltaAppend(Seq((1L, "x")).toDF("id", "_change_type"), dir)
    val e = intercept[BuzzException.BadRequest](
      Sinks.deltaSetProperties(spark, dir, Map("delta.enableChangeDataFeed" -> "true")))
    assert(e.getMessage.contains("reserved"))
  }

  test("vacuum reaps ORPHANED cdc files (no surviving commit references them), keeps referenced ones") {
    val dir = tmpDir("cdf_gc")
    cdfTable(dir)
    Sinks.deltaMerge(spark, dir, Seq((5L, 500L)).toDF("id", "v"), "id") // v3: real cdc
    // plant an orphan — the shape a conflicted writer's staging leaves
    val orphan = java.nio.file.Paths.get(s"$dir/_change_data/part-orphan.parquet")
    Seq((1L, 1L, "insert")).toDF("id", "v", "_change_type")
      .coalesce(1).write.parquet(s"$dir/.cdc_stage_tmp")
    val staged = new java.io.File(s"$dir/.cdc_stage_tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(staged.toPath, orphan)
    Sinks.deltaVacuum(spark, dir)
    assert(!java.nio.file.Files.exists(orphan), "orphaned cdc file must be reaped")
    // the referenced cdc file survives: the feed still replays
    val rows = feed(dir, 2L, 3L)
    assert(rows.map(_._2).sorted === Seq("update_postimage", "update_preimage"))
  }

  test("an ALTERNATING derived span (append/partition-delete interleaved) plans bounded leaves with exact row images") {
    // the trigger-per-commit shape that defeated CONTIGUOUS run-grouping:
    // kinds alternate every commit, so r12 planned one leaf per commit
    // (capped only by the 1000-version chunk). Non-contiguous grouping
    // reads ALL inserts of the era as one relation and ALL deletes as
    // another — per-file version labels keep every row image exact.
    val dir = tmpDir("cdf_alt_derived")
    Sinks.deltaAppend(
      Seq((0L, "p0"), (1L, "p0")).toDF("id", "p"), dir, Seq("p")) // v0
    (1 to 9).foreach { i =>
      Sinks.deltaAppend(                                  // v(2i-1): insert
        Seq((2L * i, s"p$i"), (2L * i + 1, s"p$i")).toDF("id", "p"),
        dir, Seq("p"))
      Sinks.deltaDeletePartition(spark, dir, "p", s"p${i - 1}") // v(2i): delete
    }
    val feed = Sinks.deltaChangeFeed(spark, dir, 0L, 18L)
    val leaves = feed.queryExecution.optimizedPlan.collectLeaves().size
    // 2 leaves per run (the FileScan + its broadcast per-file version
    // map), 2 runs (insert, delete) — FLAT in commit count
    assert(leaves <= 4,
      s"18-commit alternating derived span planned $leaves leaves, expected <= 4")
    val rows = feed
      .select(col("_commit_version"), col("_change_type"), col("id"), col("p"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    val expected = ((1 to 9).flatMap { i =>
      Seq((2L * i - 1, "insert", 2L * i, s"p$i"),
          (2L * i - 1, "insert", 2L * i + 1, s"p$i"))
    } ++ (1 to 9).flatMap { i =>
      Seq((2L * i, "delete", 2L * i - 2, s"p${i - 1}"),
          (2L * i, "delete", 2L * i - 1, s"p${i - 1}"))
    }).sortBy(t => (t._1, t._2, t._3))
    assert(rows === expected)
  }

  test("a path removed and RE-ADDED in one span ALIASES: each occurrence keeps its own version label, plan width flat") {
    // a re-added path (RESTORE is the real-world writer of re-adds) with
    // an identical (size, partitionValues, DV) identity aliases onto its
    // run's one entry: the file is scanned ONCE and its rows labeled once
    // per occurrence — never dropped, double-labeled, or planned
    // per-occurrence (pre-aliasing each re-add bumped a generation)
    val dir = tmpDir("cdf_readd")
    Sinks.deltaAppend(
      (0L until 10L).map(i => (i, s"a")).toDF("id", "p").coalesce(1),
      dir, Seq("p"))                                 // v0
    Sinks.deltaDeletePartition(spark, dir, "p", "a") // v1: remove-only
    Sinks.deltaRestore(spark, dir, 0L)               // v2: re-adds the v0 file
    Sinks.deltaDeletePartition(spark, dir, "p", "a") // v3: remove-only again
    Sinks.deltaRestore(spark, dir, 0L)               // v4: re-adds again
    val feed = Sinks.deltaChangeFeed(spark, dir, 0L, 4L)
    val rows = feed.select(col("_commit_version"), col("_change_type"))
      .groupBy(col("_commit_version"), col("_change_type")).count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(rows === Seq(
      (1L, "delete", 10L), (2L, "insert", 10L),
      (3L, "delete", 10L), (4L, "insert", 10L)))
    // ONE run per kind, re-occurrences aliased: 2 runs x (scan + version
    // map) = 4 leaves, flat in span length AND in re-add count
    val leaves = feed.queryExecution.optimizedPlan.collectLeaves().size
    assert(leaves <= 4, s"re-add span planned $leaves leaves")
  }

  test("repeated RESTORE oscillation between two versions plans flat through the real operator") {
    // the r13 residual's named scenario, driven end to end by the real
    // writer: restore(v0) removes the appended file, restore(v1) re-adds
    // it, 20 times — every commit RESTORE authors is single-kind (pure
    // remove or pure re-add against the live state it reads), so the
    // whole oscillation is feed-expressible and must alias: 2 runs, each
    // occurrence labeled with its own restore commit's version.
    val dir = tmpDir("cdf_restoreosc")
    Sinks.deltaAppend(
      (0L until 5L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), dir)   // v0
    Sinks.deltaAppend(
      (10L until 15L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), dir) // v1
    (1 to 20).foreach { _ =>
      Sinks.deltaRestore(spark, dir, 0L) // pure remove of the v1 file
      Sinks.deltaRestore(spark, dir, 1L) // pure re-add of the v1 file
    }
    assert(DeltaCatalog.latestVersion(spark, s"$dir/_delta_log") === 41L)
    val feed = Sinks.deltaChangeFeed(spark, dir, 0L, 41L)
    val leaves = feed.queryExecution.optimizedPlan.collectLeaves().size
    assert(leaves <= 4, s"40-restore oscillation planned $leaves leaves")
    val byKind = feed.groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("_commit_version")).as("nv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    // inserts: v1's append + 20 re-adds (odd versions 3..41); deletes:
    // 20 removes (even versions 2..40); 5 rows per occurrence
    assert(byKind === Seq(("delete", 100L, 20L), ("insert", 105L, 21L)))
    val vs = feed.filter(col("id") === 12L)
      .select(col("_commit_version"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(vs === ((1L, "insert") +: (1 to 20).flatMap(k =>
      Seq((2L * k, "delete"), (2L * k + 1, "insert")))))
  }

  test("a 100-commit single-path PING-PONG span plans flat and labels every occurrence") {
    // the r13 residual: a history oscillating ONE path (add, remove, add,
    // …, e.g. repeated RESTOREs between two versions) planned one
    // generation per occurrence — ~N/2 relations per kind, measured
    // superlinear in driver wall (span 200 did not finish in 9 minutes
    // pre-fix). Aliasing reads the file once per kind and explodes the
    // occurrence labels: eras x kinds relations at ANY oscillation depth.
    val dir = tmpDir("cdf_pingpong")
    Sinks.deltaAppend(
      (0L until 10L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), dir) // v0
    val stage = tmpDir("cdf_pingpong_stage")
    (100L until 110L).map(i => (i, i * 2)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dest = new java.io.File(dir, "pp.parquet")
    Files.copy(part.toPath, dest.toPath)
    (1 to 50).foreach { k =>
      DeltaLogFixtures.writeAdd(dir, 2L * k - 1, "pp.parquet", dest.length)
      DeltaLogFixtures.writeRemove(dir, 2L * k, "pp.parquet")
    }
    val feed = Sinks.deltaChangeFeed(spark, dir, 0L, 100L)
    val leaves = feed.queryExecution.optimizedPlan.collectLeaves().size
    assert(leaves <= 4, s"100-commit ping-pong span planned $leaves leaves")
    val byKind = feed.groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("_commit_version")).as("nv"),
        min(col("_commit_version")).as("vmin"),
        max(col("_commit_version")).as("vmax"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    // 50 occurrences x 10 rows per kind; inserts at odd versions 1..99,
    // deletes at even versions 2..100 — every occurrence its own label
    assert(byKind === Seq(
      ("delete", 500L, 50L, 2L, 100L), ("insert", 500L, 50L, 1L, 99L)))
    // spot-check one exploded occurrence pair: the same physical row
    // appears once per occurrence version, values intact
    val one = feed.filter(col("id") === 104L && col("_change_type") === "insert")
      .select(col("_commit_version"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(one === (1 to 50).map(k => (2L * k - 1, 208L)))
  }

  test("an identity-MISMATCHED re-add still splits generations: a different partition truth needs its own read") {
    // aliasing is gated on the (size, partitionValues, DV) identity: a
    // path re-added under a DIFFERENT partition tuple is a different row
    // set, so the generation split must survive the aliasing fast path —
    // two reads per kind, each occurrence with its own version label AND
    // its own partition value
    val dir = tmpDir("cdf_genbump")
    Sinks.deltaAppend(
      (0L until 4L).map(i => (i, i * 2, "a")).toDF("id", "v", "p").coalesce(1),
      dir, Seq("p")) // v0: one file under p=a
    val paDir = new java.io.File(dir, "p=a")
    val part = paDir.listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new java.io.File(dir, "gb.parquet")
    Files.copy(part.toPath, dest.toPath)
    DeltaLogFixtures.writeAdd(dir, 1L, "gb.parquet", dest.length, Map("p" -> "a"))
    DeltaLogFixtures.writeRemove(dir, 2L, "gb.parquet")
    DeltaLogFixtures.writeAdd(dir, 3L, "gb.parquet", dest.length, Map("p" -> "b"))
    DeltaLogFixtures.writeRemove(dir, 4L, "gb.parquet")
    val feed = Sinks.deltaChangeFeed(spark, dir, 0L, 4L)
    val rows = feed.select(col("_commit_version"), col("_change_type"), col("p"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(rows === Seq((1L, "insert", "a"), (2L, "delete", "a"),
      (3L, "insert", "b"), (4L, "delete", "b")))
    assert(feed.count() === 16)
    // 2 generations x 2 kinds, single-occurrence runs: more than the
    // aliased span's 4 leaves (the split really happened), at most 8
    val leaves = feed.queryExecution.optimizedPlan.collectLeaves().size
    assert(leaves > 4 && leaves <= 8,
      s"identity-mismatched re-add planned $leaves leaves, expected (4, 8]")
  }

  test("a commit listing the same path twice fails LOUDLY as a protocol violation") {
    // RunFiles would otherwise alias the duplicate onto one entry and
    // explode every row twice at the same version — silently
    val dir = tmpDir("cdf_dup")
    Sinks.deltaAppend(
      (0L until 4L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), dir)
    val part = new java.io.File(dir).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dest = new java.io.File(dir, "dup.parquet")
    Files.copy(part.toPath, dest.toPath)
    val add =
      s"""{"add":{"path":"dup.parquet","size":${dest.length},"partitionValues":{},"dataChange":true}}"""
    Files.writeString(new java.io.File(s"$dir/_delta_log", f"${1}%020d.json").toPath,
      add + "\n" + add + "\n")
    val e = intercept[Throwable](
      Sinks.deltaChangeFeed(spark, dir, 0L, 1L).count())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(m => m.contains("twice") && m.contains("dup.parquet")),
      s"got: ${chain(e).mkString(" | ")}")
  }

  test("RunFiles aliases identity-matched re-occurrences and refuses identity mismatches") {
    val rf = new Sinks.RunFiles
    val a1 = Seq(("p1", 10L, Map("k" -> "a"),
      None: Option[graft.sources.DvDescriptor], 1L))
    assert(rf.accepts(a1)); rf.add(a1)
    // same identity, later version: aliases
    val a2 = Seq(("p1", 10L, Map("k" -> "a"),
      None: Option[graft.sources.DvDescriptor], 3L))
    assert(rf.accepts(a2)); rf.add(a2)
    // different size, partition tuple, or DV: refused (caller bumps gen)
    assert(!rf.accepts(Seq(("p1", 11L, Map("k" -> "a"), None, 5L))))
    assert(!rf.accepts(Seq(("p1", 10L, Map("k" -> "b"), None, 5L))))
    assert(!rf.accepts(Seq(("p1", 10L, Map("k" -> "a"),
      Some(graft.sources.DvDescriptor("u", "q", None, 8, 2L)), 5L))))
    // a batch with ONE mismatched file refuses as a whole
    assert(!rf.accepts(Seq(
      ("p2", 7L, Map.empty[String, String], None, 5L),
      ("p1", 11L, Map("k" -> "a"), None, 5L))))
    assert(rf.toSeq === Seq(("p1", 10L, Map("k" -> "a"), None, Seq(1L, 3L))))
  }

  test("the MULTI version map explodes per-occurrence labels, stays non-nullable, and misses fail loudly") {
    val hit = Seq(("file:/tmp/graft_feed_m.parquet", 1L)).toDF("__gfp", "id")
    val ok = Sinks.attachCommitVersionsMulti(spark, hit,
      Seq("file:/tmp/graft_feed_m.parquet" -> Seq(3L, 9L)))
    assert(ok.select("_commit_version").collect().map(_.getLong(0)).sorted
      === Array(3L, 9L))
    assert(!ok.schema("_commit_version").nullable,
      "the protocol's _commit_version must stay non-nullable")
    val miss = Sinks.attachCommitVersionsMulti(spark, hit,
      Seq("file:/tmp/graft_feed_OTHER.parquet" -> Seq(3L, 9L)))
    val e = intercept[Throwable](miss.collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(m => m.contains("normalization mismatch") &&
      m.contains("graft_feed_m.parquet")), s"got: ${chain(e).mkString(" | ")}")
  }

  test("the keyed snapshot DIFF also batches an ALTERNATING added/removed span into two relations") {
    // deltaChangesBetween shares the non-contiguous grouping: an
    // added/removed-alternating span (append, partition-delete, ...)
    // must diff as ONE 'added' + ONE 'removed' relation, never one per
    // commit, with every row's version and status exact
    val dir = tmpDir("diff_alt")
    Sinks.deltaAppend(
      Seq((0L, "p0"), (1L, "p0")).toDF("id", "p"), dir, Seq("p")) // v0
    (1 to 9).foreach { i =>
      Sinks.deltaAppend(
        Seq((2L * i, s"p$i"), (2L * i + 1, s"p$i")).toDF("id", "p"),
        dir, Seq("p"))                                       // v(2i-1)
      Sinks.deltaDeletePartition(spark, dir, "p", s"p${i - 1}") // v(2i)
    }
    val diff = Sinks.deltaChangesBetween(spark, dir, 0L, 18L, Seq("id"), Seq("p"))
    val leaves = diff.queryExecution.optimizedPlan.collectLeaves().size
    // 2 runs x (FileScan + broadcast version map) — flat in commit count
    assert(leaves <= 4,
      s"18-commit alternating diff span planned $leaves leaves, expected <= 4")
    val rows = diff.collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(1)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    val expected = ((1 to 9).flatMap { i =>
      Seq((2L * i - 1, "added", 2L * i), (2L * i - 1, "added", 2L * i + 1))
    } ++ (1 to 9).flatMap { i =>
      Seq((2L * i, "removed", 2L * i - 2), (2L * i, "removed", 2L * i - 1))
    }).sortBy(t => (t._1, t._2, t._3))
    assert(rows === expected)
  }

  test("the keyed snapshot DIFF aliases a PING-PONG path: flat plan, every occurrence's status and version exact") {
    // DiffRun rides the same RunFiles aliasing as the feed, through its
    // own read path (runFrame's keyed projection + era renames): one
    // path oscillating for 20 commits must diff as 2 relations with
    // per-occurrence version labels, not ~10 per status
    val dir = tmpDir("diff_pp")
    Sinks.deltaAppend(
      (0L until 5L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), dir) // v0
    val stage = tmpDir("diff_pp_stage")
    (100L until 105L).map(i => (i, i)).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dest = new java.io.File(dir, "pp.parquet")
    Files.copy(part.toPath, dest.toPath)
    (1 to 10).foreach { k =>
      DeltaLogFixtures.writeAdd(dir, 2L * k - 1, "pp.parquet", dest.length)
      DeltaLogFixtures.writeRemove(dir, 2L * k, "pp.parquet")
    }
    val diff = Sinks.deltaChangesBetween(spark, dir, 0L, 20L, Seq("id"), Seq("v"))
    val leaves = diff.queryExecution.optimizedPlan.collectLeaves().size
    assert(leaves <= 4, s"20-commit ping-pong diff span planned $leaves leaves")
    val byStatus = diff.groupBy(col("status"))
      .agg(count(lit(1)).as("n"), countDistinct(col("version")).as("nv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    // 10 occurrences x 5 keys per status, each under its own version
    assert(byStatus === Seq(("added", 50L, 10L), ("removed", 50L, 10L)))
    val one = diff.filter(col("id") === 102L).select(col("version"), col("status"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(one === (1 to 10).flatMap(k =>
      Seq((2L * k - 1, "added"), (2L * k, "removed"))))
  }

  test("an ALTERNATING cdc/derived span (append / CDF DELETE interleaved) plans bounded leaves with exact row images") {
    // the upsert-pipeline shape VERDICT r12 named: derived inserts and
    // authoritative cdc commits strictly interleaved. cdc files have a
    // different physical schema (stored _change_type), so they group
    // separately — but into ONE cdc relation, not one per commit.
    val dir = tmpDir("cdf_alt_mixed")
    Sinks.deltaAppend(Seq((0L, 0L), (1L, 2L)).toDF("id", "v").coalesce(1), dir) // v0
    Sinks.deltaSetProperties(spark, dir,
      Map("delta.enableChangeDataFeed" -> "true"))                              // v1
    (1 to 6).foreach { i =>
      Sinks.deltaAppend(                                       // v(2i): insert
        Seq((2L * i, 4L * i), (2L * i + 1, 4L * i + 2)).toDF("id", "v").coalesce(1), dir)
      Sinks.deltaDeleteWhere(spark, dir, s"id = ${2 * i}")     // v(2i+1): cdc
    }
    val feed = Sinks.deltaChangeFeed(spark, dir, 1L, 13L)
    val leaves = feed.queryExecution.optimizedPlan.collectLeaves().size
    // 2 leaves per run (FileScan + broadcast version map), 2 runs
    // (derived inserts, cdc) — FLAT in commit count
    assert(leaves <= 4,
      s"12-commit alternating cdc/derived span planned $leaves leaves, expected <= 4")
    val rows = feed
      .select(col("_commit_version"), col("_change_type"), col("id"), col("v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    val expected = ((1 to 6).flatMap { i =>
      Seq((2L * i, "insert", 2L * i, 4L * i),
          (2L * i, "insert", 2L * i + 1, 4L * i + 2))
    } ++ (1 to 6).map { i =>
      (2L * i + 1, "delete", 2L * i, 4L * i)
    }).sortBy(t => (t._1, t._2, t._3))
    assert(rows === expected)
  }

  test("a per-file version-map miss fails LOUDLY naming the path, and the attached column stays non-nullable") {
    // the seam every feed relation rides: a normalization disagreement
    // between the scan's _metadata.file_path and the walker's map would
    // previously vanish rows through the inner join; the left join +
    // raise_error guard makes it an error naming the path
    val hit = Seq(("file:/tmp/graft_feed_x.parquet", 1L)).toDF("__gfp", "id")
    val ok = Sinks.attachCommitVersionsMulti(spark, hit,
      Seq("file:/tmp/graft_feed_x.parquet" -> Seq(7L))) // singleton -> scalar dispatch
    assert(ok.select("_commit_version").head.getLong(0) === 7L)
    assert(!ok.schema("_commit_version").nullable,
      "the protocol's _commit_version must stay non-nullable")
    val miss = Sinks.attachCommitVersionsMulti(spark, hit,
      Seq("file:/tmp/graft_feed_OTHER.parquet" -> Seq(7L)))
    val e = intercept[Throwable](miss.collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(m => m.contains("normalization mismatch") &&
      m.contains("graft_feed_x.parquet")), s"got: ${chain(e).mkString(" | ")}")
  }

  test("the feed conforms ADDITIVE evolution and refuses a mid-span rename") {
    val dir = tmpDir("cdf_evolve")
    cdfTable(dir)
    Sinks.deltaAppend(Seq((100L, 1L, "x")).toDF("id", "v", "tag"), dir,
      mergeSchema = true) // v3 evolves additively
    val rows = Sinks.deltaChangeFeed(spark, dir, 0L, 3L)
      .select(col("_commit_version"), col("_change_type"), col("id"), col("tag"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), Option(r.getString(3))))
    assert(rows.count(_._1 == 3L) === 1)
    assert(rows.filter(_._1 < 3L).forall(_._4.isEmpty), "old eras conform tag to null")
    assert(rows.find(_._1 == 3L).get._4.contains("x"))
    Sinks.deltaRenameColumn(spark, dir, "v", "w") // v4
    Sinks.deltaAppend(Seq((101L, 2L, "y")).toDF("id", "w", "tag"), dir) // v5
    val e = intercept[BuzzException.BadRequest](
      Sinks.deltaChangeFeed(spark, dir, 0L, 5L).collect())
    assert(e.getMessage.contains("renames or drops"))
  }
}
