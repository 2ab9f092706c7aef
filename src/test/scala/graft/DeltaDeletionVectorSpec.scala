package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sinks
import graft.sources.DeltaCatalog

/** Merge-on-read row-level DELETE via deletion vectors: a sidecar of
  * deleted row identities + a log commit, applied at read time through the
  * scan's own `_metadata.row_index` — no data file is rewritten. The
  * 100 TB GDPR path: the write cost is DV-sized, not table-sized. */
class DeltaDeletionVectorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** v0: ids 0-9, v1: ids 100-109 — two files with tight id ranges. */
  private def twoFileTable(dir: String): Unit = {
    Sinks.deltaAppend(
      (0L until 10L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), dir)
    Sinks.deltaAppend(
      (100L until 110L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), dir)
  }

  private def ids(dir: String, asOf: Option[Long] = None): Seq[Long] = {
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "dv_read", versionAsOf = asOf)
    cat.read(spark, cat.files).select("id").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("DV delete drops rows WITHOUT rewriting or moving any data file") {
    val dir = tmpDir("dv_basic")
    twoFileTable(dir)
    val before = DeltaCatalog.fromDeltaLog(spark, dir, "dv_pre").files
      .map(f => f.key -> f.length).toMap
    val ver = Sinks.deltaDeleteVectors(spark, dir, "id BETWEEN 3 AND 5")
    assert(ver === 2L)
    assert(ids(dir) === ((0L to 2L) ++ (6L to 9L) ++ (100L to 109L)))
    val after = DeltaCatalog.fromDeltaLog(spark, dir, "dv_post")
    // same physical files, same sizes — only the log changed
    assert(after.files.map(f => f.key -> f.length).toMap === before)
    // only the matching file carries a descriptor
    assert(after.deletionVectors.size === 1)
    // time travel to the pre-delete snapshot sees every row
    assert(ids(dir, Some(1L)).size === 20)
  }

  test("a second DV delete on the same file MERGES the old vector") {
    val dir = tmpDir("dv_merge")
    twoFileTable(dir)
    Sinks.deltaDeleteVectors(spark, dir, "id BETWEEN 3 AND 5")
    Sinks.deltaDeleteVectors(spark, dir, "id IN (1, 7)")
    assert(ids(dir) === Seq(0L, 2L, 6L, 8L, 9L) ++ (100L to 109L))
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "dv_merged")
    assert(cat.deletionVectors.size === 1)
    // intermediate version: first delete applied, second not
    assert(ids(dir, Some(2L)) === ((0L to 2L) ++ (6L to 9L) ++ (100L to 109L)))
  }

  test("NULL-predicate rows are kept (SQL DELETE semantics)") {
    val dir = tmpDir("dv_null")
    Sinks.deltaAppend(
      Seq((1L, Some(5L)), (2L, Some(20L)), (3L, None), (4L, Some(30L)))
        .toDF("id", "v"), dir)
    Sinks.deltaDeleteVectors(spark, dir, "v > 10")
    assert(ids(dir) === Seq(1L, 3L))
  }

  test("a predicate matching nothing is a version no-op; pruning skips disjoint files") {
    val dir = tmpDir("dv_noop")
    twoFileTable(dir)
    assert(Sinks.deltaDeleteVectors(spark, dir, "id BETWEEN 5000 AND 6000") === 1L)
    assert(DeltaCatalog.fromDeltaLog(spark, dir, "dv_n").deletionVectors.isEmpty)
    // a delete hitting ONE file's range leaves the other undescribed
    Sinks.deltaDeleteVectors(spark, dir, "id BETWEEN 100 AND 101")
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "dv_n2")
    assert(cat.deletionVectors.size === 1)
    assert(ids(dir).size === 18)
  }

  test("copy-on-write rewrites MATERIALIZE the DV and drop the descriptor") {
    val dir = tmpDir("dv_materialize")
    twoFileTable(dir)
    Sinks.deltaDeleteVectors(spark, dir, "id BETWEEN 3 AND 5")
    // a COW delete on the same file reads through the DV, so prior
    // deletions survive the rewrite and the descriptor disappears
    Sinks.deltaDeleteWhere(spark, dir, "id = 7")
    assert(ids(dir) === Seq(0L, 1L, 2L, 6L, 8L, 9L) ++ (100L to 109L))
    assert(DeltaCatalog.fromDeltaLog(spark, dir, "dv_cow").deletionVectors.isEmpty)
    // OPTIMIZE reclaims DV'd layouts the same way
    val dir2 = tmpDir("dv_optimize")
    twoFileTable(dir2)
    Sinks.deltaDeleteVectors(spark, dir2, "id <= 107")
    Sinks.deltaOptimize(spark, dir2, targetBytes = 1L << 30)
    assert(ids(dir2) === Seq(108L, 109L))
    assert(DeltaCatalog.fromDeltaLog(spark, dir2, "dv_opt").deletionVectors.isEmpty)
  }

  test("MERGE on a DV'd file sees only live rows") {
    val dir = tmpDir("dv_mergeop")
    twoFileTable(dir)
    Sinks.deltaDeleteVectors(spark, dir, "id = 4")
    // updating a deleted key INSERTS it (it no longer matches a base row)
    Sinks.deltaMerge(spark, dir, Seq((4L, 999L), (5L, 111L)).toDF("id", "v"), "id")
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "dv_m")
    val rows = cat.read(spark, cat.files).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size === 20)
    assert(rows(4L) === 999L && rows(5L) === 111L)
  }

  test("DVs survive checkpoint + commit cleaning; vacuum GCs superseded batches only") {
    val dir = tmpDir("dv_checkpoint")
    twoFileTable(dir)
    Sinks.deltaDeleteVectors(spark, dir, "id BETWEEN 3 AND 5")
    Sinks.deltaDeleteVectors(spark, dir, "id IN (1, 7)") // supersedes batch 1
    Sinks.deltaCheckpoint(spark, dir, cleanCommits = true)
    assert(ids(dir) === Seq(0L, 2L, 6L, 8L, 9L) ++ (100L to 109L))
    // the first vector file is unreferenced now: vacuum reaps it, keeps the
    // live one (protocol-format deletion_vector_*.bin under the table root)
    def vectors(): Long = Files.list(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("deletion_vector_") &&
        p.getFileName.toString.endsWith(".bin")).count()
    assert(vectors() === 2)
    // within the retention window the SUPERSEDED vector survives — it is
    // dated from when it became unreferenced (the superseding commit),
    // never its creation mtime, so in-flight readers and time travel keep
    // working for the promised window (here history was checkpoint-cleaned,
    // so the conservative mtime fallback carries the same guarantee)
    Sinks.deltaVacuum(spark, dir, retainMs = 24L * 3600 * 1000)
    assert(vectors() === 2)
    Sinks.deltaVacuum(spark, dir)
    assert(vectors() === 1)
    assert(ids(dir) === Seq(0L, 2L, 6L, 8L, 9L) ++ (100L to 109L))
  }

  test("a superseded vector is dated from the superseding COMMIT, not its mtime") {
    val dir = tmpDir("dv_vacuum_dating")
    twoFileTable(dir)
    Sinks.deltaDeleteVectors(spark, dir, "id BETWEEN 3 AND 5") // v2: vector A
    // make vector A's bytes LOOK ancient: creation-time dating would reap
    // it the moment it is superseded, inside the promised retention window
    Files.list(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("deletion_vector_"))
      .forEach(p => Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 30L * 24 * 3600 * 1000)))
    Sinks.deltaDeleteVectors(spark, dir, "id IN (1, 7)") // v3 supersedes A
    def vectors(): Long = Files.list(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("deletion_vector_") &&
        p.getFileName.toString.endsWith(".bin")).count()
    assert(vectors() === 2)
    // v3's remove tombstone carries A's descriptor stamped NOW: a 1h
    // retention must keep A despite its 30-day-old bytes — readers of the
    // pre-supersede snapshot are still inside their window
    Sinks.deltaVacuum(spark, dir, retainMs = 3600 * 1000L)
    assert(vectors() === 2)
    assert(ids(dir, asOf = Some(2L)).size === 17)
    Sinks.deltaVacuum(spark, dir)
    assert(vectors() === 1)
  }

  test("RESTORE rolls deletion-vector state back and forward") {
    val dir = tmpDir("dv_restore")
    twoFileTable(dir)
    Sinks.deltaDeleteVectors(spark, dir, "id BETWEEN 3 AND 5") // v2
    // restore to the pre-delete snapshot: same files, DV must CLEAR
    val v3 = Sinks.deltaRestore(spark, dir, 1L)
    assert(v3 === 3L)
    assert(ids(dir).size === 20)
    assert(DeltaCatalog.fromDeltaLog(spark, dir, "dv_r1").deletionVectors.isEmpty)
    // and back to the deleted state: the descriptor must RETURN
    Sinks.deltaRestore(spark, dir, 2L)
    assert(ids(dir) === ((0L to 2L) ++ (6L to 9L) ++ (100L to 109L)))
    assert(DeltaCatalog.fromDeltaLog(spark, dir, "dv_r2").deletionVectors.size === 1)
  }

  test("per-version CDF feeds exactly the DV-deleted rows") {
    val dir = tmpDir("dv_cdf")
    twoFileTable(dir)
    Sinks.deltaDeleteVectors(spark, dir, "id BETWEEN 3 AND 5") // v2
    val feed = Sinks.deltaChangesAt(spark, dir, 2L, Seq("id"), Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(r.fieldIndex("status"))).toSet
    assert(feed === Set(3L -> "removed", 4L -> "removed", 5L -> "removed"))
    // the span variant agrees and labels the version
    val span = Sinks.deltaChangesBetween(spark, dir, 1L, 2L, Seq("id"), Seq("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(r.fieldIndex("status"))))
    assert(span.map(_._1).toSet === Set(2L))
    assert(span.map(t => t._2 -> t._3).toSet ===
      Set(3L -> "removed", 4L -> "removed", 5L -> "removed"))
  }

  test("concurrent DV deletes of the same file conflict instead of losing rows") {
    // still-live alone can't catch this: the racing DV delete re-adds the
    // SAME path, so the loser must detect the descriptor CHANGE — blindly
    // re-committing would replace the winner's DV and resurrect its rows
    val dir = tmpDir("dv_race")
    twoFileTable(dir)
    Sinks.onBeforePublish =
      () => {
        val hook = Sinks.onBeforePublish
        Sinks.onBeforePublish = () => () // the inner delete publishes plainly
        try Sinks.deltaDeleteVectors(spark, dir, "id IN (1, 2)")
        finally Sinks.onBeforePublish = hook
      }
    try {
      val e = intercept[graft.model.BuzzException.ExecutionError] {
        Sinks.deltaDeleteVectors(spark, dir, "id BETWEEN 3 AND 5")
      }
      assert(e.getMessage.contains("deletion-vector state"))
    } finally Sinks.onBeforePublish = () => ()
    // the winner's deletions survived; the loser committed nothing
    assert(ids(dir) === ((0L +: (3L to 9L)) ++ (100L to 109L)))
  }

  test("OPTIMIZE loses loudly to a concurrent DV delete of its input") {
    val dir = tmpDir("dv_optrace")
    twoFileTable(dir)
    Sinks.onBeforePublish =
      () => {
        val hook = Sinks.onBeforePublish
        Sinks.onBeforePublish = () => ()
        try Sinks.deltaDeleteVectors(spark, dir, "id IN (1, 2)")
        finally Sinks.onBeforePublish = hook
      }
    try {
      val e = intercept[graft.model.BuzzException.ExecutionError] {
        Sinks.deltaOptimize(spark, dir, targetBytes = 1L << 30)
      }
      assert(e.getMessage.contains("deletion-vector state"))
    } finally Sinks.onBeforePublish = () => ()
    assert(ids(dir) === ((0L +: (3L to 9L)) ++ (100L to 109L)))
  }

  test("DV commits declare reader v3; the bump survives checkpoint cleaning and clones") {
    val dir = tmpDir("dv_proto")
    twoFileTable(dir)
    Sinks.deltaDeleteVectors(spark, dir, "id BETWEEN 3 AND 5")
    val commit2 = Files.readString(
      java.nio.file.Paths.get(s"$dir/_delta_log/00000000000000000002.json"))
    assert(commit2.contains("\"minReaderVersion\":3") &&
      commit2.contains("deletionVectors"),
      "a DV commit must declare the feature — a reader without it would " +
        s"silently resurrect rows:\n$commit2")
    // commit cleaning must not revert the declaration
    Sinks.deltaCheckpoint(spark, dir, cleanCommits = true)
    assert(DeltaCatalog.tableProtocol(spark, dir).exists(_._3.contains("deletionVectors")))
    assert(ids(dir) === ((0L to 2L) ++ (6L to 9L) ++ (100L to 109L)))
    // a clone of a DV'd table inherits the obligation
    val dst = tmpDir("dv_proto_clone")
    Sinks.deltaCloneShallow(spark, dir, dst)
    assert(DeltaCatalog.tableProtocol(spark, dst).exists(_._3.contains("deletionVectors")))
  }

  test("DV delete is row-equivalent to copy-on-write delete across predicate shapes") {
    // same table, same predicate, both delete paths — read-back must agree
    // exactly; the only difference is the write shape (sidecar vs rewrite)
    val preds = Seq(
      "id BETWEEN 3 AND 5", "v > 10", "id % 3 = 0",
      "id < 0", "id >= 0", "v IS NULL OR id = 2")
    preds.foreach { p =>
      val cow = tmpDir("dv_equiv_cow")
      val dv = tmpDir("dv_equiv_dv")
      val data = Seq(
        (0L, Some(5L)), (1L, None), (2L, Some(20L)), (3L, Some(7L)),
        (4L, Some(0L)), (5L, Some(100L)), (6L, None), (7L, Some(14L)))
        .toDF("id", "v")
      Seq(cow, dv).foreach(d => Sinks.deltaAppend(
        data.repartitionByRange(3, col("id")).sortWithinPartitions("id"), d))
      Sinks.deltaDeleteWhere(spark, cow, p)
      Sinks.deltaDeleteVectors(spark, dv, p)
      def state(d: String): Set[(Long, Option[Long])] = {
        val cat = DeltaCatalog.fromDeltaLog(spark, d, "equiv")
        cat.read(spark, cat.files).collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
          .toSet
      }
      assert(state(dv) === state(cow), s"divergence under predicate '$p'")
    }
  }

  test("scan filter pushdown survives the DV anti-join") {
    val dir = tmpDir("dv_pushdown")
    twoFileTable(dir)
    Sinks.deltaDeleteVectors(spark, dir, "id = 4")
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "dv_plan")
    val plan = cat.read(spark, cat.files).filter(col("v") > 100L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s", "").contains("GreaterThan(v,100)"),
      s"user filter not pushed into the DV'd scan:\n$plan")
  }

  test("racing appends and retried DV deletes never lose appends or resurrect rows") {
    val dir = tmpDir("dv_stress")
    Sinks.deltaAppend(
      (0L until 40L).map(i => (i, i)).toDF("id", "v")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"), dir)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def thread(body: => Unit): Thread = {
      val t = new Thread(() => try body catch { case e: Throwable => failures.add(e) })
      t.start(); t
    }
    // three appenders land disjoint high ranges while a deleter DV-drops
    // a fixed low range, retrying on legitimate conflict aborts — the
    // caller-visible contract is "rerun against the current snapshot"
    val appenders = (0 until 3).map { t =>
      thread {
        (0 until 3).foreach { i =>
          Sinks.deltaAppend(
            Seq((1000L + t * 10 + i, 1L)).toDF("id", "v").coalesce(1), dir)
        }
      }
    }
    val deleter = thread {
      var attempts = 0
      var done = false
      while (!done && attempts < 30) {
        attempts += 1
        try { Sinks.deltaDeleteVectors(spark, dir, "id BETWEEN 10 AND 19"); done = true }
        catch { case _: graft.model.BuzzException.ExecutionError => Thread.sleep(50) }
      }
      if (!done) throw new IllegalStateException("DV delete never won in 30 attempts")
    }
    (appenders :+ deleter).foreach(_.join(120000))
    assert(failures.isEmpty, s"racing writer failed: ${Option(failures.peek())}")
    val got = ids(dir).toSet
    val expected = (0L until 40L).toSet -- (10L to 19L) ++
      (for (t <- 0 until 3; i <- 0 until 3) yield 1000L + t * 10 + i)
    assert(got === expected)
  }

  test("DV delete on a PARTITIONED table filters only the targeted rows") {
    // (partition value of id i, predicate, live rows per value after it,
    // partitions whose files carry a vector);
    // the second table's values `a b` and `c%d` percent-encode in the
    // scan path, so its vectors only land if the writer keys them by the
    // path the scan reports
    val inputs = Seq[(Long => String, String, Map[String, Long], Int)](
      (i => if (i < 10) "a" else "b", "g = 'a' AND id >= 8",
        Map("a" -> 8L, "b" -> 10L), 1),
      (i => Seq("a b", "c%d", "e")((i % 3).toInt), "id >= 8 AND id < 12",
        Map("a b" -> 6L, "c%d" -> 6L, "e" -> 4L), 3))
    inputs.foreach { case (g, predicate, expected, dvPartitions) =>
      val dir = tmpDir("dv_part")
      Sinks.deltaAppend(
        (0L until 20L).map(i => (i, i * 2, g(i)))
          .toDF("id", "v", "g"), dir, Seq("g"))
      Sinks.deltaDeleteVectors(spark, dir, predicate)
      val cat = DeltaCatalog.fromDeltaLog(spark, dir, "dv_p")
      val byG = cat.read(spark, cat.files).groupBy(col("g")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byG === expected)
      assert(cat.files.filter(f => cat.deletionVectors.contains(f.key))
        .map(_.partitionValues).distinct.size === dvPartitions)
    }
  }
}
