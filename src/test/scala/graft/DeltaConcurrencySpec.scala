package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.BuzzException
import graft.operators.Sinks
import graft.sources.{DeltaCatalog, FsUtil}

/** The Delta commit protocol under CONCURRENT writers: snapshot-version
  * pinning (an intermediate commit must force the conflict checks, never
  * be silently absorbed), concurrent-append detection for row-level DML
  * (upstream Delta's ConcurrentAppendException semantics under
  * WriteSerializable), conservative candidate pruning on malformed stats,
  * and atomic stale-lock breaking. */
class DeltaConcurrencySpec extends AnyFunSuite {
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

  private def withHook[A](hook: () => Unit)(body: => A): A = {
    Sinks.onBeforePublish = hook
    try body finally Sinks.onBeforePublish = () => ()
  }

  private def allRows(dir: String): Map[Long, Long] = {
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "concur_read")
    cat.read(spark, cat.files).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("malformed key-bound stats make a file an UNCONDITIONAL merge candidate") {
    val dir = tmpDir("merge_badstats")
    twoFileTable(dir)
    // corrupt v1's stats: string bounds where the long key expects numbers.
    // Pre-fix, the type-mismatched parse silently DROPPED the file from the
    // candidate set: its matched base row survived while the change row
    // inserted — duplicate key 105.
    val commit1 = Paths.get(s"$dir/_delta_log/00000000000000000001.json")
    val corrupted = Files.readString(commit1)
      .replace("{\\\"id\\\":100", "{\\\"id\\\":\\\"oops\\\"")
      .replace("{\\\"id\\\":109", "{\\\"id\\\":\\\"oops\\\"")
    assert(corrupted.contains("oops"), "fixture drift: stats bounds not found")
    Files.writeString(commit1, corrupted)
    // the out-of-band edit invalidates Hadoop's checksum sidecar
    Files.deleteIfExists(
      Paths.get(s"$dir/_delta_log/.00000000000000000001.json.crc"))
    Sinks.deltaMerge(spark, dir, Seq((105L, 999L)).toDF("id", "v"), "id")
    val rows = allRows(dir)
    assert(rows.size === 20, s"duplicate keys after merge: ${rows.size} rows")
    assert(rows(105L) === 999L)
  }

  test("integral merge bounds compare as exact longs near Long.MaxValue") {
    val dir = tmpDir("merge_longexact")
    val hi = Long.MaxValue - 10L
    Sinks.deltaAppend(
      (0L until 5L).map(i => (i, i)).toDF("id", "v").coalesce(1), dir)
    Sinks.deltaAppend(
      (0L until 5L).map(i => (hi + i, i)).toDF("id", "v").coalesce(1), dir)
    val loFile = DeltaCatalog.fromDeltaLog(spark, dir, "lx_pre").files
      .map(_.key).find(k =>
        spark.read.parquet(k).agg(max(col("id"))).head.getLong(0) === 4L).get
    Sinks.deltaMerge(spark, dir, Seq((hi + 2L, 999L)).toDF("id", "v"), "id")
    val rows = allRows(dir)
    assert(rows.size === 10)
    assert(rows(hi + 2L) === 999L)
    // the low file was never a candidate: still live under its old path
    val after = DeltaCatalog.fromDeltaLog(spark, dir, "lx_post").files.map(_.key).toSet
    assert(after.contains(loFile))
  }

  test("a commit landing between snapshot and publish forces the conflict check") {
    val dir = tmpDir("rewrite_pin")
    twoFileTable(dir)
    val snapVer = 1L
    val rawByKey = DeltaCatalog.liveRawByKey(spark, dir)
    val lowRaw = rawByKey.collectFirst {
      case (k, raw) if spark.read.parquet(k)
        .agg(min(col("id"))).head.getLong(0) === 0L => raw
    }.get
    // stage a "rewrite output" of the low file (as a rewriter that read
    // the snapshot would have produced)
    val stage = tmpDir("rewrite_pin_stage")
    (0L until 10L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    val rel = s"pinned-${java.util.UUID.randomUUID}.parquet"
    Files.copy(part, Paths.get(dir, rel))
    val adds = Seq(Sinks.AddedFile(rel, Files.size(Paths.get(dir, rel)), Nil,
      Files.getLastModifiedTime(Paths.get(dir, rel)).toMillis))
    val schema = DeltaCatalog.fromDeltaLog(spark, dir, "pin_schema").schema
    // intermediate commit: a DELETE removes the rewrite's input file
    Sinks.deltaDeleteWhere(spark, dir, "id <= 9")
    assert(allRows(dir).keySet.forall(_ >= 100L))
    // pre-fix, commitRewrite targeted latestVersion+1 at commit time: the
    // publish succeeded at the fresh head and the deleted rows were
    // RESURRECTED with no error. Pinned, the stale rewrite fails loudly.
    val e = intercept[BuzzException.ExecutionError] {
      Sinks.commitRewrite(spark, dir, adds, Seq(lowRaw), schema, "testrewrite",
        snapshotVersion = snapVer)
    }
    assert(e.getMessage.contains("no longer live"))
    assert(allRows(dir).keySet.forall(_ >= 100L), "deleted rows resurrected")
  }

  test("DELETE WHERE fails loudly on a concurrent append that could match") {
    val dir = tmpDir("del_appendrace")
    twoFileTable(dir)
    val e = intercept[BuzzException.ExecutionError] {
      withHook(() => Sinks.deltaAppend(
        Seq((4L, 777L)).toDF("id", "v").coalesce(1), dir)) {
        Sinks.deltaDeleteWhere(spark, dir, "id BETWEEN 3 AND 5")
      }
    }
    assert(e.getMessage.contains("concurrent append"))
    // nothing committed by the failed delete; the racing append is intact
    assert(allRows(dir)(4L) === 777L)
  }

  test("DELETE WHERE retries past a concurrent append proven disjoint") {
    val dir = tmpDir("del_appendok")
    twoFileTable(dir)
    val ver = withHook(() => Sinks.deltaAppend(
      (5000L until 5003L).map(i => (i, i)).toDF("id", "v").coalesce(1), dir)) {
      Sinks.deltaDeleteWhere(spark, dir, "id BETWEEN 3 AND 5")
    }
    assert(ver === 3L) // snapshot v1, append took v2, delete re-committed at v3
    val rows = allRows(dir)
    assert(!rows.contains(3L) && !rows.contains(4L) && !rows.contains(5L))
    assert(rows.contains(5001L) && rows.contains(6L) && rows.contains(100L))
  }

  test("MERGE fails loudly on a concurrent append overlapping its keys") {
    val dir = tmpDir("merge_appendrace")
    twoFileTable(dir)
    val e = intercept[BuzzException.ExecutionError] {
      withHook(() => Sinks.deltaAppend(
        Seq((105L, 1L)).toDF("id", "v").coalesce(1), dir)) {
        Sinks.deltaMerge(spark, dir, Seq((105L, 999L)).toDF("id", "v"), "id")
      }
    }
    assert(e.getMessage.contains("concurrent append"))
  }

  test("MERGE retries past a concurrent append with provably disjoint keys") {
    val dir = tmpDir("merge_appendok")
    twoFileTable(dir)
    val ver = withHook(() => Sinks.deltaAppend(
      Seq((7000L, 1L)).toDF("id", "v").coalesce(1), dir)) {
      Sinks.deltaMerge(spark, dir, Seq((105L, 999L)).toDF("id", "v"), "id")
    }
    assert(ver === 3L)
    val rows = allRows(dir)
    assert(rows(105L) === 999L && rows(7000L) === 1L && rows.size === 21)
  }

  test("UPDATE detects a concurrent matching append") {
    val dir = tmpDir("upd_appendrace")
    twoFileTable(dir)
    val e = intercept[BuzzException.ExecutionError] {
      withHook(() => Sinks.deltaAppend(
        Seq((4L, 777L)).toDF("id", "v").coalesce(1), dir)) {
        Sinks.deltaUpdate(spark, dir, "id BETWEEN 3 AND 5", Map("v" -> "v + 1"))
      }
    }
    assert(e.getMessage.contains("concurrent append"))
  }

  test("DESCRIBE HISTORY: every writer stamps its operation and parameters") {
    val dir = tmpDir("history")
    twoFileTable(dir)                                           // v0, v1: APPEND
    Sinks.deltaOptimize(spark, dir, targetBytes = 1L << 30)     // v2
    Sinks.deltaDeleteWhere(spark, dir, "id BETWEEN 3 AND 5")    // v3
    Sinks.deltaDeleteVectors(spark, dir, "id = 7")              // v4
    Sinks.deltaRenameColumn(spark, dir, "v", "value")           // v5
    val h = Sinks.deltaHistory(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(2),
        r.getAs[Map[String, String]](3))).toMap
    assert(h.keySet === (0L to 5L).toSet)
    assert(h(0L)._1 === "APPEND" && h(1L)._1 === "APPEND")
    assert(h(2L)._1 === "OPTIMIZE")
    assert(h(3L)._1 === "DELETE")
    assert(h(3L)._2("predicate") === "id BETWEEN 3 AND 5")
    assert(h(4L)._1 === "DELETE" && h(4L)._2("mode") === "merge-on-read")
    assert(h(5L)._1 === "RENAME COLUMN" && h(5L)._2 === Map("old" -> "v", "new" -> "value"))
    // timestamps are monotone non-decreasing over versions
    val ts = Sinks.deltaHistory(spark, dir).collect().map(_.getLong(1))
    assert(ts.sliding(2).forall { case Array(a, b) => a <= b; case _ => true })
  }

  test("a table demanding an unimplemented reader protocol fails loudly") {
    val dir = tmpDir("protocol_guard")
    twoFileTable(dir)
    def rewriteProtocol(json: String): Unit = {
      val commit0 = java.nio.file.Paths.get(s"$dir/_delta_log/00000000000000000000.json")
      val body = Files.readString(commit0)
        .replaceAll("\\{\"protocol\":\\{[^}]*\\}\\}", json)
      Files.writeString(commit0, body)
      Files.deleteIfExists(
        java.nio.file.Paths.get(s"$dir/_delta_log/.00000000000000000000.json.crc"))
    }
    // a future reader version: silently replaying it could return wrong data
    rewriteProtocol("""{"protocol":{"minReaderVersion":4,"minWriterVersion":7}}""")
    val e = intercept[BuzzException.NotImplemented] {
      DeltaCatalog.fromDeltaLog(spark, dir, "proto4")
    }
    assert(e.getMessage.contains("reader protocol 4"))
    // v3 with a feature set we don't implement
    rewriteProtocol("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      """"readerFeatures":["typeWidening","deletionVectors"]}}""")
    val e2 = intercept[BuzzException.NotImplemented] {
      DeltaCatalog.fromDeltaLog(spark, dir, "protoTW")
    }
    assert(e2.getMessage.contains("typeWidening"))
    // v3 whose features we DO implement replays fine
    rewriteProtocol("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      """"readerFeatures":["deletionVectors","columnMapping"]}}""")
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "protoDV")
    assert(cat.read(spark, cat.files).count() === 20L)
  }

  test("VACUUM retention keeps young tombstones; expiry reclaims them") {
    val dir = tmpDir("vacuum_retain")
    twoFileTable(dir)
    Sinks.deltaDeleteWhere(spark, dir, "id <= 9") // tombstones the low file
    // young tombstone + 1h retention: nothing reclaimed, travel still works
    assert(Sinks.deltaVacuum(spark, dir, retainMs = 3600L * 1000) === 0L)
    val pre = DeltaCatalog.fromDeltaLog(spark, dir, "vr_tt", versionAsOf = Some(1L))
    assert(pre.read(spark, pre.files).count() === 20L)
    // age the tombstone past the window by rewriting the commit's
    // deletionTimestamp (the log is the clock VACUUM trusts)
    val commit2 = java.nio.file.Paths.get(s"$dir/_delta_log/00000000000000000002.json")
    val aged = java.util.regex.Pattern
      .compile("\"deletionTimestamp\":\\d+")
      .matcher(Files.readString(commit2))
      .replaceAll("\"deletionTimestamp\":1000")
    Files.writeString(commit2, aged)
    Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_delta_log/.00000000000000000002.json.crc"))
    assert(Sinks.deltaVacuum(spark, dir, retainMs = 3600L * 1000) === 1L)
    // the current snapshot is intact; the tombstoned version is gone
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "vr_post")
    assert(cat.read(spark, cat.files).count() === 10L)
  }

  test("stale-lock breaking is an ATOMIC take: exactly one same-version commit wins") {
    val logDir = tmpDir("lock_race") + "/_delta_log"
    Files.createDirectories(Paths.get(logDir))
    // a leaked claim from a "crashed" writer, aged past the TTL
    val lock = Paths.get(logDir, f".${0L}%020d.lock")
    Files.writeString(lock, "")
    lock.toFile.setLastModified(System.currentTimeMillis() - 10 * 60 * 1000L)
    val n = 8
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    val start = new java.util.concurrent.CyclicBarrier(n)
    val threads = (0 until n).map { i =>
      new Thread(() => {
        start.await()
        results.put(i, FsUtil.publishCommit(spark, logDir, 0L, s"body-$i\n"))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val winners = (0 until n).filter(results.get(_))
    assert(winners.size === 1,
      s"${winners.size} writers claimed version 0 through a stale lock")
    val committed = Files.readString(Paths.get(logDir, f"${0L}%020d.json"))
    assert(committed === s"body-${winners.head}\n")
    // no lock or tombstone debris survives
    val debris = Files.list(Paths.get(logDir)).map[String](_.getFileName.toString)
      .filter(nm => nm.contains(".lock")).toArray
    assert(debris.isEmpty, s"lock debris left behind: ${debris.mkString(",")}")
  }

  test("a stale lock with no contention is broken and the commit lands") {
    val logDir = tmpDir("lock_stale") + "/_delta_log"
    Files.createDirectories(Paths.get(logDir))
    val lock = Paths.get(logDir, f".${3L}%020d.lock")
    Files.writeString(lock, "")
    lock.toFile.setLastModified(System.currentTimeMillis() - 10 * 60 * 1000L)
    assert(FsUtil.publishCommit(spark, logDir, 3L, "late\n"))
    assert(Files.readString(Paths.get(logDir, f"${3L}%020d.json")) === "late\n")
    assert(!Files.exists(lock))
  }

  test("composite-key append probe intersects per-column envelopes: disjoint in the SECOND column commits") {
    // r12's probe consulted the LEADING column only — with a
    // low-cardinality leading key every concurrent append conflicted,
    // throttling concurrent writers. The fixture makes the leading
    // envelope USELESS (k1 = 1 everywhere) and proves the second
    // column's evidence clears the append.
    val dir = tmpDir("apply_envelope_ck")
    Sinks.deltaAppend(
      (0L until 10L).map(i => (1L, i, i * 2)).toDF("k1", "k2", "v").coalesce(1), dir)
    // change set touches (k1=1, k2 in {2,3}): envelopes k1 [1,1], k2 [2,3]
    val changes = Seq((1L, 2L, 200L, "update_postimage"), (1L, 3L, 300L, "update_postimage"))
      .toDF("k1", "k2", "v", "_change_type")
    // concurrent append (1, 100): k1 overlaps, k2 provably disjoint
    val ver = withHook(() => Sinks.deltaAppend(
      Seq((1L, 100L, 1L)).toDF("k1", "k2", "v").coalesce(1), dir)) {
      Sinks.deltaApplyChanges(spark, dir, changes, Seq("k1", "k2"))
    }
    assert(ver === 2L) // snapshot v0, append took v1, apply re-committed at v2
    val rows = {
      val cat = DeltaCatalog.fromDeltaLog(spark, dir, "env_ck_read")
      cat.read(spark, cat.files).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    assert(rows((1L, 2L)) === 200L && rows((1L, 3L)) === 300L)
    assert(rows((1L, 100L)) === 1L && rows.size === 11)
    // negative control: an append overlapping EVERY column's envelope
    // still conflicts loudly
    val e = intercept[BuzzException.ExecutionError] {
      withHook(() => Sinks.deltaAppend(
        Seq((1L, 3L, 9L)).toDF("k1", "k2", "v").coalesce(1), dir)) {
        Sinks.deltaApplyChanges(spark, dir,
          Seq((1L, 3L, 301L, "update_postimage")).toDF("k1", "k2", "v", "_change_type"),
          Seq("k1", "k2"))
      }
    }
    assert(e.getMessage.contains("concurrent append"))
  }
}
