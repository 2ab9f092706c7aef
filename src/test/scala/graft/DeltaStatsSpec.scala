package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sinks
import graft.sources.{DeltaCatalog, FsUtil, MetaCache, ZoneMap}

/** Delta data-skipping stats: per-file (numRecords, minValues, maxValues,
  * nullCount) written into `add.stats` at commit time and consumed at
  * catalog build — range predicates then prune Delta file lists from
  * metadata the replay already carries, with ZERO footer reads. */
class DeltaStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A 4-file range-clustered table: id in [0,100), [100,200), ... */
  private def writeClustered(path: String): Unit = {
    val df = (0L until 400L).map(i => (i, i * 3, s"w${i / 100}", i.toDouble / 7))
      .toDF("id", "v", "tag", "x")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    Sinks.deltaAppend(df, path)
  }

  test("deltaAppend writes protocol-shaped stats for numeric and string columns") {
    val dir = tmpDir("graft_dstats")
    writeClustered(dir)
    val commit = FsUtil.readString(spark, s"$dir/_delta_log/${"0" * 20}.json")
    val statsLines = commit.linesIterator.filter(_.contains("\"stats\"")).toSeq
    assert(statsLines.size == 4, s"expected stats on all 4 adds:\n$commit")
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val perFile = statsLines.map { line =>
      val add = JsonMethods.parse(line) \ "add"
      val stats = JsonMethods.parse((add \ "stats").asInstanceOf[JString].s)
      def num(o: JValue, c: String): Long = (o \ c: @unchecked) match {
        case JLong(l) => l
        case JInt(i)  => i.toLong
      }
      val n = num(stats, "numRecords")
      (n, num(stats \ "minValues", "id"), num(stats \ "maxValues", "id"),
        num(stats \ "nullCount", "id"),
        (stats \ "minValues" \ "tag").asInstanceOf[JString].s,
        (stats \ "maxValues" \ "tag").asInstanceOf[JString].s,
        (stats \ "minValues" \ "x": @unchecked) match { case JDouble(d) => d })
    }
    assert(perFile.map(_._1).sum == 400L)
    assert(perFile.map(_._4).sum == 0L)
    // each file covers one contiguous id block; together they tile [0,399]
    val ranges = perFile.map(p => (p._2, p._3)).sortBy(_._1)
    assert(ranges.head._1 == 0L && ranges.last._2 == 399L)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => lo == hi + 1
      case _                     => true
    }, s"blocks should tile: $ranges")
    // string stats are real bounds; double stats are doubles
    assert(perFile.forall(p => p._5 <= p._6))
    assert(perFile.map(_._7).min == 0.0)
  }

  test("a Delta catalog prunes range predicates from the log with zero footer reads") {
    val dir = tmpDir("graft_dprune")
    writeClustered(dir)
    MetaCache.reset()
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "dp")
    assert(cat.files.size == 4)
    val before = ZoneMap.footerReads.get()
    val pruned = ZoneMap.pruneForQuery(spark, cat.schema, cat.files,
      "SELECT sum(v) AS s FROM dp WHERE id BETWEEN 120 AND 260")
    assert(pruned.size == 2, s"kept ${pruned.map(_.key)}")
    assert(ZoneMap.footerReads.get() == before,
      "log-carried stats must answer pruning without footer IO")
    // the pruned read still answers exactly (files 1 and 2 hold 120..260)
    val s = cat.read(spark, pruned)
      .filter(col("id").between(120, 260)).agg(sum(col("v"))).head.getLong(0)
    assert(s == (120L to 260L).map(_ * 3).sum)
  }

  test("stats survive checkpoint + commit cleaning") {
    val dir = tmpDir("graft_dcp")
    writeClustered(dir)
    Sinks.deltaCheckpoint(spark, dir, cleanCommits = true)
    assert(!FsUtil.exists(spark, s"$dir/_delta_log/${"0" * 20}.json"),
      "commit cleaning should have removed the JSON commit")
    MetaCache.reset()
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "dcp")
    val before = ZoneMap.footerReads.get()
    val pruned = ZoneMap.pruneForQuery(spark, cat.schema, cat.files,
      "SELECT count(*) AS n FROM dcp WHERE id BETWEEN 0 AND 99")
    assert(pruned.size == 1, s"kept ${pruned.map(_.key)}")
    assert(ZoneMap.footerReads.get() == before,
      "checkpoint-seeded catalogs must prune without footer IO")
  }

  test("Delta adds carry each file's mtime, and a checkpoint keeps every file's identity") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val dir = tmpDir("graft_dmtime")
    writeClustered(dir)
    val appended = DeltaCatalog.fromDeltaLog(spark, dir, "dm")
    assert(appended.files.size == 4)
    appended.files.foreach { f =>
      assert(f.modificationTime > 0 &&
        f.modificationTime == FsUtil.status(spark, f.key).getModificationTime, f.key)
    }
    // a restore re-adds a removed file under the time its target version recorded
    val restored = tmpDir("graft_drestore")
    writeClustered(restored)
    val atV0 = DeltaCatalog.fromDeltaLog(spark, restored, "dr").files.map(_.id).toSet
    Sinks.deltaDeleteWhere(spark, restored, "id < 100")
    Sinks.deltaRestore(spark, restored, 0L)
    assert(DeltaCatalog.fromDeltaLog(spark, restored, "dr").files.map(_.id).toSet == atV0)
    // without add.stats, zone ranges come from footers, cached per file
    // identity; a foreign writer's table looks like this
    val commit = s"$dir/_delta_log/${"0" * 20}.json"
    val stripped = FsUtil.readString(spark, commit).linesIterator.filter(_.nonEmpty)
      .map(l => JsonMethods.compact(JsonMethods.render(
        JsonMethods.parse(l).removeField(_._1 == "stats"))))
    FsUtil.writeString(spark, commit, stripped.mkString("", "\n", "\n"))
    MetaCache.reset()
    val sql = "SELECT count(*) AS n FROM dm WHERE id BETWEEN 0 AND 99"
    val before = DeltaCatalog.fromDeltaLog(spark, dir, "dm")
    val cold = ZoneMap.footerReads.get()
    assert(ZoneMap.pruneForQuery(spark, before.schema, before.files, sql).size == 1)
    assert(ZoneMap.footerReads.get() > cold, "a stats-less table prunes from footers")
    Sinks.deltaCheckpoint(spark, dir, cleanCommits = true)
    val after = DeltaCatalog.fromDeltaLog(spark, dir, "dm")
    assert(after.files.map(_.id).toSet == before.files.map(_.id).toSet)
    val warm = ZoneMap.footerReads.get()
    assert(ZoneMap.pruneForQuery(spark, after.schema, after.files, sql).size == 1)
    assert(ZoneMap.footerReads.get() == warm,
      "a checkpoint must not change the identities the zone ranges are cached under")
  }

  test("a newer checkpoint with cleanCommits reaps superseded checkpoint files") {
    val dir = tmpDir("graft_dcp_gc")
    writeClustered(dir)
    Sinks.deltaCheckpoint(spark, dir, cleanCommits = true)           // v0 cp
    Sinks.deltaAppend(
      (1000L until 1010L).map(i => (i, i, "w9", i.toDouble))
        .toDF("id", "v", "tag", "x").coalesce(1), dir)
    Sinks.deltaCheckpoint(spark, dir, cleanCommits = true, parts = 2) // v1 cp
    val cps = FsUtil.listStatus(spark, s"$dir/_delta_log")
      .map(_.getPath.getName).filter(_.contains("checkpoint.")).sorted
    assert(cps.forall(_.startsWith(f"${1L}%020d")), s"stale checkpoints survive: $cps")
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "dcp_gc")
    assert(cat.read(spark, cat.files).count() === 410L)
  }

  test("multi-part checkpoints round-trip the snapshot and fail loudly on a missing part") {
    val dir = tmpDir("graft_dcp_parts")
    writeClustered(dir)
    Sinks.deltaCheckpoint(spark, dir, cleanCommits = true, parts = 3)
    val logFiles = FsUtil.listStatus(spark, s"$dir/_delta_log")
      .map(_.getPath.getName).filter(_.contains("checkpoint")).sorted
    assert(logFiles.exists(_.matches("\\d{20}\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet")),
      s"expected multi-part layout, got $logFiles")
    MetaCache.reset()
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "dcp_parts")
    assert(cat.files.size == 4)
    assert(cat.read(spark, cat.files).count() === 400L)
    // pruning still works from checkpoint-carried stats
    val pruned = ZoneMap.pruneForQuery(spark, cat.schema, cat.files,
      "SELECT count(*) AS n FROM dcp_parts WHERE id BETWEEN 0 AND 99")
    assert(pruned.size == 1, s"kept ${pruned.map(_.key)}")
    // a missing part is a missing SLICE of the live set: loud failure,
    // never a silently smaller table
    val part = logFiles.find(_.matches("\\d{20}\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet")).get
    FsUtil.fs(spark, dir).delete(new org.apache.hadoop.fs.Path(s"$dir/_delta_log/$part"), false)
    val e = intercept[graft.model.BuzzException.BadRequest] {
      DeltaCatalog.fromDeltaLog(spark, dir, "dcp_broken")
    }
    assert(e.getMessage.contains("missing"))
  }

  test("OPTIMIZE emits fresh stats for rewritten files; RESTORE re-attaches the old ones") {
    val dir = tmpDir("graft_dopt")
    // two tiny appends per id block -> 8 files, optimize compacts to fewer
    val df = (0L until 400L).map(i => (i, i * 3)).toDF("id", "v")
    Sinks.deltaAppend(df.filter(col("id") < 200)
      .repartitionByRange(2, col("id")).sortWithinPartitions("id"), dir)
    Sinks.deltaAppend(df.filter(col("id") >= 200)
      .repartitionByRange(2, col("id")).sortWithinPartitions("id"), dir)
    val vOpt = Sinks.deltaOptimize(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(vOpt == 2L)
    val commit = FsUtil.readString(spark, s"$dir/_delta_log/" + f"$vOpt%020d" + ".json")
    val adds = commit.linesIterator.filter(_.contains("\"add\"")).toSeq
    assert(adds.nonEmpty && adds.forall(_.contains("\"stats\"")),
      s"optimized adds must carry stats:\n$commit")
    // the compacted file spans the full range: stats must say so
    MetaCache.reset()
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "dopt")
    val before = ZoneMap.footerReads.get()
    val all = ZoneMap.pruneForQuery(spark, cat.schema, cat.files,
      "SELECT count(*) AS n FROM dopt WHERE id BETWEEN 0 AND 399")
    assert(all.size == cat.files.size)
    assert(ZoneMap.footerReads.get() == before)
    // restore to the pre-optimize snapshot: re-adds carry their old stats
    val vRest = Sinks.deltaRestore(spark, dir, 1L)
    val restCommit = FsUtil.readString(spark, s"$dir/_delta_log/" + f"$vRest%020d" + ".json")
    val reAdds = restCommit.linesIterator.filter(_.contains("\"add\"")).toSeq
    assert(reAdds.nonEmpty && reAdds.forall(_.contains("\"stats\"")),
      s"restore re-adds must keep stats:\n$restCommit")
    MetaCache.reset()
    val cat2 = DeltaCatalog.fromDeltaLog(spark, dir, "drest")
    val before2 = ZoneMap.footerReads.get()
    val pruned = ZoneMap.pruneForQuery(spark, cat2.schema, cat2.files,
      "SELECT count(*) AS n FROM drest WHERE id BETWEEN 0 AND 99")
    assert(pruned.size == 1, s"kept ${pruned.map(_.key)}")
    assert(ZoneMap.footerReads.get() == before2)
  }

  test("the two-stage engine zone-prunes a DeltaLake catalog (explain shows it)") {
    val dir = tmpDir("graft_dengine")
    writeClustered(dir)
    MetaCache.reset()
    val engine = new graft.plans.BuzzEngine(Map.empty)
    val json =
      s"""{
         |  "steps": [
         |    {"sql": "SELECT count(*) AS n, sum(v) AS sv FROM dl WHERE id BETWEEN 120 AND 260",
         |     "name": "m", "step_type": "HBee"},
         |    {"sql": "SELECT sum(n) AS n, sum(sv) AS sv FROM m",
         |     "name": "r", "step_type": "HComb"}
         |  ],
         |  "capacity": {"zones": 1},
         |  "catalogs": [{"name": "dl", "type": "DeltaLake", "uri": "$dir"}]
         |}""".stripMargin
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val before = ZoneMap.footerReads.get()
    val report = JsonMethods.parse(engine.explainJson(spark, json))
    val JInt(total) = (report \ "files" \ "total": @unchecked)
    val JInt(zoned) = (report \ "files" \ "after_zone_pruning": @unchecked)
    assert(total == 4 && zoned == 2, s"explain: total=$total zoned=$zoned")
    assert(ZoneMap.footerReads.get() == before,
      "Delta planning must prune from log stats, not footers")
    val rows = engine.runJson(spark, json).collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 141L)
    assert(rows(0).getLong(1) == (120L to 260L).map(_ * 3).sum)
  }

  test("partitioned appends carry stats for data columns only and prune per partition") {
    val dir = tmpDir("graft_dpart")
    val df = (0L until 200L).map(i => (i, s"g${i % 2}", i * 2))
      .toDF("id", "g", "v")
      .repartitionByRange(2, col("g"), col("id")).sortWithinPartitions("id")
    Sinks.deltaAppend(df, dir, Seq("g"))
    MetaCache.reset()
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "dpart")
    assert(cat.partitionColumns == Seq("g"))
    assert(!cat.schema.fieldNames.contains("g"))
    val before = ZoneMap.footerReads.get()
    val pruned = ZoneMap.pruneForQuery(spark, cat.schema, cat.files,
      "SELECT count(*) AS n FROM dpart WHERE id > 1000")
    assert(pruned.isEmpty || pruned.size < cat.files.size)
    assert(ZoneMap.footerReads.get() == before)
  }
}
