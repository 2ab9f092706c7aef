package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.plans.BuzzEngine
import graft.sources.{MetaCache, StaticCatalog}

/** End-to-end two-stage execution over real testdata — the Spark analogue of
  * the reference's integ binary (bin/main_integ.rs) running the README query
  * shape (COUNT per group in the map step, SUM of counts in the reduce). */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def engine = {
    val cat = StaticCatalog.overLocalFiles(
      spark, "events", Seq(s"${TestSpark.sf}/events.parquet"))
    new BuzzEngine(Map("events" -> cat))
  }

  test("README-shape query: map COUNT, reduce SUM(count) equals direct count") {
    val out = engine.run(spark, BuzzQuery(
      Seq(
        BuzzStep("SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",
          "events_map", BuzzStepType.HBee, None),
        BuzzStep("SELECT event_type, sum(cnt) AS total FROM events_map GROUP BY event_type",
          "r", BuzzStepType.HComb, None)),
      BuzzCapacity(1), Nil)).collect()
    val direct = Tables.load(spark, TestSpark.sf, "events")
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) == direct(r.getString(0)),
        s"mismatch for ${r.getString(0)}")
    }
  }

  test("runJson executes the reference JSON format end to end") {
    val df = engine.runJson(spark,
      """{
        |"steps": [
        | {"sql": "SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id",
        |  "name": "m", "step_type": "HBee"},
        | {"sql": "SELECT sum(cnt) AS total FROM m", "name": "r", "step_type": "HComb"}
        |],
        |"capacity": {"zones": 1},
        |"catalogs": []
        |}""".stripMargin)
    val total = df.collect()(0).getLong(0)
    assert(total == Tables.load(spark, TestSpark.sf, "events").count())
  }

  test("runAndCollect surfaces per-query worker metrics (hbee_service.rs:45-52 parity)") {
    // a bound below the events table's size keeps the map→reduce exchange
    // (a smaller read runs in one partition, with no shuffle to measure)
    val bound = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    spark.conf.set(bound, "1b")
    val (rows, metrics) =
      try engine.runAndCollect(spark, BuzzQuery(
        Seq(
          BuzzStep("SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",
            "events_map", BuzzStepType.HBee, None),
          BuzzStep("SELECT sum(cnt) AS total FROM events_map", "r", BuzzStepType.HComb, None)),
        BuzzCapacity(1), Nil))
      finally spark.conf.unset(bound)
    assert(rows.length == 1)
    assert(metrics("processed_rows") > 0, s"metrics: $metrics")
    assert(metrics("downloaded_bytes") > 0, s"metrics: $metrics")
    assert(metrics("tasks") > 0, s"metrics: $metrics")
    // IO-wait observability (range_cache.rs:62-82 parity): the two-stage run
    // must surface scan time and reducer fetch-wait alongside the byte counts
    for (k <- Seq("scan_time_ms", "shuffle_fetch_wait_ms", "shuffle_bytes_read"))
      assert(metrics.get(k).exists(_ >= 0L), s"missing $k in: $metrics")
    assert(metrics("shuffle_bytes_read") > 0,
      s"map→reduce exchange should read shuffle bytes: $metrics")
  }

  test("run() restores same-named session temp views and leaves no residue") {
    import spark.implicits._
    // user's own view shares the catalog's name
    Seq((1L, "mine")).toDF("id", "tag").createOrReplaceTempView("events")
    val result = engine.run(spark, BuzzQuery(
      Seq(
        BuzzStep("SELECT count(*) AS cnt FROM events", "em", BuzzStepType.HBee, None),
        BuzzStep("SELECT sum(cnt) AS total FROM em", "r", BuzzStepType.HComb, None)),
      BuzzCapacity(1), Nil))
    // the result still computes (its plan resolved before the views dropped)
    assert(result.collect()(0).getLong(0) > 1L)
    // the user's view is back, and the map-step view did not leak
    try {
      val mine = spark.table("events").collect()
      assert(mine.length == 1 && mine(0).getString(1) == "mine")
      assert(!spark.catalog.tableExists("em"))
    } finally spark.catalog.dropTempView("events")
  }

  test("execution error surfaces as PlanError at plan time for bad SQL") {
    intercept[BuzzException.PlanError] {
      engine.run(spark, BuzzQuery(
        Seq(
          BuzzStep("SELECT ghost FROM events", "m", BuzzStepType.HBee, None),
          BuzzStep("SELECT * FROM m", "r", BuzzStepType.HComb, None)),
        BuzzCapacity(1), Nil))
    }
  }

  test("a corrupt-file worker failure names the failing file (collector.rs:39-62 parity)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_corrupt").toString
    val good = s"$dir/good.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/tmp")
    val part = new java.io.File(s"$dir/tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(good))
    val bad = s"$dir/zz_corrupt.parquet"
    java.nio.file.Files.write(java.nio.file.Paths.get(bad),
      "this is not a parquet file".getBytes)
    // schema inference reads the FIRST file (the good one); the corrupt one
    // fails at scan time inside a worker task
    val cat = StaticCatalog.overLocalFiles(spark, "t", Seq(good, bad))
    val eng = new BuzzEngine(Map("t" -> cat))
    val e = intercept[BuzzException.ExecutionError] {
      eng.runAndCollect(spark, BuzzQuery(
        Seq(
          BuzzStep("SELECT count(*) AS cnt FROM t", "m", BuzzStepType.HBee, None),
          BuzzStep("SELECT sum(cnt) AS total FROM m", "r", BuzzStepType.HComb, None)),
        BuzzCapacity(1), Nil))
    }
    assert(e.getMessage.contains("zz_corrupt.parquet"),
      s"error must name the failing file: ${e.getMessage}")
    assert(e.getCause != null)
  }

  test("zone maps prune the two-stage plan's file list from the map SQL's WHERE") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_zm_engine").toString
    (0L until 400L).map(i => (i, i * 3)).toDF("id", "v")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(dir)
    val cat = StaticCatalog.overPath(spark, "zt", dir)
    assert(cat.files.size == 4)
    val eng = new BuzzEngine(Map("zt" -> cat))
    def planFiles(mapSql: String): Int =
      eng.plan(spark, BuzzQuery(
        Seq(
          BuzzStep(mapSql, "m", BuzzStepType.HBee, None),
          BuzzStep("SELECT sum(s) AS total FROM m", "r", BuzzStepType.HComb, None)),
        BuzzCapacity(1), Nil)).files.size
    // a range predicate on the clustering column prunes files
    val rangeSql = "SELECT sum(v) AS s FROM zt WHERE id BETWEEN 120 AND 150"
    assert(planFiles(rangeSql) < 4, "BETWEEN on the clustered column must prune")
    // ... and the pruned plan still computes the exact answer
    val got = eng.run(spark, BuzzQuery(
      Seq(
        BuzzStep(rangeSql, "m", BuzzStepType.HBee, None),
        BuzzStep("SELECT sum(s) AS total FROM m", "r", BuzzStepType.HComb, None)),
      BuzzCapacity(1), Nil)).collect()(0).getLong(0)
    assert(got == (120L to 150L).map(_ * 3).sum)
    // an OR disjunct is not a required constraint: no pruning
    assert(planFiles("SELECT sum(v) AS s FROM zt WHERE id < 10 OR v = 0") == 4)
    // a filter on a SHADOWING alias in an outer block must not be harvested
    // (pruning on it would drop files the query needs)
    assert(planFiles(
      "SELECT sum(id) AS s FROM (SELECT v AS id FROM zt) q WHERE id > 1000") == 4)
    // ... nor one on a CTE that shadows the catalog name
    assert(planFiles(
      "WITH zt AS (SELECT v AS id FROM zt) SELECT sum(id) AS s FROM zt WHERE id > 1000") == 4)
    // no harvestable predicate: no footer reads, full file list
    assert(planFiles("SELECT sum(v) AS s FROM zt") == 4)
    // a struct-FIELD reference whose head is a declared column must not
    // be harvested as the top-level column of the same name (pruning by
    // the wrong column's stats would silently drop needed files)
    import graft.sources.ZoneMap
    def parsed(sql: String) = graft.plans.Statement.parse(spark, sql).plan
    assert(ZoneMap.harvestRanges(
      parsed("SELECT sum(v) AS s FROM zt WHERE props.id > 100"),
      Set("id"), allColumns = Set("id", "v", "props")).isEmpty)
    // ...while a genuine table-qualified reference still harvests
    assert(ZoneMap.harvestRanges(
      parsed("SELECT sum(v) AS s FROM zt t WHERE t.id > 100"),
      Set("id"), allColumns = Set("id", "v")).nonEmpty)
    // UNION ALL of the same table would conjoin both branches' filters
    // into nonsense ranges — the planner's linear-statement validation
    // rejects it BEFORE pruning can run (this is what makes the
    // filters-directly-on-the-relation harvest safe)
    val unionErr = intercept[BuzzException.PlanError] {
      eng.plan(spark, BuzzQuery(
        Seq(
          BuzzStep(
            "SELECT v AS s FROM zt WHERE id < 10 UNION ALL SELECT v AS s FROM zt WHERE id > 100",
            "m", BuzzStepType.HBee, None),
          BuzzStep("SELECT sum(s) AS total FROM m", "r", BuzzStepType.HComb, None)),
        BuzzCapacity(1), Nil))
    }
    assert(unionErr.getMessage.contains("single-table"))
  }

  test("Hive-partitioned ORC catalog: discovery, partition_filter pruning, exact answers") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_orc_hive").toString
    (0L until 300L).map(i => (i, s"g${i % 3}"))
      .toDF("id", "g")
      .write.mode("overwrite").partitionBy("g").orc(dir)
    val cat = StaticCatalog.overPath(spark, "ot", dir, format = "orc")
    // partition columns discovered from the g=value layout
    assert(cat.partitionColumns == Seq("g"))
    assert(cat.format == "orc")
    val eng = new BuzzEngine(Map("ot" -> cat))
    def run(pf: Option[String]) = {
      val p = eng.plan(spark, BuzzQuery(
        Seq(
          BuzzStep("SELECT count(*) AS n, sum(id) AS s FROM ot", "m", BuzzStepType.HBee, pf),
          BuzzStep("SELECT CAST(sum(n) AS BIGINT) AS n, sum(s) AS s FROM m", "r",
            BuzzStepType.HComb, None)),
        BuzzCapacity(1), Nil))
      (p.files.size, eng.run(spark, BuzzQuery(p.mapStep.copy(partitionFilter = pf) ::
        p.reduceStep :: Nil, BuzzCapacity(1), Nil)).collect()(0))
    }
    val (allFiles, full) = run(None)
    assert(full.getLong(0) == 300L && full.getLong(1) == (0L until 300L).sum)
    // the partition filter prunes ORC files exactly like parquet ones
    val (prunedFiles, g1) = run(Some("g = 'g1'"))
    assert(prunedFiles < allFiles && prunedFiles > 0,
      s"expected partition pruning: $prunedFiles/$allFiles")
    val g1Ids = (0L until 300L).filter(_ % 3 == 1)
    assert(g1.getLong(0) == g1Ids.size.toLong && g1.getLong(1) == g1Ids.sum)
  }

  test("reader options: a headerless TSV catalog declares its shape instead of losing row one") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv").toString
    // headerless tab-separated files, written raw (no Spark CSV writer —
    // the point is ingesting foreign files the sinks didn't produce)
    val rows = (0 until 50).map(i => s"$i\tg${i % 2}\t${i * 1.5}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-0.csv"),
      rows.mkString("\n").getBytes("UTF-8"))
    val eng = new BuzzEngine(Map.empty)
    val out = eng.runJson(spark,
      s"""{
         |  "steps": [
         |    {"sql": "SELECT grp, count(*) AS n, sum(v) AS s FROM tsv GROUP BY grp",
         |     "name": "m", "step_type": "HBee"},
         |    {"sql": "SELECT grp, CAST(sum(n) AS BIGINT) AS n, sum(s) AS s FROM m GROUP BY grp",
         |     "name": "r", "step_type": "HComb"}
         |  ],
         |  "capacity": {"zones": 1},
         |  "catalogs": [{"name": "tsv", "type": "Static", "uri": "$dir",
         |    "format": "csv", "schema": "id BIGINT, grp STRING, v DOUBLE",
         |    "options": {"header": "false", "sep": "\\t"}}]
         |}""".stripMargin).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // every row counted — including the first, which the headered default
    // would have eaten as a header
    assert(out("g0")._1 == 25L && out("g1")._1 == 25L)
    assert(out("g0")._2 == (0 until 50 by 2).map(_ * 1.5).sum)
    // options on a DeltaLake catalog are rejected
    val e = intercept[BuzzException.BadRequest] {
      eng.runJson(spark,
        s"""{"steps": [
           |  {"sql": "SELECT count(*) AS n FROM d", "name": "m", "step_type": "HBee"},
           |  {"sql": "SELECT sum(n) AS n FROM m", "name": "r", "step_type": "HComb"}],
           | "capacity": {"zones": 1},
           | "catalogs": [{"name": "d", "type": "DeltaLake", "uri": "$dir",
           |   "options": {"header": "false"}}]}""".stripMargin)
    }
    assert(e.getMessage.contains("only valid for Static"))
  }

  test("verifySchemas checks ORC footers: wrong declared type fails loudly, correct one passes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_orc_verify").toString
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v")
      .write.mode("overwrite").orc(dir)
    import org.apache.spark.sql.types._
    def cat(schema: StructType) = StaticCatalog.overPath(
      spark, "ov", dir, format = "orc", declaredSchema = Some(schema))
    def q = BuzzQuery(
      Seq(
        BuzzStep("SELECT count(*) AS n FROM ov", "m", BuzzStepType.HBee, None),
        BuzzStep("SELECT sum(n) AS n FROM m", "r", BuzzStepType.HComb, None)),
      BuzzCapacity(1), Nil)
    val good = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("v", DoubleType)))
    assert(new BuzzEngine(Map("ov" -> cat(good)), verifySchemas = true)
      .run(spark, q).collect()(0).getLong(0) == 2L)
    // declared INT against an ORC LONG column: rejected up front
    val narrow = StructType(Seq(
      StructField("id", IntegerType), StructField("s", StringType),
      StructField("v", DoubleType)))
    val e = intercept[BuzzException.SchemaMismatch] {
      new BuzzEngine(Map("ov" -> cat(narrow)), verifySchemas = true).run(spark, q)
    }
    assert(e.getMessage.contains("incompatible"))
    // a column the files don't have: rejected by name
    val phantom = StructType(good.fields :+ StructField("ghost", LongType))
    val e2 = intercept[BuzzException.SchemaMismatch] {
      new BuzzEngine(Map("ov" -> cat(phantom)), verifySchemas = true).run(spark, q)
    }
    assert(e2.getMessage.contains("missing declared column"))
  }

  test("a persisted _zonemap sidecar seeds a fresh process: pruning with ZERO footer reads") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.ZoneMap
    val dir = java.nio.file.Files.createTempDirectory("graft_zm_sidecar").toString
    (0L until 400L).map(i => (i, i * 3)).toDF("id", "v")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(dir)
    // persist the manifest, then simulate a fresh process (cold cache)
    ZoneMap.saveManifest(spark, dir, Seq("id"))
    MetaCache.reset()
    // the sidecar must NOT be discovered as data by the catalog walk
    val cat = StaticCatalog.overPath(spark, "zs", dir)
    assert(cat.files.size == 4,
      s"_zonemap sidecar leaked into the catalog: ${cat.files.map(_.key)}")
    val before = ZoneMap.footerReads.get()
    val eng = new BuzzEngine(Map("zs" -> cat))
    val q = BuzzQuery(
      Seq(
        BuzzStep("SELECT sum(v) AS s FROM zs WHERE id BETWEEN 120 AND 150",
          "m", BuzzStepType.HBee, None),
        BuzzStep("SELECT sum(s) AS total FROM m", "r", BuzzStepType.HComb, None)),
      BuzzCapacity(1), Nil)
    val p = eng.plan(spark, q)
    assert(p.files.size < 4 && p.files.nonEmpty, s"expected pruning, kept ${p.files.size}")
    assert(ZoneMap.footerReads.get() == before,
      "a seeded cache must answer pruning without opening any footer")
    assert(eng.run(spark, q).collect()(0).getLong(0) == (120L to 150L).map(_ * 3).sum)
    // a file ADDED after the manifest was saved is a cache miss that
    // falls back to its own footer — append-only tables stay correct
    Seq((1000L, 9L)).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(dir)
    MetaCache.reset()
    val cat2 = StaticCatalog.overPath(spark, "zs2", dir)
    assert(cat2.files.size == 5)
    val eng2 = new BuzzEngine(Map("zs2" -> cat2))
    val q2 = BuzzQuery(
      Seq(
        BuzzStep("SELECT sum(v) AS s FROM zs2 WHERE id BETWEEN 900 AND 1100",
          "m", BuzzStepType.HBee, None),
        BuzzStep("SELECT sum(s) AS total FROM m", "r", BuzzStepType.HComb, None)),
      BuzzCapacity(1), Nil)
    assert(eng2.run(spark, q2).collect()(0).getLong(0) == 9L)
  }

  /** Writes `df` as the single parquet file `path`, replacing any file
    * there, after waiting out one mtime tick. */
  private def rewriteFile(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    Thread.sleep(1100)
    val tmp = java.nio.file.Files.createTempDirectory("graft_rewrite").resolve("out")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def staticQuery(uri: String, mapSql: String, reduceSql: String): String =
    s"""{"steps": [{"sql": "$mapSql", "name": "m", "step_type": "HBee"},
       |  {"sql": "$reduceSql", "name": "r", "step_type": "HComb"}],
       | "capacity": {"zones": 1},
       | "catalogs": [{"name": "t", "type": "Static", "uri": "$uri"}]}""".stripMargin

  test("zone pruning follows a Static file rewritten in place, not its old range") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zm_rewrite").toString
    rewriteFile((0L until 50L).toDF("id"), s"$dir/a.parquet")
    rewriteFile((50L until 100L).toDF("id"), s"$dir/b.parquet")
    val json = staticQuery(dir,
      "SELECT count(*) AS n FROM t WHERE id BETWEEN 200 AND 300", "SELECT sum(n) AS n FROM m")
    assert(new BuzzEngine(Map.empty).runJson(spark, json).collect()(0).getLong(0) == 0L)
    // b now holds 60 rows in range: a new length and a new mtime
    rewriteFile((200L until 260L).toDF("id"), s"$dir/b.parquet")
    val direct = spark.read.parquet(dir).where("id BETWEEN 200 AND 300").count()
    assert(direct == 60L)
    assert(new BuzzEngine(Map.empty).runJson(spark, json).collect()(0).getLong(0) == direct)
  }

  test("an inferred Static schema follows its file rewritten in place") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_infer_rewrite").toString
    val x = s"$dir/x.parquet"
    rewriteFile((0L until 10L).toDF("id"), x)
    assert(new BuzzEngine(Map.empty).runJson(spark, staticQuery(x,
      "SELECT count(*) AS n FROM t", "SELECT sum(n) AS n FROM m")).collect()(0).getLong(0) == 10L)
    rewriteFile((0L until 10L).map(i => (i, i * 2)).toDF("id", "v"), x)
    assert(new BuzzEngine(Map.empty).runJson(spark, staticQuery(x,
      "SELECT sum(v) AS s FROM t", "SELECT sum(s) AS s FROM m")).collect()(0).getLong(0) == 90L)
  }

  test("zone maps prune ORC catalogs from footer statistics like parquet ones") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_zm_orc").toString
    (0L until 400L).map(i => (i, i * 3)).toDF("id", "v")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").orc(dir)
    val cat = StaticCatalog.overPath(spark, "zo", dir, format = "orc")
    assert(cat.files.size == 4)
    val eng = new BuzzEngine(Map("zo" -> cat))
    val q = BuzzQuery(
      Seq(
        BuzzStep("SELECT sum(v) AS s FROM zo WHERE id BETWEEN 120 AND 150",
          "m", BuzzStepType.HBee, None),
        BuzzStep("SELECT sum(s) AS total FROM m", "r", BuzzStepType.HComb, None)),
      BuzzCapacity(1), Nil)
    val p = eng.plan(spark, q)
    assert(p.files.size < 4 && p.files.nonEmpty,
      s"ORC footer stats should prune the 4-file catalog, kept ${p.files.size}")
    assert(eng.run(spark, q).collect()(0).getLong(0) == (120L to 150L).map(_ * 3).sum)
  }

  test("explainJson reports pruning stages and schemas without executing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_explain").toString
    (0L until 400L).map(i => (i, i * 3)).toDF("id", "v")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(dir)
    val eng = new BuzzEngine(Map("et" -> StaticCatalog.overPath(spark, "et", dir)))
    val out = eng.explainJson(spark,
      """{
        |  "steps": [
        |    {"sql": "SELECT sum(v) AS s FROM et WHERE id BETWEEN 120 AND 150",
        |     "name": "m", "step_type": "HBee"},
        |    {"sql": "SELECT sum(s) AS total FROM m", "name": "r", "step_type": "HComb"}
        |  ],
        |  "capacity": {"zones": 1},
        |  "catalogs": []
        |}""".stripMargin)
    import org.json4s.jackson.JsonMethods
    import org.json4s._
    val j = JsonMethods.parse(out)
    assert((j \ "catalog" \ "name") == JString("et"))
    assert((j \ "catalog" \ "format") == JString("parquet"))
    val JInt(total) = (j \ "files" \ "total"): @unchecked
    val JInt(zoned) = (j \ "files" \ "after_zone_pruning"): @unchecked
    assert(total.toInt == 4 && zoned.toInt < 4 && zoned.toInt > 0,
      s"expected zone pruning in the report, got $total -> $zoned")
    val JInt(bytes) = (j \ "files" \ "bytes_to_read"): @unchecked
    assert(bytes.toLong > 0)
    assert((j \ "map" \ "output_schema").asInstanceOf[JString].s.toLowerCase.contains("s "))
    assert((j \ "reduce" \ "output_schema").asInstanceOf[JString].s.toLowerCase.contains("total"))
    // a global reduce aggregates again; a reduce grouped on the map's own
    // keys only projects the map output (the binder's collapse)
    assert((j \ "reduce" \ "reaggregates") == JBool(true))
    val grouped = JsonMethods.parse(eng.explainJson(spark,
      """{"steps": [
        |  {"sql": "SELECT id % 4 AS g, sum(v) AS s FROM et GROUP BY id % 4",
        |   "name": "m", "step_type": "HBee"},
        |  {"sql": "SELECT g, sum(s) AS s FROM m GROUP BY g", "name": "r", "step_type": "HComb"}],
        | "capacity": {"zones": 1}, "catalogs": []}""".stripMargin))
    assert((grouped \ "reduce" \ "reaggregates") == JBool(false))
    // a planner error surfaces from explain exactly as from run
    intercept[BuzzException.PlanError] {
      eng.explainJson(spark,
        """{"steps": [
          |  {"sql": "SELECT 1 AS x FROM nope", "name": "m", "step_type": "HBee"},
          |  {"sql": "SELECT x FROM m", "name": "r", "step_type": "HComb"}],
          | "capacity": {"zones": 1}, "catalogs": []}""".stripMargin)
    }
    // explain binds what run binds: each output_schema is the DDL of the
    // run's schema — over a Hive catalog whose footers declare REQUIRED
    // columns, an explicit-values catalog and an empty selection
    val hive = java.nio.file.Files.createTempDirectory("graft_explain_hive").toString
    (0L until 40L).map(i => (i, i * 3, s"m${i % 2}")).toDF("id", "v", "month")
      .write.mode("overwrite").partitionBy("month").parquet(hive)
    val hiveCat = StaticCatalog.overPath(spark, "hv", hive)
    assert(hiveCat.schema("id").nullable == false, "the fixture must declare a REQUIRED column")
    val flatFiles = hiveCat.files.map(_.key)
    val explicitCat = StaticCatalog.overLocalFiles(spark, "ex", flatFiles, Seq("tag"),
      flatFiles.zipWithIndex.map { case (p, i) => p -> Seq(s"t$i") }.toMap)
    for ((cat, filter) <- Seq(hiveCat -> None, explicitCat -> None,
        hiveCat -> Some("month = 'none'"))) {
      val pf = filter.fold("")(f => s""", "partition_filter": "$f"""")
      val json =
        s"""{"steps": [
           |  {"sql": "SELECT * FROM ${cat.name}", "name": "m", "step_type": "HBee"$pf},
           |  {"sql": "SELECT * FROM m", "name": "r", "step_type": "HComb"}],
           | "capacity": {"zones": 1}, "catalogs": []}""".stripMargin
      val one = new BuzzEngine(Map(cat.name -> cat))
      val ran = one.runJson(spark, json).schema.toDDL
      val explained = JsonMethods.parse(one.explainJson(spark, json))
      for (step <- Seq("map", "reduce"))
        assert((explained \ step \ "output_schema") == JString(ran),
          s"${cat.name} $filter: $step output_schema differs from run's $ran")
    }
  }

  test("format-aware Static catalogs: json with declared schema answers exactly; misuse rejected") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fmt_engine").toString
    val rows = (0L until 100L).map(i => (i, s"g${i % 4}", i * 1.5))
    rows.toDF("id", "grp", "v").write.mode("overwrite").json(dir)
    val eng = new BuzzEngine(Map.empty)
    def q(catalogJson: String) =
      s"""{
         |  "steps": [
         |    {"sql": "SELECT grp, count(*) AS n, sum(v) AS s FROM jt GROUP BY grp",
         |     "name": "m", "step_type": "HBee"},
         |    {"sql": "SELECT grp, CAST(sum(n) AS BIGINT) AS n, sum(s) AS s FROM m GROUP BY grp",
         |     "name": "r", "step_type": "HComb"}
         |  ],
         |  "capacity": {"zones": 1},
         |  "catalogs": [$catalogJson]
         |}""".stripMargin
    val good = q(s"""{"name": "jt", "type": "Static", "uri": "$dir",
      "format": "json", "schema": "id BIGINT, grp STRING, v DOUBLE"}""")
    val got = eng.runJson(spark, good).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val expect = rows.groupBy(_._2).map { case (g, rs) =>
      g -> ((rs.size.toLong, rs.map(_._3).sum)) }
    assert(got == expect)
    // csv/json without a declared schema: rejected (inference scans data)
    val noSchema = intercept[BuzzException.BadRequest] {
      eng.runJson(spark, q(s"""{"name": "jt", "type": "Static", "uri": "$dir", "format": "json"}"""))
    }
    assert(noSchema.getMessage.contains("declared schema"))
    // unknown format: rejected with the supported list
    val badFmt = intercept[BuzzException.BadRequest] {
      eng.runJson(spark, q(s"""{"name": "jt", "type": "Static", "uri": "$dir", "format": "avro"}"""))
    }
    assert(badFmt.getMessage.contains("unknown format"))
    // format on a DeltaLake catalog: rejected
    val deltaFmt = intercept[BuzzException.BadRequest] {
      eng.runJson(spark, q(s"""{"name": "jt", "type": "DeltaLake", "uri": "$dir", "format": "json"}"""))
    }
    assert(deltaFmt.getMessage.contains("only valid for Static"))
    // malformed schema DDL: rejected as a client error, not a 500
    val badDdl = intercept[BuzzException.BadRequest] {
      eng.runJson(spark, q(s"""{"name": "jt", "type": "Static", "uri": "$dir",
        "format": "json", "schema": "id NOT_A_TYPE"}"""))
    }
    assert(badDdl.getMessage.contains("invalid schema DDL"))
  }

  /** A catalog `t` over one parquet file with column `a` = 0..9. */
  private def tenRows(): StaticCatalog = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bind").toString
    (0L until 10L).toDF("a").coalesce(1).write.mode("overwrite").parquet(dir)
    StaticCatalog.overPath(spark, "t", dir)
  }

  private def steps(mapSql: String, reduceSql: String) = BuzzQuery(
    Seq(
      BuzzStep(mapSql, "m", BuzzStepType.HBee, None),
      BuzzStep(reduceSql, "r", BuzzStepType.HComb, None)),
    BuzzCapacity(1), Nil)

  test("a read only inside an expression subquery binds the catalog, not a session view") {
    import spark.implicits._
    val eng = new BuzzEngine(Map("t" -> tenRows()))
    val q = steps("SELECT 1 AS c WHERE 3 IN (SELECT a FROM t)", "SELECT c FROM m")
    assert(eng.run(spark, q).collect().map(_.getInt(0)).toSeq == Seq(1))
    // a same-named session view (values 100..104) must not be what is read
    (100L until 105L).toDF("a").createOrReplaceTempView("t")
    try assert(eng.run(spark, q).collect().map(_.getInt(0)).toSeq == Seq(1))
    finally spark.catalog.dropTempView("t")
  }

  test("CTE scoping matches spark.sql over temp views (differential)") {
    val source = tenRows()
    val eng = new BuzzEngine(Map("t" -> source))
    // the reference: the catalog and the map output as temp views, both
    // statements through spark.sql — the binding this engine replaced
    def viaViews(q: BuzzQuery): Seq[String] =
      try {
        source.read(spark, source.files).createOrReplaceTempView("t")
        spark.sql(q.steps(0).sql).createOrReplaceTempView("m")
        spark.sql(q.steps(1).sql).collect().map(_.toString).sorted.toSeq
      } finally Seq("t", "m").foreach(spark.catalog.dropTempView)
    def agrees(mapSql: String, reduceSql: String): Unit = {
      val q = steps(mapSql, reduceSql)
      val got = eng.run(spark, q).collect().map(_.toString).sorted.toSeq
      assert(got.nonEmpty && got == viaViews(q), s"$mapSql | $reduceSql")
    }
    // a CTE shadowing the catalog name; its body reads the catalog
    agrees("WITH t AS (SELECT a * 2 AS a FROM t WHERE a > 3) SELECT sum(a) AS s FROM t",
      "SELECT s FROM m")
    // a CTE in the reduce step over, and shadowing, the step name
    agrees("SELECT a, a % 3 AS g FROM t",
      "WITH m AS (SELECT g, a * 10 AS a FROM m) SELECT g, sum(a) AS s FROM m GROUP BY g")
    // a nested WITH in a subquery shadows the outer CTE it reads
    agrees("WITH u AS (SELECT a FROM t WHERE a < 5) " +
      "SELECT n FROM (WITH u AS (SELECT a FROM u WHERE a > 1) SELECT count(*) AS n FROM u) q",
      "SELECT n FROM m")
    // ... and one inside an expression subquery
    agrees("WITH u AS (SELECT a + 100 AS a FROM t) " +
      "SELECT a FROM u WHERE a - 100 IN (WITH u AS (SELECT 3 AS a) SELECT a FROM u)",
      "SELECT a FROM m")
    // CTE names resolve case-insensitively, like the session's identifiers
    agrees("WITH Big AS (SELECT a FROM t WHERE a >= 5) SELECT count(*) AS n FROM BIG",
      "SELECT n FROM M")
    // a CTE referenced twice is two reads of the catalog: the self-join rule
    val twice = intercept[BuzzException.PlanError] {
      eng.run(spark, steps(
        "WITH u AS (SELECT a FROM t) SELECT x.a FROM u x JOIN u y ON x.a = y.a",
        "SELECT a FROM m"))
    }
    assert(twice.getMessage.contains("single-table"), twice.getMessage)
    val recursive = intercept[BuzzException.PlanError] {
      eng.run(spark, steps(
        "WITH RECURSIVE r AS (SELECT a FROM t UNION ALL SELECT a + 1 FROM r WHERE a < 3) " +
          "SELECT count(*) AS n FROM r",
        "SELECT n FROM m"))
    }
    assert(recursive.getMessage.contains("WITH RECURSIVE is not supported"), recursive.getMessage)
  }
}
