package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.BuzzException
import graft.sources._

class CatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** `body`'s result and the number of Spark jobs started while it ran. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    org.apache.spark.TestListeners.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.TestListeners.drain(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Write one small parquet file per partition value; returns catalog. */
  private def partitionedCatalog(): StaticCatalog = {
    val dir = tmpDir("graft_cat")
    val files = (1 to 3).map { m =>
      val path = s"$dir/f$m.parquet"
      Seq((m.toLong, s"v$m")).toDF("data_col", "tag")
        .select($"data_col").coalesce(1).write.parquet(path + ".d")
      // use the single part file inside the directory
      val part = new java.io.File(path + ".d").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      SizedFile(part.getAbsolutePath, part.length(), Seq(f"2020/$m%02d"))
    }
    new StaticCatalog(
      "part_cat",
      // the fixture writes data_col from a product-encoded Long → parquet
      // REQUIRED, so the declared schema is non-nullable (the verifier
      // checks repetition parity exactly)
      StructType(Seq(StructField("data_col", LongType, nullable = false))),
      Seq("month"),
      files)
  }

  test("fileTable exposes key/length/partition columns") {
    val cat = partitionedCatalog()
    val ft = cat.fileTable(spark)
    assert(ft.columns.toSeq == Seq("key", "length", "month"))
    assert(ft.count() == 3)
  }

  test("prune evaluates SQL WHERE over the file table") {
    val cat = partitionedCatalog()
    val pruned = cat.prune(spark, Some("month <= '2020/02'"))
    assert(pruned.length == 2)
    assert(cat.prune(spark, None).length == 3)
    assert(cat.prune(spark, Some("month = 'nope'")).isEmpty)
  }

  test("invalid partition filter raises PlanError") {
    val cat = partitionedCatalog()
    intercept[BuzzException.PlanError] {
      cat.prune(spark, Some("no_such_col = 1"))
    }
  }

  test("partition pruning of a warm Static or Delta catalog starts no Spark job") {
    import graft.model.{BuzzCapacity, BuzzQuery, BuzzStep, BuzzStepType}
    val deltaDir = tmpDir("graft_prune_jobs")
    graft.operators.Sinks.deltaAppend(
      (0L until 30L).map(i => (i.toLong, s"g${i % 3}")).toDF("data_col", "g").coalesce(1),
      deltaDir, Seq("g"))
    val catalogs = Seq(
      partitionedCatalog() -> "month <= '2020/02'",
      DeltaCatalog.fromDeltaLog(spark, deltaDir, "pj") -> "g IN ('g0', 'g2')")
    catalogs.foreach { case (cat, filter) =>
      cat.prune(spark, Some(filter)) // warm
      val (kept, started) = jobsDuring(cat.prune(spark, Some(filter)))
      assert(kept.size == 2 && cat.files.size == 3, s"kept ${kept.map(_.key)}")
      assert(started == 0, s"prune on ${cat.name} started $started job(s)")
      // the planner's whole pruning path, zone pruning included
      val query = BuzzQuery(Seq(
        BuzzStep(s"SELECT sum(data_col) AS s FROM ${cat.name} WHERE data_col BETWEEN 0 AND 1",
          "m", BuzzStepType.HBee, Some(filter)),
        BuzzStep("SELECT sum(s) AS s FROM m", "r", BuzzStepType.HComb, None)),
        BuzzCapacity(1), Nil)
      val planner = new graft.plans.QueryPlanner(Map(cat.name -> cat))
      planner.validateAndPrune(spark, query) // warm
      val (plan, planJobs) = jobsDuring(planner.validateAndPrune(spark, query))
      assert(plan.filesAfterPartition == 2 && plan.files.nonEmpty)
      assert(planJobs == 0, s"validateAndPrune on ${cat.name} started $planJobs job(s)")
    }
    // a filter that fails while the optimizer evaluates it on the driver
    // (ANSI cast of a non-numeric partition value) is still a PlanError
    intercept[BuzzException.PlanError] {
      catalogs.head._1.prune(spark, Some("CAST(month AS INT) = 1"))
    }
  }

  test("read appends partition values as string columns") {
    val cat = partitionedCatalog()
    val df = cat.read(spark, cat.files)
    assert(df.schema.fieldNames.toSeq == Seq("data_col", "month"))
    assert(df.schema("month").dataType == StringType)
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(rows.toSeq == Seq((1L, "2020/01"), (2L, "2020/02"), (3L, "2020/03")))
  }

  test("read of empty file list yields empty DF with full schema") {
    val cat = partitionedCatalog()
    val df = cat.read(spark, Nil)
    assert(df.count() == 0)
    assert(df.schema.fieldNames.toSeq == Seq("data_col", "month"))
  }

  test("building a read of 48 files and its physical plan starts no Spark job") {
    // above Spark's parallel-listing threshold (32 paths) a read that hands
    // Spark bare paths runs a listing job; the catalog's own list needs none
    val local = tmpDir("graft_no_listing")
    (0L until 48L).map(i => (i, i * 10, f"m${i / 4}%02d")).toDF("id", "v", "month")
      .write.option("maxRecordsPerFile", 1L).partitionBy("month").parquet(s"$local/t")
    val cat = StaticCatalog.overPath(spark, "wide", s"$local/t")
    assert(cat.files.size == 48)
    val (df, started) = jobsDuring {
      val df = cat.read(spark, cat.files)
      df.queryExecution.executedPlan
      df
    }
    assert(started == 0, s"building the read started $started job(s)")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "v", "month").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(rows(df).length == 48)
    assert(rows(df).toSeq == rows(spark.read.parquet(s"$local/t")).toSeq)
  }

  test("a file named with glob characters resolves and reads as itself") {
    val dir = tmpDir("graft_glob")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1).write.parquet(s"$dir/staged")
    val part = new java.io.File(s"$dir/staged").listFiles().filter(_.getName.endsWith(".parquet")).head
    val named = Paths.get(dir, "a[1].parquet")
    Files.move(part.toPath, named)
    val cat = StaticCatalog.overPath(spark, "globbed", named.toString)
    assert(cat.files.map(_.key) == Seq(named.toString))
    assert(cat.schema.fieldNames.toSeq == Seq("id", "s"))
    val got = cat.read(spark, cat.files).collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(got.toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("a selected file deleted after resolve fails the read at collect, not with a short answer") {
    // a flat directory, and a Hive partition whose value (`a b`) the
    // scan path percent-encodes: the engine must still name the file
    val layouts: Seq[org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =>
        org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]] =
      Seq(identity, _.partitionBy("g"))
    layouts.foreach { layout =>
      val local = tmpDir("graft_missing")
      layout((0L until 4L).map(i => (i, i * 10, "a b")).toDF("id", "v", "g")
        .write.option("maxRecordsPerFile", 1L)).parquet(s"$local/t")
      val cat = StaticCatalog.overPath(spark, "gone", s"$local/t")
      assert(cat.files.size == 4)
      val victim = cat.files.head.key
      assert(FsUtil.fs(spark, victim).delete(new org.apache.hadoop.fs.Path(victim), false))
      // nothing is listed or stat'd while building: the missing file surfaces
      // when its task opens it
      val df = cat.read(spark, cat.files)
      val e = intercept[org.apache.spark.SparkException](df.collect())
      val causes = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(_.isInstanceOf[java.io.FileNotFoundException]),
        s"expected a missing-file failure, got: ${e.getMessage.take(500)}")
      val engine = new graft.plans.BuzzEngine(Map("gone" -> cat))
      val failed = intercept[BuzzException.ExecutionError] {
        engine.runAndCollect(spark, graft.model.BuzzQuery(
          Seq(
            graft.model.BuzzStep("SELECT count(*) AS cnt FROM gone", "m",
              graft.model.BuzzStepType.HBee, None),
            graft.model.BuzzStep("SELECT sum(cnt) AS total FROM m", "r",
              graft.model.BuzzStepType.HComb, None)),
          graft.model.BuzzCapacity(1), Nil))
      }
      assert(failed.getMessage.contains(s"worker failed on file $victim"),
        s"error must name the deleted file $victim: ${failed.getMessage}")
    }
  }

  test("schema verification rejects a file missing a declared column") {
    val cat = partitionedCatalog()
    val bad = StructType(Seq(
      StructField("data_col", LongType, nullable = false),
      StructField("ghost_col", StringType)))
    val e = intercept[BuzzException.SchemaMismatch] {
      SchemaVerifier.verify(cat.files.map(_.key), bad)
    }
    assert(e.getMessage.contains("ghost_col"))
  }

  test("schema verification rejects an incompatible type") {
    val cat = partitionedCatalog()
    val bad = StructType(Seq(StructField("data_col", StringType)))
    intercept[BuzzException.SchemaMismatch] {
      SchemaVerifier.verify(cat.files.map(_.key), bad)
    }
    // and accepts the true schema
    SchemaVerifier.verify(cat.files.map(_.key), cat.schema)
  }

  test("schema verification rejects a nullability mismatch, both directions") {
    val cat = partitionedCatalog()
    // file column is REQUIRED (non-null Long): declaring it nullable fails
    val declaredNullable = StructType(Seq(StructField("data_col", LongType)))
    val e = intercept[BuzzException.SchemaMismatch] {
      SchemaVerifier.verify(cat.files.map(_.key), declaredNullable)
    }
    assert(e.getMessage.contains("REQUIRED"))
    assert(e.getMessage.contains("nullable=true"))
    // and an OPTIONAL file column declared non-nullable fails too
    val dir = tmpDir("graft_nul")
    spark.sql("SELECT CAST(1 AS BIGINT) AS opt_col UNION ALL SELECT NULL")
      .coalesce(1).write.parquet(s"$dir/opt.d")
    val optFile = new java.io.File(s"$dir/opt.d").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val declaredRequired =
      StructType(Seq(StructField("opt_col", LongType, nullable = false)))
    val e2 = intercept[BuzzException.SchemaMismatch] {
      SchemaVerifier.verify(Seq(optFile), declaredRequired)
    }
    assert(e2.getMessage.contains("OPTIONAL"))
    assert(e2.getMessage.contains("nullable=false"))
  }

  test("inferred catalog over a REQUIRED-column file passes strict verification") {
    // Spark's own inference widens every field to nullable; the catalog
    // restores the footer's repetition, so an inference-built declaration
    // must round-trip through the strict nullability check
    val dir = tmpDir("graft_req")
    import org.apache.spark.sql.functions.when
    Seq((1L, "a"), (2L, "b")).toDF("req_col", "opt_col")
      .select($"req_col", when($"req_col" > 1, $"opt_col").as("opt_col"))
      .coalesce(1).write.parquet(s"$dir/f.d")
    val part = new java.io.File(s"$dir/f.d").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val cat = StaticCatalog.overLocalFiles(spark, "req_cat", Seq(part))
    assert(!cat.schema("req_col").nullable, "footer REQUIRED must infer non-nullable")
    assert(cat.schema("opt_col").nullable, "footer OPTIONAL must infer nullable")
    SchemaVerifier.verify(Seq(part), cat.schema) // must not throw
    val rows = cat.read(spark, cat.files).collect()
    assert(rows.length == 2)
  }

  test("s3a catalogs tune the shared Hadoop conf; file catalogs do not") {
    val conf = spark.sparkContext.hadoopConfiguration
    Seq("fs.s3a.experimental.input.fadvise", "fs.s3a.readahead.range",
      "fs.s3a.connection.maximum", "fs.s3a.threads.max").foreach(conf.unset)
    // file:// (and bare local paths) leave the conf untouched
    assert(!FsUtil.applyS3aTuning(spark, "/tmp/local.parquet"))
    assert(!FsUtil.applyS3aTuning(spark, "file:///tmp/local.parquet"))
    assert(conf.get("fs.s3a.experimental.input.fadvise") == null)
    // an s3a uri applies the ranged-read profile
    assert(FsUtil.applyS3aTuning(spark, "s3a://bucket/key.parquet"))
    assert(conf.get("fs.s3a.experimental.input.fadvise") == "random")
    assert(conf.get("fs.s3a.readahead.range") == "262144")
    val expectedPool =
      FsUtil.ReferenceDownloadConcurrency * spark.sparkContext.defaultParallelism
    assert(conf.get("fs.s3a.connection.maximum") == expectedPool.toString)
    assert(conf.get("fs.s3a.threads.max") == expectedPool.toString)
    // explicit user configuration wins: setIfUnset semantics
    conf.set("fs.s3a.readahead.range", "1048576")
    FsUtil.applyS3aTuning(spark, "s3a://bucket/other.parquet")
    assert(conf.get("fs.s3a.readahead.range") == "1048576")
    Seq("fs.s3a.experimental.input.fadvise", "fs.s3a.readahead.range",
      "fs.s3a.connection.maximum", "fs.s3a.threads.max").foreach(conf.unset)
  }

  test("DeltaCatalog replays add/remove/metaData actions from _delta_log") {
    val dir = tmpDir("graft_delta")
    val logDir = Paths.get(dir, "_delta_log")
    Files.createDirectories(logDir)
    val schemaJson =
      """{\"type\":\"struct\",\"fields\":[
        |{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},
        |{\"name\":\"year\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""
        .stripMargin.replaceAll("\n", "")
    Files.writeString(logDir.resolve("00000000000000000000.json"),
      s"""{"metaData":{"id":"x","schemaString":"$schemaJson","partitionColumns":["year"]}}
         |{"add":{"path":"year=2020/a.parquet","size":100,"partitionValues":{"year":"2020"}}}
         |{"add":{"path":"year=2021/b.parquet","size":200,"partitionValues":{"year":"2021"}}}
         |""".stripMargin)
    Files.writeString(logDir.resolve("00000000000000000001.json"),
      s"""{"remove":{"path":"year=2020/a.parquet"}}
         |{"add":{"path":"year=2021/c.parquet","size":300,"partitionValues":{"year":"2021"}}}
         |""".stripMargin)
    // percent-encoded add.path + null partition value handling (Delta
    // protocol: paths are URL-encoded, null partition values are JSON null)
    Files.writeString(logDir.resolve("00000000000000000002.json"),
      s"""{"add":{"path":"year=2021/d%20e.parquet","size":50,"partitionValues":{"year":null}}}
         |{"remove":{"path":"year=2021/d%20e.parquet"}}
         |""".stripMargin)
    assert(DeltaCatalog.decodePath("year=a%20b/f.parquet") == "year=a b/f.parquet")
    assert(DeltaCatalog.decodePath("plain/path.parquet") == "plain/path.parquet")
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "dl")
    assert(cat.partitionColumns == Seq("year"))
    assert(cat.schema.fieldNames.toSeq == Seq("id"))
    val keys = cat.files.map(f => Paths.get(f.key).getFileName.toString).sorted
    assert(keys == Seq("b.parquet", "c.parquet"))
    assert(cat.files.forall(_.partitionValues == Seq("2021")))
    assert(cat.files.map(_.length).sorted == Seq(200L, 300L))
  }

  test("DeltaCatalog time travel: versionAsOf replays exactly to the target version") {
    val dir = tmpDir("graft_delta_tt")
    val logDir = Paths.get(dir, "_delta_log")
    Files.createDirectories(logDir)
    val schemaJson =
      """{\"type\":\"struct\",\"fields\":[
        |{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}"""
        .stripMargin.replaceAll("\n", "")
    Files.writeString(logDir.resolve("00000000000000000000.json"),
      s"""{"metaData":{"id":"x","schemaString":"$schemaJson","partitionColumns":[]}}
         |{"add":{"path":"a.parquet","size":100,"partitionValues":{}}}
         |""".stripMargin)
    Files.writeString(logDir.resolve("00000000000000000001.json"),
      s"""{"add":{"path":"b.parquet","size":200,"partitionValues":{}}}
         |""".stripMargin)
    Files.writeString(logDir.resolve("00000000000000000002.json"),
      s"""{"remove":{"path":"a.parquet"}}
         |""".stripMargin)
    def names(v: Long) =
      DeltaCatalog.fromDeltaLog(spark, dir, "tt", Some(v))
        .files.map(f => Paths.get(f.key).getFileName.toString).sorted
    assert(names(0L) == Seq("a.parquet"))
    assert(names(1L) == Seq("a.parquet", "b.parquet"))
    assert(names(2L) == Seq("b.parquet"))
    // latest snapshot == highest version
    assert(DeltaCatalog.fromDeltaLog(spark, dir, "tt").files.map(f =>
      Paths.get(f.key).getFileName.toString).sorted == names(2L))
    // a version beyond the log fails loudly
    val e = intercept[BuzzException.BadRequest] { names(7L) }
    assert(e.getMessage.contains("does not exist"))
    intercept[BuzzException.BadRequest] {
      DeltaCatalog.fromDeltaLog(spark, dir, "tt", Some(-1L))
    }
  }

  test("DeltaCatalog time travel: timestampAsOf resolves monotonic commit instants") {
    val dir = tmpDir("graft_delta_ts")
    val logDir = Paths.get(dir, "_delta_log")
    Files.createDirectories(logDir)
    val schemaJson =
      """{\"type\":\"struct\",\"fields\":[
        |{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}"""
        .stripMargin.replaceAll("\n", "")
    def commit(v: Long, body: String, mtime: Long): Unit = {
      val p = logDir.resolve(f"$v%020d.json")
      Files.writeString(p, body)
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    commit(0L,
      s"""{"metaData":{"id":"x","schemaString":"$schemaJson","partitionColumns":[]}}
         |{"add":{"path":"a.parquet","size":100,"partitionValues":{}}}
         |""".stripMargin, 10000L)
    commit(1L,
      """{"add":{"path":"b.parquet","size":200,"partitionValues":{}}}
        |""".stripMargin, 20000L)
    // CLOCK SKEW: v2's writer stamps EARLIER than v1 — the running max
    // must keep history causal (v2 is treated as t=20000, not 15000)
    commit(2L,
      """{"remove":{"path":"a.parquet"}}
        |""".stripMargin, 15000L)
    commit(3L,
      """{"add":{"path":"c.parquet","size":300,"partitionValues":{}}}
        |""".stripMargin, 30000L)
    def namesAt(ts: Long) =
      DeltaCatalog.fromDeltaLog(spark, dir, "ts", timestampAsOf = Some(ts))
        .files.map(f => Paths.get(f.key).getFileName.toString).sorted
    assert(namesAt(10000L) == Seq("a.parquet"))            // exactly at v0
    assert(namesAt(19999L) == Seq("a.parquet"))            // between v0 and v1
    // at t=20000 BOTH v1 and skewed v2 have effective ts 20000 — the
    // LAST commit at-or-before the instant wins, so v2's remove applies
    assert(namesAt(20000L) == Seq("b.parquet"))
    assert(namesAt(29999L) == Seq("b.parquet"))
    assert(namesAt(99999L) == Seq("b.parquet", "c.parquet")) // after head = head
    // an instant before the table existed fails loudly
    val e = intercept[BuzzException.BadRequest] { namesAt(9999L) }
    assert(e.getMessage.contains("predates"))
    // the two time-travel axes are mutually exclusive
    intercept[BuzzException.BadRequest] {
      DeltaCatalog.fromDeltaLog(spark, dir, "ts",
        versionAsOf = Some(1L), timestampAsOf = Some(20000L))
    }
  }

  test("timestamp_as_of parses from query JSON (epoch, ISO-8601) and rejects ambiguity") {
    import graft.model.BuzzQuery
    def q(cat: String) =
      s"""{"steps":[{"sql":"SELECT 1","name":"s","step_type":"HBee"}],
          |"catalogs":[$cat]}""".stripMargin
    val epoch = BuzzQuery.fromJson(q(
      """{"name":"t","type":"DeltaLake","uri":"/x","timestamp_as_of":20000}"""))
    assert(epoch.catalogs.head.timestampAsOf.contains(20000L))
    val iso = BuzzQuery.fromJson(q(
      """{"name":"t","type":"DeltaLake","uri":"/x","timestamp_as_of":"1970-01-01T00:00:20Z"}"""))
    assert(iso.catalogs.head.timestampAsOf.contains(20000L))
    intercept[BuzzException.BadRequest] { BuzzQuery.fromJson(q(
      """{"name":"t","type":"DeltaLake","uri":"/x","timestamp_as_of":"yesterday"}""")) }
    intercept[BuzzException.BadRequest] { BuzzQuery.fromJson(q(
      """{"name":"t","type":"DeltaLake","uri":"/x","version_as_of":1,"timestamp_as_of":20000}""")) }
    // Static catalogs reject the field at resolution, like version_as_of
    val stat = BuzzQuery.fromJson(q(
      """{"name":"t","type":"Static","uri":"/x","timestamp_as_of":20000}"""))
    intercept[BuzzException.BadRequest] {
      CatalogResolver.resolve(spark, stat.catalogs)
    }
  }

  test("DeltaCatalog time travel before a cleaned checkpoint fails loudly") {
    import spark.implicits._
    val dir = tmpDir("graft_delta_ttcp")
    val df = (0L until 25L).map(i => (i, s"name$i", (i % 5).toString))
      .toDF("id", "nm", "rk")
    DeltaFixture.writeTable(spark, df, "rk", s"$dir/tbl")
    // the fixture checkpoints at version 1 and deletes commits 0-1: a
    // target BEFORE the checkpoint needs the cleaned JSON history, and the
    // snapshot must not be silently served from the (later) checkpoint
    val e = intercept[BuzzException.BadRequest] {
      DeltaCatalog.fromDeltaLog(spark, s"$dir/tbl", "ttcp", Some(0L))
    }
    assert(e.getMessage.contains("history was cleaned") ||
      e.getMessage.contains("does not exist"))
    // time travel AT the checkpoint version itself works (checkpoint usable)
    val cat = DeltaCatalog.fromDeltaLog(spark, s"$dir/tbl", "ttcp", Some(1L))
    assert(cat.files.nonEmpty)
  }

  test("version_as_of on a Static catalog is rejected loudly") {
    import graft.model.BuzzCatalogRef
    val e = intercept[BuzzException.BadRequest] {
      CatalogResolver.resolve(spark,
        Seq(BuzzCatalogRef("x", "Static", "/tmp/nope.parquet", Some(1L))))
    }
    assert(e.getMessage.contains("version_as_of"))
  }

  test("DeltaCatalog reconstructs state from checkpoint + tail commits (log-cleaned table)") {
    import spark.implicits._
    val dir = tmpDir("graft_delta_cp")
    val df = (0L until 25L).map(i => (i, s"name$i", (i % 5).toString))
      .toDF("id", "nm", "rk")
    DeltaFixture.writeTable(spark, df, "rk", s"$dir/tbl")
    // the fixture deletes commits 0 and 1 — only the checkpoint knows most files
    val logFiles = new java.io.File(s"$dir/tbl/_delta_log").listFiles().map(_.getName).sorted
    assert(logFiles.contains("00000000000000000001.checkpoint.parquet"))
    assert(logFiles.contains("_last_checkpoint"))
    assert(!logFiles.contains("00000000000000000000.json"), "pre-checkpoint commits cleaned")
    assert(logFiles.contains("00000000000000000002.json"), "post-checkpoint commit present")

    val cat = DeltaCatalog.fromDeltaLog(spark, s"$dir/tbl", "dl_cp")
    assert(cat.partitionColumns == Seq("rk"))
    assert(cat.schema.fieldNames.toSeq == Seq("id", "nm"))
    assert(cat.files.length == 5, s"5 live files expected, got ${cat.files.map(_.key)}")
    // the rewritten partition must point at the v2 file, not the removed one
    assert(cat.files.exists(_.key.endsWith("part-v2.parquet")))
    assert(!cat.files.exists(f => f.partitionValues == Seq("4") && f.key.contains("part-v1")))
    // and reading the catalog returns the full 25 rows with partition values
    val all = cat.read(spark, cat.files)
    assert(all.count() == 25)
    assert(all.schema.fieldNames.toSeq == Seq("id", "nm", "rk"))
  }

  test("DeltaCatalog fails loudly on cleaned history without a checkpoint") {
    val dir = tmpDir("graft_delta_gap")
    val logDir = Paths.get(dir, "_delta_log")
    Files.createDirectories(logDir)
    // history starts at version 3 with no checkpoint — must not silently
    // return a partial table
    Files.writeString(logDir.resolve("00000000000000000003.json"),
      """{"add":{"path":"a.parquet","size":10,"partitionValues":{}}}""" + "\n")
    val e = intercept[BuzzException.BadRequest] {
      DeltaCatalog.fromDeltaLog(spark, dir, "dl_gap")
    }
    assert(e.getMessage.contains("gap") || e.getMessage.contains("cleaned"))
  }

  test("CatalogResolver resolves Static and DeltaLake refs from query JSON shape") {
    import graft.model.BuzzCatalogRef
    import spark.implicits._
    val dir = tmpDir("graft_resolver")
    Seq((1L, "x"), (2L, "y")).toDF("k", "v")
      .coalesce(1).write.parquet(s"$dir/static_tbl")
    val resolved = CatalogResolver.resolve(spark, Seq(
      BuzzCatalogRef("st", "Static", s"$dir/static_tbl")))
    assert(resolved.keySet == Set("st"))
    assert(resolved("st").schema.fieldNames.toSeq == Seq("k", "v"))
    assert(resolved("st").files.nonEmpty)
    intercept[BuzzException.BadRequest] {
      CatalogResolver.resolve(spark, Seq(BuzzCatalogRef("bad", "Iceberg", dir)))
    }
  }

  test("overPath discovers Hive key=value layout as partition columns") {
    val dir = tmpDir("graft_hive")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.parquet(s"$dir/src=alpha")
    Seq((3L, "c")).toDF("k", "v").coalesce(1)
      .write.parquet(s"$dir/src=beta")
    val cat = StaticCatalog.overPath(spark, "hive", dir)
    assert(cat.partitionColumns == Seq("src"))
    assert(cat.files.map(_.partitionValues).toSet == Set(Seq("alpha"), Seq("beta")))
    // pruning on the discovered column works before any data read
    assert(cat.prune(spark, Some("src = 'beta'")).map(_.partitionValues) == Seq(Seq("beta")))
    val df = cat.read(spark, cat.files)
    assert(df.columns.toSeq == Seq("k", "v", "src"))
    assert(df.count() == 3)
  }

  test("catalog layer runs end-to-end over a non-file FileSystem scheme") {
    import graft.model._
    import graft.plans.BuzzEngine
    // register the local-backed mocks3:// FileSystem; from here on every
    // path crosses the same scheme→FileSystem resolution s3a:// would
    spark.sparkContext.hadoopConfiguration
      .set("fs.mocks3.impl", classOf[MockRemoteFileSystem].getName)
    val local = tmpDir("graft_remote")
    Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")).toDF("k", "v", "p").coalesce(1)
      .write.mode("overwrite").partitionBy("p").parquet(local)
    val uri = s"mocks3://$local"

    val cat = StaticCatalog.overPath(spark, "remote", uri)
    assert(cat.files.nonEmpty)
    assert(cat.files.forall(_.key.startsWith("mocks3:")),
      s"catalog keys must stay on the remote scheme: ${cat.files.map(_.key)}")
    assert(cat.partitionColumns == Seq("p"))
    // full read (native partitioned path) + pruned read over the scheme
    assert(cat.read(spark, cat.files).count() == 3)
    assert(cat.read(spark, cat.prune(spark, Some("p = 'x'"))).count() == 2)
    // and a two-stage engine query over the remote-scheme catalog
    val out = new BuzzEngine(Map("remote" -> cat)).run(spark, BuzzQuery(
      Seq(
        BuzzStep("SELECT p, count(*) AS cnt FROM remote GROUP BY p", "m", BuzzStepType.HBee, None),
        BuzzStep("SELECT p, sum(cnt) AS n FROM m GROUP BY p", "r", BuzzStepType.HComb, None)),
      BuzzCapacity(1), Nil))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("x" -> 2L, "y" -> 1L))
  }

  test("a warm Static resolve of a 24-file Hive directory stats no listed file") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    val local = tmpDir("graft_stat_once")
    // one row per file: 12 months x 2 files
    (0L until 24L).map(i => (i, f"2024-${i / 2 + 1}%02d")).toDF("id", "month")
      .write.option("maxRecordsPerFile", 1L).partitionBy("month").parquet(s"$local/t")
    val uri = s"countfs://$local/t"
    val cold = StaticCatalog.overPath(spark, "counted", uri)
    assert(cold.files.size == 24 && cold.partitionColumns == Seq("month"))
    val before = CountingFileSystem.statCalls.get()
    // the per-request resolve: the inferred schema is cached, the files
    // are listed again and their lengths and mtimes taken from the listing
    val warm = StaticCatalog.overPath(spark, "counted", uri)
    val stats = CountingFileSystem.statCalls.get() - before
    assert(warm.files == cold.files)
    assert(warm.files.forall(f => f.modificationTime > 0 && f.length > 0))
    assert(stats == 1, s"expected only the directory check, got $stats getFileStatus calls")
  }

  test("StaticCatalog.overPath declares non-session timestamp columns as usable timestamps") {
    // the driver-generated events.ts has shipped both as TIMESTAMP(NANOS)
    // and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (NTZ); either way the
    // catalog must declare a plain session TimestampType and normalize on
    // read, so operators see exactly one timestamp type
    val events = s"${TestSpark.sf}/events.parquet"
    val cat = StaticCatalog.overPath(spark, "evt", events)
    assert(cat.schema("ts").dataType == TimestampType)
    assert((cat.nanosColumns ++ cat.ntzColumns) == Seq("ts"),
      s"ts must be declared for normalization: nanos=${cat.nanosColumns} ntz=${cat.ntzColumns}")
    // a query touching ts through the catalog read path must work, and the
    // surfaced type must be the session timestamp (unix_micros requires it)
    val read = cat.read(spark, cat.files)
    assert(read.schema("ts").dataType == TimestampType)
    val mx = read.selectExpr("max(unix_micros(ts))").collect()(0)
    assert(!mx.isNullAt(0))
  }

  test("zone maps: footer manifest skips disjoint files, keeps stat-less ones, answers exactly") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_zonemap").toString
    val spark2 = spark
    import spark2.implicits._
    // 4 range-clustered files over ids 0..399: zones [0,99] [100,199] ...
    (0L until 400L).map(i => (i, i * 2)).toDF("id", "v")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(dir)
    val paths = FsUtil.listStatus(spark, dir).toSeq.map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).sorted
    assert(paths.size == 4)
    val stats = ZoneMap.fileStats(spark, paths, "id")
    // manifest covers every row, zones are tight and disjoint
    assert(stats.agg(sum("rows")).collect()(0).getLong(0) == 400L)
    val zones = stats.select("min", "max").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)
    assert(zones.head._1 == 0d && zones.last._2 == 399d)
    assert(zones.sliding(2).forall { case Array(a, b) => a._2 < b._1; case _ => true })
    // a predicate inside one zone prunes to exactly the covering file(s)
    val keep = ZoneMap.prunePaths(stats, 120d, 150d)
    assert(keep.size < paths.size && keep.nonEmpty,
      s"expected real pruning, kept ${keep.size}/${paths.size}")
    val pruned = spark.read.parquet(keep: _*)
      .filter(col("id").between(120L, 150L)).agg(sum("v")).collect()(0).getLong(0)
    val full = spark.read.parquet(dir)
      .filter(col("id").between(120L, 150L)).agg(sum("v")).collect()(0).getLong(0)
    assert(pruned == full)
    // conservatism: a NULL-stats row is never pruned
    val withUnknown = stats.unionByName(
      Seq(("mystery.parquet", 1L, Option.empty[Double], Option.empty[Double], 0L))
        .toDF("file", "rows", "min", "max", "null_count"))
    assert(ZoneMap.prunePaths(withUnknown, 5000d, 6000d) == Seq("mystery.parquet"))
  }

  test("Z-order layout makes the SECOND dimension zone-prunable; a single-column sort does not") {
    import org.apache.spark.sql.functions._
    import graft.operators.Sinks
    val spark2 = spark
    import spark2.implicits._
    // x sequential, y a multiplicative-hash scramble of x — deterministic
    // but uncorrelated, so an x-sorted file spans the ENTIRE y range
    val df = (0L until 20000L)
      .map(i => (i, (i * 2654435761L) % 1000L)).toDF("x", "y")
    val sortedDir = Files.createTempDirectory("graft_zm_sorted").toString
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(sortedDir)
    val zDir = Files.createTempDirectory("graft_zm_zorder").toString
    // 16 files ~ 4 Z-bits of resolution: enough for the y dimension to
    // constrain to quarter-range boxes (the test session runs few cores,
    // so the defaultParallelism file count would be too coarse to skip)
    Sinks.zorderWrite(df, zDir, "x", "y", files = 16).collect()
    def parquetFiles(d: String) =
      FsUtil.listStatus(spark, d).toSeq.map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).sorted
    def keptOnY(d: String): (Int, Int) = {
      val paths = parquetFiles(d)
      (ZoneMap.prunePaths(ZoneMap.fileStats(spark, paths, "y"), 100d, 150d).size,
        paths.size)
    }
    val (sortedKept, sortedAll) = keptOnY(sortedDir)
    val (zKept, zAll) = keptOnY(zDir)
    // the x-sorted layout cannot skip on y (every file's y zone is ~full)
    assert(sortedKept == sortedAll,
      s"x-sorted layout unexpectedly pruned on y: $sortedKept/$sortedAll")
    // the Z-ordered layout skips most files on the same y predicate
    assert(zKept < zAll / 2 && zKept > 0,
      s"Z-order layout should prune y to under half the files: $zKept/$zAll")
    // and the pruned read answers exactly
    val keep = ZoneMap.prunePaths(
      ZoneMap.fileStats(spark, parquetFiles(zDir), "y"), 100d, 150d)
    val pruned = spark.read.parquet(keep: _*)
      .filter(col("y").between(100L, 150L)).agg(sum("x")).collect()(0).getLong(0)
    val full = df.filter(col("y").between(100L, 150L))
      .agg(sum("x")).collect()(0).getLong(0)
    assert(pruned == full)
  }

  test("publishCommit: O_EXCL claim, live-lock deferral, stale-lock breaking") {
    val dir = tmpDir("graft_occ")
    val logDir = s"$dir/_delta_log"
    FsUtil.fs(spark, logDir).mkdirs(new org.apache.hadoop.fs.Path(logDir))
    // first claim of a version wins; a second claim of the SAME version
    // is refused (the commit file already exists under the claim check)
    assert(FsUtil.publishCommit(spark, logDir, 0L, "{}\n"))
    assert(!FsUtil.publishCommit(spark, logDir, 0L, "{\"loser\":1}\n"))
    // the winner's body survived — no silent overwrite
    assert(FsUtil.readString(spark, s"$logDir/${f"${0L}%020d"}.json") == "{}\n")
    // a LIVE lock (fresh mtime = a writer mid-commit) defers the claim
    val lock = new java.io.File(s"$dir/_delta_log/" + f".${1L}%020d.lock")
    assert(lock.createNewFile())
    assert(!FsUtil.publishCommit(spark, logDir, 1L, "{}\n"))
    // a STALE lock (mtime past the TTL = a crashed writer) is broken, the
    // commit proceeds, and the lock does not linger — the table un-wedges
    assert(lock.setLastModified(System.currentTimeMillis() - 120000L))
    assert(FsUtil.publishCommit(spark, logDir, 1L, "{}\n"))
    assert(!lock.exists())
    assert(FsUtil.exists(spark, s"$logDir/${f"${1L}%020d"}.json"))
  }

  test("walkDataFiles: '_col=' partition dirs are data, metadata dirs are not") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_walk")
    Seq((1L, "a"), (2L, "b")).toDF("v", "_tag")
      .write.partitionBy("_tag").mode("overwrite").parquet(dir)
    // plant the metadata shapes the hidden-name rule must still skip
    new java.io.File(s"$dir/_delta_log").mkdirs()
    new java.io.File(s"$dir/_delta_log/00000000000000000000.json").createNewFile()
    new java.io.File(s"$dir/.staging").mkdirs()
    val found = FsUtil.walkDataFiles(spark, dir, ".parquet")
    assert(found.size == 2, s"expected the two partition files, got $found")
    assert(found.forall(_._2.map(_._1) == Seq("_tag")))
    // full catalog resolution discovers the underscore-named layout (the
    // same '=' exemption Spark's own FileIndex applies)
    val cat = StaticCatalog.overPath(spark, "uw", dir)
    assert(cat.partitionColumns == Seq("_tag"))
    assert(cat.files.size == 2)
  }

  test("a root _zonemap sidecar seeds pruning for HIVE-PARTITIONED files") {
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_zm_hive")
    (0L until 400L).map(i => (i, i % 2, i * 3)).toDF("id", "g", "v")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.partitionBy("g").mode("overwrite").parquet(dir)
    ZoneMap.saveManifest(spark, dir, Seq("id"))
    MetaCache.reset()
    val cat = StaticCatalog.overPath(spark, "zh", dir)
    assert(cat.partitionColumns == Seq("g"))
    assert(cat.files.size == 8) // 4 id-ranges × 2 partitions
    val before = ZoneMap.footerReads.get()
    val pruned = ZoneMap.pruneForQuery(spark, cat.schema, cat.files,
      "SELECT sum(v) AS s FROM zh WHERE id BETWEEN 120 AND 150")
    assert(pruned.nonEmpty && pruned.size < cat.files.size,
      s"expected manifest pruning, kept ${pruned.size}/${cat.files.size}")
    assert(ZoneMap.footerReads.get() == before,
      "a partitioned layout must find the TABLE-ROOT sidecar (ascend past col= dirs), not re-read footers")
  }
}
