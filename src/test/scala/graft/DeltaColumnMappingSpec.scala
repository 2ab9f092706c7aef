package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.BuzzException
import graft.operators.Sinks
import graft.sources.{ColumnMapping, DeltaCatalog, MetaCache, ZoneMap}

/** RENAME COLUMN via column mapping (name mode): one metaData-only commit,
  * zero files rewritten — readers scan physical parquet names and surface
  * logical ones; writers keep the physical layout uniform forever after. */
class DeltaColumnMappingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def clustered(dir: String): Unit = {
    Sinks.deltaAppend(
      (0L until 10L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), dir)
    Sinks.deltaAppend(
      (100L until 110L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), dir)
  }

  test("rename is metaData-only: same files, new logical name, old versions keep theirs") {
    val dir = tmpDir("cm_basic")
    clustered(dir)
    val before = DeltaCatalog.fromDeltaLog(spark, dir, "cm_pre").files
      .map(f => f.key -> f.length).toMap
    val ver = Sinks.deltaRenameColumn(spark, dir, "v", "value")
    assert(ver === 2L)
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "cm_post")
    assert(cat.files.map(f => f.key -> f.length).toMap === before) // zero rewrites
    assert(cat.schema.fieldNames.toSeq === Seq("id", "value"))
    val rows = cat.read(spark, cat.files).select("id", "value").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(5L) === 10L && rows.size === 20)
    // filters on the logical name push into the physical scan
    assert(cat.read(spark, cat.files).filter(col("value") > 200L).count() === 9L)
    // time travel serves the era's own name
    val pre = DeltaCatalog.fromDeltaLog(spark, dir, "cm_tt", versionAsOf = Some(1L))
    assert(pre.schema.fieldNames.toSeq === Seq("id", "v"))
    assert(pre.read(spark, pre.files).filter(col("v") === 10L).count() === 1L)
    // the output schema does NOT leak the mapping downstream
    assert(cat.read(spark, cat.files).schema.fields
      .forall(!_.metadata.contains(ColumnMapping.PhysicalNameKey)))
  }

  test("appends and rewrites after a rename keep the PHYSICAL layout uniform") {
    val dir = tmpDir("cm_write")
    clustered(dir)
    Sinks.deltaRenameColumn(spark, dir, "v", "value")
    // append under the LOGICAL schema: the new file must store the
    // physical name, so old and new files read identically
    Sinks.deltaAppend(Seq((500L, 1L)).toDF("id", "value").coalesce(1), dir)
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "cm_app")
    assert(cat.read(spark, cat.files).count() === 21L)
    val newFile = cat.files.map(_.key).find(_.contains("part-")).get
    // every live file physically stores 'v'
    cat.files.foreach { f =>
      val phys = spark.read.parquet(f.key).schema.fieldNames.toSet
      assert(phys === Set("id", "v"), s"${f.key} stores $phys")
    }
    // row-level DML on the logical name; zone pruning keyed physically
    Sinks.deltaDeleteWhere(spark, dir, "value = 4")
    Sinks.deltaUpdate(spark, dir, "id = 100", Map("value" -> "value + 7"))
    Sinks.deltaMerge(spark, dir, Seq((500L, 999L)).toDF("id", "value"), "id")
    val got = {
      val c = DeltaCatalog.fromDeltaLog(spark, dir, "cm_dml")
      c.read(spark, c.files).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(!got.values.toSeq.contains(4L) || got(2L) === 4L) // row v=4 (id=2) gone
    assert(!got.contains(2L))
    assert(got(100L) === 207L && got(500L) === 999L)
    // OPTIMIZE keeps the physical layout too
    Sinks.deltaOptimize(spark, dir, targetBytes = 1L << 30)
    val opt = DeltaCatalog.fromDeltaLog(spark, dir, "cm_opt")
    opt.files.foreach { f =>
      assert(spark.read.parquet(f.key).schema.fieldNames.toSet === Set("id", "v"))
    }
    assert(opt.read(spark, opt.files).count() === 20L)
  }

  test("zone pruning and MERGE candidate pruning survive a key rename") {
    val dir = tmpDir("cm_prune")
    clustered(dir)
    Sinks.deltaRenameColumn(spark, dir, "id", "doc_id")
    MetaCache.reset()
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "cm_zone")
    // range predicate on the LOGICAL name prunes via physically-keyed stats
    val pruned = ZoneMap.pruneForQuery(spark, cat.schema, cat.files,
      "SELECT count(*) AS n FROM t WHERE doc_id BETWEEN 100 AND 105")
    assert(pruned.size === 1, s"kept ${pruned.map(_.key)}")
    // merge on the renamed key rewrites ONLY the matching file
    val hiFile = cat.files.map(_.key).find(k =>
      spark.read.parquet(k).agg(min(col("id"))).head().getLong(0) === 100L).get
    Sinks.deltaMerge(spark, dir, Seq((5L, 999L)).toDF("doc_id", "v"), "doc_id")
    val after = DeltaCatalog.fromDeltaLog(spark, dir, "cm_mg").files.map(_.key).toSet
    assert(after.contains(hiFile), "non-matching file was rewritten")
  }

  test("deletion vectors, checkpoint and clone interoperate with renames") {
    val dir = tmpDir("cm_dv")
    clustered(dir)
    Sinks.deltaDeleteVectors(spark, dir, "id BETWEEN 3 AND 5")
    Sinks.deltaRenameColumn(spark, dir, "v", "value")
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "cm_dvr")
    assert(cat.read(spark, cat.files).count() === 17L) // DV still applied
    // a DV delete on the RENAMED column
    Sinks.deltaDeleteVectors(spark, dir, "value >= 216")
    val cat2 = DeltaCatalog.fromDeltaLog(spark, dir, "cm_dvr2")
    assert(cat2.read(spark, cat2.files).count() === 15L)
    // checkpoint + cleaning keep mapping and DVs
    Sinks.deltaCheckpoint(spark, dir, cleanCommits = true)
    val cat3 = DeltaCatalog.fromDeltaLog(spark, dir, "cm_cp")
    assert(cat3.schema.fieldNames.toSeq === Seq("id", "value"))
    assert(cat3.read(spark, cat3.files).count() === 15L)
    // a shallow clone carries the mapping verbatim
    val dst = tmpDir("cm_clone")
    Sinks.deltaCloneShallow(spark, dir, dst)
    val cl = DeltaCatalog.fromDeltaLog(spark, dst, "cm_cl")
    assert(cl.schema.fieldNames.toSeq === Seq("id", "value"))
    assert(cl.read(spark, cl.files).count() === 15L)
  }

  test("DROP COLUMN is metaData-only; re-adding the name NEVER resurrects old bytes") {
    val dir = tmpDir("cm_drop")
    Sinks.deltaAppend(
      (0L until 10L).map(i => (i, i * 2, i * 3)).toDF("id", "v", "w").coalesce(1), dir)
    val before = DeltaCatalog.fromDeltaLog(spark, dir, "cd_pre").files
      .map(f => f.key -> f.length).toMap
    val ver = Sinks.deltaDropColumn(spark, dir, "w")
    assert(ver === 1L)
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "cd_post")
    assert(cat.files.map(f => f.key -> f.length).toMap === before) // zero rewrites
    assert(cat.schema.fieldNames.toSeq === Seq("id", "v"))
    assert(cat.read(spark, cat.files).columns.toSeq === Seq("id", "v"))
    // time travel still serves the dropped column
    val pre = DeltaCatalog.fromDeltaLog(spark, dir, "cd_tt", versionAsOf = Some(0L))
    assert(pre.read(spark, pre.files).filter(col("w") === 9L).count() === 1L)
    // THE corruption case: re-add 'w' via evolution. Old files still store
    // the dropped bytes under 'w', but the evolved column has a fresh uuid
    // physical name — old rows MUST read null, never the dropped values
    Sinks.deltaAppend(
      Seq((100L, 1L, 777L)).toDF("id", "v", "w").coalesce(1), dir,
      mergeSchema = true)
    val cat2 = DeltaCatalog.fromDeltaLog(spark, dir, "cd_readd")
    val rows = cat2.read(spark, cat2.files).collect()
      .map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(rows(100L) === Some(777L))
    (0L until 10L).foreach(i =>
      assert(rows(i).isEmpty, s"dropped bytes resurrected for id=$i: ${rows(i)}"))
    // and row-level DML keeps working on the survivors
    Sinks.deltaDeleteWhere(spark, dir, "v = 4")
    assert(DeltaCatalog.fromDeltaLog(spark, dir, "cd_dml").files.nonEmpty)
    val left = { val c = DeltaCatalog.fromDeltaLog(spark, dir, "cd_left")
      c.read(spark, c.files).count() }
    assert(left === 10L)
  }

  test("DROP COLUMN guards: partition, unknown, last data column") {
    val dir = tmpDir("cm_drop_guard")
    Sinks.deltaAppend(
      (0L until 6L).map(i => (i, if (i < 3) "a" else "b")).toDF("id", "g"),
      dir, Seq("g"))
    intercept[BuzzException.BadRequest] { Sinks.deltaDropColumn(spark, dir, "g") }
    intercept[BuzzException.BadRequest] { Sinks.deltaDropColumn(spark, dir, "nope") }
    intercept[BuzzException.BadRequest] { Sinks.deltaDropColumn(spark, dir, "id") }
  }

  test("the two-stage engine queries a renamed table under its logical names") {
    import graft.model.{BuzzCapacity, BuzzCatalogRef, BuzzQuery, BuzzStep, BuzzStepType}
    import graft.plans.BuzzEngine
    val dir = tmpDir("cm_engine")
    clustered(dir)
    Sinks.deltaRenameColumn(spark, dir, "v", "value")
    // verifySchemas on: the strict footer check must verify the PHYSICAL
    // names the files actually store, not the logical surface
    val engine = new BuzzEngine(Map.empty, verifySchemas = true)
    val out = engine.run(spark, BuzzQuery(
      steps = Seq(
        BuzzStep(
          "SELECT count(*) AS n, sum(value) AS sv FROM t WHERE value > 8",
          "m", BuzzStepType.HBee, None),
        BuzzStep(
          "SELECT sum(n) AS n, sum(sv) AS sv FROM m",
          "r", BuzzStepType.HComb, None)),
      capacity = BuzzCapacity(1),
      catalogs = Seq(BuzzCatalogRef("t", "DeltaLake", dir))))
    val row = out.head()
    assert(row.getLong(0) === 15L) // v>8: ids 5..9 and 100..109
    assert(row.getLong(1) === ((5L to 9L) ++ (100L to 109L)).map(_ * 2).sum)
  }

  test("CDF spans a RENAME era: current names throughout; upstream refuses this") {
    val dir = tmpDir("cm_cdf_span")
    clustered(dir)                                            // v0, v1
    Sinks.deltaAppend(Seq((200L, 7L)).toDF("id", "v"), dir)   // v2: insert
    Sinks.deltaRenameColumn(spark, dir, "v", "w")             // v3: rename
    Sinks.deltaDeleteWhere(spark, dir, "id = 5")              // v4: delete
    // one span across the rename, consumed under the CURRENT names (id, w):
    // the pre-rename insert surfaces, the rename itself is silent (no
    // fact change), the post-rename delete surfaces
    val feed = Sinks.deltaChangesBetween(spark, dir, 1L, 4L, Seq("id"), Seq("w"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(r.fieldIndex("id")),
        r.getString(r.fieldIndex("status"))))
      .toSet
    assert(feed === Set((2L, 200L, "added"), (4L, 5L, "removed")))
    // era-local names are NOT accepted — the contract is vTo's names
    val e = intercept[BuzzException.BadRequest](
      Sinks.deltaChangesBetween(spark, dir, 1L, 4L, Seq("id"), Seq("v")))
    assert(e.getMessage.contains("'v'"))
    // a column added mid-span still fails loudly: nothing to diff before it
    Sinks.deltaAppend(Seq((300L, 1L, "x")).toDF("id", "w", "tag"), dir,
      mergeSchema = true)                                     // v5
    val e2 = intercept[BuzzException.BadRequest](
      Sinks.deltaChangesBetween(spark, dir, 1L, 5L, Seq("id"), Seq("tag")))
    assert(e2.getMessage.contains("tag"))
  }

  test("rename guards: partition columns, collisions, unknown columns") {
    val dir = tmpDir("cm_guard")
    Sinks.deltaAppend(
      (0L until 6L).map(i => (i, i, if (i < 3) "a" else "b")).toDF("id", "v", "g"),
      dir, Seq("g"))
    intercept[BuzzException.BadRequest] {
      Sinks.deltaRenameColumn(spark, dir, "g", "grp") // partition column
    }
    intercept[BuzzException.BadRequest] {
      Sinks.deltaRenameColumn(spark, dir, "id", "v") // logical collision
    }
    intercept[BuzzException.BadRequest] {
      Sinks.deltaRenameColumn(spark, dir, "nope", "x") // unknown
    }
    Sinks.deltaRenameColumn(spark, dir, "v", "w")
    intercept[BuzzException.BadRequest] {
      Sinks.deltaRenameColumn(spark, dir, "id", "v") // physical collision
    }
    // evolution MAY reuse the old logical name: on a mapped table the new
    // column gets a fresh uuid physical, so w's bytes stay w's — the
    // re-added 'v' reads old rows as null, never as the renamed column
    Sinks.deltaAppend(Seq((9L, 9L, 9L, "a")).toDF("id", "w", "v", "g"),
      dir, Seq("g"), mergeSchema = true)
    val evolved = DeltaCatalog.fromDeltaLog(spark, dir, "cm_evo")
    val byId = evolved.read(spark, evolved.files).collect()
      .map(r => r.getLong(0) -> (r.getLong(r.fieldIndex("w")),
        Option(r.get(r.fieldIndex("v"))))).toMap
    assert(byId(9L) === ((9L, Some(9L))))
    assert(byId(1L) === ((1L, None)), "renamed column's bytes leaked into the re-added name")
    // re-rename moves the logical name again; physical stays put
    Sinks.deltaRenameColumn(spark, dir, "w", "w2")
    val cat = DeltaCatalog.fromDeltaLog(spark, dir, "cm_rr")
    assert(cat.schema.fieldNames.toSeq === Seq("id", "w2", "v"))
    assert(cat.read(spark, cat.files).filter(col("w2") === 5L).count() === 1L)
    // the mapping is honest: w2 still stores under v, the re-added v
    // under its fresh uuid physical
    assert(cat.physicalNames.get("w2") === Some("v"))
    assert(cat.physicalNames.get("v").exists(_.startsWith("col-")))
  }
}
