package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.model.BuzzCatalogRef
import graft.operators.Sinks
import graft.sources.{CatalogResolver, MetaCache, ZoneMap}

/** The sources layer's one metadata cache stays under its weight bound
  * however many distinct catalogs and snapshots a process resolves. */
class MetaCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("resolving more Static catalogs and Delta versions than the bound admits stays under it") {
    val static = Files.createTempDirectory("graft_mc_static").toString + "/t"
    (0L until 4000L).map(i => (i, i * 2)).toDF("id", "v")
      .repartitionByRange(40, col("id")).write.parquet(static)
    val files = new java.io.File(static).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
    val delta = Files.createTempDirectory("graft_mc_delta").toString
    (0 until 12).foreach { i =>
      Sinks.deltaAppend((i * 100L until i * 100L + 100L).toDF("id").coalesce(1), delta)
    }
    val bound = 16L * 1024
    MetaCache.reset(bound)
    try {
      def resolve(ref: BuzzCatalogRef): Unit = {
        val cat = CatalogResolver.resolve(spark, Seq(ref))(ref.name)
        ZoneMap.pruneForQuery(spark, cat.schema, cat.files,
          s"SELECT * FROM ${ref.name} WHERE id BETWEEN 10 AND 20")
        assert(MetaCache.weightedSize <= bound,
          s"${MetaCache.weightedSize} > $bound after ${ref.uri}")
      }
      files.zipWithIndex.foreach { case (f, i) => resolve(BuzzCatalogRef(s"s$i", "Static", f)) }
      (0L until 12L).foreach(v =>
        resolve(BuzzCatalogRef(s"d$v", "DeltaLake", delta, versionAsOf = Some(v))))
      assert(MetaCache.stats.evictionCount > 0, "the workload never reached the bound")
      // evicted entries are rebuilt on demand: answers stay exact
      val head = CatalogResolver.resolve(spark, Seq(BuzzCatalogRef("d", "DeltaLake", delta)))("d")
      assert(head.read(spark, head.files).count() == 1200L)
    } finally MetaCache.reset()
  }
}
