package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.{BuzzException, BuzzQuery}
import graft.plans.BuzzEngine
import graft.sources.{FsUtil, SplittableCatalog}

/** Pipelined (liveness) twin of the two-stage engine.
  *
  * The reference's reducer starts executing the reduce SQL before all
  * workers finish and folds worker result batches in as they stream over
  * Flight (`/root/reference/code/src/services/hcomb/hcomb_service.rs:69-86`,
  * `results_service.rs:45-81`). Spark's batch shuffle is a barrier — same
  * answer, but the first result waits for the whole map stage. This twin
  * restores the first-result-early behavior with Structured Streaming:
  * the catalog's directory is consumed incrementally (`readStream`, one or
  * more files per micro-batch), the MAP statement pre-aggregates each
  * micro-batch, the pre-aggregated rows accumulate at the reducer (exactly
  * the hcomb's push stream — map output is small by construction), and the
  * REDUCE statement re-runs over everything received so far, emitting a
  * refined result per batch.
  *
  * `onResult(result, batchId)` fires after every micro-batch with the
  * current converged-so-far answer; the final invocation equals the batch
  * engine's result for the same query. Map outputs are collected to the
  * reducer (the driver here, the hcomb node in the reference) — this is
  * the reference's own topology, not a distributed-plan regression: at
  * 100 TB the map SQL has already reduced each batch to a few grouped rows.
  */
object StreamingTwoStage {

  def run(
      spark: SparkSession,
      catalogs: Map[String, SplittableCatalog],
      query: BuzzQuery,
      onResult: (DataFrame, Long) => Unit,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val p = new BuzzEngine(catalogs).plan(spark, query)
    if (p.mapStep.partitionFilter.isDefined)
      throw new BuzzException.NotImplemented(
        "partition_filter on the streaming twin — prune via the batch engine")
    if (p.catalog.partitionColumns.nonEmpty)
      throw new BuzzException.NotImplemented(
        "partitioned catalog on the streaming twin — the directory source " +
          "reads data columns only; stream via the batch engine")

    // the streaming source is the catalog's directory: every selected file
    // must sit directly under one parent (the single-table landing-dir
    // shape); Hive-partitioned layouts stream via the batch engine instead
    val parents = p.files.map(f => f.key.substring(0, f.key.lastIndexOf('/'))).distinct
    if (parents.length != 1)
      throw new BuzzException.NotImplemented(
        s"streaming twin needs a single source directory, got: ${parents.take(3).mkString(", ")}")
    // the directory source consumes EVERY parquet file under the parent —
    // a catalog declaring a strict subset would silently widen its input
    val fs = FsUtil.fs(spark, parents.head)
    def qualified(k: String): String =
      fs.makeQualified(new org.apache.hadoop.fs.Path(k)).toString
    val onDisk = FsUtil.listStatus(spark, parents.head)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => qualified(st.getPath.toString)).toSet
    val declared = p.files.map(f => qualified(f.key)).toSet
    if (onDisk != declared)
      throw new BuzzException.NotImplemented(
        "streaming twin needs the catalog to cover the source directory " +
          s"exactly (directory has ${onDisk.size} parquet files, catalog " +
          s"declares ${declared.size})")

    val source = spark.readStream
      .schema(p.catalog.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(parents.head)

    // worker-result batches accumulated at the reducer, hcomb-style
    val received = ArrayBuffer[Row]()

    source.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val mapOut = p.map.bind(s, batch.queryExecution.analyzed)
        received.synchronized { received ++= mapOut.collect() }
        val acc = s.createDataFrame(
          s.sparkContext.parallelize(received.synchronized(received.toSeq)),
          p.mapOutputSchema)
        onResult(p.reduce.bind(s, acc.queryExecution.analyzed), batchId)
      }
      .start()
  }
}
