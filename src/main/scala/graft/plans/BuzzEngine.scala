package graft.plans

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.model.{BuzzException, BuzzQuery}
import graft.sources.{CatalogResolver, SchemaVerifier, SizedFile, SplittableCatalog}

/** Executes a validated two-step buzz query.
  *
  * Reference lifecycle (`/root/reference/code/src/services/fuse/
  * fuse_service.rs:61-146`): plan → dispatch reduce stage → dispatch one
  * worker per file → workers stream pre-aggregated batches into the reducer →
  * collect. In Spark the whole thing is ONE lazily-composed query: the map
  * statement is bound to the pruned file scan, the reduce statement is bound
  * to the map statement's plan ([[Statement.bind]]), and the session catalog
  * is neither read for those names nor written. Spark inserts the
  * map→reduce exchange itself (a shuffle), does partial/final aggregation
  * automatically, and schedules file splits across executors — which is
  * exactly the hbee/hcomb fleet, minus the bespoke transport. No collect()
  * happens between the stages, so the exchange stays pipelined and
  * spillable at 100 TB. A request that reads little
  * ([[PrunedPlan.readsOnePartition]]) reads its files in one partition
  * instead, so it runs as one job with one task and no exchange.
  */
final class BuzzEngine(
    catalogs: Map[String, SplittableCatalog],
    verifySchemas: Boolean = false) {

  /** Catalog resolution happens per query: constructor-injected catalogs
    * (the reference's compiled-in set) are joined by catalogs resolved from
    * the query's own `catalogs` array (Static uri → parquet catalog,
    * DeltaLake uri → delta-log catalog — fuse_service.rs:40-59); a query
    * catalog wins on name collision, like re-registration would. */
  def plan(spark: SparkSession, query: BuzzQuery): DistributedPlan = {
    val resolved = catalogs ++ CatalogResolver.resolve(spark, query.catalogs)
    new QueryPlanner(resolved).plan(spark, query)
  }

  /** Validate + build the final DataFrame (lazy; no job runs until an
    * action). Uses [[QueryPlanner.validateAndPrune]] rather than the full
    * [[plan]]: each statement is bound ONCE, to the real source, instead
    * of first to an empty relation. Analysis failures still surface as
    * [[BuzzException.PlanError]] before any job runs.
    *
    * A run reads the map statement's relation from the pruned catalog and
    * the reduce statement's from the map plan, whatever temp views the
    * session holds under the same names, and leaves the session catalog
    * as it found it; concurrent runs in one session may share catalog and
    * step names. */
  def run(spark: SparkSession, query: BuzzQuery): DataFrame =
    buildDf(spark, validateAndPrune(spark, query))

  private def validateAndPrune(spark: SparkSession, query: BuzzQuery): PrunedPlan = {
    val resolved = catalogs ++ CatalogResolver.resolve(spark, query.catalogs)
    new QueryPlanner(resolved).validateAndPrune(spark, query)
  }

  private def buildDf(spark: SparkSession, p: PrunedPlan): DataFrame = {
    // strict pre-flight schema verification for the self-describing
    // formats: parquet checks physical type + repetition (the reference's
    // exact contract), ORC checks presence + category (its footer carries
    // no repetition). csv/json read under a DECLARED schema where Spark
    // itself surfaces mismatches (and csv validates header names).
    if (verifySchemas && p.catalog.format == "parquet")
      // footers store PHYSICAL names — verify against those (identity
      // unless the table carries column-mapping renames)
      SchemaVerifier.verify(
        p.files.map(_.key),
        graft.sources.ColumnMapping.toPhysical(p.catalog.schema),
        spark.sessionState.newHadoopConf(),
        missingNullableOk = p.catalog.missingNullableOk)
    else if (verifySchemas && p.catalog.format == "orc")
      SchemaVerifier.verifyOrc(
        p.files.map(_.key), p.catalog.schema, spark.sessionState.newHadoopConf(),
        missingNullableOk = p.catalog.missingNullableOk)
    val source = p.catalog.read(spark, p.files)
    val mapDf = p.map.bind(spark, p.mapInput(spark, source.queryExecution.analyzed))
    p.reduce.bind(spark, mapDf.queryExecution.analyzed)
  }

  def runJson(spark: SparkSession, json: String): DataFrame =
    run(spark, BuzzQuery.fromJson(json))

  /** DRY-RUN plan introspection: validate and plan the query WITHOUT
    * executing it, and report what execution would do — catalog identity,
    * format, file counts at each pruning stage (partition filter, then
    * zone-map footer pruning), bytes to read and whether the map step
    * reads them in one partition, both derived output
    * schemas as DDL, and whether the reduce aggregates the map output
    * again or only projects it (see [[Statement.collapseUniqueGroups]]).
    * This is the "what will this query touch" answer an
    * operator wants BEFORE committing a 100 TB scan, and it exercises the
    * exact planner path `run` uses (same validation errors surface).
    * Everything here is metadata-sized — no data file is opened except
    * zone-map footers the planner would read anyway. */
  def explainJson(spark: SparkSession, json: String): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val query = BuzzQuery.fromJson(json)
    val p = plan(spark, query)
    val obj =
      ("catalog" ->
        ("name" -> p.catalog.name) ~
        ("format" -> p.catalog.format) ~
        ("partition_columns" -> p.catalog.partitionColumns) ~
        ("schema" -> p.catalog.schema.toDDL)) ~
      ("files" ->
        ("total" -> p.catalog.files.size) ~
        ("after_partition_filter" -> p.filesAfterPartition) ~
        ("after_zone_pruning" -> p.files.size) ~
        ("bytes_to_read" -> p.files.map(_.length).sum) ~
        ("one_partition" -> p.readsOnePartition)) ~
      ("map" ->
        ("name" -> p.mapStep.name) ~
        ("sql" -> p.mapStep.sql) ~
        ("partition_filter" -> p.mapStep.partitionFilter) ~
        ("output_schema" -> p.mapOutputSchema.toDDL)) ~
      ("reduce" ->
        ("name" -> p.reduceStep.name) ~
        ("sql" -> p.reduceStep.sql) ~
        ("output_schema" -> p.reduceOutputSchema.toDDL) ~
        ("reaggregates" -> p.reduceReaggregates))
    JsonMethods.compact(JsonMethods.render(obj))
  }

  /** Execute and collect with per-query metrics — parity with the
    * reference's per-worker observability (hbee_service.rs:45-52 logs
    * query_duration / downloaded_bytes / processed_bytes per worker; Spark
    * tracks the same per task, and the listener aggregates them for the
    * query's duration).
    *
    * The listener is SparkContext-wide: metrics are exact when this is the
    * only job running (the reference's hbee is likewise one process per
    * query); tasks of an unrelated concurrent job in the same context would
    * be attributed to this query. */
  def runAndCollect(spark: SparkSession, query: BuzzQuery): (Array[Row], Map[String, Long]) = {
    val listener = new QueryMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val p = validateAndPrune(spark, query)
      val df = buildDf(spark, p)
      val rows =
        try df.collect()
        catch { case e: Throwable => throw attributeWorkerFailure(spark, e, p.files) }
      // the listener bus is async, but the scheduler posts every event of
      // a job before `collect` returns: deliver those, then read
      org.apache.spark.sql.graft.PlanBridge.drainListeners(spark.sparkContext)
      (rows, listener.summary + ("scan_time_ms" -> scanTimeMs(df.queryExecution.executedPlan)))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Map a worker (task) failure back to the FILE that caused it — parity
    * with the reference's collector, which logs which hbee failed and why
    * (`collector.rs:39-62`: the FAIL action carries the hbee's reason up to
    * the fuse). Spark buries the file in a cause-chain message; this walks
    * the chain, matches it against the scan path of each of the query's
    * planned files ([[SizedFile.scanPath]], the path Spark's reader names
    * in its errors), and rethrows a [[BuzzException.ExecutionError]] that
    * NAMES the file (plus the root cause), with the original exception
    * attached. Unattributable failures (reduce-side OOM, network) still
    * map to ExecutionError with the root message. */
  private def attributeWorkerFailure(
      spark: SparkSession, e: Throwable, files: Seq[SizedFile]): Throwable = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).toSeq
    val messages = chain.flatMap(t => Option(t.getMessage))
    val conf = spark.sessionState.newHadoopConf()
    val failing = files.find(f => messages.exists(_.contains(f.scanPath(conf))))
    val root = chain.last
    val err = new BuzzException.ExecutionError(
      failing.fold("worker failed")(f => s"worker failed on file ${f.key}") +
        s": ${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).take(300)}")
    err.initCause(e)
    err
  }

  /** Total parquet-scan wall time from the executed plan's SQL metrics —
    * the IO-side observability half the reference reports per worker
    * (`range_cache.rs:62-82`: waiting_download_ms). Traverses AQE stage and
    * reused-exchange boundaries (leaf nodes to the naive `collect`). */
  private def scanTimeMs(plan: org.apache.spark.sql.execution.SparkPlan): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, ReusedSubqueryExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val own = plan match {
      case s: FileSourceScanExec =>
        s.metrics.get("scanTime").map { m =>
          if (m.metricType == "nsTiming") m.value / 1000000L else m.value
        }.getOrElse(0L)
      case _ => 0L
    }
    val children = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      // Reused* nodes POINT BACK at a subtree that is also reachable from
      // its original position — descending would double-count its scans
      case _: ReusedExchangeExec    => Nil
      case _: ReusedSubqueryExec    => Nil
      case other                    => other.children
    }
    own + children.map(scanTimeMs).sum
  }
}

/** Per-query observability, parity with the reference's per-worker metrics
  * (`/root/reference/code/src/services/hbee/hbee_service.rs:45-52`:
  * query_duration, downloaded_bytes, processed_bytes). Spark already tracks
  * these per task; this listener aggregates them per query run, and counts
  * the jobs started and the stages run (a skipped stage never completes). */
final class QueryMetricsListener extends SparkListener {
  val jobs = new LongAdder
  val stages = new LongAdder
  val bytesRead = new LongAdder
  val recordsRead = new LongAdder
  val shuffleBytesWritten = new LongAdder
  val shuffleBytesRead = new LongAdder
  val shuffleFetchWaitMs = new LongAdder
  val taskTimeMs = new LongAdder
  val tasks = new LongAdder
  val failedTasks = new LongAdder

  override def onJobStart(jobStart: SparkListenerJobStart): Unit = jobs.increment()

  override def onStageCompleted(stageCompleted: SparkListenerStageCompleted): Unit =
    stages.increment()

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    // per-worker failure observability (collector.rs:39-62 parity): count
    // tasks that ended in anything but Success — retried-then-succeeded
    // work still shows up here as the failed attempts it cost
    if (taskEnd.reason != org.apache.spark.Success) failedTasks.increment()
    val m = taskEnd.taskMetrics
    if (m != null) {
      bytesRead.add(m.inputMetrics.bytesRead)
      recordsRead.add(m.inputMetrics.recordsRead)
      shuffleBytesWritten.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleBytesRead.add(
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead)
      // blocked-on-fetch time — the reducer-side analog of the reference's
      // waiting_download_ms (range_cache.rs:62-82): time the reduce stage
      // spent waiting on map output rather than computing
      shuffleFetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
      taskTimeMs.add(m.executorRunTime)
      tasks.increment()
    }
  }

  def summary: Map[String, Long] = Map(
    "jobs" -> jobs.sum(),
    "stages" -> stages.sum(),
    "downloaded_bytes" -> bytesRead.sum(),
    "processed_rows" -> recordsRead.sum(),
    "shuffle_bytes" -> shuffleBytesWritten.sum(),
    "shuffle_bytes_read" -> shuffleBytesRead.sum(),
    "shuffle_fetch_wait_ms" -> shuffleFetchWaitMs.sum(),
    "task_time_ms" -> taskTimeMs.sum(),
    "tasks" -> tasks.sum(),
    "failed_tasks" -> failedTasks.sum())
}
