package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Repartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import graft.model._
import graft.sources.{SizedFile, SplittableCatalog}

/** The validated distributed plan: which files the map stage reads (and
  * how many survived partition pruning, before zone pruning), the two
  * steps and their parsed statements, the derived output schemas, and
  * whether the bound reduce still aggregates on its own (false when it
  * only projects, including a re-aggregation collapsed by
  * [[Statement.collapseUniqueGroups]]), and whether the map step reads
  * its files in one partition ([[PrunedPlan.readsOnePartition]]).
  * Reference: `DistributedPlan` at
  * `/root/reference/code/src/services/fuse/query_planner.rs:17-44`. Spark
  * owns zone/worker assignment, so zones collapse to a partition count. */
final case class DistributedPlan(
    catalog: SplittableCatalog,
    files: Seq[SizedFile],
    filesAfterPartition: Int,
    mapStep: BuzzStep,
    reduceStep: BuzzStep,
    map: Statement,
    reduce: Statement,
    mapOutputSchema: StructType,
    reduceOutputSchema: StructType,
    reduceReaggregates: Boolean,
    readsOnePartition: Boolean)

/** [[DistributedPlan]] minus what binding derives (the output schemas and
  * whether the reduce re-aggregates): everything the
  * EXECUTION path needs. `run` binds the statements to the real source
  * anyway, so deriving schemas from empty relations first would analyze
  * each statement twice per query — a fixed cost the two-stage-overhead
  * gate pays on every cold rep. */
final case class PrunedPlan(
    catalog: SplittableCatalog,
    files: Seq[SizedFile],
    filesAfterPartition: Int,
    mapStep: BuzzStep,
    reduceStep: BuzzStep,
    map: Statement,
    reduce: Statement) {

  /** Whether the map step reads all its files in ONE partition: when their
    * lengths total at most
    * `spark.sql.adaptive.coalescePartitions.minPartitionSize`, the size
    * below which AQE would merge a shuffle's output into one task anyway.
    * One partition satisfies the distribution both the reduce's aggregate
    * and its sort require, so Spark plans no exchange and the whole
    * request runs as one job with one task, as the reference's `MergeExec`
    * + single hcomb do (SURVEY §4). Above the bound Spark splits the scan
    * across tasks as usual. */
  def readsOnePartition(conf: SQLConf): Boolean =
    files.iterator.map(_.length).sum <=
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)

  /** What the map statement binds to: `source`, merged into one partition
    * without a shuffle when [[readsOnePartition]]. */
  def mapInput(spark: SparkSession, source: LogicalPlan): LogicalPlan =
    if (readsOnePartition(spark.sessionState.conf)) Repartition(1, shuffle = false, source)
    else source
}

/** Validates a two-step buzz query and prunes the catalog, mirroring
  * `QueryPlanner.plan` (`/root/reference/code/src/services/fuse/
  * query_planner.rs:59-177`):
  *
  *  - exactly two steps, HBee then HComb (assert at :66-71);
  *  - each statement is a linear single-table plan (>1-input plans rejected
  *    at :150-153 / services/utils.rs:12-15);
  *  - the map step must read a registered catalog (:161-165);
  *  - the reduce step must read exactly the map step's name (:103-109);
  *  - partition pruning happens before execution (catalog/mod.rs:52-99);
  *  - the map output schema is derived by analyzing the map SQL against an
  *    empty relation with the catalog schema (:79, :92-109).
  */
final class QueryPlanner(catalogs: Map[String, SplittableCatalog]) {

  /** Full validation: [[validateAndPrune]] plus eager derivation of both
    * output schemas by binding the map statement to an empty relation of
    * the catalog schema and the reduce statement to that map plan —
    * analysis errors surface HERE, with no source read. The execution
    * path ([[BuzzEngine.run]]) uses [[validateAndPrune]] directly and
    * binds each statement once, to the real source, instead. */
  def plan(spark: SparkSession, query: BuzzQuery): DistributedPlan = {
    val v = validateAndPrune(spark, query)
    val mapDf = v.map.bind(spark,
      v.mapInput(spark, LocalRelation(DataTypeUtils.toAttributes(v.catalog.fullSchema))))
    val reduceDf = v.reduce.bind(spark, mapDf.queryExecution.analyzed)
    def aggregates(df: DataFrame) =
      df.queryExecution.analyzed.collect { case a: Aggregate => a }.size
    DistributedPlan(v.catalog, v.files, v.filesAfterPartition, v.mapStep, v.reduceStep,
      v.map, v.reduce, mapDf.schema, reduceDf.schema,
      reduceReaggregates = aggregates(reduceDf) > aggregates(mapDf),
      readsOnePartition = v.readsOnePartition(spark.sessionState.conf))
  }

  /** Structural validation + file pruning — every plan-SHAPE error (step
    * count/kinds, zones, multi-source statements, unknown catalog, reduce
    * source mismatch, dead partition_filter) surfaces here; statement
    * ANALYSIS is the caller's (eager empty-relation analysis in [[plan]],
    * real-source analysis in the run path). */
  private[graft] def validateAndPrune(spark: SparkSession, query: BuzzQuery): PrunedPlan = {
    if (query.steps.length != 2)
      throw new BuzzException.PlanError(
        s"exactly 2 steps (HBee, HComb) required, got ${query.steps.length}")
    // the reference asserts a single zone (hcomb_manager.rs:28,51); accept
    // the field but reject silently-ignored capacities instead of "working"
    if (query.capacity.zones != 1)
      throw new BuzzException.NotImplemented(
        s"capacity.zones must be 1 (got ${query.capacity.zones}); the reference " +
          "asserts a single zone and Spark owns worker placement")
    val Seq(mapStep, reduceStep) = query.steps
    if (mapStep.stepType != BuzzStepType.HBee)
      throw new BuzzException.PlanError("step 1 must be an HBee (map) step")
    if (reduceStep.stepType != BuzzStepType.HComb)
      throw new BuzzException.PlanError("step 2 must be an HComb (reduce) step")

    // the reduce step has no catalog to prune — a partition_filter there
    // would be silently dead, so reject it like the zones check above
    if (reduceStep.partitionFilter.isDefined)
      throw new BuzzException.PlanError(
        "partition_filter is only valid on the HBee (map) step — the HComb " +
          "(reduce) step reads the map output, not a catalog")

    // identifier comparison follows the session's resolution rules
    // (spark.sql.caseSensitive=false by default) — `FROM Evt_Part` must
    // resolve a catalog registered as `evt_part`, exactly as spark.sql would
    val resolves = spark.sessionState.conf.resolver

    val map = Statement.parse(spark, mapStep.sql)
    val mapSource = soleSource(map)
    val catalog = catalogs.collectFirst { case (n, c) if resolves(n, mapSource) => c }
      .getOrElse(
        throw new BuzzException.PlanError(s"map step reads unknown table '$mapSource'"))

    val reduce = Statement.parse(spark, reduceStep.sql)
    val reduceSource = soleSource(reduce)
    if (!resolves(reduceSource, mapStep.name))
      throw new BuzzException.PlanError(
        s"reduce step must read the map step's output '${mapStep.name}', reads '$reduceSource'")

    // zone-map file skipping after partition pruning: a range predicate in
    // the map SQL's WHERE prunes FILES through the footer-stats manifest
    // the way partition_filter prunes directories (beyond-reference — the
    // reference's catalog is split-only; same pruning-as-metadata-query
    // idea as catalog/mod.rs:52-69, extended to column ranges). Purely an
    // optimization: the map SQL still applies the full predicate to the
    // surviving files, so a conservative manifest can never change results.
    val pruned = catalog.prune(spark, mapStep.partitionFilter)
    val files =
      if (catalog.format == "parquet" || catalog.format == "orc")
        graft.sources.ZoneMap.pruneForPlan(
          spark, catalog.schema, pruned, map.plan, catalog.format)
      else pruned // csv/json carry no footer stats; nothing to prune by
    PrunedPlan(catalog, files, pruned.size, mapStep, reduceStep, map, reduce)
  }

  /** The single base table a statement reads; rejects multi-source plans
    * (joins/unions/subquery sources — including SELF-joins, which have one
    * distinct name but two relation inputs), parity with the reference's
    * linear-plan restriction (every >1-input plan node is rejected,
    * services/utils.rs:12-15). The reads come from the CTE-expanded
    * statement walk, so a read inside a CTE body or an expression
    * subquery counts like any other, and a CTE referenced twice is two
    * reads. Compares full multipart identifiers so `db1.t` and `db2.t`
    * are different sources. */
  private def soleSource(statement: Statement): String =
    statement.reads.map(_.mkString(".")) match {
      case Seq(one) => one
      case Seq()    => throw new BuzzException.PlanError(s"statement reads no table: ${statement.sql}")
      case many     => throw new BuzzException.PlanError(
        "buzz statements are single-table (linear plans); found " +
          s"${many.length} relation reads: ${many.mkString(", ")}")
    }
}
