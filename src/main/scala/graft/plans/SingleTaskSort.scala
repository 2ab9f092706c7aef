package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, TableCacheQueryStageExec}
import org.apache.spark.sql.internal.SQLConf

/** Plans a small global sort in one task instead of behind a range
  * exchange.
  *
  * The reference runs its reduce on one hcomb (SURVEY §3). Spark gives
  * every `ORDER BY` a range exchange instead: a sampling job for the
  * `RangePartitioner`, a shuffle map stage, then the sort. When the sort's
  * input is at most `spark.sql.adaptive.coalescePartitions.minPartitionSize`,
  * AQE coalesces that exchange's output into one partition anyway, so the
  * exchange only adds a job and a stage. This strategy plans such a sort as
  * `SortExec(global) ← CoalesceExec(1)`; a single partition already
  * satisfies the sort's ordered distribution, so no exchange is inserted.
  *
  * It fires only when AQE re-plans after the sort's inputs have run:
  *  - every leaf of the sort's input is a materialized shuffle or broadcast
  *    query stage, so sizes are measured, never estimated (nothing fires at
  *    initial planning or with AQE off);
  *  - the sort's input, and the stages it reads taken together, measure
  *    at most `minPartitionSize`, so AQE already reads those stages in one
  *    task;
  *  - `spark.sql.adaptive.coalescePartitions.enabled` is on, without which
  *    AQE would read them in many tasks.
  *
  * `ORDER BY … LIMIT` plans as `TakeOrderedAndProject` before this strategy
  * sees its `Sort`. Installed by [[graft.Server.start]] and
  * [[graft.GraftExtensions]]. */
object SingleTaskSort extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: Sort if s.global && fitsOneTask(s.child) =>
      SortExec(s.order, global = true, CoalesceExec(1, planLater(s.child))) :: Nil
    case _ => Nil
  }

  private def fitsOneTask(child: LogicalPlan): Boolean = {
    val conf = SQLConf.get
    val stages = child.collectLeaves()
    conf.coalesceShufflePartitionsEnabled &&
      stages.forall {
        case s: LogicalQueryStage =>
          s.isMaterialized && !s.physicalPlan.exists(_.isInstanceOf[TableCacheQueryStageExec])
        case _ => false
      } &&
      (child.stats.sizeInBytes max stages.map(_.stats.sizeInBytes).sum) <=
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
  }

  /** Plans `spark` and the sessions later forked from it with
    * `newSession()` with this strategy, through the session's extensions
    * rather than `experimental.extraStrategies`, which a fork does not
    * inherit. Calling it again changes nothing. */
  def install(spark: SparkSession): Unit = synchronized {
    org.apache.spark.sql.graft.PlanBridge.injectStrategyOnce(spark, this)
  }
}
