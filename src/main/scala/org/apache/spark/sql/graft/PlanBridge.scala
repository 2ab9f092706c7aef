package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` DataFrame-from-LogicalPlan
  * constructor — the same visibility pattern as [[StreamingBridge]] /
  * graftshim.GraftColumn. `Dataset.ofRows` analyzes the plan eagerly
  * (assertAnalyzed), so analysis failures surface at build time exactly
  * like `spark.sql` does. */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `schema` with every field nullable, nested ones included: what
    * Spark's own `DataSource` makes of a file source's data schema
    * (`StructType.asNullable` is `private[spark]`). */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** Blocks until `sc`'s listeners have received every event posted so
    * far (`listenerBus` is `private[spark]`). */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
