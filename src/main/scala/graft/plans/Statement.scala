package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{Resolver, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}

import graft.model.BuzzException

/** One buzz step's SQL, parsed once, with every CTE expanded in place:
  * `plan` is the CTE-free parse tree. Validation ([[reads]]) and binding
  * ([[bind]]) both go through [[Statement.mapReads]], so they see the same
  * relation reads by construction — a read inside a CTE body or an
  * expression subquery is validated exactly when it is bound. */
final case class Statement(sql: String, plan: LogicalPlan) {

  /** The multipart name of every relation read, one entry per read. */
  lazy val reads: Seq[Seq[String]] = {
    val found = ArrayBuffer[Seq[String]]()
    Statement.mapReads(plan) { r => found += r.multipartIdentifier; r }
    found.toSeq
  }

  /** Analyze the statement with every relation read replaced by `input`,
    * aliased under the name the statement wrote, in `spark`. The session
    * catalog is never consulted for those reads and never mutated. A
    * validated statement has exactly one read (the planner's soleSource).
    * Analysis failures surface as [[BuzzException.PlanError]]; runtime
    * failures happen later, at the action. */
  def bind(spark: SparkSession, input: LogicalPlan): DataFrame = {
    val bound = Statement.mapReads(plan)(r => SubqueryAlias(r.multipartIdentifier, input))
    try org.apache.spark.sql.graft.PlanBridge.ofRows(spark, bound)
    catch {
      case e: BuzzException.BuzzError => throw e
      case e: Exception =>
        throw new BuzzException.PlanError(s"analysis of '$sql' failed: ${e.getMessage}")
    }
  }
}

object Statement {

  def parse(spark: SparkSession, sql: String): Statement = {
    val parsed =
      try spark.sessionState.sqlParser.parsePlan(sql)
      catch {
        case e: Exception =>
          throw new BuzzException.PlanError(s"cannot parse '$sql': ${e.getMessage}")
      }
    Statement(sql, expand(parsed, Nil, spark.sessionState.conf.resolver))
  }

  /** Inline every CTE reference with Spark's CORRECTED scoping: a
    * definition sees the enclosing scope plus its earlier siblings (not
    * itself), an inner WITH shadows an outer one, names compare under the
    * session resolver, and a multipart name never names a CTE. An unused
    * definition disappears, so the result reads exactly the relations the
    * statement reads. `scope` lists the visible definitions, innermost
    * first, each already expanded. */
  private def expand(
      plan: LogicalPlan, scope: List[(String, LogicalPlan)], resolver: Resolver): LogicalPlan =
    plan match {
      case w: UnresolvedWith =>
        if (w.allowRecursion)
          throw new BuzzException.PlanError("WITH RECURSIVE is not supported in buzz statements")
        val inner = w.cteRelations.foldLeft(scope) { case (visible, (name, body, _)) =>
          (name, expand(body.child, visible, resolver)) :: visible
        }
        expand(w.child, inner, resolver)
      case r @ UnresolvedRelation(Seq(name), _, _) =>
        scope.find(d => resolver(d._1, name)).fold[LogicalPlan](r)(d => SubqueryAlias(name, d._2))
      case other => descend(other)(expand(_, scope, resolver))
    }

  /** THE statement walk: apply `f` to every relation read, descending into
    * plan children and expression subqueries (`IN (SELECT ...)`,
    * `EXISTS`, scalar and lateral subqueries). */
  private def mapReads(plan: LogicalPlan)(f: UnresolvedRelation => LogicalPlan): LogicalPlan =
    plan match {
      case r: UnresolvedRelation => f(r)
      case other => descend(other)(mapReads(_)(f))
    }

  private def descend(node: LogicalPlan)(f: LogicalPlan => LogicalPlan): LogicalPlan =
    node.mapChildren(f).transformExpressions {
      case s: SubqueryExpression => s.withNewPlan(f(s.plan))
    }
}
