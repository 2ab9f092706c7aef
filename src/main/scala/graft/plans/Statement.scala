package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, Resolver, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionSet, If, IsNull, KnownNullable, Literal, NamedExpression, Or, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, SubqueryAlias, UnresolvedWith}

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
    * The analyzed plan then goes through [[Statement.collapseUniqueGroups]],
    * so a reduce over a map output that is already one row per key does
    * not aggregate again. Analysis failures surface as
    * [[BuzzException.PlanError]]; runtime failures happen later, at the
    * action. */
  def bind(spark: SparkSession, input: LogicalPlan): DataFrame = {
    import org.apache.spark.sql.graft.PlanBridge
    val bound = Statement.mapReads(plan)(r => SubqueryAlias(r.multipartIdentifier, input))
    try {
      val df = PlanBridge.ofRows(spark, bound)
      val analyzed = df.queryExecution.analyzed
      val collapsed = Statement.collapseUniqueGroups(analyzed)
      if (collapsed eq analyzed) df else PlanBridge.ofRows(spark, collapsed)
    } catch {
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

  /** Rewrite every `Aggregate` whose input is already unique on a subset
    * of its grouping keys into a `Project`: each group then holds exactly
    * one input row, so `SUM(x)` is `x` (cast to the sum's type),
    * `COUNT(args)` is 1 unless an argument is null, and `MIN(x)`/`MAX(x)`
    * are `x`. Uniqueness is Catalyst's own `distinctKeys` (it follows
    * `spark.sql.optimizer.propagateDistinctKeys.enabled`), read through
    * the aliases the binder wraps around its input. Every output keeps its
    * alias, exprId and nullability, so plans above the rewrite and the
    * output schema are unchanged. Only plan children are walked, never
    * subquery expressions, whose aggregates carry their own rules. An
    * aggregate with no grouping (it returns a row even over no input), or
    * any other aggregate function, `DISTINCT` or `FILTER`, stays as it is.
    * The two-stage reduce is the case this is for: the map statement
    * groups the whole pruned scan, so the reduce's re-aggregation over the
    * same keys is an identity. */
  private[graft] def collapseUniqueGroups(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case a: Aggregate if a.groupingExpressions.nonEmpty && uniqueOnGroups(a) =>
        perRow(a).getOrElse(a)
    }

  private def uniqueOnGroups(a: Aggregate): Boolean = {
    val groups = ExpressionSet(a.groupingExpressions)
    EliminateSubqueryAliases(a.child).distinctKeys.exists(_.subsetOf(groups))
  }

  private def perRow(a: Aggregate): Option[Project] = {
    val calls = a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })
    val collapsible = calls.forall(ae =>
      !ae.isDistinct && ae.filter.isEmpty && ofOneRow.isDefinedAt(ae.aggregateFunction))
    if (!collapsible) None
    else Some(Project(
      a.aggregateExpressions.map(_.transform { case ae: AggregateExpression =>
        val v = ofOneRow(ae.aggregateFunction)
        if (ae.nullable) KnownNullable(v) else v
      }.asInstanceOf[NamedExpression]),
      a.child))
  }

  /** The value each whitelisted aggregate takes over a one-row group. */
  private val ofOneRow: PartialFunction[AggregateFunction, Expression] = {
    case s: Sum => Cast(s.child, s.dataType)
    case c: Count =>
      c.children.filter(_.nullable) match {
        case Seq() => Literal(1L)
        case nullable =>
          If(nullable.map(e => IsNull(e): Expression).reduce(Or(_, _)), Literal(0L), Literal(1L))
      }
    case m: Min => m.child
    case m: Max => m.child
  }

  private def descend(node: LogicalPlan)(f: LogicalPlan => LogicalPlan): LogicalPlan =
    node.mapChildren(f).transformExpressions {
      case s: SubqueryExpression => s.withNewPlan(f(s.plan))
    }
}
