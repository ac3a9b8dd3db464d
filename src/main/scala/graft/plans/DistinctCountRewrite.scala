package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule rewriting the reference's distinct-count idiom
  * (`Main.scala:133,190-206`):
  *
  * {{{ df.groupBy(c).count().groupBy(c).count().count() }}}
  *
  * — a 2-shuffle-per-column pattern — into a single null-inclusive
  * distinct aggregate over the base relation:
  *
  * {{{ count(DISTINCT c) + max(CASE WHEN c IS NULL THEN 1 ELSE 0 END) }}}
  *
  * (groupBy counts a null group; count(DISTINCT) does not, hence the
  * null adjustment). Two sub-rewrites compose to handle any idiom depth:
  *
  *  R1  count(*) over Aggregate(group=[c]) → null-inclusive distinct(c)
  *  R2  count(DISTINCT c) over Aggregate(group=[c], aggs=counts-only)
  *      → count(DISTINCT c) over the aggregate's child
  *      (distinct-of-distinct; legal because grouping by a bare column
  *      preserves its ExprId)
  *
  * The rule is a worked example of the `Rule[LogicalPlan]` +
  * `SparkSessionExtensions` extension point — the engine's own API
  * (Profile.exact) never generates the idiom.
  */
object DistinctCountRewrite extends Rule[LogicalPlan] {

  /** Matches an Aggregate whose output is only its single grouping
    * attribute and/or count aggregates — i.e. a pure groupBy().count(). */
  private object PureGroupCount {
    def unapply(p: LogicalPlan): Option[(AttributeReference, LogicalPlan)] =
      p match {
        case Aggregate(Seq(g: AttributeReference), aggs, child, _)
            if aggs.forall {
              case a: AttributeReference => a.semanticEquals(g)
              case Alias(AggregateExpression(Count(_), _, false, _, _), _) => true
              case _ => false
            } =>
          Some((g, child))
        case _ => None
      }
  }

  private def globalCountStar(aggs: Seq[NamedExpression]): Option[Alias] =
    aggs match {
      case Seq(a @ Alias(AggregateExpression(Count(Seq(Literal(1, _))), _, false, _, _), _)) =>
        Some(a)
      case _ => None
    }

  private def nullInclusiveDistinct(c: AttributeReference): Expression = {
    val distinct = AggregateExpression(
      Count(Seq(c)), Complete, isDistinct = true)
    val hasNull = AggregateExpression(
      Max(CaseWhen(Seq((IsNull(c), Literal(1L))), Literal(0L))),
      Complete, isDistinct = false)
    // Coalesce: over an EMPTY relation Max is NULL while the original
    // count(*)-over-groupBy returns 0 — the rewrite must preserve that.
    Coalesce(Seq(Add(distinct, hasNull), Literal(0L)))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // R1: global count(*) directly over a pure group-count
    case agg @ Aggregate(Nil, aggs, PureGroupCount(g, child), _) =>
      globalCountStar(aggs) match {
        case Some(alias) =>
          Aggregate(Nil,
            Seq(Alias(nullInclusiveDistinct(g), alias.name)(alias.exprId)),
            child)
        case None => agg
      }

    // R2: the rewritten distinct aggregate still sitting on a pure
    // group-count of the same column — peel the inner aggregate.
    case agg @ Aggregate(Nil, Seq(Alias(e, _)), PureGroupCount(g, child), _)
        if distinctCountOf(e).exists(_.semanticEquals(g)) =>
      agg.copy(child = child)
  }

  private def distinctCountOf(e: Expression): Option[Attribute] = e match {
    case Coalesce(Seq(inner, Literal(0L, _))) => distinctCountOf(inner)
    case Add(AggregateExpression(Count(Seq(a: Attribute)), _, true, _, _), _, _) =>
      Some(a)
    case _ => None
  }
}

/** `SparkSessionExtensions` hook:
  * {{{ builder.withExtensions(new GraftExtensions) }}}
  * or `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => DistinctCountRewrite)
    // the custom physical operator rides the same single entry point, so
    // `spark.sql.extensions=graft.plans.GraftExtensions` wires the WHOLE
    // engine extension surface (TopKPerKey.install stays as the
    // per-session alternative)
    e.injectPlannerStrategy(_ => TopKPerKeyStrategy)
  }
}
