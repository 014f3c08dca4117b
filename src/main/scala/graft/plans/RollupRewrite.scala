package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.LongType

import graft.sources.Parquet

/** F8 — rollup-aware aggregate rewrite (SURVEY §2): the
  * materialized-view rewrite real rollup engines perform. When a
  * session points `spark.graft.rollup.root` at an A14 summary store,
  * a dashboard aggregate written against the RAW events table —
  *
  *   events.groupBy(date_trunc("hour", ts), event_type)
  *     .agg(count(*), sum(round(value*100) as long), min(value), max(value))
  *
  * — is rewritten by the optimizer to read the summary partials
  * instead: count→sum(n), cents-sum→sum(value_cents), min→min(value_min),
  * max→max(value_max). At 100 TB this is the entire point of A14:
  * dashboards keep their raw-table queries and the optimizer serves
  * them from buckets×epochs rows instead of rescanning raw history.
  *
  * Soundness guards (rewrite only when provably equal):
  *   - the aggregate's child must be a bare scan/Project chain over
  *     the events table — ANY Filter disqualifies (the summary cannot
  *     answer sub-bucket predicates);
  *   - grouping must be exactly {date_trunc('hour', _), event_type};
  *   - every aggregate must be one of the four decomposable metrics
  *     the store carries, in the exact cents form (structural match
  *     through the Cast/Round/Multiply tree) — anything else leaves
  *     the plan untouched.
  * Alias/attribute exprIds of the original output are preserved
  * (ApproxRewrite's contract), so parents of the Aggregate — sorts,
  * projections, filters ABOVE the aggregate — resolve unchanged.
  */
case class RollupRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  private def rootOpt: Option[String] =
    session.conf.getOption("spark.graft.rollup.root").filter(_.nonEmpty)

  private def isPlainEventsScan(p: LogicalPlan): Boolean = p match {
    case Project(_, ch) => isPlainEventsScan(ch)
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.exists(_.toString.contains("events.parquet"))
      case _ => false
    }
    case _ => false
  }

  /** The optimizer pulls non-trivial grouping expressions into a child
    * Project (`_groupingexpression#N`); aliases are chased through the
    * Project chain so the match sees the real expression either way.
    */
  private def childAliasMap(p: LogicalPlan): Map[ExprId, Expression] = p match {
    case pr: Project =>
      pr.projectList.collect { case a @ Alias(e, _) => a.exprId -> e }.toMap ++
        childAliasMap(pr.child)
    case _ => Map.empty
  }

  private def resolveThrough(e: Expression, m: Map[ExprId, Expression]): Expression =
    e match {
      case a: AttributeReference => m.get(a.exprId).map(resolveThrough(_, m)).getOrElse(a)
      case other => other
    }

  private def isHourTrunc(e: Expression): Boolean = e match {
    case t: TruncTimestamp => (t.format match {
      case Literal(s, _) => String.valueOf(s).equalsIgnoreCase("hour")
      case _ => false
    }) && t.timestamp.references.forall(_.name == "ts")
    case _ => false
  }

  private def isEventType(e: Expression): Boolean = e match {
    case a: AttributeReference => a.name == "event_type"
    case _ => false
  }

  private def isValueAttr(e: Expression): Boolean = e match {
    case a: AttributeReference => a.name == "value"
    case c: Cast => isValueAttr(c.child)
    case _ => false
  }

  private def isLit100(e: Expression): Boolean = e match {
    case Literal(v, _) => String.valueOf(v) == "100" || String.valueOf(v) == "100.0"
    case c: Cast => isLit100(c.child)
    case _ => false
  }

  /** sum(round(value * 100) :: long) in any cast arrangement. */
  private def isCents(e: Expression): Boolean = e match {
    case c: Cast if c.dataType == LongType => isCents(c.child)
    case r: Round => isCents(r.child)
    case m: Multiply =>
      (isValueAttr(m.left) && isLit100(m.right)) ||
        (isValueAttr(m.right) && isLit100(m.left))
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = rootOpt match {
    case None => plan
    case Some(root) => plan.transform {
      case agg: Aggregate if {
            val m = childAliasMap(agg.child)
            agg.groupingExpressions.length == 2 &&
              isPlainEventsScan(agg.child) &&
              agg.groupingExpressions.exists(g => isHourTrunc(resolveThrough(g, m))) &&
              agg.groupingExpressions.exists(g => isEventType(resolveThrough(g, m)))
          } =>
        rewrite(agg, root).getOrElse(agg)
    }
  }

  private def rewrite(agg: Aggregate, root: String): Option[LogicalPlan] = {
    val summary = Parquet.read(session, root).queryExecution.analyzed
    def attr(n: String): Option[AttributeReference] =
      summary.output.collectFirst {
        case a: AttributeReference if a.name == n => a
      }
    for {
      hour <- attr("hour"); et <- attr("event_type"); n <- attr("n")
      cents <- attr("value_cents"); vmin <- attr("value_min"); vmax <- attr("value_max")
      m = childAliasMap(agg.child)
      mapped <- traverse(agg.aggregateExpressions) {
        // grouping passthroughs keep their name AND exprId
        case al @ Alias(e, name) if isHourTrunc(resolveThrough(e, m)) =>
          Some(Alias(hour, name)(exprId = al.exprId))
        case al @ Alias(e, name) if isEventType(resolveThrough(e, m)) =>
          Some(Alias(et, name)(exprId = al.exprId))
        case a: AttributeReference if isEventType(resolveThrough(a, m)) =>
          Some(Alias(et, a.name)(exprId = a.exprId))
        // decomposable metrics re-targeted at the partials
        case al @ Alias(ae: AggregateExpression, name)
            if !ae.isDistinct && ae.filter.isEmpty =>
          val swapped = ae.aggregateFunction match {
            case c: Count if c.children == Seq(Literal(1)) => Some(Sum(n))
            case s: Sum if isCents(s.child)   => Some(Sum(cents))
            case m: Min if isValueAttr(m.child) => Some(Min(vmin))
            case m: Max if isValueAttr(m.child) => Some(Max(vmax))
            case _                            => None
          }
          swapped.map(fn => Alias(ae.copy(aggregateFunction = fn), name)(exprId = al.exprId))
        case _ => None
      }
    } yield Aggregate(Seq(hour, et), mapped, summary)
  }

  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = xs.map(f)
    if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }
}
