package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/**
 * Eager count aggregation (aggregation pushdown below a join — Yan &
 * Larson, VLDB'95 "Eager Aggregation and Lazy Aggregation").
 *
 * A `groupCount`-shaped traversal over an FK hop chain compiles to
 * `Aggregate(count(1))` ABOVE the whole join chain, so every fact row
 * is first multiplied through the joins and only then counted: q09
 * (lineitem→orders→customer, count per segment) shuffles 600 M joined
 * rows at sf100 to produce 5 groups. When one join side contributes
 * ONLY its join keys to everything above (no grouping column, no
 * aggregate input, no other predicate), counting can move below the
 * join: pre-aggregate that side per join key, join the narrow
 * (key, cnt) table instead, and turn the outer `count(1)` into
 * `sum(cnt)`. Correct for ANY key multiplicities on either side — the
 * join emits one row per (pre-aggregated group × matching other row),
 * and summing cnt over those restores exactly the original pair count;
 * rows with null keys never survive an inner equi-join in either form.
 *
 * The rule runs to fixpoint with the main optimizer batch, so a
 * two-hop chain cascades: the pushed aggregate over the inner join is
 * itself count(1)-shaped and pushes again (q09 becomes: lineitem
 * pre-counted per orderkey → orders join pre-counted per custkey →
 * customer join → 5-row sum). Min/max ride along unchanged — they are
 * insensitive to the multiplicity the push removes.
 *
 * Scope (refusals spec'd in EagerCountAggregationSpec): inner joins
 * with pure conjunctive attribute-equality conditions only; aggregates
 * must be non-distinct unfiltered `count(non-null literal)` (plus
 * min/max over the retained side); grouping must be nonempty and not
 * touch the pushed side. A side already aggregated by exactly its join
 * keys is never pushed again (no reduction left — also the fixpoint
 * terminator). Reference: the engine's aggregation contract is one
 * shuffle per aggregation tree (SURVEY §4); this rule keeps that
 * contract while moving the shuffle to where the data is narrow.
 */
class EagerCountAggregation extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown { case agg: Aggregate => rewrite(agg).getOrElse(agg) }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    // unwrap one deterministic pruning/aliasing Project over the join.
    // AttributeMap, not Map: attribute equality is structural (qualifier,
    // nullability) and silently misses; the map must key by exprId.
    val (join, subst): (Join, AttributeMap[Expression]) = agg.child match {
      case j: Join => (j, AttributeMap.empty[Expression])
      case Project(pl, j: Join) if pl.forall(_.deterministic) =>
        (j, AttributeMap(pl.collect { case a: Alias => a.toAttribute -> a.child }))
      case _ => return None
    }
    if (join.joinType != Inner) return None
    val cond = join.condition.getOrElse(return None)

    // pure conjunctive equi-condition, one attribute from each side
    val pairs: Seq[(Attribute, Attribute)] = splitConjunctivePredicates(cond).map {
      case EqualTo(a: Attribute, b: Attribute)
          if join.left.outputSet.contains(a) && join.right.outputSet.contains(b) => (a, b)
      case EqualTo(a: Attribute, b: Attribute)
          if join.left.outputSet.contains(b) && join.right.outputSet.contains(a) => (b, a)
      case _ => return None
    }
    if (pairs.isEmpty) return None

    // resolve grouping + result expressions to join-level attributes,
    // preserving every output exprId (the plan above must see the same
    // schema after the Project is absorbed)
    def sub(e: Expression): Expression = e.transform {
      case a: Attribute if subst.contains(a) => subst(a)
    }
    val g = agg.groupingExpressions.map(sub)
    if (g.isEmpty) return None
    val res: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: Attribute if subst.contains(a) => Alias(subst(a), a.name)(exprId = a.exprId)
      case a: Attribute => a
      case al: Alias =>
        Alias(sub(al.child), al.name)(
          exprId = al.exprId, qualifier = al.qualifier,
          explicitMetadata = al.explicitMetadata)
      case _ => return None
    }

    // every reference must now resolve at join level — a missed
    // substitution (Project output not covered by the alias map) would
    // otherwise build an unresolvable Aggregate
    if (!AttributeSet((g ++ res).flatMap(_.references)).subsetOf(join.outputSet))
      return None

    val aggCalls = res.flatMap(_.collect { case ae: AggregateExpression => ae })
    if (aggCalls.isEmpty) return None // distinct-shaped dedup, not ours
    val allSupported = aggCalls.forall { ae =>
      !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
        case Count(Seq(l: Literal)) => l.value != null
        case _: Min | _: Max => true
        case _ => false
      })
    }
    if (!allSupported) return None
    if (!aggCalls.exists(_.aggregateFunction.isInstanceOf[Count])) return None

    val aboveRefs = AttributeSet((g ++ res).flatMap(_.references))
    val leftKeys = pairs.map(_._1)
    val rightKeys = pairs.map(_._2)

    def alreadyKeyAggregated(side: LogicalPlan, keys: Seq[Attribute]): Boolean =
      side match {
        case a: Aggregate =>
          AttributeSet(a.groupingExpressions.flatMap(_.references)) == AttributeSet(keys)
        case _ => false
      }

    val candidates = Seq((join.left, leftKeys, true), (join.right, rightKeys, false))
      .filter { case (side, keys, _) =>
        aboveRefs.intersect(side.outputSet).isEmpty &&
          !alreadyKeyAggregated(side, keys)
      }
    val (pushSide, pushKeys, pushLeft) = candidates.headOption.getOrElse(return None)

    val cnt = Alias(
      AggregateExpression(Count(Seq(Literal(1))), Complete, isDistinct = false),
      "__eagercnt")()
    val pushed = Aggregate(pushKeys, pushKeys :+ (cnt: NamedExpression), pushSide)
    val newJoin =
      if (pushLeft) join.copy(left = pushed) else join.copy(right = pushed)
    val cntAttr = cnt.toAttribute
    val newRes = res.map(_.transform {
      case ae: AggregateExpression if ae.aggregateFunction.isInstanceOf[Count] =>
        ae.copy(aggregateFunction = Sum(cntAttr))
    }.asInstanceOf[NamedExpression])
    Some(Aggregate(g, newRes, newJoin))
  }
}
