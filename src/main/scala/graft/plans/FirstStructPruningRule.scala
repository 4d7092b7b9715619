package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, First}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StructType

/**
 * Nested-column pruning THROUGH `first(struct)` aggregate buffers.
 *
 * `dropDuplicates(keys)` becomes `Aggregate(keys, first(col)…)`
 * (Catalyst's ReplaceDeduplicateWithAggregate), so when the deduplicated
 * row carries packed entity structs — the traversal engine's alias
 * columns, e.g. every binding of a `match` pattern — the dedup SHUFFLE
 * carries the full structs inside the partial-first buffers even when
 * everything downstream reads two fields. Spark's nested-schema pruning
 * stops at aggregate buffers (checked on 4.1.2), so a six-way match over
 * TPC-H (q71) shuffles whole lineitem/orders/nation/region rows for a
 * projection that needs `l_extendedprice`, `l_discount`, `n_name`. At
 * 100 TB that width is the dedup's dominant cost.
 *
 * This rule rewrites `Project(…struct.f…, Filter*(…struct.g…,
 * Aggregate(k, first(struct)…)))` so the `first` aggregates only the
 * union of fields the projection and any intervening filters reference.
 * The pruned struct is materialized in a PROJECT INSERTED BELOW the
 * aggregate (`__ps_x := named_struct('f', x.f, …)`), not inline in the
 * `first`: when this rule runs inside the operator-optimization
 * fixed point (injected via GraftExtensions), the built-in
 * NestedColumnAliasing + SimplifyExtractValueOps then push those field
 * extractions through the join chain into the struct-creating projection
 * and finally into the scan — q71's lineitem ReadSchema narrows from 11
 * columns to the 3 the query touches. Every consumer's `GetStructField`
 * ordinal is remapped against the pruned layout. (The Filter* case is
 * the common one — a post-`match` predicate on bound-entity fields
 * cannot push below the dedup because it references non-grouping
 * columns.) It fires only when
 *  - the aggregate is a plain `first` (no DISTINCT/FILTER, ignoreNulls
 *    false — `ignoreNulls=true` would skip null STRUCTS, which a
 *    struct-of-nulls cannot emulate), and
 *  - project and filters touch the output attribute ONLY through
 *    `GetStructField` (a whole-struct reference keeps the full buffer:
 *    null-struct vs struct-of-nulls is observable then), and
 *  - at least one field is actually dropped.
 * Under those guards the rewrite is observationally identical: every
 * surviving `GetStructField` sees the same value whether the first()
 * buffer held the full struct or the pruned one.
 *
 * Injected by [[graft.functions.GraftExtensions]]; Spark's
 * `spark.sql.optimizer.excludedRules` turns it off by class name.
 */
class FirstStructPruningRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case p: Project =>
        // peel any Filter chain between the project and the aggregate
        val (filters, base) = peelFilters(p.child)
        base match {
          case agg: Aggregate =>
            val consumers = p.projectList ++ filters.map(_.condition)
            val rewrites = agg.aggregateExpressions.flatMap(candidate(_, consumers))
            if (rewrites.isEmpty) p
            else {
              val byId = rewrites.map(r => r.oldAlias.exprId -> r).toMap
              // pruned structs materialize below the aggregate, where the
              // built-in nested-pruning rules can chase them to the scans
              val pre = Project(agg.child.output ++ rewrites.map(_.preAlias), agg.child)
              val newAgg = agg.copy(
                aggregateExpressions = agg.aggregateExpressions.map { ne =>
                  byId.get(ne.exprId).fold(ne)(_.newAlias)
                },
                child = pre)
              // rebuild the filter chain bottom-up with remapped ordinals
              val newChild = filters.foldRight[LogicalPlan](newAgg) { (f, c) =>
                Filter(rewriteRefs(f.condition, byId), c)
              }
              val newList = p.projectList.map(rewriteRefs(_, byId).asInstanceOf[NamedExpression])
              Project(newList, newChild)
            }
          case _ => p
        }
      // CollapseProject folds the consumer into the aggregate itself:
      // `Aggregate(k, [k, first(payload).s2 AS v])`. There the rewrite is
      // even simpler — first(struct).field ≡ first(struct.field) for
      // ignoreNulls=false (both read the same first-seen row; a null
      // struct yields a null field either way). The extraction is aliased
      // in a pre-projection for the same pushdown reason as above.
      case agg: Aggregate =>
        val pres = scala.collection.mutable.ArrayBuffer.empty[Alias]
        val newExprs = agg.aggregateExpressions.map(_.transformDown {
          case GetStructField(ae: AggregateExpression, ord, nameOpt)
              if !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
                case First(a: AttributeReference, false) => a.dataType.isInstanceOf[StructType]
                case _ => false
              }) =>
            val First(attr: AttributeReference, _) = (ae.aggregateFunction: @unchecked)
            val st = attr.dataType.asInstanceOf[StructType]
            val fieldName = nameOpt.getOrElse(st(ord).name)
            val preAlias = Alias(GetStructField(attr, ord, Some(st(ord).name)), s"__pf_$fieldName")()
            pres += preAlias
            ae.copy(
              aggregateFunction = First(preAlias.toAttribute, ignoreNulls = false),
              resultId = NamedExpression.newExprId)
        }.asInstanceOf[NamedExpression])
        if (pres.isEmpty) agg
        else agg.copy(
          aggregateExpressions = newExprs,
          child = Project(agg.child.output ++ pres, agg.child))
    }

  /** The Filter chain under a project, outermost first, plus what's
    * beneath it. */
  private def peelFilters(plan: LogicalPlan): (Seq[Filter], LogicalPlan) = plan match {
    case f: Filter =>
      val (rest, base) = peelFilters(f.child)
      (f +: rest, base)
    case other => (Nil, other)
  }

  private case class StructRewrite(oldAlias: Alias, newAlias: Alias, keptOrdinals: Seq[Int], preAlias: Alias)

  /** A rewrite for `ne` if it is a pruneable first(struct) whose output
    * all consumer expressions read only field-wise, with fields to spare. */
  private def candidate(ne: NamedExpression, projectList: Seq[Expression]): Option[StructRewrite] =
    ne match {
      case al @ Alias(ae: AggregateExpression, _) if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case First(attr: AttributeReference, false) =>
            attr.dataType match {
              case st: StructType =>
                var whole = false
                val ords = scala.collection.mutable.SortedSet.empty[Int]
                def scan(e: Expression): Unit = e match {
                  case GetStructField(a: AttributeReference, ord, _) if a.exprId == al.exprId =>
                    ords += ord
                  case a: AttributeReference if a.exprId == al.exprId => whole = true
                  case other => other.children.foreach(scan)
                }
                projectList.foreach(scan)
                if (whole || ords.isEmpty || ords.size >= st.length) None
                else {
                  val kept = ords.toSeq
                  val pruned = CreateNamedStruct(kept.flatMap(o =>
                    Seq(Literal(st(o).name), GetStructField(attr, o, Some(st(o).name)))))
                  val preAlias = Alias(pruned, s"__ps_${attr.name}")()
                  val newAlias = Alias(
                    ae.copy(aggregateFunction = First(preAlias.toAttribute, ignoreNulls = false)), al.name)(
                    exprId = al.exprId, qualifier = al.qualifier)
                  Some(StructRewrite(al, newAlias, kept, preAlias))
                }
              case _ => None
            }
          case _ => None
        }
      case _ => None
    }

  /** Remap `GetStructField` ordinals against the pruned struct layout. */
  private def rewriteRefs(e: Expression, byId: Map[ExprId, StructRewrite]): Expression =
    e match {
      case gsf @ GetStructField(a: AttributeReference, ord, _) if byId.contains(a.exprId) =>
        val r = byId(a.exprId)
        GetStructField(r.newAlias.toAttribute, r.keptOrdinals.indexOf(ord), gsf.name)
      case other => other.mapChildren(rewriteRefs(_, byId))
    }
}
