package graft.plans

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, First}
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/**
 * Redundant-distinct elimination seeded with base-table key metadata.
 *
 * Every `dedup`-shaped operator in the engine — `dropDuplicates` from
 * `dedup()`, `dedup(labels)`, and the binding dedup every `match`
 * pattern ends with (reference: MatchStep dedups its match keys,
 * `match`, TraversalOps.scala:289-300) — compiles to
 * `Aggregate(keys, first(payload)…)`. When the keys already form a
 * superkey of the input, that aggregate is a full shuffle + hash build
 * with ZERO reduction: q54's three-pattern match at sf10 pushed 600 M
 * already-distinct binding tuples through a 30 GB exchange before its
 * post-match filter cut them to 25 M (254× the sf1 time — THE
 * super-linear outlier of the sf10 step-up run). At 100 TB such a
 * no-op dedup is the dominant cost of every match over key-preserving
 * FK hops.
 *
 * Spark's own distinct-keys propagation (LogicalPlanDistinctKeys,
 * `EliminateDistinct`) cannot see this: uniqueness only ORIGINATES at
 * Aggregate/Distinct nodes, never at a base relation — Spark has no
 * primary-key metadata for parquet. The graph source layer KNOWS its
 * vertex tables' id columns are unique (the data contract every
 * row-identity operator in the engine already relies on), so it
 * registers them ([[DistinctKeys.registerTableKey]]) and this rule
 * propagates uniqueness bottom-up from the scans:
 *
 *  - registered `Relation` → its id attribute is a key
 *  - `Filter` → keys preserved; `a = b` conjuncts merge the attrs'
 *    equivalence classes (survivors satisfy the equality)
 *  - `Project` → keys preserved (row-preserving); `a AS x` merges
 *    classes, `named_struct(…)` records which attrs each struct field
 *    carries, `struct.field` extraction resolves back through that
 *  - inner/cross equi-join → every (left key ∪ right key) is a key;
 *    condition equalities merge classes. Outer joins combine keys the
 *    same way but harvest NO equalities (null-extended rows violate
 *    them). Semi joins keep the left keys and harvest (a survivor has
 *    a witness row satisfying the condition); anti joins keep left
 *    keys and harvest nothing (survivors have NO witness).
 *  - `Aggregate` → its grouping attributes are a key
 *  - Sort / Limit / Window / Repartition / SubqueryAlias → transparent
 *  - anything else (Union, Generate, Expand, …) → unknown, stop
 *
 * An `Aggregate(g, aggs)` whose aggs are all `first(e)` or grouping
 * passthroughs, and whose grouping attributes cover some derived key
 * modulo the equivalence classes (a struct grouping column covers the
 * attrs of its known fields), has exactly ONE row per group — so it
 * rewrites to `Project(child)` with each `first(e)` replaced by `e`
 * under its original exprId, and the surrounding plan is untouched.
 * The usual fixpoint rules (filter pushdown, column pruning) then
 * collapse the leftovers — q54's post-match balance filter drops into
 * the join it could never cross while the aggregate stood.
 *
 * Streaming plans are skipped wholesale: a streaming dedup holds state
 * ACROSS micro-batches, so per-batch key-coverage proves nothing.
 *
 * Injected by [[graft.functions.GraftExtensions]]; Spark's
 * `spark.sql.optimizer.excludedRules` turns it off by class name.
 */
class RedundantDistinctRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan
    else plan.transformUp {
      case agg: Aggregate if agg.groupingExpressions.nonEmpty =>
        rewrite(agg).getOrElse(agg)
    }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    // cheap eligibility screen before any plan walking
    val replacements: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case a: Attribute if agg.groupingExpressions.exists(_.semanticEquals(a)) => Some(a)
      case al @ Alias(ae: AggregateExpression, name)
          if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          // one row per group makes first() the row's own value,
          // ignoreNulls or not (a lone null has no non-null alternative)
          case First(fe, _) if fe.deterministic =>
            Some(Alias(fe, name)(exprId = al.exprId, qualifier = al.qualifier))
          case _ => None
        }
      case al @ Alias(e, _)
          if e.deterministic && agg.groupingExpressions.exists(_.semanticEquals(e)) =>
        Some(al)
      case _ => None
    }
    if (replacements.exists(_.isEmpty)) return None
    val walker = new DistinctKeys.Walker
    val keys = walker.walk(agg.child)
    if (keys.isEmpty) return None
    val covered: Set[ExprId] = agg.groupingExpressions.flatMap {
      case a: AttributeReference =>
        // grouping by a struct column pins every attr its fields carry
        a.exprId +: walker.fieldAttrs(a.exprId)
      case g: GetStructField => walker.resolveField(g).toSeq
      case _ => Seq.empty
    }.map(walker.find).toSet
    if (keys.exists(k => k.forall(m => covered.contains(walker.find(m)))))
      Some(Project(replacements.map(_.get), agg.child))
    else None
  }
}

object DistinctKeys {
  /** Qualified table root path → unique id column name. Registration is
    * the trust anchor: only a source layer that OWNS the table's data
    * contract (vertex id uniqueness — what every row-identity operator
    * already assumes) may register it. Path-keyed and global: a parquet
    * root has one schema, so the mapping is session-independent. */
  private val tableKeys = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Qualified table root path → normalized EXPRESSION that is unique over
    * the table's rows — for identities that are computed, not stored
    * (lineitem's surrogate `_rowid`: an injective concat of six columns).
    * A projection computing a semantically-equal expression over that
    * relation's attributes is a key of its rows. */
  private val derivedKeys = new java.util.concurrent.ConcurrentHashMap[String, Expression]()

  private def qualify(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p).toString
  }

  def registerTableKey(spark: SparkSession, path: String, keyColumn: String): Unit =
    tableKeys.put(qualify(spark, path), keyColumn)

  /** Declare `keyColumn` of `df` (a computed column over a single scan of
    * `path`) unique over that table's rows. The OPTIMIZED expression is
    * captured — the optimizer's normal form (implicit casts resolved AND
    * simplified, e.g. the no-op `CAST(FLOOR(x) AS BIGINT)` dropped) is
    * what later plans carry, so comparing anything less cooked would
    * never match — with attribute identity reduced to column names. */
  def registerDerivedKey(spark: SparkSession, path: String, df: org.apache.spark.sql.DataFrame, keyColumn: String): Unit = {
    val expr = df.queryExecution.optimizedPlan.collectFirst {
      case p: Project => p.projectList.collectFirst {
        case al @ Alias(child, name) if name == keyColumn => child
      }
    }.flatten.getOrElse(throw new IllegalArgumentException(
      s"registerDerivedKey: no computed column '$keyColumn' in the frame's top projection"))
    derivedKeys.put(qualify(spark, path), normalize(expr))
  }

  /** Attribute identity reduced to (lower-cased) column names, so trees
    * captured at registration compare equal to the same computation inside
    * any later plan regardless of ExprIds. */
  private[plans] def normalize(e: Expression): Expression = e.transformUp {
    case a: AttributeReference =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(a.name.toLowerCase(java.util.Locale.ROOT)))
  }

  private[plans] def keyFor(rel: HadoopFsRelation): Option[String] =
    rel.location.rootPaths match {
      case Seq(single) => Option(tableKeys.get(single.toString))
      case _ => None
    }

  private[plans] def derivedKeyFor(rel: HadoopFsRelation): Option[Expression] =
    rel.location.rootPaths match {
      case Seq(single) => Option(derivedKeys.get(single.toString))
      case _ => None
    }

  /** One bottom-up pass deriving superkeys, attribute equivalence
    * classes, and struct-field containment for a (batch) plan subtree.
    * Fresh per rule invocation — ExprIds are unique within a plan, so a
    * single union-find over the subtree cannot conflate unrelated
    * attributes. */
  private[plans] final class Walker {
    private val parent = mutable.Map.empty[ExprId, ExprId]
    // struct attr → field ordinal → attr the field carries
    private val fields = mutable.Map.empty[ExprId, Map[Int, ExprId]]
    // derived-key expressions whose source relation appears in this
    // subtree: (normalized tree, the relation's output ExprIds)
    private val derivedPending = mutable.Buffer.empty[(Expression, Set[ExprId])]

    def find(x: ExprId): ExprId = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    private def union(a: ExprId, b: ExprId): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }

    def fieldAttrs(structAttr: ExprId): Seq[ExprId] =
      fields.getOrElse(structAttr, Map.empty).values.toSeq

    def resolveField(g: GetStructField): Option[ExprId] = g.child match {
      case a: AttributeReference => fields.get(a.exprId).flatMap(_.get(g.ordinal))
      case _ => None
    }

    private def asAttr(e: Expression): Option[ExprId] = e match {
      case a: AttributeReference => Some(a.exprId)
      case g: GetStructField => resolveField(g)
      case _ => None
    }

    private def harvestEqualities(cond: Expression): Unit =
      splitConjunctivePredicates(cond).foreach {
        case EqualTo(l, r) =>
          for (a <- asAttr(l); b <- asAttr(r)) union(a, b)
        case EqualNullSafe(l, r) =>
          // null<=>null survivors share the same grouping value, which is
          // all superkey reasoning needs
          for (a <- asAttr(l); b <- asAttr(r)) union(a, b)
        case _ => ()
      }

    private def splitConjunctivePredicates(c: Expression): Seq[Expression] = c match {
      case And(l, r) => splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
      case other => Seq(other)
    }

    /** Known superkeys of `plan`'s rows (empty = unknown). Side effects:
      * accumulates equivalence classes and struct-field containment. */
    def walk(plan: LogicalPlan): Seq[Set[ExprId]] = plan match {
      case lr: LogicalRelation =>
        lr.relation match {
          case h: HadoopFsRelation =>
            derivedKeyFor(h).foreach { ne =>
              derivedPending += ne -> lr.output.map(_.exprId).toSet
            }
            keyFor(h).flatMap(n => lr.output.find(_.name == n))
              .map(a => Set(a.exprId)).toSeq
          case _ => Nil
        }
      case f: Filter =>
        val k = walk(f.child)
        harvestEqualities(f.condition)
        k
      case pr: Project =>
        val k = walk(pr.child)
        val derived = mutable.Buffer.empty[Set[ExprId]]
        pr.projectList.foreach {
          case al @ Alias(child, _) =>
            child match {
              case a: AttributeReference => union(al.exprId, a.exprId)
              case g: GetStructField =>
                resolveField(g).foreach(union(al.exprId, _))
              case cns: CreateNamedStruct =>
                val m = cns.valExprs.zipWithIndex
                  .flatMap { case (e, i) => asAttr(e).map(i -> _) }.toMap
                if (m.nonEmpty) fields(al.exprId) = m
              case e =>
                // a projection recomputing a registered derived key over
                // ITS OWN relation's attributes is a key of these rows
                // (reference scoping via equivalence classes keeps a
                // same-named column of another scan from matching)
                if (derivedPending.nonEmpty && e.references.nonEmpty) {
                  val n = normalize(e)
                  val matches = derivedPending.exists { case (ne, srcIds) =>
                    n == ne && {
                      val reps = srcIds.map(find)
                      e.references.forall(r => reps.contains(find(r.exprId)))
                    }
                  }
                  if (matches) derived += Set(al.exprId)
                }
            }
          case _ => ()
        }
        k ++ derived.toSeq
      case j: Join =>
        j.joinType match {
          case Inner | Cross =>
            val lk = walk(j.left)
            val rk = walk(j.right)
            j.condition.foreach(harvestEqualities)
            for (a <- lk; b <- rk) yield a ++ b
          case LeftOuter | RightOuter | FullOuter =>
            // keys still compose (one output row per matched pair, at
            // most one null-extension per preserved row) but condition
            // equalities do NOT hold on null-extended rows
            val lk = walk(j.left)
            val rk = walk(j.right)
            for (a <- lk; b <- rk) yield a ++ b
          case LeftSemi =>
            val lk = walk(j.left)
            walk(j.right)
            // a semi survivor has a witness satisfying the condition, so
            // equalities (even via right-side attrs) hold for it
            j.condition.foreach(harvestEqualities)
            lk
          case LeftAnti =>
            // survivors have NO witness — harvest nothing
            walk(j.left)
          case _ => Nil
        }
      case a: Aggregate =>
        walk(a.child)
        if (a.groupingExpressions.nonEmpty &&
          a.groupingExpressions.forall(_.isInstanceOf[Attribute]))
          Seq(a.groupingExpressions.map(_.asInstanceOf[Attribute].exprId).toSet)
        else Nil
      case d: Deduplicate =>
        walk(d.child)
        Seq(d.keys.map(_.exprId).toSet)
      case d: Distinct =>
        walk(d.child)
        Seq(d.output.map(_.exprId).toSet)
      case w: Window => walk(w.child)
      case s: Sort => walk(s.child)
      case l: GlobalLimit => walk(l.child)
      case l: LocalLimit => walk(l.child)
      case s: SubqueryAlias => walk(s.child)
      case r: RepartitionOperation => walk(r.child)
      case _ => Nil
    }
  }
}
