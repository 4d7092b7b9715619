package graft.plans

import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, LocalTableScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}

/**
 * Tiny inputs run as one task: an AQE query-stage preparation rule (it
 * runs right after `EnsureRequirements`) that, when every leaf of the plan
 * already produces exactly one partition, replaces each required shuffle
 * with a narrow `CoalesceExec(1)` and each broadcast hash join with a
 * shuffled hash join over one-partition sides. The plan then runs as one
 * job instead of one job per exchange — ScalliGraph answers the same API
 * request as a single traversal in one process, and the fixed cost of a
 * distributed plan is paid only when the input needs it.
 *
 * The gate is Spark's own split planning (`spark.sql.files.maxPartitionBytes`
 * and `openCostInBytes`), so it adds no knob. A leaf qualifies when it is
 *  - a non-bucketed `FileSourceScanExec` whose listed files pack into one
 *    split (arithmetic on the listing; the input RDD is not built),
 *  - a `LocalTableScanExec`,
 *  - a one-partition `RDDScanExec` (a checkpointed table or one row),
 *  - an already-materialized broadcast stage (on AQE re-optimization).
 * Any other leaf, or one multi-split scan, leaves the plan exactly as it is.
 *
 * `CoalesceExec(1)` reports `SinglePartition`, which satisfies every
 * distribution `EnsureRequirements` planned for except a broadcast, so
 * only `ENSURE_REQUIREMENTS` shuffles are replaced; user repartitions stay.
 * A null-aware anti join keeps its broadcast (a shuffled hash join cannot
 * run it), as does a join whose broadcast has already run. The rewritten
 * plan is checked against every operator's required distribution,
 * ordering and co-partitioning — a kept user repartition under a join can
 * break the last — and discarded if any fails. Streaming micro-batches
 * never run AQE, so they never see the rule.
 */
object OneTaskPlan extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!plan.collectLeaves().forall(oneSplit)) plan
    else {
      val rewritten = plan.transformUp {
        case ShuffleExchangeExec(_, child, ENSURE_REQUIREMENTS, _) => single(child)
        case j: BroadcastHashJoinExec
            if !j.isNullAwareAntiJoin && (j.buildSide match {
              case BuildLeft => j.left
              case BuildRight => j.right
            }).isInstanceOf[BroadcastExchangeExec] =>
          ShuffledHashJoinExec(j.leftKeys, j.rightKeys, j.joinType, j.buildSide, j.condition,
            single(unbroadcast(j.left)), single(unbroadcast(j.right)))
      }
      if (broken(rewritten)) plan else rewritten
    }

  private def oneSplit(leaf: SparkPlan): Boolean = leaf match {
    case s: FileSourceScanExec => !s.bucketedScan && packsIntoOneSplit(s)
    case _: LocalTableScanExec | _: BroadcastQueryStageExec => true
    case r: RDDScanExec => r.rdd.getNumPartitions <= 1
    case _ => false
  }

  /** Spark's split packing (`FilePartition.getFilePartitions`) in closed
    * form: files are packed largest first, each but the first charged
    * `openCostInBytes`, so n files totalling T bytes fit one split iff
    * T + (n - 1) * openCost <= maxSplitBytes (a larger file splits). */
  private def packsIntoOneSplit(scan: FileSourceScanExec): Boolean = {
    val session = scan.relation.sparkSession
    val listing = scan.selectedPartitions
    val n = listing.totalNumberOfFiles
    n == 0 || listing.totalFileSize + (n - 1) * session.sessionState.conf.filesOpenCostInBytes <=
      FilePartition.maxSplitBytes(session, listing)
  }

  private def single(p: SparkPlan): SparkPlan =
    if (p.outputPartitioning == SinglePartition) p else CoalesceExec(1, p)

  private def unbroadcast(p: SparkPlan): SparkPlan = p match {
    case BroadcastExchangeExec(_, child) => child
    case other => other
  }

  /** Whether the rewrite lost a requirement `EnsureRequirements`
    * established, checked children first: a join's own partitioning is
    * defined only once its children are co-partitioned. */
  private def broken(node: SparkPlan): Boolean = node.children.exists(broken) || {
    val kids = node.children
    val dists = node.requiredChildDistribution.zip(kids)
    dists.exists { case (d, c) => !c.outputPartitioning.satisfies(d) } ||
      node.requiredChildOrdering.zip(kids).exists { case (o, c) =>
        !SortOrder.orderingSatisfies(c.outputOrdering, o) } ||
      dists.collect { case (_: ClusteredDistribution, c) => c.outputPartitioning.numPartitions }
        .distinct.size > 1
  }
}
