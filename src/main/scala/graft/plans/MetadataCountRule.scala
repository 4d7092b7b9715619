package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/**
 * Metadata-only count: rewrites a bare `count(1)` over an unfiltered
 * parquet relation into a literal row derived from the parquet footers —
 * the Catalyst rendering of the reference's index-served count
 * (`indexCountQuery`, janus/JanusDatabase.scala:263-269), which answers a
 * count from the search index without touching data.
 *
 * Fires ONLY when the aggregate is a plain non-distinct, unfiltered
 * `count(constant)` with no grouping and the child is the parquet relation
 * itself (optionally under a Project, which never changes row count). Any
 * Filter/Limit/join in between leaves the plan untouched.
 *
 * Opt-in: not injected by [[graft.functions.GraftExtensions]]; a session
 * that wants it installs the rule through
 * `spark.experimental.extraOptimizations`. Footers are read on
 * the driver here (one tiny ranged read per file — the planner-side cost
 * model); a deployment with very large file counts distributes the same
 * loop as `TestData.metadataCount` does.
 */
case class MetadataCountRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case agg @ Aggregate(Nil, Seq(Alias(ae: AggregateExpression, _)), child, _)
          if isBareCount(ae) =>
        parquetFiles(child) match {
          case Some(files) => LocalRelation(agg.output, Seq(InternalRow(footerCount(files))))
          case None => agg
        }
    }

  private def isBareCount(ae: AggregateExpression): Boolean =
    !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
      case Count(Seq(Literal(v, _))) => v != null
      case _ => false
    })

  /** The parquet file list iff the child is exactly the relation scan
    * (optionally under a row-count-preserving Project). */
  private def parquetFiles(plan: LogicalPlan): Option[Array[String]] = plan match {
    case Project(_, child) => parquetFiles(child)
    case lr: LogicalRelation =>
      lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          Some(fs.location.inputFiles)
        case _ => None
      }
    case _ => None
  }

  private def footerCount(files: Array[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    files.iterator.map(graft.sources.TestData.footerRows(conf, _)).sum
  }
}
