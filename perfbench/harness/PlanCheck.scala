package perfbench

import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project, Sort}
import org.apache.spark.sql.types.IntegerType

/** `PlanCheck`: which plans the edge pass treats as root-sorted. Prints one
  * `<case> <sorted|unsorted>` line per case; the benchmark's tests read it. */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val x = AttributeReference("x", IntegerType)()
    val rel = LocalRelation(x)
    val sorted = Sort(Seq(SortOrder(x, Ascending)), global = true, rel)
    val cases: Seq[(String, LogicalPlan)] = Seq(
      "relation" -> rel,
      "project" -> Project(Seq(x), rel),
      "local_sort" -> Sort(Seq(SortOrder(x, Ascending)), global = false, rel),
      "root_sort" -> sorted,
      "project_over_sort" -> Project(Seq(x), sorted))
    cases.foreach { case (name, plan) =>
      println(s"$name ${if (Harness.stripRootSort(plan).isDefined) "sorted" else "unsorted"}")
    }
  }
}
