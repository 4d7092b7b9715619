package graft

/** Plan inspection utility: prints the formatted physical plan of selected
  * registry queries (all of them with no names given). Usage:
  * `runMain graft.Explain <sfDir> [queryName ...] [k=v ...]` — `k=v`
  * args (containing '=') become extra SQL confs, same as [[RowCount]],
  * for A/B-ing optimizer flags against the plan shape. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val (confArgs, nameArgs) = args.drop(1).partition(_.contains("="))
    val names = nameArgs.toSet
    val spark = RowCount.localSession(confArgs.toSeq)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"\n=== $name ===")
        try {
          val qe = fn(spark, sfDir).queryExecution
          // GRAFT_EXPLAIN_LOGICAL=1 → also dump the optimized logical plan
          // (rule development: see the tree optimizer rules actually match)
          if (sys.env.get("GRAFT_EXPLAIN_LOGICAL").contains("1"))
            println(qe.optimizedPlan.treeString)
          println(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Throwable => println(s"(failed: ${e.getMessage})") }
      }
    spark.stop()
  }
}
