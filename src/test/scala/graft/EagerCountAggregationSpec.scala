package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Prove/refuse boundary of [[graft.plans.EagerCountAggregation]].
  *
  * Prove: the pushed `__eagercnt` aggregate appears below the join and
  * the results are IDENTICAL to the rule-off plan, including duplicate
  * join keys on both sides (the multiplicity case the sum(cnt) algebra
  * must get right) and null join keys (dropped by the inner join in
  * both forms). Refuse: any shape where the push would change results
  * or isn't provably safe — outer joins, non-equi conditions, distinct
  * or filtered counts, count(col), sums, grouping on the pushed side.
  */
class EagerCountAggregationSpec extends SparkSpec {
  import spark.implicits._

  private def facts: DataFrame =
    Seq((1L, "a"), (1L, "b"), (2L, "c"), (2L, "d"), (2L, "e"), (4L, "x"))
      .toDF("fk", "payload")
  private def factsWithNull: DataFrame =
    facts.union(Seq((Option.empty[Long], "n")).toDF("fk", "payload"))
  // duplicate dim keys too: key 2 appears twice
  private def dims: DataFrame =
    Seq((1L, "red"), (2L, "blue"), (2L, "teal"), (3L, "green"))
      .toDF("pk", "color")

  private def withRule[T](on: Boolean)(body: => T): T =
    if (on) body
    else withConf("spark.sql.optimizer.excludedRules" ->
      classOf[graft.plans.EagerCountAggregation].getName)(body)

  private def fired(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("__eagercnt")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  describe("eager count aggregation — proves") {

    it("pushes a count(1) below an inner equi-join and matches the unpushed result") {
      def q = factsWithNull.join(dims, col("fk") === col("pk"))
        .groupBy("color").agg(count(lit(1)).as("n"))
      val (pushedRows, unpushedRows) =
        (withRule(true) { assert(fired(q)); sortedRows(q) },
          withRule(false) { val d = q; assert(!fired(d)); sortedRows(d) })
      // dup fact keys ×2/×3, dup dim key 2 ×2, null fk dropped — exact
      // multiplicity algebra: blue/teal each see facts 2's 3 rows
      assert(pushedRows === unpushedRows)
      assert(pushedRows.nonEmpty)
    }

    it("min/max over the retained side ride along unchanged") {
      def q = facts.join(dims, col("fk") === col("pk"))
        .groupBy("color").agg(count(lit(1)).as("n"), max(col("pk")).as("mx"))
      val a = withRule(true) { assert(fired(q)); sortedRows(q) }
      val b = withRule(false)(sortedRows(q))
      assert(a === b)
    }

    it("cascades down a two-join chain (q09 shape)") {
      val dir = "/root/testdata/sf0.001"
      def q = SparkEntry.queries("q09_two_hop_groupcount")(spark, dir)
      withRule(true) {
        val plan = q.queryExecution.optimizedPlan.toString
        // both decades pushed: the lineitem count AND the re-summed
        // per-custkey aggregate sit below their joins
        assert(plan.linesIterator.count(_.contains("__eagercnt")) >= 2, plan)
      }
      val a = withRule(true)(sortedRows(q))
      val b = withRule(false)(sortedRows(q))
      assert(a === b)
    }
  }

  describe("eager count aggregation — refusals") {

    def assertRefused(df: => DataFrame): Unit =
      withRule(true)(assert(!fired(df), df.queryExecution.optimizedPlan.toString))

    it("refuses outer joins (null-extended rows would be pre-collapsed)") {
      assertRefused(facts.join(dims, col("fk") === col("pk"), "left_outer")
        .groupBy("color").agg(count(lit(1)).as("n")))
    }

    it("refuses non-equi join conditions") {
      assertRefused(facts.join(dims, col("fk") <= col("pk"))
        .groupBy("color").agg(count(lit(1)).as("n")))
    }

    it("refuses count(col) over a nullable column — null-sensitive") {
      // count(pk) would NOT refuse: Spark's NullPropagation rewrites a
      // count over a non-nullable column to count(1) first, after which
      // the push is valid. A genuinely nullable argument must refuse.
      val nullableDims =
        Seq((1L, Option("red")), (2L, Option.empty[String]), (3L, Option("green")))
          .toDF("pk", "color")
      assertRefused(facts.join(nullableDims, col("fk") === col("pk"))
        .groupBy("pk").agg(count(col("color")).as("n")))
    }

    it("refuses distinct counts") {
      assertRefused(facts.join(dims, col("fk") === col("pk"))
        .groupBy("color").agg(countDistinct(col("pk")).as("n")))
    }

    it("refuses sums (would need the cnt-multiply form)") {
      assertRefused(facts.join(dims, col("fk") === col("pk"))
        .groupBy("color").agg(sum(col("pk")).as("s")))
    }

    it("refuses when grouping touches the would-be pushed side") {
      // grouping by the fact payload: the fact side contributes more
      // than its join key, and the dim side carries the grouping? no —
      // both sides are referenced, so neither is eligible
      assertRefused(facts.join(dims, col("fk") === col("pk"))
        .groupBy("payload", "color").agg(count(lit(1)).as("n")))
    }

    it("refuses a global (ungrouped) count") {
      assertRefused(facts.join(dims, col("fk") === col("pk"))
        .agg(count(lit(1)).as("n")))
    }

    it("does not re-push a side already aggregated by its join keys") {
      withRule(true) {
        def q = facts.join(dims, col("fk") === col("pk"))
          .groupBy("color").agg(count(lit(1)).as("n"))
        val plan = q.queryExecution.optimizedPlan.toString
        // exactly one push: the fact side, once
        assert(plan.linesIterator.count(_.contains("count(1) AS __eagercnt")) === 1, plan)
      }
    }
  }
}
