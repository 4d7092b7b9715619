package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

import graft.traversal.Traversal

/**
 * RedundantDistinctRule: a dedup whose keys provably form a superkey of
 * its input (base-table key metadata + bottom-up propagation through the
 * join chain) must disappear from the plan; any dedup that CAN collapse
 * rows must stay. Every elimination case also asserts result equality
 * against the rule-off plan — the rewrite claims observational identity,
 * so the spec checks it, not just the plan shape.
 */
class DistinctKeysSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def aggCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size

  private def withRuleOff[T](body: => T): T =
    withConf("spark.sql.optimizer.excludedRules" ->
      classOf[graft.plans.RedundantDistinctRule].getName)(body)

  private def graph = graft.sources.TestData.graph(spark, sfDir)

  /** q54's shape: three single-hop patterns with a cycle close — binding
    * tuples cannot duplicate, so the match's dedup must vanish. */
  private def matchChain(): DataFrame = {
    val t = graph.V("customer")
      .where(col("c_acctbal") > 1000)
      .matchPattern("c",
        ("c", (x: Traversal) => x.out("cust_nation"), "n"),
        ("n", (x: Traversal) => x.in("supp_nation"), "s"),
        ("s", (x: Traversal) => x.out("supp_nation"), "n"))
    t.where(t.sel("c", "c_acctbal") < t.sel("s", "s_acctbal"))
      .project("c_custkey" -> t.sel("c", "c_custkey"), "s_suppkey" -> t.sel("s", "s_suppkey"))
      .sortBy(col("c_custkey"), col("s_suppkey")).toDF
  }

  describe("RedundantDistinctRule") {

    it("eliminates the binding dedup of a key-preserving match chain") {
      val on = matchChain()
      assert(aggCount(on) === 0, on.queryExecution.optimizedPlan.treeString)
      // plan inspection and collection must happen while the flag is off —
      // optimizedPlan is lazy, so it reads the conf at first access
      val (offAggs, offRows) = withRuleOff {
        val off = matchChain()
        (aggCount(off), off.collect().toSeq)
      }
      assert(offAggs === 1, "rule-off plan must keep the dedup")
      val a = on.collect().toSeq
      assert(a.nonEmpty, "guard: the fixture must produce rows")
      assert(a === offRows)
    }

    it("keeps the dedup when a pattern hops through an UNBOUND intermediate") {
      // c → orders → customer2: many orders per (c, c2) pair, and the
      // order binding is dropped — duplicates are real, dedup must stay
      def diamond(): DataFrame = {
        val t = graph.V("customer").matchPattern("c",
          ("c", (x: Traversal) => x.in("placed_by").out("placed_by"), "c2"))
        t.project("a" -> t.sel("c", "c_custkey"), "b" -> t.sel("c2", "c_custkey")).toDF
      }
      val on = diamond()
      assert(aggCount(on) === 1, on.queryExecution.optimizedPlan.treeString)
      assert(on.count() === withRuleOff(diamond()).count())
      // and the dedup is not vacuous: without it the count differs
      val t = graph.V("customer")
      val undeduped = t.df.join(
        graph.V("orders").df, col("o_custkey") === col("c_custkey")).count()
      assert(undeduped > on.count(), "fixture must actually produce duplicate bindings")
    }

    it("eliminates a dedup() over a base vertex scan but not over a hopped non-key") {
      val base = graph.V("customer").dedup()
      assert(aggCount(base.toDF) === 0, base.df.queryExecution.optimizedPlan.treeString)
      assert(base.df.count() === withRuleOff(graph.V("customer").dedup().df.count()))
      // orders.out(placed_by) = each order's customer: customer ids repeat,
      // dedup is load-bearing
      def hopped() = graph.V("orders").out("placed_by").dedup()
      assert(aggCount(hopped().toDF) === 1)
      assert(hopped().df.count() === withRuleOff(hopped().df.count()))
    }

    it("still eliminates through a semi-join filter step") {
      // filter(f) compiles to a left-semi join: left keys survive it, so
      // the OUTER dedup goes. The sub-traversal's own key-distinct (on the
      // semi join's right side, where customer ids repeat per order) is
      // load-bearing and must remain — exactly one Aggregate, under the join.
      def chain(): DataFrame = graph.V("customer")
        .filter(_.in("placed_by").has("o_orderpriority", "1-URGENT"))
        .dedup().toDF
      val on = chain()
      val plan = on.queryExecution.optimizedPlan
      assert(aggCount(on) === 1, plan.treeString)
      val topChainHasAgg = {
        import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
        def walk(p: LogicalPlan): Boolean = p match {
          case _: Aggregate => true
          case j: Join => walk(j.left) // the dedup would sit above or left of the semi join
          case other => other.children.exists(walk)
        }
        walk(plan)
      }
      assert(!topChainHasAgg, s"outer dedup must be eliminated:\n${plan.treeString}")
      val rows = on.collect().toSeq
      assert(rows.nonEmpty)
      assert(rows === withRuleOff(chain().collect().toSeq))
    }

    it("proves lineitem's DERIVED key (_rowid, an injective concat projection)") {
      // dedup() on the computed identity: provably a no-op
      def li(): DataFrame = graph.V("lineitem").dedup().toDF
      assert(aggCount(li()) === 0, li().queryExecution.optimizedPlan.treeString)
      val (offAggs, offCnt) = withRuleOff {
        val off = graph.V("lineitem").dedup().toDF
        (aggCount(off), off.count())
      }
      assert(offAggs === 1)
      assert(li().count() === offCnt)
      // but a NON-key projection of the same table keeps its dedup —
      // (l_orderkey, l_linenumber) pairs are genuinely duplicated
      val nonKey = graph.V("lineitem").df.dropDuplicates("l_orderkey", "l_linenumber")
      assert(aggCount(nonKey) === 1, nonKey.queryExecution.optimizedPlan.treeString)
    }

    it("does not touch tables with no registered key") {
      withScratchDir("graft_dk") { dir =>
        spark.range(100).selectExpr("id", "id % 7 AS g").write.parquet(s"$dir/t.parquet")
        val dd = spark.read.parquet(s"$dir/t.parquet").dropDuplicates("id")
        assert(aggCount(dd) === 1, dd.queryExecution.optimizedPlan.treeString)
      }
    }

    it("never fires on a streaming plan — cross-batch dedup state is semantic") {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[(Long, String)]
      val dd = mem.toDF().toDF("id", "v").dropDuplicates("id")
      val rule = new graft.plans.RedundantDistinctRule
      val analyzed = dd.queryExecution.analyzed
      assert(analyzed.isStreaming)
      assert(rule(analyzed) eq analyzed)
    }
  }
}
