package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** Both sides of [[graft.plans.OneTaskPlan]]'s gate on the sf0.001
  * testdata, AQE on: plans whose scans are all single-split run as one
  * job with no exchange; forced to several splits, the same queries keep
  * the plan Spark makes and return the same rows in the same order. */
class OneTaskPlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val queries = Seq(
    "q03_edge_scan", "q12_inE_otherV", "q71_local_supplier_volume", "q94_having_join_topk")

  private val jobs = new AtomicInteger
  private lazy val listening = spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  })

  /** The rows `df` collects and the jobs that collect ran. */
  private def collectCounting(df: DataFrame): (Seq[Row], Int) = {
    listening
    GraftBridge.drainListeners(spark)
    val j0 = jobs.get
    val rows = df.collect().toSeq
    GraftBridge.drainListeners(spark)
    (rows, jobs.get - j0)
  }

  /** The final plan `df` ran, subqueries included. */
  private def finalPlan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def withAqe[T](body: => T): T = withConf("spark.sql.adaptive.enabled" -> "true")(body)

  describe("a plan whose scans are all single-split") {
    queries.foreach { name =>
      it(s"runs $name as one job with no exchange, and the same rows as the multi-split plan") {
        withAqe {
          val one = SparkEntry.queries(name)(spark, sfDir)
          val (rows, n) = collectCounting(one)
          assert(n == 1, s"$name ran $n jobs:\n${finalPlan(one)}")
          assert(!finalPlan(one).contains("Exchange"), finalPlan(one))

          withSplitScans {
            val split = SparkEntry.queries(name)(spark, sfDir)
            val (splitRows, splitJobs) = collectCounting(split)
            val plan = split.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
            // the rule left the plan exactly as Spark planned it
            assert(graft.plans.OneTaskPlan(plan.initialPlan) eq plan.initialPlan)
            assert(plan.initialPlan.exists(_.isInstanceOf[ShuffleExchangeExec]), plan.initialPlan)
            if (name != "q03_edge_scan")
              assert(plan.initialPlan.toString.contains("BroadcastHashJoin"), plan.initialPlan)
            assert(splitJobs > 1, finalPlan(split))
            assert(splitRows == rows, s"$name: rows differ between one-task and multi-split plans")
          }
        }
      }
    }
  }

  describe("what the rule leaves alone") {
    it("an explicit repartition(n) keeps its exchange") {
      withAqe {
        val nation = graft.sources.TestData.graph(spark, sfDir).V("nation").df
        val df = nation.repartition(3, col("n_regionkey")).groupBy("n_regionkey").count()
        val (rows, _) = collectCounting(df)
        assert(rows.map(_.getLong(1)).sum == 25L)
        assert(finalPlan(df).contains("REPARTITION_BY_NUM"), finalPlan(df))
        assert(df.rdd.getNumPartitions == 3)
      }
    }

    it("a repartition(n, key) under a shuffled join keeps the whole plan (co-partitioning)") {
      withConf("spark.sql.adaptive.enabled" -> "true", "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val g = graft.sources.TestData.graph(spark, sfDir)
        val left = g.V("nation").df.repartition(3, col("n_regionkey"))
        val right = g.V("region").df.withColumnRenamed("r_regionkey", "n_regionkey")
        val df = left.join(right, "n_regionkey")
        val (rows, _) = collectCounting(df)
        assert(rows.size == 25)
        assert(finalPlan(df).contains("ENSURE_REQUIREMENTS"), finalPlan(df))
      }
    }

    it("a stream replay keeps its batch count and state-partition count") {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
      val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
      val name = "one_task_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StreamAgg.windowedDistinctPlan(df)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val chunks = 4
      try {
        val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
        (0 until chunks).foreach { c =>
          mem.addData((0 until 50).map(k =>
            (c * 50L + k, new java.sql.Timestamp(t0 + c * 86400000L + k), k.toLong, "t", 1.0)): _*)
          q.processAllAvailable()
        }
        val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        assert(batches.size == chunks, batches.map(_.batchId))
        val statePartitions = batches.flatMap(_.stateOperators.map(_.numShufflePartitions)).distinct
        assert(statePartitions == Seq(spark.conf.get("spark.sql.shuffle.partitions").toLong),
          statePartitions)
      } finally { q.stop(); spark.sql(s"DROP TABLE IF EXISTS $name") }
    }
  }
}
