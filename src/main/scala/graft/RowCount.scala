package graft
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** Row-count and single-query timing probe.
  *
  * Usage: runMain graft.RowCount <sfDir> <q1,q2,...> [k=v ...]
  *
  * Runs each named [[SparkEntry.queries]] entry under `count()` in a
  * fresh session, with optional extra SQL confs, and prints one
  * `[rowcount] <name> <rows> <seconds> <jobs> <compiles>` line per query:
  * the time covers building the DataFrame and the count, the jobs
  * (counted by a SparkListener) are every Spark job both ran — 1 for a
  * plan that runs as one task ([[graft.plans.OneTaskPlan]]), more for
  * each exchange, broadcast and driver-side collect — and the compiles
  * are the generated classes Spark compiled meanwhile ([[codegenCompiles]]).
  * A query listed twice compiles nothing the second time unless its
  * generated code differs per call (a literal that changes) or the
  * JVM-wide codegen cache evicted its classes
  * ([[graft.functions.GraftExtensions]] sizes that cache).
  *
  * It is the Spark half of the driver's weaker rows-only check
  * (`tools/rowcount_check.py` runs `SELECT COUNT(*)` over the same
  * oracle SQL in DuckDB and compares): [[Verify]] materializes every
  * result to parquet, which at sf10 measures the harness rather than the
  * engine (q10 alone emits ~3 G rows), while a `count()` aggregates in
  * place — the full input still flows through the plan, only the output
  * is reduced. The same reduction makes the timing column under-measure
  * queries whose cost sits in projection-only columns; perfbench
  * (`perfbench/run.py --trace 1`) times full materialization per layer.
  * To A/B a conf, e.g. the fixed-partition spill knee in SCALE_sf10.md:
  *
  *   runMain graft.RowCount testdata/sf10 q36_dedup_keep_first \
  *     spark.sql.adaptive.coalescePartitions.initialPartitionNum=256
  */
object RowCount {
  /** Generated classes Spark has compiled in this JVM so far: the count of
    * its compile-time histogram, which records cache misses only. */
  private[graft] def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The local session the diagnostic mains (RowCount, [[Explain]]) run
    * in: `local[n]` with n from `SPARK_GRAFT_CPUS`, else every available
    * core, and as many shuffle partitions; `confs` are `k=v` SQL confs
    * applied on top. */
  private[graft] def localSession(confs: Seq[String]): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val b = SparkSession.builder()
      // GraftExtensions injects the optimizer rules into the MAIN
      // operator-optimization batch (the post-hoc extraOptimizations
      // fallback runs too late for nested pruning to cascade to scans)
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    confs.foldLeft(b) { (bb, kv) =>
      val Array(k, v) = kv.split("=", 2); bb.config(k, v)
    }.getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RowCount <sfDir> <q1,q2,...> [k=v ...]")
    val sfDir = args(0)
    val names = args(1).split(',').toSeq
    val spark = localSession(args.drop(2).toSeq)
    spark.sparkContext.setLogLevel("WARN")
    // same warm-up as the bench so first-query numbers are comparable:
    // load the catalog, then batch-resolve live stored artifacts so the
    // first timing measures the query, not pointer/footer I/O
    spark.range(1000).selectExpr("sum(id)").count()
    graft.sources.TestData.graph(spark, sfDir).V("region").df.count()
    graft.services.Warm.resolve(spark, sfDir)
    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      GraftBridge.drainListeners(spark)
      val j0 = jobs.get
      val c0 = codegenCompiles()
      val t0 = System.nanoTime()
      // STDOUT like Verify's [verify] lines: the forked JVM's stdout
      // passes through sbt raw for the tool to grep
      try {
        val rows = fn(spark, sfDir).count()
        val secs = (System.nanoTime() - t0) / 1e9
        GraftBridge.drainListeners(spark)
        println(f"[rowcount] $name $rows $secs%.3f ${jobs.get - j0} ${codegenCompiles() - c0}")
      } catch { case e: Throwable => println(s"[rowcount] $name ERROR ${e.getMessage}") }
    }
    spark.stop()
  }
}
