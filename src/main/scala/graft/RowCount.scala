package graft
import org.apache.spark.sql.SparkSession

/** Row-count and single-query timing probe.
  *
  * Usage: runMain graft.RowCount <sfDir> <q1,q2,...> [k=v ...]
  *
  * Runs each named [[SparkEntry.queries]] entry under `count()` in a
  * fresh session, with optional extra SQL confs, and prints one
  * `[rowcount] <name> <rows> <seconds>` line per query (the time covers
  * building the DataFrame and the count).
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
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RowCount <sfDir> <q1,q2,...> [k=v ...]")
    val sfDir = args(0)
    val names = args(1).split(',').toSeq
    val confs = args.drop(2).toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val b = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same warm-up as the bench so first-query numbers are comparable:
    // load the catalog, then batch-resolve live stored artifacts so the
    // first timing measures the query, not pointer/footer I/O
    spark.range(1000).selectExpr("sum(id)").count()
    graft.sources.TestData.graph(spark, sfDir).V("region").df.count()
    graft.services.Warm.resolve(spark, sfDir)
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      val t0 = System.nanoTime()
      // STDOUT like Verify's [verify] lines: the forked JVM's stdout
      // passes through sbt raw for the tool to grep
      try {
        val rows = fn(spark, sfDir).count()
        println(f"[rowcount] $name $rows ${(System.nanoTime() - t0) / 1e9}%.3f")
      } catch { case e: Throwable => println(s"[rowcount] $name ERROR ${e.getMessage}") }
    }
    spark.stop()
  }
}
