package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funspec.AnyFunSpec

/** Shared local session for all specs (getOrCreate → one JVM-wide session). */
trait SparkSpec extends AnyFunSpec {
  lazy val spark: SparkSession = SparkSpec.session

  /** Temp scratch for write-then-read tests, deleted afterwards — CI runs
    * must not accumulate tmpdir litter. */
  def withScratchDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally {
      val st = java.nio.file.Files.walk(dir)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally st.close()
    }
  }

  /** Run `body` with session confs set; the previous values (or their
    * absence) are restored afterwards. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Run `body` with every parquet scan of more than 1 KB forced to
    * several splits, so a gate written for a large-input plan shape sees
    * it on the small testdata: [[graft.plans.OneTaskPlan]] runs a plan
    * whose scans are all single-split as one task. Stored artifacts a
    * query reads should be built before the scope — a write gets one file
    * per partition. */
  def withSplitScans[T](body: => T): T =
    withConf("spark.sql.files.maxPartitionBytes" -> "1k")(body)
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .withExtensions(new graft.functions.GraftExtensions)
    .master("local[2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
