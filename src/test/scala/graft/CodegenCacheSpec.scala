package graft

import scala.collection.mutable

import graft.functions.GraftExtensions

/** Requests stop recompiling: [[GraftExtensions]] defaults Spark's
  * JVM-wide codegen cache to 4096 entries, so a registry query served a
  * second time reuses the classes its first call compiled. With Spark's
  * default of 100 entries one pass over the q/j/t queries evicts its own
  * classes, and the second pass compiles about as many as the first. */
class CodegenCacheSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val key = GraftExtensions.CodegenCacheKey

  /** Generated classes compiled while every q/j/t query runs once, each
    * written in full through a noop sink (what a request pays). */
  private def compilesPerPass(): Long = {
    val c0 = RowCount.codegenCompiles()
    SparkEntry.queries.toSeq.filter(q => "qjt".contains(q._1.head)).sortBy(_._1).foreach {
      case (_, fn) => fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    RowCount.codegenCompiles() - c0
  }

  it("the session reports graft's codegen cache size") {
    assert(spark.conf.get(key) == "4096")
  }

  it("a second pass over the q/j/t queries compiles under 5% of the first pass's classes") {
    val first = compilesPerPass()
    val second = compilesPerPass()
    info(s"compiles: first pass $first, second pass $second")
    // more classes than Spark's default cache holds, or the ratio shows nothing
    assert(first > 100, s"first pass compiled only $first classes")
    assert(second < first * 0.05, s"first pass compiled $first classes, second pass $second")
  }

  it("a stream replay served a second time compiles nothing") {
    // every stream runs in a clone of the session: with Spark's per-session
    // artifact isolation on, each clone's tasks load under a new class loader
    // and recompile classes the cache holds for another loader
    assert(spark.conf.get(GraftExtensions.ArtifactIsolationKey) == "false")
    val seconds = Seq("s01_stream_daily_buckets", "s13_stream_norms_index").map { name =>
      def call(): Long = {
        val c0 = RowCount.codegenCompiles()
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        RowCount.codegenCompiles() - c0
      }
      val first = call()
      val second = call()
      info(s"$name compiles: first call $first, second call $second")
      name -> second
    }
    assert(seconds.forall(_._2 == 0), s"second-call compiles: $seconds")
  }

  it("the default leaves a value the caller set") {
    val set = mutable.Map(key -> "64")
    GraftExtensions.defaultCodegenCache(set)
    assert(set(key) == "64")
    val unset = mutable.Map.empty[String, String]
    GraftExtensions.defaultCodegenCache(unset)
    assert(unset(key) == "4096")
  }
}
