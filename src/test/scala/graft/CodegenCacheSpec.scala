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

  it("the default leaves a value the caller set") {
    val set = mutable.Map(key -> "64")
    GraftExtensions.defaultCodegenCache(set)
    assert(set(key) == "64")
    val unset = mutable.Map.empty[String, String]
    GraftExtensions.defaultCodegenCache(unset)
    assert(unset(key) == "4096")
  }
}
