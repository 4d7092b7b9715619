package graft

import scala.collection.mutable

import graft.functions.GraftExtensions

/** Spark's memory pages stay ordinary young objects: [[GraftExtensions]]
  * defaults `spark.buffer.pageSize` to a quarter of the JVM's G1 heap
  * region, under the half region from which G1 allocates an array as a
  * humongous object in the old generation. */
class BufferPageSpec extends SparkSpec {

  private val key = GraftExtensions.PageSizeKey

  it("the session's page size is a quarter of the G1 heap region") {
    val region = GraftExtensions.g1RegionBytes()
    assume(region > 0, "the test JVM does not run G1")
    assert(spark.sparkContext.getConf.get(key) == s"${region / 4}b")
  }

  it("the default leaves a value the caller set, and sets nothing without G1") {
    val set = mutable.Map(key -> "64m")
    GraftExtensions.defaultPageSize(set, 4L << 20)
    assert(set(key) == "64m")
    val unset = mutable.Map.empty[String, String]
    GraftExtensions.defaultPageSize(unset, 4L << 20)
    assert(unset(key) == "1048576b")
    val noG1 = mutable.Map.empty[String, String]
    GraftExtensions.defaultPageSize(noG1, 0L)
    assert(noG1.isEmpty)
  }
}
