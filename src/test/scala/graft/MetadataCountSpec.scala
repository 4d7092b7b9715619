package graft

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/**
 * MetadataCountRule: a bare count over parquet collapses to a footer-
 * derived LocalRelation (no scan); a filtered count is left untouched.
 * Installed post-hoc via experimental.extraOptimizations (the deploy-time
 * path is SparkSessionExtensions in GraftExtensions).
 */
class MetadataCountSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  describe("metadata-only count rule") {
    it("rewrites a bare parquet count to footers and leaves filtered counts alone") {
      val s = spark
      val rule = graft.plans.MetadataCountRule(s)
      val prev = s.experimental.extraOptimizations
      s.experimental.extraOptimizations = prev :+ rule
      try {
        val df = s.read.parquet(s"$sfDir/nation.parquet")
        val bare = df.groupBy().count()
        // the whole aggregate collapses to a literal row — no scan at all
        assert(bare.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
          bare.queryExecution.optimizedPlan.toString)
        // and the literal equals the real row count
        val expected = withConf("spark.sql.optimizer.excludedRules" ->
          classOf[graft.plans.MetadataCountRule].getName)(df.count())
        assert(bare.collect().head.getLong(0) === expected)

        // a filter between the scan and the count blocks the rewrite
        val filtered = df.where("n_regionkey = 0").groupBy().count()
        assert(!filtered.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
          filtered.queryExecution.optimizedPlan.toString)
        assert(filtered.collect().head.getLong(0) < expected)
      } finally s.experimental.extraOptimizations = prev
    }
  }
}
