package graft

/** Pins the bench inter-family release contract (r13): releaseCaches
  * frees CHECKPOINT blocks (the q71 r6 incident — retained blocks taxing
  * later families) but KEEPS the stored-artifact readers
  * ([[graft.sources.ArtifactStore.reader]] says why). Reverting either
  * half of the contract should fail here. */
class ReleaseSemanticsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  it("releaseCaches keeps the stored-artifact readers (no re-resolve)") {
    val sig1 = graft.sources.TextIndex.sigTable(spark, sfDir)
    val chunk1 = graft.sources.TextIndex.chunkTable(spark, sfDir)
    val idx1 = graft.sources.TextIndex.corpusIndex(spark, sfDir)
    graft.queries.TextQueries.releaseCaches(spark)
    // reference equality: a kept cache returns the SAME DataFrame; a
    // dropped one would re-resolve into a fresh instance
    assert(graft.sources.TextIndex.sigTable(spark, sfDir) eq sig1)
    assert(graft.sources.TextIndex.chunkTable(spark, sfDir) eq chunk1)
    val idx2 = graft.sources.TextIndex.corpusIndex(spark, sfDir)
    assert(idx2._1 eq idx1._1)
    assert(idx2._2 eq idx1._2)
  }

  it("releaseCaches still frees the checkpoint-holding caches") {
    import scala.jdk.CollectionConverters._
    // d09's candidate pairs are a session-cached localCheckpoint: after
    // running it the block-manager holds its RDD; releaseCaches must
    // unpersist it (retained blocks are exactly what the release exists
    // to free)
    SparkEntry.queries("d09_lsh_band_candidates")(spark, sfDir).count()
    val withCand = spark.sparkContext.getPersistentRDDs.size
    assert(withCand > 0, "expected d09's checkpoint to be persisted")
    graft.queries.TextQueries.releaseCaches(spark)
    // unpersist is synchronous on the driver's bookkeeping
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after < withCand,
      s"releaseCaches freed no checkpoint blocks ($withCand -> $after)")
    // and the checkpoint caches rebuild lazily: the query still runs
    assert(SparkEntry.queries("d09_lsh_band_candidates")(spark, sfDir).count() > 0)
  }
}
