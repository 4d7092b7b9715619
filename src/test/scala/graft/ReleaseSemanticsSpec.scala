package graft

/** Pins the bench inter-family release contract: every releaseCaches the
  * bench calls KEEPS the stored-artifact readers
  * ([[graft.sources.ArtifactStore.reader]] says why) — the shared
  * corpus-derived tables among them. Only the one query-time checkpoint
  * cache (d27's batch side) is dropped. */
class ReleaseSemanticsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  it("releaseCaches keeps the stored-artifact readers (no re-resolve)") {
    val sig1 = graft.sources.TextIndex.sigTable(spark, sfDir)
    val chunk1 = graft.sources.TextIndex.chunkTable(spark, sfDir)
    val idx1 = graft.sources.TextIndex.corpusIndex(spark, sfDir)
    val cand1 = graft.queries.TextQueries.candidatePairs(spark, sfDir)
    val coded1 = graft.sources.AnnIndex.codedVectors(spark, sfDir)
    // every release the bench's family boundary runs
    graft.queries.TextQueries.releaseCaches(spark)
    graft.queries.SearchQueries.releaseCaches(spark)
    graft.sources.AnnIndex.releaseCaches(spark)
    graft.queries.VectorQueries.releaseCaches(spark)
    graft.queries.MogQueries.releaseCaches(spark)
    // reference equality: a kept cache returns the SAME DataFrame; a
    // dropped one would re-resolve into a fresh instance
    assert(graft.sources.TextIndex.sigTable(spark, sfDir) eq sig1)
    assert(graft.sources.TextIndex.chunkTable(spark, sfDir) eq chunk1)
    val idx2 = graft.sources.TextIndex.corpusIndex(spark, sfDir)
    assert(idx2._1 eq idx1._1)
    assert(idx2._2 eq idx1._2)
    assert(graft.queries.TextQueries.candidatePairs(spark, sfDir) eq cand1)
    assert(graft.sources.AnnIndex.codedVectors(spark, sfDir) eq coded1)
  }
}
