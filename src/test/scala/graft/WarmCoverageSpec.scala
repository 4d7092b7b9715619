package graft

import graft.sources.ArtifactStore

/** The warm-coverage gate: every artifact family ever published through
  * [[ArtifactStore.reader]]/[[ArtifactStore.getOrBuild]] must be probed by
  * some registered warm hook ([[graft.services.Warm.resolve]]) — a new
  * stored family that forgets its hook would silently re-absorb pointer
  * reads / partition discovery into its first query in every fresh
  * session (the r10 e06 symptom the warm path exists to prevent).
  * Mechanism: ArtifactStore records every published base name, and every
  * name a hook probes — a [[ArtifactStore.reader]] call under
  * [[ArtifactStore.resolveOnly]], or the `vec:annroll` hook's
  * [[ArtifactStore.anyPointer]] pre-check; this spec triggers every batch
  * query's construction (artifact builds happen there), runs the warm
  * hooks, and asserts the published family set is contained in the
  * probed set. It also pins that warm-up never builds. */
class WarmCoverageSpec extends SparkSpec {

  import scala.jdk.CollectionConverters._

  /** Digest-free family prefix (shared with SeamCoverageSpec). */
  private def fam(n: String): String = ArtifactStore.familyOf(n)

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val constructed: Unit = {
    // Construct every batch query: getOrBuild calls run during
    // construction, so this enumerates the full family set without
    // executing the plans. s-prefixed queries RUN their streams on
    // construction, so instead of constructing them this drives their
    // stored-artifact side-inputs through StreamAgg.artifactSeams — the
    // stream queries' construction-path seam. A family whose batch
    // publishers were all deleted but that an s-query keeps resolving
    // therefore still registers its publishes and stays gate-enforced
    // (the old wholesale s-skip let exactly that case dodge the gate).
    SparkEntry.queries.filterNot(_._1.startsWith("s")).values
      .foreach(f => f(spark, sfDir))
    graft.streaming.StreamAgg.artifactSeams(spark, sfDir).foreach(_._2())
  }

  /** A new session on the constructing session's artifact root. */
  private def freshSession() = {
    val s = spark.newSession()
    s.conf.set("spark.graft.artifactDir", ArtifactStore.resolvedRoot(spark).toString)
    s
  }

  it("every published artifact family has a registered warm hook") {
    constructed
    // restrict to the engine's graft_ families: the recorders are
    // JVM-global and other suites (ArtifactStoreSpec) publish synthetic
    // names with no warm hooks — without the filter this gate is
    // suite-order-dependent (confirmed: running ArtifactStoreSpec first
    // fails it on art_a..art_e etc.)
    val published = ArtifactStore.publishedNames.asScala.toSet
      .filter(_.startsWith("graft_")).map(fam)
    assert(published.nonEmpty, "no artifact publishes recorded — did getOrBuild move?")

    // With every artifact live (the constructions above built them), no
    // hook stops at a NotLive, so each hook probes its full name set; a
    // family no hook probes can only be an uncovered one. The hooks run
    // in a fresh session on the same root, as at a real session start:
    // in the constructing session the value caches over some readers
    // (nbitsOf, collectedCodebooks) answer without reaching the reader.
    ArtifactStore.probedNames.clear()
    graft.services.Warm.resolve(freshSession(), sfDir)
    val probed = ArtifactStore.probedNames.asScala.toSet.map(fam)
    val uncovered = published -- probed
    assert(uncovered.isEmpty,
      s"artifact families with no warm hook: $uncovered\nprobed by hooks: $probed")
  }

  it("warm-up never builds: a cold root stays empty, a built root gains no version") {
    val hookCount = 26
    withScratchDir("graft_warm_cold") { scratch =>
      val cold = spark.newSession()
      cold.conf.set("spark.graft.artifactDir", "file:" + scratch)
      val hooks = graft.services.Warm.resolve(cold, sfDir)
      assert(hooks.distinct.size == hookCount, s"hooks completed on a cold root: $hooks")
      val left = new java.io.File(scratch).list().filter(n => n.endsWith(".ptr") || n.contains("_v_"))
      assert(left.isEmpty, s"warm-up wrote into a cold root: ${left.toSeq}")
    }
    constructed
    val root = ArtifactStore.resolvedRoot(spark)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versions() = fs.listStatus(root).map(_.getPath.getName).filter(_.contains("_v_")).toSet
    val before = versions()
    assert(graft.services.Warm.resolve(freshSession(), sfDir).size == hookCount)
    val added = versions() -- before
    assert(added.isEmpty, s"warm-up built: $added")
  }
}
