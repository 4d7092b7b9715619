package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.Row

/** Concurrent-session safety of the production ANN index build
  * ([[graft.sources.AnnIndex.partitionedIndex]]): two live sessions
  * racing to build the same `spark.graft.artifactDir` must both read a
  * complete, identical index. Under the round-9 pointer protocol data
  * directories are never renamed, so the historical failure mode — the
  * loser's tree nested inside the live index, poisoning partition
  * discovery with CONFLICTING_DIRECTORY_STRUCTURES (the lock-file
  * protocol's create(overwrite=false) is check-then-act on local FS, so
  * both racers "held" the lock) — is structurally impossible: the spec
  * pins that no version dir ever contains another, the pointer names a
  * _SUCCESS-complete tree, and a poisoned (marker-less) live target is
  * rebuilt and garbage-collected once stale.
  */
class IndexRaceSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def versionDirs(root: String): Seq[java.io.File] =
    new java.io.File(root).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.contains("_v_"))

  private def liveTarget(root: String): java.io.File = {
    // the INDEX pointer specifically — the quantizer-metadata artifact
    // (graft_srp_meta_*) publishes its own sibling pointer
    val ptr = new java.io.File(root).listFiles()
      .find(f => f.getName.endsWith(".ptr") && f.getName.startsWith("graft_ivf_idx_"))
      .getOrElse(fail("no pointer file published"))
    val content = new String(
      java.nio.file.Files.readAllBytes(ptr.toPath), "UTF-8")
    assert(content.endsWith("\n"), "pointer payload missing validity terminator")
    new java.io.File(root, content.trim)
  }

  describe("partitionedIndex under concurrent sessions") {

    it("two racing sessions read one complete index; no nested trees") {
      withScratchDir("graft_idx_race") { root =>
        val s1 = spark.newSession()
        val s2 = spark.newSession()
        Seq(s1, s2).foreach(_.conf.set("spark.graft.artifactDir", "file:" + root))
        val start = new CountDownLatch(1)
        val pool = Executors.newFixedThreadPool(2)
        try {
          val futs = Seq(s1, s2).map { s =>
            pool.submit { () =>
              start.await()
              graft.sources.AnnIndex.partitionedIndex(s, sfDir)
                .orderBy("vec_id").collect(): Array[Row]
            }
          }
          start.countDown()
          val Seq(r1, r2) = futs.map(_.get(120, TimeUnit.SECONDS))
          val nVec = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
          assert(r1.length == nVec && r2.length == nVec,
            s"index incomplete: ${r1.length}/${r2.length} of $nVec")
          assert(r1.map(_.getLong(0)).sameElements(r2.map(_.getLong(0))),
            "sessions read different index content")
        } finally pool.shutdownNow()
        // the pointer names a complete tree
        val live = liveTarget(root)
        assert(new java.io.File(live, "_SUCCESS").exists(), "live target has no _SUCCESS")
        // version dirs are flat siblings: none may contain another index
        // tree (the nesting that poisoned partition discovery), and each
        // INDEX dir holds only Spark's partitioned layout (code=*/ +
        // markers). The racers also publish the 1-row SRP quantizer
        // metadata artifact (graft_srp_meta_*) and the unpartitioned
        // coded table the index is built from (graft_coded_*) through the
        // same protocol — at most 2 versions of each artifact may exist
        // post-race.
        val vdirs = versionDirs(root)
        val (metaDirs, rest) = vdirs.partition(_.getName.startsWith("graft_srp_meta_"))
        val (codedDirs, idxDirs) = rest.partition(_.getName.startsWith("graft_coded_"))
        assert(idxDirs.nonEmpty && idxDirs.size <= 2, s"unexpected index version dirs: ${idxDirs.map(_.getName)}")
        assert(metaDirs.size <= 2, s"unexpected meta version dirs: ${metaDirs.map(_.getName)}")
        assert(codedDirs.size <= 2, s"unexpected coded version dirs: ${codedDirs.map(_.getName)}")
        idxDirs.foreach { d =>
          val foreign = d.listFiles().filter(f =>
            f.isDirectory && !f.getName.startsWith("code="))
          assert(foreign.isEmpty, s"nested tree inside ${d.getName}: ${foreign.map(_.getName).toSeq}")
        }
      }
    }

    it("a poisoned live target is rebuilt; the stale leftover is collected") {
      withScratchDir("graft_idx_stale") { root =>
        val s = spark.newSession()
        s.conf.set("spark.graft.artifactDir", "file:" + root)
        s.conf.set("spark.graft.artifact.staleMs", "0") // everything is stale
        graft.sources.AnnIndex.partitionedIndex(s, sfDir) // builds clean
        val first = liveTarget(root)
        new java.io.File(first, "_SUCCESS").delete() // poison: live → crash leftover
        val s3 = spark.newSession()
        s3.conf.set("spark.graft.artifactDir", "file:" + root)
        s3.conf.set("spark.graft.artifact.staleMs", "0")
        val rebuilt = graft.sources.AnnIndex.partitionedIndex(s3, sfDir)
        assert(rebuilt.count() == spark.read.parquet(s"$sfDir/embeddings.parquet").count())
        val live = liveTarget(root)
        assert(live.getName != first.getName, "pointer still names the poisoned dir")
        assert(new java.io.File(live, "_SUCCESS").exists(), "rebuilt target has no _SUCCESS")
        assert(!first.exists(), "stale poisoned dir not garbage-collected")
      }
    }
  }
}
