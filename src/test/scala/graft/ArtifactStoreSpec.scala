package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession
import graft.sources.ArtifactStore

/** Unit contract of the shared stored-artifact protocol
  * (graft.sources.ArtifactStore) — the commit/resolve/GC semantics the
  * ANN index and the d27 corpus artifacts both ride on. IndexRaceSpec
  * stress-covers the end-to-end concurrency; this spec pins the
  * individual crash/corruption states deterministically.
  */
class ArtifactStoreSpec extends SparkSpec {

  private val RootKey = "spark.graft.artifactDir"

  private def session(root: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set(RootKey, "file:" + root)
    s
  }

  private def writeRange(s: SparkSession, n: Int)(path: String): Unit =
    s.range(n).toDF("id").write.mode("overwrite").parquet(path)

  describe("ArtifactStore.getOrBuild") {

    it("builds once, then resolves without rebuilding") {
      withScratchDir("graft_as_basic") { root =>
        val s = session(root)
        var builds = 0
        def get() = ArtifactStore.getOrBuild(s, "art_a") { p =>
          builds += 1; writeRange(s, 100)(p)
        }
        assert(get().count() == 100)
        assert(get().count() == 100)
        assert(builds == 1, s"expected one build, got $builds")
        // pointer file exists and names a live version dir
        val ptr = new java.io.File(root, "art_a.ptr")
        assert(ptr.exists(), "no pointer published")
        val target = new String(java.nio.file.Files.readAllBytes(ptr.toPath), "UTF-8").trim
        assert(new java.io.File(new java.io.File(root, target), "_SUCCESS").exists())
      }
    }

    it("isLive/anyPointer: pure probes — never build, agree with the resolve states") {
      withScratchDir("graft_as_live") { root =>
        val s = session(root)
        // cold root: both probes false, nothing created
        assert(!ArtifactStore.isLive(s, "probe_x_00ff"))
        assert(!ArtifactStore.anyPointer(s, "probe_x_*"))
        assert(!new java.io.File(root, "probe_x_00ff.ptr").exists())
        // built artifact: both true (exact name and the derived-component
        // glob the warm hooks use)
        ArtifactStore.getOrBuild(s, "probe_x_00ff")(writeRange(s, 5))
        assert(ArtifactStore.isLive(s, "probe_x_00ff"))
        assert(ArtifactStore.anyPointer(s, "probe_x_*"))
        assert(!ArtifactStore.anyPointer(s, "probe_y_*"))
        // torn pointer: anyPointer (presence-only) still true, isLive
        // (validating) false — exactly the warm-hook division of labor
        val ptr = new java.io.File(root, "probe_x_00ff.ptr")
        val name = new String(java.nio.file.Files.readAllBytes(ptr.toPath), "UTF-8").trim
        java.nio.file.Files.write(ptr.toPath, name.getBytes("UTF-8")) // no newline
        assert(ArtifactStore.anyPointer(s, "probe_x_*"))
        assert(!ArtifactStore.isLive(s, "probe_x_00ff"))
        // pointee missing its _SUCCESS marker: isLive false
        java.nio.file.Files.write(ptr.toPath, (name + "\n").getBytes("UTF-8"))
        assert(ArtifactStore.isLive(s, "probe_x_00ff"))
        assert(new java.io.File(new java.io.File(root, name), "_SUCCESS").delete())
        assert(!ArtifactStore.isLive(s, "probe_x_00ff"))
      }
    }

    it("a torn pointer (no newline terminator) reads as absent and self-heals") {
      withScratchDir("graft_as_torn") { root =>
        val s = session(root)
        ArtifactStore.getOrBuild(s, "art_b")(writeRange(s, 50))
        val ptr = new java.io.File(root, "art_b.ptr")
        val name = new String(java.nio.file.Files.readAllBytes(ptr.toPath), "UTF-8").trim
        java.nio.file.Files.write(ptr.toPath, name.getBytes("UTF-8")) // strip terminator
        var rebuilt = false
        val df = ArtifactStore.getOrBuild(s, "art_b") { p =>
          rebuilt = true; writeRange(s, 50)(p)
        }
        assert(rebuilt, "torn pointer must trigger a rebuild")
        assert(df.count() == 50)
        // the re-commit repaired the pointer
        val healed = new String(java.nio.file.Files.readAllBytes(ptr.toPath), "UTF-8")
        assert(healed.endsWith("\n"), "re-commit did not restore the validity terminator")
      }
    }

    it("a pointer naming a _SUCCESS-less dir reads as absent; stale GC collects the leftover") {
      withScratchDir("graft_as_poison") { root =>
        val s = session(root)
        s.conf.set("spark.graft.artifact.staleMs", "0")
        ArtifactStore.getOrBuild(s, "art_c")(writeRange(s, 10))
        val ptr = new java.io.File(root, "art_c.ptr")
        val first = new String(java.nio.file.Files.readAllBytes(ptr.toPath), "UTF-8").trim
        new java.io.File(new java.io.File(root, first), "_SUCCESS").delete()
        assert(ArtifactStore.getOrBuild(s, "art_c")(writeRange(s, 10)).count() == 10)
        val healedName = new String(java.nio.file.Files.readAllBytes(ptr.toPath), "UTF-8").trim
        assert(healedName != first, "pointer still names the poisoned dir")
        assert(!new java.io.File(root, first).exists(), "stale poisoned dir not collected")
      }
    }

    it("stale GC never collects the live (referenced) version even at staleMs=0") {
      withScratchDir("graft_as_gc") { root =>
        val s = session(root)
        s.conf.set("spark.graft.artifact.staleMs", "0")
        ArtifactStore.getOrBuild(s, "art_d")(writeRange(s, 25))
        // resolve again (runs GC with everything "stale"): live dir survives
        assert(ArtifactStore.getOrBuild(s, "art_d")(writeRange(s, 25)).count() == 25)
        val versions = new java.io.File(root).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("art_d_v_"))
        assert(versions.length == 1, s"live version collected or duplicated: ${versions.map(_.getName).toSeq}")
      }
    }

    it("two in-process racers both read complete content; one version wins") {
      withScratchDir("graft_as_race") { root =>
        val s1 = session(root)
        val s2 = session(root)
        val start = new CountDownLatch(1)
        val pool = Executors.newFixedThreadPool(2)
        try {
          val futs = Seq(s1, s2).map { s =>
            pool.submit { () =>
              start.await()
              ArtifactStore.getOrBuild(s, "art_e")(writeRange(s, 1000)).count(): Long
            }
          }
          start.countDown()
          val counts = futs.map(_.get(120, TimeUnit.SECONDS))
          assert(counts == Seq(1000L, 1000L), s"incomplete read under race: $counts")
        } finally pool.shutdownNow()
        val ptr = new java.io.File(root, "art_e.ptr")
        assert(ptr.exists(), "no pointer after race")
        val target = new String(java.nio.file.Files.readAllBytes(ptr.toPath), "UTF-8").trim
        assert(new java.io.File(new java.io.File(root, target), "_SUCCESS").exists(),
          "winner target incomplete")
      }
    }

    it("a dead digest's pointer and versions age out; a sibling live digest survives") {
      // regenerated source data yields a new digest; the OLD digest's
      // artifacts are never resolved again and must not grow the root
      // forever. The sweep keys on pointer idleness (every resolve
      // touches the pointer), so a different-but-live digest of the same
      // family — another SF's corpus — is never collected.
      withScratchDir("graft_as_orphan") { root =>
        val s = session(root)
        val dead = "fam_" + "a" * 16   // digest-shaped suffix
        val live = "fam_" + "b" * 16
        ArtifactStore.getOrBuild(s, dead)(writeRange(s, 5))
        ArtifactStore.getOrBuild(s, live)(writeRange(s, 7))
        // age the dead digest's pointer + version past the orphan horizon
        val deadPtr = new java.io.File(root, s"$dead.ptr")
        val deadV = new java.io.File(root).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith(s"${dead}_v_"))
        (deadPtr +: deadV.toSeq).foreach(f => assert(f.setLastModified(1000L)))
        // any same-family resolve runs the sweep
        assert(ArtifactStore.getOrBuild(s, live)(writeRange(s, 7)).count() == 7)
        assert(!deadPtr.exists(), "dead digest's pointer not collected")
        assert(new java.io.File(root).listFiles()
          .forall(f => !f.getName.startsWith(s"${dead}_v_")), "dead digest's version not collected")
        // the live sibling (just resolved → freshly touched) is intact
        assert(new java.io.File(root, s"$live.ptr").exists(), "live sibling's pointer collected")
        assert(ArtifactStore.getOrBuild(s, live)(writeRange(s, 7)).count() == 7)
      }
    }

    it("a recently-USED but old pointer is never swept: resolves touch it") {
      withScratchDir("graft_as_touch") { root =>
        val s = session(root)
        val a = "tch_" + "c" * 16
        ArtifactStore.getOrBuild(s, a)(writeRange(s, 3))
        val ptr = new java.io.File(root, s"$a.ptr")
        assert(ptr.setLastModified(1000L))
        // resolving the artifact itself refreshes the usage marker
        assert(ArtifactStore.getOrBuild(s, a)(writeRange(s, 3)).count() == 3)
        assert(ptr.lastModified() > 1000L, "resolve did not touch the pointer usage marker")
      }
    }

    it("resolves touch the VERSION DIR too, so a live version survives the sweep even if its pointer is momentarily absent") {
      // the race the dir-mtime marker closes: a committer mid
      // delete+rename leaves the pointer briefly missing while the
      // version dir is old-by-mtime (only pointers used to be touched) —
      // a sibling's sweep must not collect the live version
      withScratchDir("graft_as_dirtouch") { root =>
        val s = session(root)
        val live = "rc_" + "d" * 16
        val other = "rc_" + "e" * 16
        ArtifactStore.getOrBuild(s, live)(writeRange(s, 4))
        ArtifactStore.getOrBuild(s, other)(writeRange(s, 6))
        val liveV = new java.io.File(root).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith(s"${live}_v_"))
        assert(liveV.nonEmpty)
        // a resolve refreshes the dir mtime — so this aging only sticks
        // if the fix were reverted
        liveV.foreach(f => assert(f.setLastModified(1000L)))
        assert(ArtifactStore.getOrBuild(s, live)(writeRange(s, 4)).count() == 4)
        assert(liveV.forall(_.lastModified() > 1000L),
          "resolve did not refresh the version dir's usage marker")
        // now simulate the pointer-absent window with an aged dir: even
        // then the sweep must not collect it within the orphan horizon
        val ptr = new java.io.File(root, s"$live.ptr")
        val ptrBytes = java.nio.file.Files.readAllBytes(ptr.toPath)
        assert(ptr.delete())
        assert(ArtifactStore.getOrBuild(s, other)(writeRange(s, 6)).count() == 6)
        assert(liveV.forall(_.exists()),
          "sweep collected a recently-used version during its pointer's commit window")
        java.nio.file.Files.write(ptr.toPath, ptrBytes)
        assert(ArtifactStore.getOrBuild(s, live)(writeRange(s, 4)).count() == 4)
      }
    }

    it("the usage marker never rewinds a forward-dated (pointerless self-served) tree") {
      withScratchDir("graft_as_fwd") { root =>
        val s = session(root)
        val a = "fwd_" + "c" * 16
        ArtifactStore.getOrBuild(s, a)(writeRange(s, 3))
        val v = new java.io.File(root).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith(s"${a}_v_")).head
        val future = System.currentTimeMillis() + 3600000L
        assert(v.setLastModified(future))
        assert(ArtifactStore.getOrBuild(s, a)(writeRange(s, 3)).count() == 3)
        assert(v.lastModified() >= future - 1000L,
          "resolve rewound a forward-dated tree's protective mtime")
      }
    }
  }

  describe("ArtifactStore.reader") {

    it("a second call in the same session returns the same reader and builds once") {
      withScratchDir("graft_rd_same") { root =>
        val s = session(root)
        var builds = 0
        def get() = ArtifactStore.reader(s, "rd_a") { p =>
          builds += 1; writeRange(s, 10)(p)
        }
        val first = get()
        assert(get() eq first)
        assert(builds == 1, s"expected one build, got $builds")
        assert(first.count() == 10)
      }
    }

    it("a new session resolves its own reader") {
      withScratchDir("graft_rd_sess") { root =>
        val s1 = session(root)
        var builds = 0
        def get(s: SparkSession) = ArtifactStore.reader(s, "rd_b") { p =>
          builds += 1; writeRange(s, 7)(p)
        }
        val r1 = get(s1)
        val s2 = session(root)
        val r2 = get(s2)
        assert(!(r2 eq r1), "a new session was served another session's reader")
        assert(r2.sparkSession eq s2)
        assert(builds == 1, "the second session rebuilt a live artifact")
        assert(r2.count() == 7)
      }
    }

    it("re-pointing the root on the same session never serves the other root's reader") {
      withScratchDir("graft_rd_rootA") { rootA =>
        withScratchDir("graft_rd_rootB") { rootB =>
          val s = session(rootA)
          val ra = ArtifactStore.reader(s, "rd_c")(writeRange(s, 3))
          s.conf.set(RootKey, "file:" + rootB)
          val rb = ArtifactStore.reader(s, "rd_c")(writeRange(s, 4))
          assert(!(rb eq ra), "root B was served root A's reader")
          assert(rb.count() == 4)
          assert(new java.io.File(rootB, "rd_c.ptr").exists(), "nothing published under root B")
          s.conf.set(RootKey, "file:" + rootA)
          assert(ArtifactStore.reader(s, "rd_c")(writeRange(s, 3)) eq ra)
        }
      }
    }

    it("a memo hit inside capturing still reports the name") {
      withScratchDir("graft_rd_cap") { root =>
        val s = session(root)
        val r = ArtifactStore.reader(s, "rd_d")(writeRange(s, 2))
        val (hit, touched) = ArtifactStore.capturing {
          ArtifactStore.reader(s, "rd_d")(writeRange(s, 2))
        }
        assert(hit eq r)
        assert(touched.contains("rd_d"), s"memo hit not captured: $touched")
      }
    }
  }

  describe("ArtifactStore.resolveOnly") {

    it("on a cold root throws NotLive without running write or creating the root") {
      withScratchDir("graft_ro_cold") { scratch =>
        val root = new java.io.File(scratch, "root")
        val s = session(root.getPath)
        var builds = 0
        intercept[ArtifactStore.NotLive] {
          ArtifactStore.resolveOnly {
            ArtifactStore.reader(s, "ro_a") { p => builds += 1; writeRange(s, 3)(p) }
          }
        }
        assert(builds == 0, "write ran under resolveOnly")
        assert(!root.exists(), "resolveOnly created the artifact root")
      }
    }

    it("on a live artifact returns the same reader as a normal call") {
      withScratchDir("graft_ro_live") { root =>
        val builder = session(root)
        ArtifactStore.getOrBuild(builder, "ro_b")(writeRange(builder, 5))
        val s = session(root)
        var builds = 0
        def get() = ArtifactStore.reader(s, "ro_b") { p => builds += 1; writeRange(s, 5)(p) }
        val r = ArtifactStore.resolveOnly(get())
        assert(get() eq r)
        assert(builds == 0, "a live artifact was rebuilt")
        assert(r.count() == 5)
      }
    }

    it("a memo holder that failed under resolveOnly builds on the next plain call") {
      withScratchDir("graft_ro_retry") { root =>
        val s = session(root)
        var builds = 0
        def get() = ArtifactStore.reader(s, "ro_c") { p => builds += 1; writeRange(s, 4)(p) }
        intercept[ArtifactStore.NotLive](ArtifactStore.resolveOnly(get()))
        val r = get()
        assert(builds == 1, s"expected one build, got $builds")
        assert(r.count() == 4)
        assert(ArtifactStore.resolveOnly(get()) eq r)
      }
    }
  }
}
