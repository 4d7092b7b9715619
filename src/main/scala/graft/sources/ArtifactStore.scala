package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Stored-artifact manager: resolve-or-build an immutable parquet artifact
 * (an index, a dedup side table) under a configured root, safely shared
 * by CONCURRENT sessions and JVMs.
 *
 * This is the analog of the reference's stored-index lifecycle (an index
 * is built once, then every query serves from it — reference:
 * janus/JanusDatabaseProvider.scala's index setup), re-expressed for a
 * data lake: the artifact is a parquet directory, and "which build is
 * live" is a tiny pointer file.
 *
 * Publish protocol (shared by the ANN index and the incremental-dedup
 * corpus artifacts; stress-covered by IndexRaceSpec): artifact data lives
 * in immutable VERSIONED directories (`<base>_v_<uuid>`), and the live
 * version is named by a pointer file `<base>.ptr` replaced whole-file.
 * Data directories are NEVER renamed — the historical lock-file + rename
 * swap nested a losing writer's tree inside the live dir on local FS
 * (Hadoop create(overwrite=false) is check-then-act there), poisoning
 * concurrent partition discovery. Pointer I/O goes through the RAW
 * filesystem when the root is checksummed: a ChecksumFileSystem file is a
 * (data, .crc-sidecar) PAIR whose rename is two steps and tears under
 * concurrent replaces; without the sidecar a POSIX rename onto an
 * existing file is one atomic syscall. HDFS (internal checksums) takes
 * the FileContext OVERWRITE rename; schemes with neither get
 * delete+rename, whose window a reader survives by rebuilding.
 *
 * Competing builds of one digest produce equivalent content (same source
 * bytes), so WHICHEVER pointer commit lands is valid; unreferenced
 * versions and crashed committers' tmp files age out once older than the
 * stale horizon. Any unreadable pointer — missing, torn (no newline
 * terminator), or naming a dir without Spark's _SUCCESS marker — reads
 * as "no live artifact" and self-heals via a rebuild.
 */
object ArtifactStore {
  import org.apache.hadoop.fs.Path

  /** Observability for the warm-coverage gate (WarmCoverageSpec): every
    * artifact base name ever PUBLISHED ([[getOrBuild]]) or PROBED
    * ([[isLive]]/[[anyPointer]]) in this JVM. Plain name sets —
    * negligible overhead, no behavior change; the spec normalizes the
    * digest/width suffixes into family prefixes and asserts that every
    * published family is probed by some warm hook, so a new stored
    * family cannot silently miss session-start warm-up. */
  private[graft] val publishedNames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] val probedNames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Thread-local capture of every artifact name touched (published OR
    * probed) while a block runs — the seam-coverage gate brackets a
    * stream's construction with this (after a SessionCache.dropAll, so
    * accessors cannot serve cached readers) and compares the captured
    * family set against the stream's artifactSeams entry. Names are
    * recorded on the calling thread only: stored-family accessors
    * resolve during plan CONSTRUCTION, which runs on the caller. */
  private val captureTL = new ThreadLocal[java.util.Set[String]]
  private[graft] def capturing[T](body: => T): (T, Set[String]) = {
    import scala.jdk.CollectionConverters._
    val set = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    captureTL.set(set)
    try { val r = body; (r, set.asScala.toSet) }
    finally captureTL.remove()
  }
  private def recordTouch(name: String): Unit =
    Option(captureTL.get()).foreach(_.add(name))

  /** Digest-free family prefix of an artifact name: strip the 16-hex
    * source digest, then a trailing derived-width segment (`_6`) or glob
    * segment (`_*`). Shared by the warm-coverage and seam-coverage
    * gates. */
  private[graft] def familyOf(n: String): String =
    n.replaceAll("_[0-9a-f]{16}$", "").replaceAll("_(\\*|[0-9]+)$", "")

  /** Null-safe globStatus: some Hadoop FS implementations return null
    * (rather than an empty array) when the glob matches nothing — a bare
    * .foreach would NPE and escape the IOException-only catches around
    * the sweep paths. ONE guard for every glob site in this object. */
  private def glob(fs: org.apache.hadoop.fs.FileSystem, pattern: Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    Option(fs.globStatus(pattern)).map(_.toSeq).getOrElse(Seq.empty)

  /** Digest of a source file's identity (qualified path + size + mtime):
    * regenerated data at the same path yields a different digest, so a
    * stale artifact is never served for new data. */
  def sourceDigest(s: SparkSession, sourceFile: Path, tag: String): String = {
    val fs = sourceFile.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(sourceFile)
    val stamp = s"$tag:${fs.makeQualified(sourceFile)}:${st.getLen}:${st.getModificationTime}"
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(stamp.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
  }

  /** Resolve the live artifact `baseName` under the root named by conf
    * `rootConfKey` (default: a per-user owner-only subdir of local tmp),
    * building and publishing it via `write(path)` when absent. Returns a
    * DataFrame reading the live parquet directory. `write` must produce a
    * Spark parquet dir (its _SUCCESS marker is the completeness witness).
    *
    * Lifecycle: every resolve touches the pointer (usage marker); a
    * same-digest orphan version ages out after `spark.graft.artifact
    * .staleMs` (10 min), and a DEAD DIGEST — source data regenerated, so
    * its pointer is never resolved again — ages out with its versions
    * after `spark.graft.artifact.orphanMs` (7 days), so the root stays
    * bounded across data regenerations without a manual sweep. */
  // Default root is a PER-USER subdirectory of tmpdir, created with
  // owner-only permissions: the artifact trust model is "whoever can
  // write the root can poison the index" (the digest covers path+
  // size+mtime, not content), so a world-writable shared tmp would let
  // another local user pre-plant a pointer + _SUCCESS-complete version
  // dir that correctness-bearing dedup artifacts would serve. Shared
  // multi-tenant deployments point rootConfKey at an ACL'd lake path.
  // (Artifacts written by releases that defaulted to the BARE tmpdir are
  // outside this root and not swept — a shared dir is not ours to clean;
  // remove them with the documented `rm -rf /tmp/graft_*`.)
  private def resolvedRoot(s: SparkSession, rootConfKey: String): Path =
    new Path(s.conf.get(rootConfKey,
      "file:" + System.getProperty("java.io.tmpdir") +
        "/graft-" + System.getProperty("user.name", "anon")))

  /** Collect artifacts stranded under names a PREVIOUS release used (a
    * family rename changes the digest-free prefix, so the regular sibling
    * sweep in [[getOrBuild]] never globs the old names again). Deletes
    * root entries whose full name matches `legacyRegex` and whose mtime
    * is past the orphan horizon — call it from the renamed family's
    * builder with a regex that CANNOT match the current names. */
  def sweepLegacyNames(s: SparkSession, rootConfKey: String, legacyRegex: String): Unit = {
    val root = resolvedRoot(s, rootConfKey)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val orphanMs = s.conf.get("spark.graft.artifact.orphanMs", "604800000").toLong
    val now = System.currentTimeMillis()
    val re = legacyRegex.r
    val matched = fs.listStatus(root)
      .filter(st => re.pattern.matcher(st.getPath.getName).matches())
    // a mixed-version deployment may still SERVE the legacy names: an
    // old-release binary's resolves touch only its pointer, so a version
    // dir's mtime alone doesn't prove idleness. A family with a FRESH
    // pointer is live — skip it entirely (same pointer-idleness rule as
    // the sibling orphan sweep in getOrBuild).
    val freshFamilies = matched.collect {
      case st if st.getPath.getName.endsWith(".ptr") &&
        now - st.getModificationTime <= orphanMs =>
        st.getPath.getName.stripSuffix(".ptr")
    }.toSet
    matched.foreach { st =>
      val name = st.getPath.getName
      val family = name.replaceAll("(\\.ptr(\\.tmp\\..*)?|_v_.*)$", "")
      if (!freshFamilies.contains(family) && now - st.getModificationTime > orphanMs)
        fs.delete(st.getPath, true)
    }
  }

  /** Delete one EXACT family (`<baseName>.ptr` + its versions + tmp
    * pointers) that this release knows is superseded — a digest-TAG bump
    * keeps the family prefix but changes the digest, so the stranded
    * old-tag family sits under the same prefix as live siblings and the
    * generic prefix sweep rightly waits the full 7-day orphan horizon
    * before touching it (a different digest usually means a different
    * LIVE source). When the caller can COMPUTE the dead name (old tag +
    * current source ⇒ exact superseded digest), certainty replaces the
    * horizon: delete after pointer idleness of
    * `spark.graft.artifact.supersededMs` (default 24 h). The horizon is
    * SESSION-lifetime-scale, not the 10-min stale horizon, because a
    * still-running old-release session touches the pointer only ONCE
    * (its SessionCache keeps the reader for the session's lifetime) —
    * pointer idleness proves no NEW resolves, not no live readers. A
    * day bounds the post-upgrade disk duplication at ~1/7th of the
    * orphan horizon while covering typical session lifetimes; a root
    * shared with longer-lived old binaries raises the conf to its max
    * session lifetime. */
  def sweepSupersededFamily(s: SparkSession, rootConfKey: String, baseName: String): Unit = {
    val (fs, pfs, root) = rootFs(s, rootConfKey)
    try {
      if (!fs.exists(root)) return
      val idleMs = s.conf.get("spark.graft.artifact.supersededMs", "86400000").toLong
      val now = System.currentTimeMillis()
      val ptr = new Path(root, s"$baseName.ptr")
      // any stat failure other than "gone" conservatively reads as live
      val ptrIdle =
        try !pfs.exists(ptr) || now - pfs.getFileStatus(ptr).getModificationTime > idleMs
        catch {
          case _: java.io.FileNotFoundException => true
          case _: java.io.IOException => false
        }
      if (!ptrIdle) return
      // second usage signal: the POINTED-TO version dir's mtime (getOrBuild
      // touches both on every resolve, and an operator can `touch` the dir
      // to shield a known long-lived old-binary session). Idleness of the
      // pointer alone proves no new resolves; requiring the live dir idle
      // too means any independent freshness on the data dir also vetoes.
      // OPS NOTE (shared roots): an old-binary session resolves ONCE and
      // holds its reader for the session lifetime, so set
      // spark.graft.artifact.supersededMs ≥ the max session lifetime on
      // roots shared with older binaries — idleness cannot observe open
      // readers, only resolves.
      val liveDirIdle =
        try {
          readLive(fs, pfs, root, ptr) match {
            case Some(dir) => now - fs.getFileStatus(dir).getModificationTime > idleMs
            case None => true // no readable live dir — nothing a reader could hold via the pointer
          }
        } catch {
          case _: java.io.FileNotFoundException => true
          case _: java.io.IOException => false
        }
      if (!liveDirIdle) return
      if (pfs.exists(ptr)) pfs.delete(ptr, false)
      glob(fs, new Path(root, s"${baseName}_v_*")).foreach { vst =>
        // version-dir idleness too: a self-served pointerless staging tree
        // (forward-dated mtime) must survive its grace window
        if (now - vst.getModificationTime > idleMs) fs.delete(vst.getPath, true)
      }
      glob(pfs, new Path(root, s"$baseName.ptr.tmp.*")).foreach { tst =>
        if (now - tst.getModificationTime > idleMs) pfs.delete(tst.getPath, false)
      }
    } catch { case _: java.io.IOException => () }
  }

  /** (data fs, pointer fs, root) for an artifact root — the pointer fs is
    * the RAW filesystem when the root is checksummed (see the protocol
    * note above: sidecar-free pointer renames are atomic on POSIX). */
  private def rootFs(s: SparkSession, rootConfKey: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.FileSystem, Path) = {
    val root = resolvedRoot(s, rootConfKey)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val pfs = fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    (fs, pfs, root)
  }

  /** Read the live version dir named by `ptr`, if any: pointer present,
    * newline-terminated (not torn), pointee carries Spark's _SUCCESS
    * completeness marker. Shared by [[getOrBuild]] and [[isLive]]. */
  private def readLive(fs: org.apache.hadoop.fs.FileSystem,
                       pfs: org.apache.hadoop.fs.FileSystem,
                       root: Path, ptr: Path): Option[Path] = {
    val name =
      try {
        if (!pfs.exists(ptr)) None
        else {
          val in = pfs.open(ptr)
          val raw = try new String(
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
          finally in.close()
          if (raw.endsWith("\n")) Some(raw.trim) else None
        }
      } catch { case _: java.io.IOException => None }
    name.map(new Path(root, _)).filter(p => fs.exists(new Path(p, "_SUCCESS")))
  }

  /** Whether a live, complete artifact exists for `baseName` — a pure
    * pointer read, never builds and never touches usage markers. The
    * session-start warm path uses this to resolve only what EXISTS
    * (calling the regular accessor on a cold root would trigger a full
    * index build at warm time). */
  def isLive(s: SparkSession, rootConfKey: String, baseName: String): Boolean = {
    probedNames.add(baseName)
    recordTouch(baseName)
    val (fs, pfs, root) = rootFs(s, rootConfKey)
    readLive(fs, pfs, root, new Path(root, s"$baseName.ptr")).isDefined
  }

  /** Whether ANY pointer file matching `baseGlob` exists under the root —
    * a cheap existence probe for families whose exact name carries a
    * DERIVED component (e.g. the quantizer width in
    * `graft_annold_<nb>_<digest>`): a warm hook uses this to decide
    * whether deriving that component (a count job) is worth running at
    * all, then validates the exact name with [[isLive]]. Pointer
    * presence only — no torn/_SUCCESS validation here. */
  def anyPointer(s: SparkSession, rootConfKey: String, baseGlob: String): Boolean = {
    probedNames.add(baseGlob)
    recordTouch(baseGlob)
    val (_, pfs, root) = rootFs(s, rootConfKey)
    try Option(pfs.globStatus(new Path(root, baseGlob + ".ptr"))).exists(_.nonEmpty)
    catch { case _: java.io.IOException => false }
  }

  def getOrBuild(s: SparkSession, rootConfKey: String, baseName: String)
                (write: String => Unit): DataFrame = {
    publishedNames.add(baseName)
    recordTouch(baseName)
    val (fs, pfs, root) = rootFs(s, rootConfKey)
    if (!fs.exists(root)) {
      fs.mkdirs(root)
      try fs.setPermission(root,
        new org.apache.hadoop.fs.permission.FsPermission("700"))
      catch { case _: UnsupportedOperationException | _: java.io.IOException => () }
    }
    val ptr = new Path(root, s"$baseName.ptr")

    def resolveLive(): Option[Path] = readLive(fs, pfs, root, ptr)

    def commitPointer(dirName: String): Unit = {
      // per-writer unique tmp: concurrent committers never share a tmp
      // file, so a torn mix of two payloads cannot be renamed into place
      val tmp = new Path(root, ptr.getName + ".tmp." +
        java.util.UUID.randomUUID().toString.take(8))
      val out = pfs.create(tmp, true)
      try out.write((dirName + "\n").getBytes("UTF-8")) finally out.close()
      try {
        if (!pfs.rename(tmp, ptr)) {
          // dst-exists rejection (HDFS semantics): atomic overwrite
          // rename via FileContext, else the documented non-atomic
          // fallback — a reader in the window rebuilds, never reads a
          // partial tree
          try {
            val fc = org.apache.hadoop.fs.FileContext.getFileContext(ptr.toUri, pfs.getConf)
            fc.rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          } catch {
            case _: org.apache.hadoop.fs.UnsupportedFileSystemException |
                 _: UnsupportedOperationException =>
              if (pfs.exists(ptr)) pfs.delete(ptr, false)
              if (!pfs.rename(tmp, ptr)) pfs.delete(tmp, false)
          }
        }
      } catch {
        case _: java.io.IOException =>
          // collided with a competing commit: accept any valid survivor,
          // else leave "no pointer" for self-healing readers
          try pfs.delete(tmp, false) catch { case _: java.io.IOException => () }
      }
    }

    val staleMs = s.conf.get("spark.graft.artifact.staleMs", "600000").toLong

    val target = resolveLive().getOrElse {
      // stage to a fresh immutable version dir (the expensive part, safe
      // to run concurrently — competitors build equivalent content)
      val staging = new Path(root, s"${baseName}_v_" +
        java.util.UUID.randomUUID().toString.take(8))
      write(staging.toString)
      resolveLive() match {
        case Some(p) => fs.delete(staging, true); p // lost: a competitor published first
        case None =>
          // commit, and RETRY on a transient failure: serving an
          // unreferenced staging tree is the last resort, because any
          // other process' stale GC could collect it out from under this
          // session's long-lived cached reader (FileNotFound on a later
          // query). A competing commit landing mid-retry is a success —
          // its tree is complete and equivalent.
          var live: Option[Path] = None
          var attempt = 0
          while (live.isEmpty && attempt < 3) {
            commitPointer(staging.getName)
            live = resolveLive()
            attempt += 1
          }
          live.getOrElse {
            // no valid pointer after retries: serve our own complete tree,
            // and push its mtime forward one stale horizon so a concurrent
            // process' stale-version GC cannot collect it while this
            // session still reads it (self-heals: the next resolve
            // rebuilds if it does vanish after that grace window)
            try fs.setTimes(staging, System.currentTimeMillis() + staleMs, -1)
            catch { case _: java.io.IOException | _: UnsupportedOperationException => () }
            staging
          }
      }
    }
    // usage marker: touch the live pointer AND the live version dir so
    // the cross-digest orphan sweep (below) measures idleness from last
    // USE, not last write — a hot artifact over stable source data is
    // never collected. Touching the version dir itself matters: the
    // sweep's age test reads the DIR's mtime, and a dir whose pointer is
    // transiently absent (another committer mid delete+rename) or
    // unreadable must still look recently used, or the sweep would
    // collect a live artifact out from under concurrent readers.
    try {
      if (pfs.exists(ptr)) pfs.setTimes(ptr, System.currentTimeMillis(), -1)
      // never move a target's mtime BACKWARD: a pointerless self-served
      // staging tree is forward-dated (now + staleMs) precisely so the
      // stale-version GC leaves it alone — rewinding it would halve that
      // grace window
      if (fs.getFileStatus(target).getModificationTime < System.currentTimeMillis())
        fs.setTimes(target, System.currentTimeMillis(), -1)
    } catch { case _: java.io.IOException | _: UnsupportedOperationException => () }

    // opportunistic GC 1 (same digest): unreferenced versions of this
    // artifact older than the stale horizon (crash leftovers and
    // lost-race losers), plus crashed committers' tmp pointer files
    glob(fs, new Path(root, s"${baseName}_v_*")).foreach { vst =>
      if (vst.getPath.getName != target.getName &&
          System.currentTimeMillis() - vst.getModificationTime > staleMs)
        fs.delete(vst.getPath, true)
    }
    glob(pfs, new Path(root, s"$baseName.ptr.tmp.*")).foreach { tst =>
      if (System.currentTimeMillis() - tst.getModificationTime > staleMs)
        pfs.delete(tst.getPath, false)
    }
    // opportunistic GC 2 (dead digests): when source data is regenerated,
    // its new size/mtime yields a new digest and the old digest's pointer
    // + versions are never resolved again — without this they accumulate
    // forever. Sweep SIBLING digests of this artifact family (same
    // digest-free prefix) whose pointer hasn't been USED for the orphan
    // horizon (default 7 days — generous because a pointer for a
    // different-but-live source dir, e.g. another SF's corpus, must
    // survive; its own resolves keep touching it).
    val orphanMs = s.conf.get("spark.graft.artifact.orphanMs", "604800000").toLong
    val prefix = baseName.replaceAll("_[0-9a-f]{16}$", "")
    if (prefix != baseName) {
      val now = System.currentTimeMillis()
      // families whose live pointer could not be READ are protected
      // wholesale: an unreadable-but-live pointer must suppress the
      // sweep of its versions, never default them to sweepable
      val protectedFamilies = scala.collection.mutable.Set.empty[String]
      val livePointees = glob(pfs, new Path(root, s"${prefix}_*.ptr")).flatMap { pst =>
        // re-stat before declaring the family dead: the glob's mtimes are
        // a snapshot, and a concurrent session's resolve (which touches
        // the pointer) landing between the listing and this delete must
        // veto it — else that session's just-resolved version dir is
        // collected out from under its long-lived cached reader. A
        // pointer that vanished since the listing (another GC won) stays
        // "dead"; any other stat failure conservatively reads as live.
        val dead = now - pst.getModificationTime > orphanMs && {
          try now - pfs.getFileStatus(pst.getPath).getModificationTime > orphanMs
          catch {
            case _: java.io.FileNotFoundException => true
            case _: java.io.IOException => false
          }
        }
        val pointee =
          try {
            val in = pfs.open(pst.getPath)
            val raw = try new String(
              org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
            finally in.close()
            Some(raw.trim)
          } catch {
            case _: java.io.IOException =>
              if (!dead) protectedFamilies += pst.getPath.getName.stripSuffix(".ptr")
              None
          }
        if (dead) {
          pointee.foreach(n => if (n.startsWith(prefix)) fs.delete(new Path(root, n), true))
          pfs.delete(pst.getPath, false)
          None
        } else pointee
      }.toSet
      glob(fs, new Path(root, s"${prefix}_*_v_*")).foreach { vst =>
        val vname = vst.getPath.getName
        if (!livePointees.contains(vname) &&
            vname != target.getName &&
            !protectedFamilies.exists(f => vname.startsWith(s"${f}_v_")) &&
            now - vst.getModificationTime > orphanMs)
          fs.delete(vst.getPath, true)
      }
    }
    s.read.parquet(target.toString)
  }
}
