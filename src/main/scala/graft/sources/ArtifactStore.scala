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
 * bytes), so WHICHEVER pointer commit lands is valid. Any unreadable
 * pointer — missing, torn (no newline terminator), or naming a dir
 * without Spark's _SUCCESS marker — reads as "no live artifact" and
 * self-heals via a rebuild.
 *
 * Cleanup has one rule, run by every [[getOrBuild]]: unreferenced
 * versions of the same name and crashed committers' tmp pointers age
 * out after the stale horizon, and sibling digests of the same family
 * (same digest-free prefix) age out after [[OrphanMs]] of pointer
 * idleness. A family whose prefix no current name shares is never
 * swept; a root holding such names is cleaned by removing it.
 */
object ArtifactStore {
  import org.apache.hadoop.fs.Path

  /** Observability for the warm-coverage gate (WarmCoverageSpec): every
    * artifact base name ever PUBLISHED ([[reader]]/[[getOrBuild]]) or PROBED
    * ([[reader]] under [[resolveOnly]], or [[anyPointer]]) in this JVM.
    * Plain name sets — negligible overhead, no behavior change; the spec
    * normalizes the digest/width suffixes into family prefixes and
    * asserts that every published family is probed by some warm hook,
    * so a new stored family cannot silently miss session-start
    * warm-up. */
  private[graft] val publishedNames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] val probedNames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Thread-local capture of every artifact name touched (published OR
    * probed) while a block runs — the seam-coverage gate brackets a
    * stream's construction with this (a [[reader]] memo hit records its
    * name too) and compares the captured family set against the
    * stream's artifactSeams entry. Names are recorded on the calling
    * thread only: stored-family accessors resolve during plan
    * CONSTRUCTION, which runs on the caller. */
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

  /** Thrown by [[reader]] inside [[resolveOnly]] when the artifact has no
    * live version. */
  final class NotLive(val baseName: String)
    extends RuntimeException(s"stored artifact $baseName is not live")

  /** Thread-local resolve-only mode for a block (the session-start warm
    * hooks): inside it a [[reader]] miss whose pointer is not live throws
    * [[NotLive]] before the root or a staging dir is created, so `write`
    * never runs and no nested build can start. Like [[capturing]], only
    * the calling thread is affected — accessors resolve on the caller. */
  private val resolveOnlyTL = ThreadLocal.withInitial[Boolean](() => false)
  private[graft] def resolveOnly[T](body: => T): T = {
    resolveOnlyTL.set(true)
    try body finally resolveOnlyTL.remove()
  }

  /** Digest-free family prefix of an artifact name: strip the 16-hex
    * source digest, then a trailing derived-width segment (`_6`) or glob
    * segment (`_*`). Shared by the warm-coverage and seam-coverage
    * gates. */
  private[graft] def familyOf(n: String): String =
    n.replaceAll("_[0-9a-f]{16}$", "").replaceAll("_(\\*|[0-9]+)$", "")

  /** Null-safe globStatus: some Hadoop FS implementations return null
    * (rather than an empty array) when the glob matches nothing — a bare
    * .foreach would NPE. ONE guard for every glob site in this object. */
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
    * `spark.graft.artifactDir` (default: a per-user owner-only subdir of
    * local tmp), building and publishing it via `write(path)` when
    * absent. Returns a DataFrame reading the live parquet directory.
    * `write` must produce a Spark parquet dir (its _SUCCESS marker is the
    * completeness witness).
    *
    * Lifecycle: every resolve touches the pointer (usage marker); a
    * same-digest orphan version ages out after `spark.graft.artifact
    * .staleMs` (10 min), and a DEAD DIGEST — source data regenerated, so
    * its pointer is never resolved again — ages out with its versions
    * after [[OrphanMs]] (7 days), so the root stays bounded across data
    * regenerations without a manual sweep. */
  // Default root is a PER-USER subdirectory of tmpdir, created with
  // owner-only permissions: the artifact trust model is "whoever can
  // write the root can poison the index" (the digest covers path+
  // size+mtime, not content), so a world-writable shared tmp would let
  // another local user pre-plant a pointer + _SUCCESS-complete version
  // dir that correctness-bearing dedup artifacts would serve. Shared
  // multi-tenant deployments point spark.graft.artifactDir at an ACL'd
  // lake path.
  private[graft] def resolvedRoot(s: SparkSession): Path =
    new Path(s.conf.get("spark.graft.artifactDir",
      "file:" + System.getProperty("java.io.tmpdir") +
        "/graft-" + System.getProperty("user.name", "anon")))

  /** (data fs, pointer fs, root) for an artifact root — the pointer fs is
    * the RAW filesystem when the root is checksummed (see the protocol
    * note above: sidecar-free pointer renames are atomic on POSIX). */
  private def rootFs(s: SparkSession)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.FileSystem, Path) = {
    val root = resolvedRoot(s)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val pfs = fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    (fs, pfs, root)
  }

  /** Read the live version dir named by `ptr`, if any: pointer present,
    * newline-terminated (not torn), pointee carries Spark's _SUCCESS
    * completeness marker. Shared by [[getOrBuild]] and the resolve-only
    * check in [[reader]]. */
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
    * pointer read, never builds and never touches usage markers. Only
    * [[reader]]'s resolve-only mode asks (package-visible for
    * ArtifactStoreSpec's probe states). */
  private[graft] def isLive(s: SparkSession, baseName: String): Boolean = {
    val (fs, pfs, root) = rootFs(s)
    readLive(fs, pfs, root, new Path(root, s"$baseName.ptr")).isDefined
  }

  /** Whether ANY pointer file matching `baseGlob` exists under the root —
    * a cheap existence probe for families whose exact name carries a
    * DERIVED component (e.g. the quantizer width in
    * `graft_annold_<nb>_<digest>`): a warm hook uses this to decide
    * whether deriving that component (a count job) is worth running at
    * all, then resolves the exact name under [[resolveOnly]]. Pointer
    * presence only — no torn/_SUCCESS validation here. */
  def anyPointer(s: SparkSession, baseGlob: String): Boolean = {
    probedNames.add(baseGlob)
    recordTouch(baseGlob)
    val (_, pfs, root) = rootFs(s)
    try Option(pfs.globStatus(new Path(root, baseGlob + ".ptr"))).exists(_.nonEmpty)
    catch { case _: java.io.IOException => false }
  }

  private val readers = new graft.util.SessionCache[DataFrame]

  /** The session's reader of the stored artifact `baseName` — the ONE
    * place a resolved artifact is remembered. The first call per
    * (session, qualified resolved root, `baseName`) runs [[getOrBuild]];
    * later calls return the same DataFrame. Readers stay open for the
    * session's lifetime on purpose: each is a bare parquet plan pinning
    * zero executor memory, and re-resolving one costs ~0.14 s of pointer/
    * footer/GC-sweep I/O (measured on d27's re-run slot, r13). The key is
    * the artifact's identity (source digest and derived widths are in
    * `baseName`), so regenerated source data or a re-pointed root
    * resolves afresh. The name is recorded as published and touched
    * (and, under [[resolveOnly]], probed) BEFORE the memo lookup, so the
    * warm- and seam-coverage gates see hits too. A holder that failed
    * resolves again on the next call. */
  def reader(s: SparkSession, baseName: String)(write: String => Unit): DataFrame = {
    publishedNames.add(baseName)
    recordTouch(baseName)
    if (resolveOnlyTL.get) probedNames.add(baseName)
    val root = resolvedRoot(s)
    val qualified = root.getFileSystem(s.sparkContext.hadoopConfiguration).makeQualified(root)
    readers.getOrElseUpdate(s, s"$qualified/$baseName") {
      // resolve-only: stop before getOrBuild creates anything; a pointer
      // that vanishes after the check still never reaches `write`
      val build: String => Unit =
        if (!resolveOnlyTL.get) write
        else if (isLive(s, baseName)) _ => throw new NotLive(baseName)
        else throw new NotLive(baseName)
      getOrBuild(s, baseName)(build)
    }
  }

  /** How long a sibling digest's pointer must go unused before the
    * dead-digest sweep in [[getOrBuild]] collects it: generous, because a
    * pointer for a different-but-live source (another SF's corpus) must
    * survive, and its own resolves keep touching it. */
  private final val OrphanMs = 7L * 24 * 60 * 60 * 1000

  /** Resolve-or-build without memoizing — every call re-reads the
    * pointer and runs the GC sweeps. Query code goes through [[reader]]. */
  def getOrBuild(s: SparkSession, baseName: String)
                (write: String => Unit): DataFrame = {
    publishedNames.add(baseName)
    recordTouch(baseName)
    val (fs, pfs, root) = rootFs(s)
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
    // digest-free prefix) whose pointer hasn't been USED for OrphanMs.
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
        val dead = now - pst.getModificationTime > OrphanMs && {
          try now - pfs.getFileStatus(pst.getPath).getModificationTime > OrphanMs
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
            now - vst.getModificationTime > OrphanMs)
          fs.delete(vst.getPath, true)
      }
    }
    s.read.parquet(target.toString)
  }
}
