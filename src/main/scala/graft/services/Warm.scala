package graft.services

import org.apache.spark.sql.SparkSession

/**
 * Session-start artifact warm-up: batch-resolve every stored index family
 * that is ALREADY LIVE under the artifact root (`spark.graft.artifactDir`),
 * in parallel, into the session's readers
 * ([[graft.sources.ArtifactStore.reader]]).
 *
 * Why: each stored family (MinHash signatures, LSH bands and pairs,
 * posting/positional/norms/window tables, CDC chunks, the d27 corpus
 * index, the SRP quantizer metadata, the coded vectors, the JL sketch,
 * the IVF index, the clustered audit view) costs a pointer read,
 * a parquet footer open and — for partitioned artifacts — partition
 * discovery on FIRST touch. Individually tiny driver-side reads, but a
 * fresh session's first index-backed query used to absorb them all
 * SERIALLY (round 10: e06 probe rep 1 = 6.5 s vs 1.15 s steady at sf10).
 * Running them concurrently at session start costs max(latency) instead
 * of sum(latency) and moves it out of the first query entirely.
 *
 * Strictly resolve-only: each hook is a bare call of the family's own
 * accessor, run under [[graft.sources.ArtifactStore.resolveOnly]]. A
 * reader miss with no live artifact throws
 * [[graft.sources.ArtifactStore.NotLive]] before anything is created, and
 * the hook counts as a completed skip — never built, so a cold root warms
 * in milliseconds and the first real query pays the build exactly as
 * before; warming never moves index-BUILD cost out of measured queries.
 * Thread-safety: the reader memo deduplicates resolves per (session,
 * key) behind lazy holders ([[graft.util.SessionCache]]), so a real
 * query racing the warm-up
 * simply shares the same resolve (and builds itself if the warm-up's
 * resolve-only attempt found nothing live).
 */
object Warm {

  /** Resolve all live stored families for `dir` into `s`'s readers.
    * Failures are swallowed per-family (warm-up must never fail a
    * session); returns the hooks that completed without error (a hook
    * whose artifact is absent completes as a no-op). */
  def resolve(s: SparkSession, dir: String, timeoutSec: Int = 120): Seq[String] = {
    import graft.sources.{AnnIndex => A, ArtifactStore, TextIndex => T}
    import graft.queries.{MogQueries => M, SearchQueries => Q, TextQueries => TQ}
    val hooks: Seq[(String, () => Any)] = Seq(
      "text:sig" -> (() => T.sigTable(s, dir)),
      "text:bands" -> (() => T.bandsTable(s, dir)),
      "text:lshcand" -> (() => TQ.candidatePairs(s, dir)),
      "text:lshver" -> (() => TQ.verifiedPairs(s, dir)),
      "text:chunks" -> (() => T.chunkTable(s, dir)),
      "text:d27" -> (() => T.corpusIndex(s, dir)),
      "search:inv" -> (() => Q.invertedIndex(s, dir)),
      "search:invpos" -> (() => Q.positionalIndex(s, dir)),
      "search:norms" -> (() => Q.docLengths(s, dir)),
      "search:invold" -> (() => Q.oldPostingIndex(s, dir)),
      "search:invroll" -> (() => Q.rolledPostingIndex(s, dir)),
      "search:exwin" -> (() => Q.windowHashTable(s, dir)),
      "vec:srpmeta" -> (() => A.nbitsOf(s, dir)),
      "vec:jl" -> (() => A.jlSketch(s, dir)),
      "vec:cents1" -> (() => A.trainedCentroids(s, dir)),
      "vec:lsums1" -> (() => A.lloydSums1(s, dir)),
      "vec:pqcb" -> (() => A.collectedCodebooks(s, dir)),
      "vec:pqcodes" -> (() => A.pqCodes(s, dir)),
      // the exact names carry the frozen quantizer width: only pay its
      // deriving count job when some pointer for these digests exists
      "vec:annroll" -> (() =>
        if (ArtifactStore.anyPointer(s, s"graft_annold_*_${A.embDigest(s, dir, "annold2")}") &&
            ArtifactStore.anyPointer(s, s"graft_annroll_*_${A.embDigest(s, dir, "annroll2")}"))
          A.annRolledIndex(s, dir, A.annNbOld(s, dir))),
      "vec:coded" -> (() => A.codedVectors(s, dir)),
      "vec:ivf" -> (() => A.partitionedIndex(s, dir)),
      "vec:ivfpq" -> (() => A.ivfPqIndex(s, dir)),
      "vec:rpqcb" -> (() => A.collectedRpqCodebooks(s, dir)),
      "vec:rpqcodes" -> (() => A.rpqCodes(s, dir)),
      "mog:view" -> (() => M.storedMogView(s, dir)),
      "mog:truth" -> (() => M.truthTop5(s, dir)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(hooks.size, 8),
      r => { val t = new Thread(r, "graft-warm"); t.setDaemon(true); t })
    try {
      val done = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val futures = hooks.map { case (name, thunk) =>
        pool.submit(new Runnable {
          def run(): Unit =
            try { ArtifactStore.resolveOnly(thunk()); done.add(name) }
            catch {
              case _: ArtifactStore.NotLive => done.add(name)
              case scala.util.control.NonFatal(_) => ()
            }
        })
      }
      val deadline = System.nanoTime() + timeoutSec * 1000000000L
      futures.foreach { f =>
        val left = math.max(1L, (deadline - System.nanoTime()) / 1000000L)
        try f.get(left, java.util.concurrent.TimeUnit.MILLISECONDS)
        catch { case _: java.util.concurrent.TimeoutException |
                     _: java.util.concurrent.ExecutionException => () }
      }
      import scala.jdk.CollectionConverters._
      done.asScala.toSeq.sorted
    } finally pool.shutdownNow()
  }
}
