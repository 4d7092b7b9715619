package graft.util

import org.apache.spark.sql.SparkSession

/**
 * Per-(session, key) cache: the stored-artifact readers
 * ([[graft.sources.ArtifactStore.reader]]), the parquet catalog, two
 * small values derived from stored artifacts (the quantizer width, the
 * collected PQ codebooks), and one query-time checkpoint whose per-call
 * rebuild measured too slow (d27's batch side). Only that one holds
 * executor blocks; `TextQueries.releaseCaches` drops it with
 * [[removeAll]], and the ContextCleaner frees the blocks once the
 * dropped DataFrame is collected.
 *
 * Keyed by the session OBJECT through a `WeakHashMap`, not by
 * `System.identityHashCode(session)`: an identity hash can be reused by a
 * new session once the old one is garbage-collected, which would hand the
 * new session another session's cached DataFrames (dead plans). With
 * object keys a collision is impossible by construction.
 *
 * Lifetime, honestly: the cached VALUES (DataFrames, Graphs) strongly
 * reference their SparkSession, so while an entry map exists its weak
 * key stays reachable through it — the weak keying prevents collisions,
 * not automatic collection. Entries live as long as the session, or
 * until [[removeAll]].
 *
 * Map lookup synchronizes on the WeakHashMap (it is not thread-safe);
 * entry builds run OUTSIDE that lock on the session's own concurrent map,
 * so one session resolving an artifact (pointer and footer I/O, maybe a
 * build) never blocks another session's cache.
 *
 * Builds are deduplicated per (session, key): values are stored behind a
 * lazy holder, so when two threads race on `TrieMap.getOrElseUpdate`
 * (which may evaluate its default argument in both — it is
 * getOrElse + putIfAbsent underneath) only cheap holder objects are
 * created twice; both threads then force the SAME stored holder, whose
 * `lazy val` runs the expensive build exactly once (a losing build's
 * checkpoint blocks would otherwise sit unreferenced until the next GC).
 * A build that throws leaves the holder unforced, so the next lookup
 * builds again.
 */
object SessionCache {
  private val instances =
    new java.util.concurrent.CopyOnWriteArrayList[SessionCache[_]]
  private[util] def register(c: SessionCache[_]): Unit = instances.add(c)

  /** Drop EVERY SessionCache's entries for `s` — the cold-session
    * stand-in the seam-coverage gate uses so a stream's side-input
    * accessors must re-resolve their stored artifacts (and therefore
    * re-touch ArtifactStore, where the capture lives) instead of
    * returning a prior test's cached reader. Test-path only. */
  private[graft] def dropAll(s: SparkSession): Unit =
    instances.forEach(_.removeAll(s))
}

final class SessionCache[V] {

  SessionCache.register(this)

  private final class Holder(build: () => V) {
    lazy val value: V = build()
  }

  private val bySession =
    new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[String, Holder]]

  private def mapFor(s: SparkSession): scala.collection.concurrent.TrieMap[String, Holder] =
    bySession.synchronized {
      var m = bySession.get(s)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, Holder]
        bySession.put(s, m)
      }
      m
    }

  def getOrElseUpdate(s: SparkSession, key: String)(build: => V): V =
    mapFor(s).getOrElseUpdate(key, new Holder(() => build)).value

  /** Forget this session's entries; the next lookup builds again. */
  private[graft] def removeAll(s: SparkSession): Unit =
    bySession.synchronized { bySession.remove(s); () }
}
