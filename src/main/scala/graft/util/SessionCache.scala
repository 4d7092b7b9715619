package graft.util

import org.apache.spark.sql.SparkSession

/**
 * Per-(session, key) cache for driver-side index artifacts (materialized
 * signature tables, coded vectors, table catalogs).
 *
 * Keyed by the session OBJECT through a `WeakHashMap`, not by
 * `System.identityHashCode(session)`: an identity hash can be reused by a
 * new session once the old one is garbage-collected, which would hand the
 * new session another session's cached DataFrames (dead plans, freed
 * checkpoint blocks). With object keys a collision is impossible by
 * construction.
 *
 * Lifetime, honestly: the cached VALUES (DataFrames, Graphs) strongly
 * reference their SparkSession, so while an entry map exists its weak
 * key stays reachable through it — the weak keying prevents collisions,
 * not automatic collection. Callers that retire a session release its
 * entries explicitly via [[removeAll]] (the bench's family release);
 * after removeAll the session and its plans become collectable.
 *
 * Map lookup synchronizes on the WeakHashMap (it is not thread-safe);
 * entry builds run OUTSIDE that lock on the session's own concurrent map,
 * so one session materializing an index (a Spark job) never blocks
 * another session's cache.
 *
 * Builds are deduplicated per (session, key): values are stored behind a
 * lazy holder, so when two threads race on `TrieMap.getOrElseUpdate`
 * (which may evaluate its default argument in both — it is
 * getOrElse + putIfAbsent underneath) only cheap holder objects are
 * created twice; both threads then force the SAME stored holder, whose
 * `lazy val` runs the expensive build (a Spark job materializing a
 * localCheckpoint) exactly once. Without this, the losing build's
 * checkpointed blocks would leak — discarded unreferenced, but never
 * unpersisted, and invisible to [[removeAll]].
 */
object SessionCache {
  private val instances =
    new java.util.concurrent.CopyOnWriteArrayList[SessionCache[_]]
  private[util] def register(c: SessionCache[_]): Unit = instances.add(c)

  /** Drop EVERY SessionCache's entries for `s` — the cold-session
    * stand-in the seam-coverage gate uses so a stream's side-input
    * accessors must re-resolve their stored artifacts (and therefore
    * re-touch ArtifactStore, where the capture lives) instead of
    * returning a prior test's cached reader. Dropped checkpointed values
    * are NOT unpersisted here (the ContextCleaner reclaims unreferenced
    * blocks); production release paths keep using the per-cache
    * removeAll + explicit unpersist. Test-path only. */
  private[graft] def dropAll(s: SparkSession): Unit = {
    instances.forEach(_.removeAll(s))
    ()
  }
}

final class SessionCache[V] {

  SessionCache.register(this)

  private final class Holder(build: () => V) {
    @volatile var forced = false
    lazy val value: V = { val v = build(); forced = true; v }
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

  /** Remove and return this session's entries (cache release path).
    * Unbuilt holders are NOT forced: an entry whose build never ran has
    * nothing to release, and forcing it here would launch a Spark job
    * just to throw the result away. */
  def removeAll(s: SparkSession): Seq[V] = {
    val m = bySession.synchronized(bySession.remove(s))
    if (m == null) Nil
    else m.values.toSeq.collect { case h if h.forced => h.value }
  }
}
