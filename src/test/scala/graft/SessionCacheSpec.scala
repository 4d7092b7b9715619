package graft

import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.util.SessionCache

/** Pins the build-deduplication contract of [[graft.util.SessionCache]]:
  * concurrent lookups of the same (session, key) must run the expensive
  * build exactly once, and `removeAll` forgets a session's entries.
  */
class SessionCacheSpec extends SparkSpec {

  describe("SessionCache") {
    it("runs a racing build at most once per key") {
      val cache = new SessionCache[Integer]
      val builds = new AtomicInteger(0)
      val threads = 16
      val pool = Executors.newFixedThreadPool(threads)
      try {
        val start = new CountDownLatch(1)
        val results = (0 until threads).map { _ =>
          pool.submit { () =>
            start.await()
            cache.getOrElseUpdate(spark, "k") {
              builds.incrementAndGet()
              Thread.sleep(20) // widen the race window
              Integer.valueOf(42)
            }
          }
        }
        start.countDown()
        val values = results.map(_.get(30, TimeUnit.SECONDS))
        assert(values.forall(_ == 42))
        assert(builds.get() == 1, s"build ran ${builds.get()} times")
      } finally pool.shutdownNow()
      cache.removeAll(spark)
      cache.getOrElseUpdate(spark, "k") { builds.incrementAndGet(); Integer.valueOf(42) }
      assert(builds.get() == 2, s"after removeAll the lookup ran ${builds.get()} builds in total")
    }

    it("removeAll makes the next lookup build again") {
      val cache = new SessionCache[Integer]
      val builds = new AtomicInteger(0)
      def lookup() = cache.getOrElseUpdate(spark, "built") {
        builds.incrementAndGet(); Integer.valueOf(1)
      }
      lookup(); lookup()
      assert(builds.get() == 1)
      cache.removeAll(spark)
      assert(lookup() == 1)
      assert(builds.get() == 2, s"after removeAll the lookup ran ${builds.get()} builds in total")
    }
  }
}
