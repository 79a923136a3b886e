package graft.queries

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The cache lifecycle contract an embedding user relies on: entries are
  * identity-keyed per session, `evict(session)` releases that session's
  * storage and ONLY that session's, and a post-evict rebuild works.
  *
  * Spark's CacheManager is plan-keyed and shared across sessions of one
  * context, so a (dir, tag) cached by TWO sessions is one shared
  * InMemoryRelation: evicting one session must keep it (the other still
  * uses it) and evicting the last holder must release it. */
class CachesSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("evict releases one session's frames and centroids, spares the " +
      "other's, and a rebuild works") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val base2 = Caches.liveEntries(s2)

    var builds1 = 0
    def build1() = { builds1 += 1; Tables(s1, dir, "documents") }
    val shared1 = Caches.frame(s1, dir, "spec-docs")(build1())
    Caches.frame(s1, dir, "spec-docs")(build1()) // cache hit, no rebuild
    assert(builds1 === 1)
    val only1 = Caches.frame(s1, dir, "spec-only-s1")(
      Tables(s1, dir, "nation"))
    val c1 = Caches.memo[Array[(Int, Array[Double])]](s1, dir, "cells/spec-cfg")(
      Array((0, Array(1.0, 0.0)), (1, Array(0.0, 1.0))))
    val shared2 = Caches.frame(s2, dir, "spec-docs")(
      Tables(s2, dir, "documents"))
    assert(shared1.count() > 0 && shared2.count() > 0 && only1.count() > 0)
    assert(c1.length === 2)
    assert(Caches.liveEntries(s1) === 3)
    assert(Caches.liveEntries(s2) === base2 + 1)
    assert(only1.storageLevel !== StorageLevel.NONE)
    assert(shared2.storageLevel !== StorageLevel.NONE)

    Caches.evict(s1)
    assert(Caches.liveEntries(s1) === 0)
    // s1-only storage actually released, not just the map entry dropped
    assert(only1.storageLevel === StorageLevel.NONE)
    // the OTHER session's entries and the SHARED storage survive
    assert(Caches.liveEntries(s2) === base2 + 1)
    assert(shared2.storageLevel !== StorageLevel.NONE)

    // post-evict rebuild: the builder runs again and the entry is live
    val rebuilt = Caches.frame(s1, dir, "spec-docs")(build1())
    assert(builds1 === 2)
    assert(rebuilt.count() > 0)
    assert(Caches.liveEntries(s1) === 1)

    // once the LAST holder of the shared (dir, tag) evicts, storage goes
    Caches.evict(s1)
    Caches.evict(s2)
    assert(Caches.liveEntries(s2) === base2)
    assert(shared2.storageLevel === StorageLevel.NONE)
  }

  test("memo is single-flight (racing first calls share one build) and " +
      "evict runs the registered cleanup exactly once, on built entries " +
      "only") {
    val s = spark.newSession()
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val cleans = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)

    def call(): Int =
      Caches.memo[Int](s, dir, "spec-memo", cleanup = _ => cleans.incrementAndGet()) {
        gate.await() // hold the winner's build until both callers arrived
        Thread.sleep(50) // widen the race window for the loser
        builds.incrementAndGet()
      }

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val f1 = Future(call())
    val f2 = Future(call())
    Thread.sleep(100) // both futures reach the memo before the gate opens
    gate.countDown()
    val (v1, v2) = (Await.result(f1, 30.seconds), Await.result(f2, 30.seconds))
    assert(v1 === 1 && v2 === 1, "loser must block on the winner's build")
    assert(builds.get() === 1, "exactly one build despite the race")

    Caches.evict(s)
    assert(cleans.get() === 1, "evict must run the cleanup on the handle")
    Caches.evict(s)
    assert(cleans.get() === 1, "second evict: entry already gone")

    // a never-built memo (builder threw) must NOT be cleaned up
    intercept[RuntimeException] {
      Caches.memo[Int](s, dir, "spec-throw",
        cleanup = _ => cleans.incrementAndGet())(
        throw new RuntimeException("boom"))
    }
    // a throwing build leaves the entry retryable: next call rebuilds
    val ok = Caches.memo[Int](s, dir, "spec-throw",
      cleanup = _ => cleans.incrementAndGet())(42)
    assert(ok === 42)
    Caches.evict(s)
    assert(cleans.get() === 2, "retry-built entry cleaned; thrown one not")
  }

  test("a build failure propagates to EVERY caller racing the holder — " +
      "never a silent re-run in the waiting thread (the lazy-val trap)") {
    val s = spark.newSession()
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val cleans = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)

    def call(): Int =
      Caches.memo[Int](s, dir, "spec-fail-race",
          cleanup = _ => cleans.incrementAndGet()) {
        gate.await()
        Thread.sleep(50)
        attempts.incrementAndGet()
        throw new RuntimeException("boom")
      }

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val f1 = Future(scala.util.Try(call()))
    val f2 = Future(scala.util.Try(call()))
    Thread.sleep(100)
    gate.countDown()
    val r1 = Await.result(f1, 30.seconds)
    val r2 = Await.result(f2, 30.seconds)
    assert(r1.isFailure && r2.isFailure,
      "both racers must see the memoized failure")
    assert(attempts.get() === 1,
      "the waiting racer must NOT silently re-run the failed build")
    // the failed holder was removed: a fresh call rebuilds and is
    // evict-cleanable (no orphaned-outside-the-map product possible)
    val ok = Caches.memo[Int](s, dir, "spec-fail-race",
      cleanup = _ => cleans.incrementAndGet())(7)
    assert(ok === 7)
    Caches.evict(s)
    assert(cleans.get() === 1, "only the successful rebuild is cleaned")
  }
}
