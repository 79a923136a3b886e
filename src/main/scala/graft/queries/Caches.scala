package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped caches behind the query layer, with an explicit
  * lifecycle: intermediates that several queries share (the shingle table,
  * the LSH band table, the parsed alert stream) are cached once per
  * (session, sf-dir) and trained quantizers once per (session, dir,
  * config), and everything — including memoized SIDE EFFECTS, via their
  * registered cleanup — is released by [[evict]].
  *
  * Why this exists: in the bench/verify harness the process exits and the
  * caches die with it, but a long-lived session embedding this library
  * would otherwise accumulate pinned storage — `evict(session)` is the
  * contract for that embedding (call it when a scale-factor directory's
  * work is done). Entries key on the session by IDENTITY, so two sessions
  * over the same dir never share (or evict) each other's state.
  *
  * Every entry is SINGLE-FLIGHT: the builder is wrapped in a per-key
  * holder inserted with `putIfAbsent`, so two racing first calls agree on
  * one holder and the loser blocks on the winner's build (never running a
  * duplicate — the q185 layout build writes two bucketed fact copies; a
  * duplicate run would orphan both). The build's outcome is memoized as a
  * `Try` inside the holder, so a builder that THROWS propagates the SAME
  * exception to every caller racing that holder — deliberately not a
  * `lazy val`, whose failure semantics would silently RE-RUN the
  * initializer in waiting threads, building into a holder the failing
  * caller already removed from the map (a product evict could never
  * clean). The failed holder is then removed, so the NEXT call installs a
  * fresh build and retries.
  *
  * [[evict]] is a quiesced-session operation: an evict racing a first
  * build observes the holder unbuilt and skips its cleanup (the build then
  * completes into an already-forgotten holder and its product dies with
  * the JVM-exit hooks, exactly as before cleanups existed). */
object Caches {

  /** Per-key single-flight holder: [[force]] runs the build exactly once
    * and memoizes its outcome (success OR failure) under the holder's
    * monitor, so concurrent forcers block and then all observe the one
    * outcome — a failure is never silently re-run inside this holder
    * (see the class doc for why a lazy val would do exactly that).
    * `cleanIfBuilt` runs the registered cleanup only if the build
    * actually succeeded. */
  private final class Entry[T](build: () => T, cleanup: T => Unit) {
    private var state: Option[scala.util.Try[T]] = None // guarded by this
    def force(): T = synchronized {
      state.getOrElse {
        val r = scala.util.Try(build())
        state = Some(r)
        r
      }
    }.get
    def cleanIfBuilt(): Unit =
      synchronized(state.flatMap(_.toOption)).foreach(cleanup)
    def isBuilt: Boolean = synchronized(state.exists(_.isSuccess))
  }

  private type Key = (SparkSession, String, String)

  private def singleFlight[T](map: TrieMap[Key, Entry[_]], key: Key,
      cleanup: T => Unit)(build: => T): T = {
    val fresh = new Entry[T](() => build, cleanup)
    val entry = map.putIfAbsent(key, fresh).getOrElse(fresh)
      .asInstanceOf[Entry[T]]
    try entry.force()
    catch { case t: Throwable =>
      // drop the failed holder (conditionally: don't clobber a newer
      // retry's entry) so the NEXT call installs a fresh build closure;
      // racers on THIS holder see the memoized failure, never a re-run
      map.remove(key, entry)
      throw t
    }
  }

  private val frames = TrieMap.empty[Key, Entry[_]]
  private val memos = TrieMap.empty[Key, Entry[_]]

  /** The cached frame for `tag` over (session, dir), building (and
    * persisting) it on first use. `eager = true` materializes the
    * cache immediately (one `count()`), so downstream consumers pay only
    * their own work — the materialize-before-fan-out pattern.
    * `storage` defaults to `.cache()`'s MEMORY_AND_DISK; pass DISK_ONLY
    * for corpus-sized intermediates whose consumers are single-pass
    * aggregates — at real scale they should not evict the hot working
    * set from executor memory just to avoid a recompute. */
  def frame(s: SparkSession, dir: String, tag: String,
      eager: Boolean = false,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)(
      build: => DataFrame): DataFrame =
    singleFlight[DataFrame](frames, (s, dir, tag), _ => ()) {
      val df = build.persist(storage)
      if (eager) df.count()
      df
    }

  /** Arbitrary memoized value for `tag` over (session, dir). It holds
    * trained centroids and PQ codebooks (training is deterministic, so one
    * run per configuration, tagged `cells/…` and `pq/…`), and it is the
    * lifecycle home for one-time side effects whose product is a small
    * HANDLE rather than a frame (the q185 bucketed-layout table names):
    * the side effect runs once per (session, dir), every later query in
    * the session reuses the handle, and [[evict]] runs `cleanup` on the
    * built handle before dropping the entry — so the side effects behind
    * the handle (registered catalog tables, on-disk layout copies) are
    * RELEASED by evict, not merely forgotten. Register a cleanup for any
    * memo whose build leaves state outside this process's heap. */
  def memo[T](s: SparkSession, dir: String, tag: String,
      cleanup: T => Unit = (_: T) => ())(build: => T): T =
    singleFlight[T](memos, (s, dir, tag), cleanup)(build)

  /** Unpersist, clean up, and drop every cache entry owned by `session`.
    *
    * Spark's CacheManager is PLAN-keyed and shared by every session of one
    * SparkContext, so two sessions that cached the same (dir, tag) share
    * one InMemoryRelation — a blind `unpersist()` here would silently drop
    * the other session's storage too. Storage is therefore released only
    * when no OTHER live session holds the same (dir, tag); the map entry
    * is dropped either way (tag names the computation, so same (dir, tag)
    * across sessions means a plan-equal frame). Memo cleanups run
    * unconditionally for THIS session's built entries: memo products are
    * session-tagged (unique names), never shared across sessions. */
  def evict(session: SparkSession): Unit = {
    frames.keys.filter(_._1 eq session).foreach { case k @ (_, dir, tag) =>
      frames.remove(k).foreach { e =>
        val sharedElsewhere = frames.keys
          .exists { case (s2, d2, t2) =>
            (s2 ne session) && d2 == dir && t2 == tag
          }
        if (!sharedElsewhere && e.isBuilt)
          try e.asInstanceOf[Entry[DataFrame]].force().unpersist()
          catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    memos.keys.filter(_._1 eq session).foreach { k =>
      memos.remove(k).foreach { e =>
        try e.cleanIfBuilt()
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  /** Visible for tests: number of live entries for `session`. */
  private[graft] def liveEntries(session: SparkSession): Int =
    frames.keys.count(_._1 eq session) + memos.keys.count(_._1 eq session)
}
