package graft.operators

import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Bounded LRU memo store. Every memoized value in the library — lazy
  * table plans, persisted or checkpointed frames, on-disk fixtures —
  * lives in the one process-wide instance [[Memo.store]]; other
  * instances exist only in tests.
  *
  * KEY: (session, tag, identity). The session is a [[graft.SessionKey]]
  * UUID, never `identityHashCode` (a GC'd session's address can be
  * reused and would serve a dead session's value to a new one). The
  * identity is the input plan hash plus params ([[Memo.frame]]), or the
  * sf dir for the query kit's dir-keyed values ([[graft.queries.QueryKit]]).
  *
  * STAMP: the mtimes of the files an entry was built from. A request
  * with a different stamp replaces the entry, releasing the old value
  * before the new one builds — a semantic plan hash cannot see a
  * rewrite (InMemoryFileIndex hashes by root path, not contents).
  *
  * BOUND: one entry count, LRU. Overflow releases the least recently
  * used ready entry through its caller's release function (frames via
  * [[graft.FrameRelease]] — plain `unpersist` is a no-op on checkpoint
  * frames; fixtures delete their files). A request for an evicted key
  * rebuilds, but a checkpoint-backed frame HELD past its eviction dies
  * with its blocks, so the bound sits above any family's working set.
  *
  * LOCKING: the monitor guards only the map. A miss inserts an in-flight
  * promise and builds OUTSIDE the lock, so hits on other keys never
  * wait and a build may request other keys. Concurrent requesters of
  * one key share its single build; a failed build is removed and its
  * exception reaches every waiter. In-flight entries are never evicted.
  *
  * With [[LruFrameCache.debug]] on, evicting a checkpoint-backed frame
  * leaves a TOMBSTONE keyed by the destroyed RDD id, so a later
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on a held frame can be traced to
  * its memo key ([[LruFrameCache.evictionTombstone]]). Instances
  * self-register (weakly) so a harness can flush them all
  * ([[LruFrameCache.clearAll]]) before a blanket unpersist.
  */
private[graft] final class LruFrameCache(maxEntries: Int) {
  import LruFrameCache.{Key, Stamp}
  require(maxEntries >= 1)

  private final class Entry(val stamp: Stamp, val release: Any => Unit) {
    val result = Promise[Any]()
    def ready: Boolean = result.isCompleted
  }
  private val entries = scala.collection.mutable.LinkedHashMap.empty[Key, Entry]
  private val hits, misses, builds, evictions = new AtomicLong
  LruFrameCache.register(this)

  /** Requests that found their entry (ready or in flight); requests that
    * ran a build; builds that succeeded; entries dropped by the bound. */
  def stats: Seq[(String, Long)] = Seq("hits" -> hits.get, "misses" ->
    misses.get, "builds" -> builds.get, "evictions" -> evictions.get)

  def getOrElseUpdate(key: Key, build: => DataFrame): DataFrame =
    memo[DataFrame](key, Map.empty, graft.FrameRelease.release)(build)

  def memo[V](key: Key, stamp: Stamp, release: V => Unit)(build: => V): V = {
    var served: Option[V] = None
    while (served.isEmpty) {
      val (entry, owner, dropped) = synchronized {
        entries.remove(key) match {
          case Some(e) if e.stamp == stamp || !e.ready =>
            entries.put(key, e)
            if (e.stamp == stamp) hits.incrementAndGet()
            (e, false, Nil)
          case stale =>
            val e = new Entry(stamp, release.asInstanceOf[Any => Unit])
            entries.put(key, e)
            val over = entries.size - maxEntries
            val evicted = entries.iterator.filter(_._2.ready).take(over).toList
            evicted.foreach(ev => entries.remove(ev._1))
            evictions.addAndGet(evicted.size)
            (e, true, stale.map(key -> _).toList ++ evicted)
        }
      }
      // released before the build: a frame's unpersist matches cached
      // plans by result, so a late release would drop the rebuilt copy
      dropped.foreach { case (k, e) => drop(k, e) }
      if (owner) {
        misses.incrementAndGet()
        served = Some(run(key, entry, build))
      } else {
        val v = Await.result(entry.result.future, Duration.Inf)
        // an in-flight build for another stamp: retry once it is ready,
        // which then replaces it
        if (entry.stamp == stamp) served = Some(v.asInstanceOf[V])
      }
    }
    served.get
  }

  private def run[V](key: Key, entry: Entry, build: => V): V =
    try {
      val v = build
      builds.incrementAndGet()
      entry.result.success(v)
      v
    } catch {
      case t: Throwable =>
        synchronized { if (entries.get(key).exists(_ eq entry)) entries.remove(key) }
        entry.result.failure(t)
        throw t
    }

  /** Release a dropped ready entry. Failures are swallowed: entries may
    * belong to an already-STOPPED SparkSession (test suites,
    * session-per-request services), where touching the value throws
    * IllegalStateException — the map entry must still go. */
  private def drop(key: Key, e: Entry): Unit =
    e.result.future.value.foreach(_.foreach { v =>
      try {
        v match {
          case d: Dataset[_] => LruFrameCache.recordTombstone(key, d)
          case _ => ()
        }
        e.release(v)
      } catch { case NonFatal(_) => () }
    })

  /** Release every ready entry and drop it (see [[LruFrameCache.clearAll]]). */
  def clear(): Unit = {
    val dropped = synchronized {
      val ready = entries.filter(_._2.ready).toList
      ready.foreach(r => entries.remove(r._1))
      ready
    }
    dropped.foreach { case (k, e) => drop(k, e) }
  }
}

/** The process-wide memo store and the helpers its callers key, stamp
  * and time their entries with. */
private[graft] object Memo {
  /** One bound for every kind of entry, in entries rather than bytes (a
    * byte bound would need a size measurement on every insert). Above
    * the sum of the per-map frame bounds it replaced (32 + 4 + 5 x 8 =
    * 76) with room for the table plans and fixtures beside them. */
  val MaxEntries = 128
  val store = new LruFrameCache(MaxEntries)

  /** Min build wall-seconds per timed tag, reported by [[graft.Bench]]
    * as `memo_build_secs`. */
  val buildSecs = scala.collection.concurrent.TrieMap.empty[String, Double]

  def timed[V](tag: String)(build: => V): V = {
    val t0 = System.nanoTime()
    val v = build
    val sec = (System.nanoTime() - t0) / 1e9
    buildSecs.updateWith(tag)(prev => Some(prev.fold(sec)(math.min(_, sec))))
    v
  }

  /** Local files' modification times — the one stat per file a stamp
    * costs (0 for a missing file). */
  def stampFiles(paths: Seq[String]): LruFrameCache.Stamp =
    paths.map(p => p -> new java.io.File(p).lastModified()).toMap

  /** The stamp of a plan: its local file-source leaves' root paths. */
  def stampPlan(plan: LogicalPlan): LruFrameCache.Stamp =
    stampFiles(plan.collectWithSubqueries { case r: LogicalRelation => r.relation }
      .flatMap {
        case h: HadoopFsRelation => h.location.rootPaths
          .filter(p => Option(p.toUri.getScheme).forall(_ == "file"))
          .map(_.toUri.getPath)
        case _ => Nil
      })

  /** A frame memoized per (session, tag, `src`'s plan hash + params),
    * stamped with `src`'s files and released through FrameRelease.
    * `optimized` keys on the optimized plan, so callers passing wider
    * frames of the same table still share. */
  def frame(tag: String, src: DataFrame, params: String = "",
      optimized: Boolean = false)(build: => DataFrame): DataFrame = {
    val qe = src.queryExecution
    val plan = if (optimized) qe.optimizedPlan else qe.analyzed
    store.memo[DataFrame]((graft.SessionKey(src.sparkSession), tag,
        plan.semanticHash().toString + "|" + params),
      stampPlan(qe.analyzed), graft.FrameRelease.release)(build)
  }
}

/** Plan-keyed persist for intra-operator SHARED subtrees (a self-join's
  * two sides, a frame feeding both a df cap and a join) — the house
  * alternative to a raw `.persist()` whose lifetime nothing owns.
  *
  * A raw persist inside an operator relies on a caller-cleanup contract
  * ("run `spark.catalog.clearCache()` when done") that a library call
  * has no way to honor per-frame: each distinct corpus scored in a
  * long-lived session pins a corpus-sized MEMORY_AND_DISK entry until a
  * harness-level blanket flush. A [[Memo.frame]] entry has an owned
  * lifetime: repeated calls on the same input reuse it, and the store's
  * bound and [[LruFrameCache.clearAll]] release it.
  *
  * Eviction is always SAFE here, unlike for checkpoint-backed memo
  * frames: these entries are plain persist-backed (lineage intact), so
  * a consumer holding an evicted frame simply recomputes. */
private[graft] object PlanPersist {
  def apply(tag: String, df: DataFrame): DataFrame =
    Memo.frame(tag, df)(Memo.timed(tag) {
      // materialize EAGERLY on the miss path so the build is timed
      // where it happens: lazily-persisted entries charged their whole
      // upstream pipeline to whichever consumer touched them first,
      // which min-of-N then discarded — the shared-build cost vanished
      // from the artifact entirely. count() on a freshly-persisted
      // frame fills the cache with full-row batches (InMemoryRelation
      // materializes every column regardless of the action's
      // projection), so consumers read exactly what they read before.
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    })
}

private[graft] object LruFrameCache {
  type Key = (String, String, String)
  type Stamp = Map[String, Long]

  private val registry = scala.collection.mutable
    .ArrayBuffer.empty[java.lang.ref.WeakReference[LruFrameCache]]

  private def register(c: LruFrameCache): Unit = synchronized {
    registry.filterInPlace(_.get != null) // prune collected instances
    registry += new java.lang.ref.WeakReference(c)
  }

  /** Flush EVERY live memo store in the process. Harness-only: call
    * before a blanket `getPersistentRDDs.foreach(_.unpersist)` so no
    * store is left holding a frame whose backing blocks were just
    * destroyed. */
  def clearAll(): Unit = {
    val caches = synchronized { registry.flatMap(r => Option(r.get)).toVector }
    caches.foreach(_.clear())
  }

  /** Eviction tombstones (debug/test only): destroyed-checkpoint RDD id →
    * the memo key whose eviction destroyed it. Bounded by eviction count
    * in a debug run; off (and empty) in production. */
  @volatile var debug: Boolean = java.lang.Boolean.getBoolean("graft.memo.debug")
  private val tombstones =
    scala.collection.concurrent.TrieMap.empty[Int, String]

  private def recordTombstone(key: Key, frame: Dataset[_]): Unit =
    if (debug) {
      try {
        frame.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            tombstones.put(lr.rdd.id, key.toString())
          case _ => ()
        }
      } catch { case NonFatal(_) => () }
    }

  /** If `df` is a checkpoint-backed frame whose blocks a memo eviction
    * destroyed (debug mode), return the evicting key — turns a cryptic
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND into "you held frame X past its
    * eviction". None for live frames, non-checkpoint roots, or with
    * debug off. */
  def evictionTombstone(df: Dataset[_]): Option[String] =
    try {
      df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          tombstones.get(lr.rdd.id)
        case _ => None
      }
    } catch { case NonFatal(_) => None }
}
