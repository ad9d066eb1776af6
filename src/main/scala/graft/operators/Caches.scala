package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Bounded, keyed registry for intermediate DataFrames persisted by
  * operators whose results are returned lazily (shingle tables, LSH
  * band keys, bundling projections, pipeline stage pins). A long-lived
  * session issuing many such calls over DIFFERENT corpora would
  * otherwise accumulate cached partitions without bound — the registry
  * is an access-ordered LRU capped at [[capacity]] entries, and
  * eviction unpersists (always safe: a still-referenced plan silently
  * recomputes).
  *
  * Two entry points:
  *  - [[memo]] shares one persisted frame per key: [[Dedup]]'s corpus
  *    passes key on (pass, session, analyzed-plan semantic hash,
  *    params), so the queries consuming the same pass over the same
  *    corpus build and persist it once. The session sits in the key
  *    tuple and compares by reference (`SparkSession` does not
  *    override `equals`).
  *  - [[track]] registers a frame under its own identity, for a pin
  *    nobody else looks up.
  *
  * An evicted or released entry leaves the map in the same locked step
  * that unpersists it, so a memo lookup can never hand out an
  * unpersisted frame. `release()` is the bulk cleanup: callers drain
  * the registry whenever the results built on these caches have been
  * materialized (end of a pipeline run, between Verify queries, after
  * a bench wave).
  *
  * == Concurrency ==
  * Registration, eviction and release hold the registry lock;
  * persist/unpersist are driver-side plan bookkeeping, never Spark
  * jobs, so holding it is cheap. A memo's plan is built OUTSIDE the
  * lock, because builders nest (one memoized pass calls another, and
  * [[track]]s its own pins); a lost race costs only a plan that was
  * never persisted.
  */
object Caches {

  /** Access-ordered map: eldest = least recently used. */
  private val lru = new java.util.LinkedHashMap[Any, DataFrame](16, 0.75f, true)

  @volatile private var cap: Int = 64

  /** Max live registered frames before LRU eviction. The default (64)
    * covers every concurrent Bench/Verify wave — the 101-query suite
    * plus one full incremental-pipeline run (which tracks ~17 frames
    * across bootstrap + day) peaks under it — while bounding a session
    * that iterates over unboundedly many corpora.
    */
  def capacity: Int = cap

  /** Resize the registry (tests use a tiny cap to observe eviction).
    * Shrinking evicts immediately.
    */
  def setCapacity(n: Int): Unit = {
    require(n >= 1, s"capacity must be >= 1, got $n")
    lru.synchronized {
      cap = n
      evictOverflowLocked()
    }
  }

  /** The frame registered under `key` (refreshing its recency), or
    * `build`'s frame persisted and registered under `key`.
    */
  private[graft] def memo(key: Any)(build: => DataFrame): DataFrame = {
    val hit = lru.synchronized(lru.get(key))
    if (hit != null) hit
    else {
      val built = build // lazy plan construction, outside the lock
      lru.synchronized {
        val prev = lru.get(key)
        if (prev != null) prev else registerLocked(key, built, StorageLevel.MEMORY_AND_DISK)
      }
    }
  }

  /** Persist `df` at `level` and register it under its own identity;
    * may evict (and unpersist) the least recently used frames past
    * [[capacity]].
    */
  private[graft] def track(df: DataFrame,
                           level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    lru.synchronized(registerLocked(df, df, level))

  private def registerLocked(key: Any, df: DataFrame, level: StorageLevel): DataFrame = {
    df.persist(level)
    lru.put(key, df)
    evictOverflowLocked()
    df
  }

  private def evictOverflowLocked(): Unit = {
    val it = lru.values().iterator()
    while (lru.size() > cap && it.hasNext) {
      it.next().unpersist(false)
      it.remove()
    }
  }

  /** Unpersist every registered intermediate (non-blocking). */
  def release(): Unit = lru.synchronized {
    lru.values().forEach(_.unpersist(false))
    lru.clear()
  }

  /** Number of currently registered cached intermediates (for tests). */
  def liveCount: Int = lru.synchronized { lru.size() }

  /** Snapshot of currently registered frames, LRU-oldest first (tests). */
  private[graft] def trackedFrames: Seq[DataFrame] = lru.synchronized {
    import scala.jdk.CollectionConverters._
    lru.values().asScala.toVector
  }
}
