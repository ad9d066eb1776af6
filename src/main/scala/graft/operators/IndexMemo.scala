package graft.operators

import org.apache.spark.sql.SparkSession

/** Serve-path memo for a persisted index's driver-side artifacts — the
  * load-side twin of [[BuildOnce]]. An index is loaded once and
  * searched or selected many times, so the one-row meta collect (a
  * driver job), the centroid rows and the footer/listing reads behind
  * a loaded plan are paid once per (session, path) instead of per
  * call. Lazy DataFrames in a value cache only their plan and the file
  * listing frozen at load time; scans still execute per query.
  *
  *  - Freshness: each entry stores the fingerprint it was loaded
  *    under — the sorted `(name, length, mtime)` listing of the index's
  *    `subdirs` (an `exists` + `listStatus` per subdir, no data read; a
  *    directory's mtime moves when files land under it). A lookup
  *    whose fingerprint differs reloads, so a retrain-by-rewrite or an
  *    out-of-process append at the same path is never served stale.
  *    Writers also call [[invalidate]], which covers a rewrite landing
  *    within one fs-mtime granule.
  *  - One entry per (session, path): a rolled fingerprint REPLACES the
  *    path's entry, so N rewrites of a long-served index leave one
  *    live entry, not N+1. The key is a tuple, so the session compares
  *    by reference (`SparkSession` does not override `equals`); two
  *    sessions never share a value bound to the other's plans.
  *  - Bounded: an access-ordered LRU of 64 entries, so a session
  *    serving unboundedly many paths — or a stopped session's entries,
  *    which nothing else would remove — cannot grow driver memory
  *    without bound. Sessions are held strongly: every builder in the
  *    project uses `getOrCreate`, and the bound already caps what a
  *    stopped session can pin.
  *
  * Loads run outside the lock (they run Spark jobs); a lost race costs
  * one duplicate read of deterministic on-disk data.
  */
private[graft] final class IndexMemo[V](subdirs: String*) {

  private type Key = (SparkSession, String)
  private final case class Entry(fingerprint: Seq[String], value: V)

  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      size() > IndexMemo.Capacity
  }

  private def fingerprint(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    subdirs.map { sub =>
      val p = new org.apache.hadoop.fs.Path(s"$path/$sub")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) "absent"
      else fs.listStatus(p)
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted.mkString(";")
    }
  }

  /** The value for (`spark`, `path`), running `load` when there is no
    * entry or the on-disk fingerprint has moved since it was stored.
    */
  def getOrLoad(spark: SparkSession, path: String)(load: => V): V = {
    val key = (spark, path)
    val fp = fingerprint(spark, path)
    val hit = entries.synchronized(entries.get(key))
    if (hit != null && hit.fingerprint == fp) hit.value
    else {
      val v = load
      entries.synchronized {
        val prev = entries.get(key)
        if (prev != null && prev.fingerprint == fp) prev.value
        else { entries.put(key, Entry(fp, v)); v }
      }
    }
  }

  /** Drop `path`'s entry in every session (writers call this). */
  def invalidate(path: String): Unit =
    entries.synchronized { entries.keySet.removeIf(_._2 == path) }

  /** Live entries, all paths (for tests). */
  private[graft] def liveCount: Int = entries.synchronized(entries.size())

  /** Live entries for `path`, across sessions (for tests). */
  private[graft] def liveCount(path: String): Int = entries.synchronized {
    import scala.jdk.CollectionConverters._
    entries.keySet.asScala.count(_._2 == path)
  }
}

private[graft] object IndexMemo {
  // `serve` holds 1 live index and the Bench wave 3; an IVF entry is
  // about 8 KB of centroids (16 x 64 doubles) plus a frozen listing,
  // so 64 entries bound the memo near 1 MB with ample headroom.
  private val Capacity = 64
}
