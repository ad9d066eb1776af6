package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Serve-path memo for driver-side artifacts derived from on-disk
  * state — the load-side twin of [[BuildOnce]]. A persisted index or
  * table is read many times and rewritten rarely, so a driver job
  * whose answer depends only on the files (a one-row meta collect,
  * centroid rows, a parquet footer inference, a stats-manifest
  * collect) is paid once per on-disk version instead of per call.
  * Users:
  *  - [[AnnIndex.loadOnce]], [[AnnIndex.loadSketchMetaOnce]] and
  *    [[DsirIndex.loadOnce]]: persisted-index loads (lazy DataFrames
  *    in a value cache only their plan and the file listing frozen at
  *    load time; scans still execute per query);
  *  - `AnnIndex.residents`: a small sketch index's tables as primitive
  *    arrays, which [[AnnIndex.searchSketch]] searches on the driver;
  *  - [[Readers.parquet]]: the footer-inferred schema of a parquet
  *    read, fingerprinted on the session's parquet confs and stored
  *    with the listing it was inferred over, which each read's own
  *    listing is checked against (a mismatch infers again and
  *    [[replace]]s the entry); used by the sketch-index search and
  *    repair, the manifest-pruned scans and [[graft.Tables]];
  *  - `Compactor`'s stats manifests: the digest of each manifest's
  *    file set, plus its rows when the manifest is small enough to
  *    prune over locally ([[Compactor.readPrunedEq]] and its siblings);
  *  - [[Similarity.trainedCached]]: trained IVF centroids, keyed by
  *    the corpus plan's semantic hash and the training parameters,
  *    under a constant fingerprint.
  *
  * Semantics:
  *  - Freshness: each entry stores the fingerprint it was loaded
  *    under, computed on every lookup by the memo's `fingerprint`
  *    function — for an index, the SHA-256 of the sorted
  *    `(path, length, mtime)` listing of its `subdirs`
  *    ([[IndexMemo.apply]]; an `exists` + `listStatus` per subdir, no
  *    data read; a directory's mtime moves when files land under it),
  *    so an entry's size does not grow with the listing. A lookup
  *    whose fingerprint differs reloads, so a retrain-by-rewrite or an
  *    out-of-process append at the same path is never served stale.
  *    Index writers also call
  *    [[invalidate]], which covers a rewrite landing within one
  *    fs-mtime granule; the schema and manifest memos rely on the
  *    listing alone, since every Spark write lands new part-file names
  *    ([[Readers.appendParquet]] re-stores the writing session's schema
  *    entry under its new listing, so an append costs no inference).
  *  - One entry per (session, key): a rolled fingerprint REPLACES the
  *    key's entry, so N rewrites of a long-served index leave one live
  *    entry, not N+1. The key is a tuple, so the session compares by
  *    reference (`SparkSession` does not override `equals`); two
  *    sessions never share a value bound to the other's plans.
  *  - Bounded: an access-ordered LRU of 64 entries, so a session
  *    serving unboundedly many paths cannot grow driver memory without
  *    bound.
  *  - Released at the application's end: sessions are held strongly
  *    (every session in the project comes from `getOrCreate`), so a context's
  *    first entry in any memo registers one `SparkListener` on it,
  *    shared by every memo, whose `onApplicationEnd` drops every entry
  *    of that context's sessions. A stopped session's schemas,
  *    manifests and resident indexes, which nothing could reuse, are
  *    then not kept until the LRU pushes them out.
  *
  * Loads run outside the lock (they run Spark jobs); a lost race costs
  * one duplicate read of deterministic on-disk data. A load that
  * throws stores nothing.
  */
private[graft] final class IndexMemo[K, V](fingerprint: (SparkSession, K) => Any) {

  private type Key = (SparkSession, K)
  private final case class Entry(fingerprint: Any, value: V)

  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      size() > IndexMemo.Capacity
  }

  /** The value for (`spark`, `key`), running `load` when there is no
    * entry or the on-disk fingerprint has moved since it was stored.
    */
  def getOrLoad(spark: SparkSession, key: K)(load: => V): V = {
    val k = (spark, key)
    val fp = fingerprint(spark, key)
    val hit = entries.synchronized(entries.get(k))
    if (hit != null && hit.fingerprint == fp) hit.value
    else {
      val v = load
      IndexMemo.watch(spark.sparkContext)
      entries.synchronized {
        val prev = entries.get(k)
        if (prev != null && prev.fingerprint == fp) prev.value
        else { entries.put(k, Entry(fp, v)); v }
      }
    }
  }

  /** The value stored for (`spark`, `key`) under the current
    * fingerprint, if any; loads nothing.
    */
  def get(spark: SparkSession, key: K): Option[V] = {
    val fp = fingerprint(spark, key)
    Option(entries.synchronized(entries.get((spark, key))))
      .filter(_.fingerprint == fp).map(_.value)
  }

  /** Store `value` for (`spark`, `key`) under the current fingerprint,
    * replacing the entry. For a value that carries a check the
    * fingerprint cannot make before the load: [[Readers.parquet]]
    * stores the listing its schema was inferred over and compares it
    * with each read's own.
    */
  def replace(spark: SparkSession, key: K, value: V): V = {
    val fp = fingerprint(spark, key)
    IndexMemo.watch(spark.sparkContext)
    entries.synchronized(entries.put((spark, key), Entry(fp, value)))
    value
  }

  /** Drop `key`'s entry in every session (writers call this). */
  def invalidate(key: K): Unit =
    entries.synchronized { entries.keySet.removeIf(_._2 == key) }

  /** Drop every entry of a session on `sc`. */
  private def release(sc: SparkContext): Unit =
    entries.synchronized { entries.keySet.removeIf(_._1.sparkContext eq sc) }

  IndexMemo.register(this)

  /** Live entries, all keys (for tests). */
  private[graft] def liveCount: Int = entries.synchronized(entries.size())

  /** Live entries for `key`, across sessions (for tests). */
  private[graft] def liveCount(key: K): Int = entries.synchronized {
    import scala.jdk.CollectionConverters._
    entries.keySet.asScala.count(_._2 == key)
  }
}

private[graft] object IndexMemo {
  // `serve` holds 1 live index, its 3 table schemas, a lake and its
  // manifest, and the schemas of the tables its queries read; the
  // Bench wave 3 indexes, 10 tables and the s04 trained centroids. An
  // IVF entry is about 8 KB of centroids (16 x 64 doubles) plus a
  // frozen listing, a trained-centroid entry the same 8 KB without one,
  // and a schema is well under 1 KB, so 64 entries bound those memos
  // near 1 MB. A
  // manifest entry keeps rows only for a manifest of at most
  // `Compactor.LocalManifestBytes` (256 KiB) on disk, about 1 MB on
  // the driver, so that memo's worst case is under 100 MB; `serve`'s
  // one 24-row manifest is a few KB. A resident sketch index is held
  // only up to `AnnIndex.LocalIndexBytes` (1 MiB) on disk, about as
  // many bytes of float arrays, so that memo's worst case is
  // 64 x LocalIndexBytes = 64 MB; `serve`'s one index is about 0.33 MB.
  private val Capacity = 64

  /** Every memo, so that a context's end releases its entries in all
    * of them; weak, so a memo nothing else holds can be collected. */
  private val memos = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[IndexMemo[_, _], java.lang.Boolean]())

  /** The end-of-application hook of each context that has entries. */
  private val hooks = new java.util.IdentityHashMap[SparkContext, SparkListener]()

  private def register(memo: IndexMemo[_, _]): Unit = memos.synchronized(memos.add(memo))

  private def live: List[IndexMemo[_, _]] = {
    import scala.jdk.CollectionConverters._
    memos.synchronized(memos.asScala.toList)
  }

  /** Add `sc`'s hook at the context's first entry: when the
    * application ends, every memo drops the entries of its sessions,
    * which nothing could reuse, and the hook forgets the context.
    */
  private def watch(sc: SparkContext): Unit = hooks.synchronized {
    if (!hooks.containsKey(sc)) {
      val hook = new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          hooks.synchronized(hooks.remove(sc, this))
          live.foreach(_.release(sc))
        }
      }
      sc.addSparkListener(hook)
      hooks.put(sc, hook)
    }
  }

  /** `sc`'s registered hook, if it has one (for tests). */
  private[graft] def stopHook(sc: SparkContext): Option[SparkListener] =
    hooks.synchronized(Option(hooks.get(sc)))

  /** Live entries across every memo (for tests). */
  private[graft] def liveTotal: Int = live.map(_.liveCount).sum

  /** A memo keyed by index path, fingerprinted on the listing of the
    * index's `subdirs` (one level each, no data read).
    */
  def apply[V](subdirs: String*): IndexMemo[String, V] =
    new IndexMemo[String, V]((spark, path) => digest(subdirs.flatMap { sub =>
      val p = new org.apache.hadoop.fs.Path(s"$path/$sub")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Seq(s"$sub:absent")
      else listingLines(fs.listStatus(p).toSeq)
    }))

  /** Sorted `path:length:mtime` lines of `files`. */
  def listingLines(files: Seq[org.apache.hadoop.fs.FileStatus]): Seq[String] =
    files.map(s => s"${s.getPath}:${s.getLen}:${s.getModificationTime}").sorted

  /** Hex SHA-256 of `lines`: a fingerprint whose size does not grow
    * with the listing it stands for.
    */
  def digest(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l =>
      md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
