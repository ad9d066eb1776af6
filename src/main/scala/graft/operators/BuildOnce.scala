package graft.operators

import org.apache.spark.sql.DataFrame

/** Session registry behind the `writeOnce` build-once amortization of
  * the persisted indexes ([[DsirIndex.writeOnce]],
  * [[AnnIndex.writeOnce]], [[AnnIndex.writeSketchOnce]]): an index is
  * built once and selected/searched many times, so repeated calls for
  * the same (source, params) reuse one on-disk build. Builds are
  * deterministic, so any winner's bytes are the right bytes.
  *
  * Two hygiene properties the per-object maps lacked (ADVICE r18):
  *
  *  - the key sees the BYTES behind the plan, not just its shape:
  *    `semanticHash()` is identical before and after an in-place
  *    overwrite of the source path, silently serving a stale index.
  *    Parquet overwrites rewrite part-file NAMES, so folding a
  *    fingerprint of the plan's sorted `inputFiles` into the key turns
  *    an overwrite into a cache miss. Non-file-backed plans (memory
  *    relations) contribute no files and fall back to the semantic
  *    hash alone — exactly the old behavior.
  *  - managed temp dirs are deleted at JVM exit (one shutdown hook,
  *    armed on first build) instead of accumulating one per
  *    (plan, params) for the JVM's lifetime.
  */
private[graft] object BuildOnce {

  private val builtDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val hookArmed =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Cache key for `df` under `params` (caller-formatted knobs). */
  def keyOf(df: DataFrame, params: String): String = {
    val files = df.inputFiles
    val fp =
      if (files.isEmpty) "nofiles"
      else {
        var h = 0L
        files.sorted.foreach { f =>
          h = h * 1000003L + scala.util.hashing.MurmurHash3.stringHash(f)
        }
        java.lang.Long.toHexString(h)
      }
    s"${df.queryExecution.analyzed.semanticHash()}:$fp:$params"
  }

  /** The managed temp dir for `key`, building it via `build` exactly
    * once per session (losing racers block on the map bin, as before).
    */
  def dirFor(key: String, prefix: String)(build: String => Unit): String =
    builtDirs.computeIfAbsent(key, _ => {
      if (hookArmed.compareAndSet(false, true))
        Runtime.getRuntime.addShutdownHook(
          new Thread(() => cleanupAll(), "graft-buildonce-cleanup"))
      val dir = java.nio.file.Files.createTempDirectory(prefix).toString
      build(dir)
      dir
    })

  private def cleanupAll(): Unit =
    builtDirs.values.forEach { d =>
      try {
        val root = java.nio.file.Paths.get(d)
        if (java.nio.file.Files.exists(root)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      } catch { case _: Exception => () } // exit-time best effort
    }
}
