package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{CompactionConfig, Compactor, FlushConfig}
import graft.streaming.FlushStream

/** User-facing entry points mirroring the reference's API surface
  * (SURVEY §3: `LocalLakeCollector(root_dir, name, max_size_mb,
  * max_time_mins).start()`, `LocalLakeFlusher(root, filepath,
  * filename).start()` — `collectors/local_lake.py:20-82`,
  * `core/flusher.py:48-71`), so a reference user maps their two
  * objects onto two objects here:
  *
  *  - the COLLECTOR's poll-append-rotate loop becomes a one-shot batch
  *    compaction pass ([[LakeCollector.collect]]) — rerun it on a
  *    schedule for the reference's continuous behavior, or use the
  *    streaming size-rotation ([[FlushStream.sizeRotatedBundles]]) when
  *    per-record latency matters;
  *  - the FLUSHER's watchdog-event loop becomes a managed Structured
  *    Streaming query ([[LakeFlusher.start]]/[[LakeFlusher.stop]]),
  *    checkpointed exactly-once where the reference is at-most-once.
  *
  * S3 twins (`S3LakeCollector`/`S3LakeFlusher`) are these same calls
  * with `s3a://` URIs — pagination, listing and upload live in the
  * Hadoop S3A connector, not in API variants.
  */
final class LakeCollector(spark: SparkSession, config: CompactionConfig) {

  /** One compaction pass over the input directory; returns the bundle
    * manifest (the queryable upgrade of the reference's sidecar files).
    * Parquet bundles by default; a text codec in the config selects
    * concatenated text bundles (reference W2 gzip path).
    */
  def collect(): DataFrame = {
    implicit val s: SparkSession = spark
    config.codec match {
      case Some(c) if c != "none" =>
        Compactor.compactToText(config.inputDir, config.outputDir,
          config.targetBytes, Some(c), config.glob)
      case _ =>
        Compactor.compactDirectory(config.inputDir, config.outputDir,
          config.targetBytes, config.glob)
    }
  }

  /** Incremental pass (parquet bundles only): bundle just the files not
    * yet in the lake, appending bundle ids. Rerun on a schedule for the
    * reference's continuous-collector behavior with exactly-once
    * bundling per file ([[Compactor.compactDirectoryIncremental]]).
    * On date-partitioned inputs the pass maintains a listing
    * high-water-mark sidecar so steady-state reruns list only the
    * newest directories (monotone-arrival contract documented there;
    * delete the sidecar to force a full pass after a backfill).
    *
    * @param watermark fast-path policy: [[Compactor.WatermarkAuto]]
    *                  enables the sidecar only on date-shaped layouts;
    *                  [[Compactor.WatermarkOn]] opts any uniform `k=v`
    *                  layout in (caller asserts monotone arrivals);
    *                  [[Compactor.WatermarkOff]] always full anti-join
    */
  def collectIncremental(
      watermark: Compactor.WatermarkMode = Compactor.WatermarkAuto): DataFrame = {
    implicit val s: SparkSession = spark
    require(config.codec.forall(_ == "none"),
      "incremental collection writes parquet bundles (path-tracked)")
    Compactor.compactDirectoryIncremental(config.inputDir, config.outputDir,
      config.targetBytes, config.glob, watermark)
  }

  /** Parquet-lake OPTIMIZE: rewrite `inputDir`'s many small parquet
    * files into ~targetBytes files at `outputDir`, preserving the
    * partition layout, every row and every column, also one that only
    * later files carry ([[Compactor.optimizeParquet]]: the bundles are
    * planned on the driver from the read's own listing) — the
    * maintenance pass that keeps a streaming sink's lake scannable.
    */
  def optimize(): DataFrame = {
    implicit val s: SparkSession = spark
    Compactor.optimizeParquet(config.inputDir, config.outputDir,
      config.targetBytes)
  }
}

final class LakeFlusher(spark: SparkSession, config: FlushConfig) {

  @volatile private var active: Option[StreamingQuery] = None

  /** Begin shipping collected bundles to the partitioned destination.
    * Continuous by default (processing-time trigger, the reference's
    * 1 s poll loop); pass `Trigger.AvailableNow()` to drain-and-stop.
    */
  def start(trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    synchronized {
      require(active.isEmpty, "flusher already started")
      val q = FlushStream.flushToPartitionedLake(spark, config.collectedDir,
        config.destDir, config.checkpointDir, trigger,
        maxFileAge = config.maxFileAge)
      active = Some(q)
      q
    }

  /** Graceful stop (reference KeyboardInterrupt path: observer.stop +
    * join). Restarting later resumes from the checkpoint — nothing
    * re-shipped, nothing lost.
    */
  def stop(): Unit = synchronized {
    active.foreach(_.stop())
    active = None
  }

  def isActive: Boolean = active.exists(_.isActive)
}
