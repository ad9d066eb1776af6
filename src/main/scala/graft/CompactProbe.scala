package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Million-small-file compaction probe (the reference's headline claim:
  * "consolidate millions of small files" — reference README.md:10).
  *
  * Driver-side listing (`InMemoryFileIndex`) is the canonical Spark
  * bottleneck at this file count: one `FileStatus` per file lives on
  * the driver, and naive listing is a serial `listStatus` walk. This
  * probe measures, end to end at the default 8g driver heap:
  *   - listing wall (metadata-only count: distributed directory listing
  *     + status scan; no file content opened),
  *   - bundle-assignment wall (the narrow prefix-sum pass),
  *   - full `compactDirectory` wall (list + assign + read payloads +
  *     one co-locating shuffle + parquet write),
  *   - incremental no-op wall with no watermark sidecar (the full
  *     anti-join fallback: million-path listing vs million-path
  *     processed-set) and again WITH the high-water mark (lists only
  *     dirs at/past the mark),
  *   - incremental delta wall (a small batch of new files folded into
  *     the million-file lake through the watermark fast path),
  *   - peak driver heap (50 ms sampler), and row-count verification of
  *     the written lake.
  *
  * Scale configuration, recorded in the artifact:
  *   - `spark.sql.files.openCostInBytes` is lowered from its 4 MiB
  *     default to 64 KiB: the default charges each file 4 MiB of
  *     phantom split budget, which at ~130-byte files packs only ~32
  *     files per task — ~31k tasks whose wall is pure scheduling
  *     overhead. 64 KiB packs ~2000 tiny files per task. A real
  *     cluster compacting millions of small objects makes exactly this
  *     trade (open cost on a warm store is far below 4 MiB).
  *   - shuffle partitions stay at the data-scaled default: the payload
  *     volume (~130 MB) is tiny; it is the FILE COUNT being probed.
  *
  * Usage: runMain graft.CompactProbe <inputDir> <outputDir>
  *        [targetBundleBytes] [layout]
  * `layout` (default `flat`) picks the late-delta partition path and the
  * artifact name: `flat` drops the delta under `date=2099-01-01/hour=00`
  * and writes BENCH_smallfile_probe.json; `nested` uses the reference
  * flusher's own `year=/month=/day=` shape (`year=2099/month=01/day=01`)
  * and writes BENCH_smallfile_probe_nested.json — same tree depth as the
  * lake under probe, so the full-relative-path watermark is exercised at
  * its real granularity.
  */
object CompactProbe {
  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = args(1)
    val targetBytes = if (args.length > 2) args(2).toLong else 8L << 20
    val layout = if (args.length > 3) args(3) else "flat"
    require(layout == "flat" || layout == "nested", s"bad layout: $layout")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    // Distributed-listing task width is Spark's own
    // `spark.sql.sources.parallelPartitionDiscovery.parallelism`
    // (default 10000), set through Spark's conf channel like any other
    // conf; SURVEY.md records why it is a wash on local disk.
    implicit val spark: SparkSession = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.openCostInBytes", (64L * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // peak-heap sampler: daemon thread, 50 ms cadence — coarse but
    // enough to catch a listing that balloons the driver
    val peakHeap = new java.util.concurrent.atomic.AtomicLong(0)
    val sampler = new Thread(() => {
      while (true) {
        val rt = Runtime.getRuntime
        val used = rt.totalMemory() - rt.freeMemory()
        peakHeap.accumulateAndGet(used, math.max(_, _))
        Thread.sleep(50)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def listing() = spark.read.format("binaryFile").load(inDir)
      .select(col("path"), col("modificationTime"), col("length"))
      .filter(col("length") > 0)

    // A: listing + status scan only (column pruning keeps binaryFile
    // from opening any file for these three metadata columns)
    val (nFiles, tList) = timed(listing().count())

    // B: bundle assignment over a fresh listing (narrow prefix-sum;
    // includes its own re-list, so tAssign - tList ≈ pure assignment)
    val (nAssigned, tAssign) = timed {
      graft.operators.Compactor.withBundleId(
        listing(), col("modificationTime"), Seq(col("path")),
        col("length"), targetBytes).count()
    }

    // C: the real user path, end to end (fresh listing again)
    val (nBundles, tFull) = timed {
      val mf = graft.operators.Compactor.compactDirectory(
        inDir, outDir, targetBytes)
      mf.count()
    }

    // verify the lake before timing the incremental paths: every
    // non-empty input file became exactly one record
    val lake = spark.read.parquet(outDir)
    val lakeRows = lake.count()
    val lakePaths = lake.select("path").distinct().count()
    require(lakeRows == nFiles && lakePaths == nFiles,
      s"lake rows=$lakeRows distinctPaths=$lakePaths != listed files=$nFiles")

    // D: incremental with nothing new and NO watermark sidecar — the
    // full-anti-join fallback: 1M listing paths vs 1M processed paths,
    // both narrow. This pass installs the watermark as a side effect.
    val (noopRows, tIncrNoop) = timed {
      graft.operators.Compactor.compactDirectoryIncremental(
        inDir, outDir, targetBytes).count()
    }
    require(noopRows == 0L, s"no-op incremental made $noopRows bundles")
    require(graft.operators.Compactor.readWatermark(outDir).nonEmpty,
      "no-op pass should have installed the high-water mark")

    // D2: the same no-op WITH the watermark — lists only dirs at/past
    // the mark instead of the million-file tree
    val (noopRows2, tIncrNoopHwm) = timed {
      graft.operators.Compactor.compactDirectoryIncremental(
        inDir, outDir, targetBytes).count()
    }
    require(noopRows2 == 0L, s"hwm no-op incremental made $noopRows2 bundles")

    // E: a late-arriving hour of files, incrementally folded in. The
    // delta is removed again afterwards (finally) so the probe is
    // rerunnable over the same tree — leaving it would make the next
    // run's "no-op" phase see 1,003,000 files and silently break
    // cross-run comparability.
    val deltaDir =
      if (layout == "nested")
        java.nio.file.Paths.get(inDir, "year=2099", "month=01", "day=01")
      else java.nio.file.Paths.get(inDir, "date=2099-01-01", "hour=00")
    java.nio.file.Files.createDirectories(deltaDir)
    val deltaN = 1000
    val (deltaBundles, tIncrDelta, lakeRows2) =
      try {
        (0 until deltaN).foreach { i =>
          java.nio.file.Files.write(deltaDir.resolve(f"ev-$i%05d.json"),
            s"""{"ts":4070908800,"host":"h999","event":"late","seq":$i}""".getBytes("UTF-8"))
        }
        val (b, t) = timed {
          graft.operators.Compactor.compactDirectoryIncremental(
            inDir, outDir, targetBytes).count()
        }
        (b, t, spark.read.parquet(outDir).count())
      } finally {
        (0 until deltaN).foreach { i =>
          java.nio.file.Files.deleteIfExists(deltaDir.resolve(f"ev-$i%05d.json"))
        }
        // unwind every partition level the delta created (2 for flat,
        // 3 for nested), stopping at the lake root
        def empty(p: java.nio.file.Path): Boolean = {
          val s = java.nio.file.Files.list(p)
          try !s.findFirst().isPresent finally s.close()
        }
        var d = deltaDir
        val stop = java.nio.file.Paths.get(inDir)
        while (d != null && d != stop &&
            java.nio.file.Files.isDirectory(d) && empty(d)) {
          java.nio.file.Files.deleteIfExists(d)
          d = d.getParent
        }
      }
    require(deltaBundles > 0 && lakeRows2 == nFiles + deltaN,
      s"delta pass: bundles=$deltaBundles rows=$lakeRows2 expected=${nFiles + deltaN}")

    graft.operators.Caches.release()
    val heapMax = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val peakMb = peakHeap.get() / (1024 * 1024)
    def f2(d: Double) = math.round(d * 100.0) / 100.0
    val json =
      s"""{"metric":"smallfile_compaction","layout":"$layout","n_files":$nFiles,""" +
      s""""listing_sec":${f2(tList)},"assign_sec":${f2(tAssign)},""" +
      s""""full_compact_sec":${f2(tFull)},"incr_noop_sec":${f2(tIncrNoop)},""" +
      s""""incr_noop_hwm_sec":${f2(tIncrNoopHwm)},""" +
      s""""incr_delta_sec":${f2(tIncrDelta)},"bundles":$nBundles,""" +
      s""""delta_files":$deltaN,"delta_bundles":$deltaBundles,""" +
      s""""target_bundle_bytes":$targetBytes,""" +
      s""""peak_driver_heap_mb":$peakMb,"driver_heap_max_mb":$heapMax,""" +
      s""""open_cost_bytes":65536,"cpus":$cpus,"verified_rows":$lakeRows2,"errors":0}"""
    val artifact = if (layout == "nested") "BENCH_smallfile_probe_nested.json"
                   else "BENCH_smallfile_probe.json"
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(artifact),
      (json + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => }
    println(json)
    spark.stop()
  }
}
