package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.api.{LakeCollector, LakeFlusher}
import graft.operators.{CompactionConfig, FlushConfig}

/** The reference-shaped user API: collector pass then flusher lifecycle
  * (start -> drain -> stop -> restart resumes from checkpoint).
  */
class ApiSpec extends SparkSpec {

  test("LakeCollector one-shot pass bundles a small-file lake") {
    val in = tmpDir("api_in"); val out = tmpDir("api_out")
    (1 to 20).foreach { i =>
      val p = Paths.get(in.toString, s"f$i.json")
      Files.write(p, (s"""{"i":$i,"pad":"${"x" * 50}"}""").getBytes("UTF-8"))
      p.toFile.setLastModified(1700000000000L + i * 1000L)
    }
    val manifest = new LakeCollector(spark,
      CompactionConfig(in.toString, out.toString, targetBytes = 256L)).collect()
    val m = manifest.agg(sum("n_records"), count(lit(1))).collect()(0)
    assert(m.getLong(0) == 20)        // every record bundled
    assert(m.getLong(1) > 1)          // actually rotated into >1 bundle
    // bundles are readable back with their lineage columns
    val back = spark.read.parquet(out.toString)
    assert(back.count() == 20)
    assert(back.columns.contains("bundle_id"))
  }

  test("incremental compaction bundles only new files, appending bundle ids") {
    implicit val s = spark
    import graft.operators.Compactor
    val in = tmpDir("inc_in"); val out = tmpDir("inc_out")
    def addFiles(from: Int, to: Int): Unit = (from to to).foreach { i =>
      val p = Paths.get(in.toString, s"f$i.json")
      Files.write(p, (s"""{"i":$i,"pad":"${"y" * 40}"}""").getBytes("UTF-8"))
      p.toFile.setLastModified(1700000000000L + i * 1000L)
    }
    // 56-57-byte files under a 128-byte target: two or three files per
    // bundle, so 30 files give at least 11 bundles (ids past 9)
    addFiles(1, 30)
    val m1 = Compactor.compactDirectoryIncremental(in.toString, out.toString, 128L)
    val bundles1 = m1.select("bundle_id").collect().map(_.getLong(0)).toSet
    assert(m1.agg(sum("n_records")).collect()(0).getLong(0) == 30)
    assert(bundles1.size >= 11)

    // second pass, nothing new -> empty manifest, lake unchanged
    val m2 = Compactor.compactDirectoryIncremental(in.toString, out.toString, 128L)
    assert(m2.count() == 0)
    assert(spark.read.parquet(out.toString).count() == 30)

    // add files -> only they are bundled, with ids continuing at the old
    // maximum + 1 and contiguous. A lexicographic max over the
    // bundle_id=N dirs would pick 9 and reuse ids 10.. instead.
    addFiles(31, 35)
    val m3 = Compactor.compactDirectoryIncremental(in.toString, out.toString, 128L)
    assert(m3.agg(sum("n_records")).collect()(0).getLong(0) == 5)
    val bundles3 = m3.select("bundle_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(bundles3.nonEmpty && bundles3 == (bundles1.max + 1 to bundles3.max))
    val back = spark.read.parquet(out.toString)
    assert(back.count() == 35)
    assert(back.select("path").distinct().count() == 35) // no re-bundling
  }

  test("incremental watermark fast path: date-partitioned deltas, monotone contract, fallback") {
    implicit val s = spark
    import graft.operators.Compactor
    val in = tmpDir("hwm_in"); val out = tmpDir("hwm_out")
    def add(dir: String, ids: Range): Unit = {
      val d = Paths.get(in.toString, dir, "hour=00")
      Files.createDirectories(d)
      ids.foreach { i =>
        val p = d.resolve(s"f$i.json")
        Files.write(p, s"""{"i":$i,"pad":"${"z" * 40}"}""".getBytes("UTF-8"))
        p.toFile.setLastModified(1700000000000L + i * 1000L)
      }
    }
    add("date=2024-01-01", 1 to 5)
    add("date=2024-01-02", 6 to 10)
    val m1 = Compactor.compactDirectoryIncremental(in.toString, out.toString, 128L)
    assert(m1.agg(sum("n_records")).collect()(0).getLong(0) == 10)
    // the initial pass installs the sidecar at the newest bundled dir,
    // at FULL partition depth
    assert(Compactor.readWatermark(out.toString)
      .contains("date=2024-01-02/hour=00"))

    // a new date dir: the fast path lists only dirs >= the mark and
    // still finds exactly the delta
    add("date=2024-01-03", 11 to 12)
    val m2 = Compactor.compactDirectoryIncremental(in.toString, out.toString, 128L)
    assert(m2.agg(sum("n_records")).collect()(0).getLong(0) == 2)
    assert(Compactor.readWatermark(out.toString)
      .contains("date=2024-01-03/hour=00"))
    // late files in the CURRENT mark dir are caught (>= is inclusive)
    add("date=2024-01-03", 13 to 13)
    assert(Compactor.compactDirectoryIncremental(in.toString, out.toString, 128L)
      .agg(sum("n_records")).collect()(0).getLong(0) == 1)

    // the documented monotone-arrival contract: a backfill BELOW the
    // mark is invisible to the fast path...
    add("date=2024-01-01", 14 to 14)
    assert(Compactor.compactDirectoryIncremental(in.toString, out.toString, 128L)
      .count() == 0)
    // ...and deleting the sidecar restores the full anti-join, which
    // finds it — correctness never depends on the watermark
    val (fs, wm) = {
      val p = new org.apache.hadoop.fs.Path(out.toString, Compactor.WatermarkFile)
      (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    }
    fs.delete(wm, false)
    val m4 = Compactor.compactDirectoryIncremental(in.toString, out.toString, 128L)
    assert(m4.agg(sum("n_records")).collect()(0).getLong(0) == 1)
    val back = spark.read.parquet(out.toString)
    assert(back.count() == 14)
    assert(back.select("path").distinct().count() == 14)
  }

  test("nested year=/month=/day= watermark: day-granular marks, month/year rollover, coarse-mark back-compat") {
    implicit val s = spark
    import graft.operators.Compactor
    val in = tmpDir("nest_in"); val out = tmpDir("nest_out")
    var seq = 0
    def add(rel: String, n: Int): Unit = {
      val d = Paths.get(in.toString, rel)
      Files.createDirectories(d)
      (1 to n).foreach { _ =>
        seq += 1
        val p = d.resolve(s"f$seq.json")
        Files.write(p, s"""{"i":$seq,"pad":"${"z" * 40}"}""".getBytes("UTF-8"))
        p.toFile.setLastModified(1700000000000L + seq * 1000L)
      }
    }
    def pass() = Compactor.compactDirectoryIncremental(
        in.toString, out.toString, 128L)
      .agg(coalesce(sum("n_records"), lit(0L))).collect()(0).getLong(0)
    add("year=2023/month=12/day=30", 3)
    add("year=2023/month=12/day=31", 3)
    add("year=2024/month=01/day=01", 2)
    assert(pass() == 8)
    // full-depth (day-granular) mark, not the year-granular first level
    assert(Compactor.readWatermark(out.toString)
      .contains("year=2024/month=01/day=01"))
    // delta within the month, then across a month boundary — the
    // boundary-chain walk must keep finding exactly the delta
    add("year=2024/month=01/day=02", 2)
    assert(pass() == 2)
    assert(Compactor.readWatermark(out.toString)
      .contains("year=2024/month=01/day=02"))
    add("year=2024/month=02/day=01", 2)
    assert(pass() == 2)
    // a COARSE mark (an old first-level sidecar) stays valid — prunes at
    // year granularity — and the next bundling pass refines it to full
    // depth
    val (fs, wm) = {
      val p = new org.apache.hadoop.fs.Path(out.toString, Compactor.WatermarkFile)
      (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    }
    val o = fs.create(wm, true)
    o.write("""{"max_dir":"year=2024"}""".getBytes("UTF-8")); o.close()
    add("year=2024/month=02/day=02", 1)
    assert(pass() == 1)
    assert(Compactor.readWatermark(out.toString)
      .contains("year=2024/month=02/day=02"))
    // monotone contract at day granularity: a backfill below the mark is
    // invisible to the fast path; WatermarkOff always sees it
    add("year=2023/month=12/day=29", 1)
    assert(pass() == 0)
    assert(Compactor.compactDirectoryIncremental(in.toString, out.toString,
        128L, watermark = Compactor.WatermarkOff)
      .agg(sum("n_records")).collect()(0).getLong(0) == 1)
    assert(spark.read.parquet(out.toString).count() == seq)
  }

  test("watermark gate: non-date k=v layouts never auto-enable; WatermarkOn opts in") {
    implicit val s = spark
    import graft.operators.Compactor
    val in = tmpDir("gate_in"); val out = tmpDir("gate_out")
    var seq = 0
    def add(rel: String, n: Int): Unit = {
      val d = Paths.get(in.toString, rel)
      Files.createDirectories(d)
      (1 to n).foreach { _ =>
        seq += 1
        val p = d.resolve(s"f$seq.json")
        Files.write(p, s"""{"i":$seq,"pad":"${"z" * 40}"}""".getBytes("UTF-8"))
        p.toFile.setLastModified(1700000000000L + seq * 1000L)
      }
    }
    def pass(mode: Compactor.WatermarkMode = Compactor.WatermarkAuto) =
      Compactor.compactDirectoryIncremental(in.toString, out.toString, 128L,
          watermark = mode)
        .agg(coalesce(sum("n_records"), lit(0L))).collect()(0).getLong(0)
    add("host=h2/part=a", 3)
    add("host=h5/part=b", 3)
    assert(pass() == 6)
    // auto mode: host= is not a chronological key — no sidecar, so a
    // "backfill" into a lexicographically-low dir is always found
    assert(Compactor.readWatermark(out.toString).isEmpty)
    add("host=h1/part=c", 2)
    assert(pass() == 2)
    // opt-in: the caller asserts monotone arrivals over their key
    assert(pass(Compactor.WatermarkOn) == 0)
    assert(Compactor.readWatermark(out.toString).contains("host=h5/part=b"))
    add("host=h6/part=d", 1)
    assert(pass(Compactor.WatermarkOn) == 1)
    // and AUTO mode IGNORES a mark it would not have installed: the
    // below-mark backfill is still found by the default path
    add("host=h0/part=e", 1)
    assert(pass() == 1)
    assert(spark.read.parquet(out.toString).count() == seq)
  }

  /** `n` small json files per hour under `root/date=2026-01-01/hour=HH`,
    * numbered on from `seq`, with increasing mtimes. */
  private class HourLake(root: java.io.File) {
    var seq = 0
    def addHour(hour: Int, n: Int): Unit = {
      val d = Paths.get(root.toString, "date=2026-01-01", f"hour=$hour%02d")
      Files.createDirectories(d)
      (1 to n).foreach { _ =>
        seq += 1
        val p = d.resolve(s"f$seq.json")
        Files.write(p, s"""{"i":$seq,"pad":"${"w" * 40}"}""".getBytes("UTF-8"))
        p.toFile.setLastModified(1700000000000L + seq * 1000L)
      }
    }
  }

  test("incremental pass job budget: one steady-state date=/hour= fold runs <= 5 jobs") {
    implicit val s = spark
    import graft.operators.Compactor
    val in = tmpDir("budget_in"); val out = tmpDir("budget_out")
    val lake = new HourLake(in)
    def pass(): Array[org.apache.spark.sql.Row] =
      Compactor.compactDirectoryIncremental(in.toString, out.toString, 1024L)
        .collect()
    (0 until 3).foreach(lake.addHour(_, 20))
    pass() // the initial full pass installs the watermark
    lake.addHour(3, 20)
    pass() // one warm incremental fold: steady state from here on
    lake.addHour(4, 50)
    val (mf, jobs) = countJobs(pass())
    assert(mf.map(_.getAs[Long]("n_records")).sum == 50)
    assert(spark.read.parquet(out.toString).count() == 130)
    // Observed composition (AQE on, the suite's session) = 5 jobs: 2
    // for the delta (the listing's broadcast and the lake-path scan
    // semi-joined to it, collected), 3 for the append (plan broadcast,
    // content scan into the bundle repartition, write). The lake is read
    // with the schema the passes write, after one footer read on the
    // driver; the plan and the manifest are driver rows: the manifest
    // collect runs no job.
    assert(jobs <= 5, s"too many driver round-trips: $jobs jobs")
  }

  test("incremental pass job budget: a fold with nothing new runs <= 3 jobs") {
    implicit val s = spark
    import graft.operators.Compactor
    val in = tmpDir("noop_in"); val out = tmpDir("noop_out")
    val lake = new HourLake(in)
    def pass(): Array[org.apache.spark.sql.Row] =
      Compactor.compactDirectoryIncremental(in.toString, out.toString, 1024L)
        .collect()
    (0 until 3).foreach(lake.addHour(_, 20))
    pass()
    lake.addHour(3, 20)
    pass()
    // the lake's schema read and the delta's two jobs; the empty
    // manifest is a local relation
    val (mf, jobs) = countJobs(pass())
    assert(mf.isEmpty)
    assert(spark.read.parquet(out.toString).count() == 80)
    assert(jobs <= 3, s"no-op fold ran $jobs jobs")
  }

  test("full pass job budget: a warm compactDirectory and a compactToText run <= 3 jobs each") {
    implicit val s = spark
    import graft.operators.Compactor
    val in = tmpDir("full_budget_in")
    val lake = new HourLake(in)
    (0 until 3).foreach(lake.addHour(_, 40))
    def full(): Array[org.apache.spark.sql.Row] =
      Compactor.compactDirectory(in.toString, tmpDir("full_budget_out").toString, 1024L)
        .collect()
    full()
    // plan broadcast, content scan into the bundle repartition, write;
    // the manifest is a local relation
    val (mf, jobs) = countJobs(full())
    assert(mf.map(_.getAs[Long]("n_records")).sum == 120)
    assert(jobs <= 3, s"warm compactDirectory ran $jobs jobs")
    val (text, textJobs) = countJobs(Compactor.compactToText(in.toString,
      tmpDir("full_budget_txt").toString, 1024L).collect())
    assert(text.map(_.getAs[Long]("n_records")).sum == 120)
    assert(textJobs <= 3, s"compactToText ran $textJobs jobs")
  }

  test("LakeFlusher lifecycle: start/drain/stop, restart ships nothing twice") {
    val collected = tmpDir("api_coll"); val dest = tmpDir("api_dest")
    val ckpt = tmpDir("api_ckpt")
    (1 to 3).foreach { i =>
      val p = Paths.get(collected.toString, s"b$i.collected")
      Files.write(p, s"payload-$i\n".getBytes("UTF-8"))
      p.toFile.setLastModified(1700000000000L)
    }
    val flusher = new LakeFlusher(spark,
      FlushConfig(collected.toString, dest.toString, ckpt.toString))
    val q = flusher.start(Trigger.AvailableNow())
    q.awaitTermination(60000)
    flusher.stop()
    assert(!flusher.isActive)
    assert(spark.read.parquet(dest.toString).count() == 3)

    // restart from the same checkpoint: exactly-once, nothing re-shipped
    val q2 = flusher.start(Trigger.AvailableNow())
    q2.awaitTermination(60000)
    flusher.stop()
    assert(spark.read.parquet(dest.toString).count() == 3)

    // double-start is rejected while active
    val q3 = flusher.start(Trigger.AvailableNow())
    intercept[IllegalArgumentException](flusher.start())
    q3.awaitTermination(60000)
    flusher.stop()
  }

  test("optimize rewrites a fragmented partitioned parquet lake: rows exact, files collapsed, layout kept") {
    import spark.implicits._
    val in = tmpDir("opt_in"); val out = tmpDir("opt_out")
    // a streaming-sink-shaped lake: 2 partitions x 16 tiny part files
    val src = (1 to 2000).map(i => (i.toLong, s"payload_${i}_${"x" * 40}", i % 2))
      .toDF("id", "payload", "p")
    src.repartition(16).write.mode("overwrite").partitionBy("p").parquet(in.toString)
    val inFiles = Files.walk(Paths.get(in.toString)).iterator()
    val nIn = { var n = 0; while (inFiles.hasNext) {
      if (inFiles.next().toString.endsWith(".parquet")) n += 1 }; n }
    assert(nIn >= 20, s"fixture not fragmented enough: $nIn files")

    val manifest = new LakeCollector(spark,
      CompactionConfig(in.toString, out.toString, targetBytes = 1L << 20)).optimize()
    // every input file planned into exactly one bundle
    assert(manifest.agg(sum("n_files")).collect()(0).getLong(0) == nIn)

    // rows preserved EXACTLY (values and partition column round-trip)
    val back = spark.read.parquet(out.toString)
    assert(back.columns.sorted.sameElements(src.columns.sorted))
    assert(back.count() == 2000)
    assert(src.exceptAll(back.select("id", "payload", "p")).isEmpty &&
           back.select("id", "payload", "p").exceptAll(src).isEmpty)

    // files collapsed: at 1 MiB target this tiny lake fits one file per
    // partition dir; layout preserved means pruning still works
    val outFiles = Files.walk(Paths.get(out.toString)).iterator()
    var byDir = Map.empty[String, Int]
    while (outFiles.hasNext) {
      val f = outFiles.next()
      if (f.toString.endsWith(".parquet"))
        byDir = byDir.updated(f.getParent.getFileName.toString,
          byDir.getOrElse(f.getParent.getFileName.toString, 0) + 1)
    }
    assert(byDir.keySet == Set("p=0", "p=1"), s"partition layout lost: $byDir")
    assert(byDir.values.forall(_ == 1), s"not collapsed: $byDir")
    val pruned = back.filter($"p" === 1).queryExecution.executedPlan.toString
    assert(pruned.contains("PartitionFilters: [isnotnull(p"),
      s"partition pruning lost on the optimized lake:\n$pruned")
  }

  test("optimize refuses a lake with non-'*.parquet' data files instead of dropping their rows") {
    // The row scan reads every file of the relation; the planning
    // listing is '*.parquet'-globbed. A mismatched extension used to
    // mean the inner join silently dropped that file's rows from the
    // "optimized" output — now it must fail loudly before writing.
    import spark.implicits._
    val in = tmpDir("opt_guard_in"); val out = tmpDir("opt_guard_out")
    (1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(2).write.mode("overwrite").parquet(in.toString)
    val parts = Files.walk(Paths.get(in.toString)).iterator()
    var renamed = false
    while (parts.hasNext && !renamed) {
      val f = parts.next()
      if (f.toString.endsWith(".parquet")) {
        Files.move(f, f.resolveSibling("data.dat")); renamed = true
      }
    }
    assert(renamed, "fixture: no part file found to rename")
    val e = intercept[IllegalArgumentException] {
      new LakeCollector(spark,
        CompactionConfig(in.toString, out.toString, targetBytes = 1L << 20)).optimize()
    }
    assert(e.getMessage.contains("no bundle assignment"),
      s"wrong failure: ${e.getMessage}")
  }

  /** The `.parquet` files under `dir`, per parent directory name. */
  private def partFiles(dir: java.io.File): Map[String, Int] = {
    val it = Files.walk(dir.toPath).iterator()
    var byDir = Map.empty[String, Int]
    while (it.hasNext) {
      val f = it.next()
      if (f.toString.endsWith(".parquet")) {
        val d = f.getParent.getFileName.toString
        byDir = byDir.updated(d, byDir.getOrElse(d, 0) + 1)
      }
    }
    byDir
  }

  test("optimize rewrites a lake whose path needs URI escaping: rows exact, layout kept") {
    import spark.implicits._
    // a space, a non-ASCII letter and a '+': the row scan's file URI
    // spells the directory escaped, a file status's path does not
    val root = new java.io.File(tmpDir("opt_escape"), "la ke é+x")
    val in = new java.io.File(root, "in"); val out = new java.io.File(root, "out")
    val src = (1 to 400).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "p")
    src.repartition(8).write.partitionBy("p").parquet(in.toString)
    val nIn = partFiles(in).values.sum
    assert(nIn >= 10, s"fixture not fragmented enough: $nIn files")

    val manifest = new LakeCollector(spark,
      CompactionConfig(in.toString, out.toString, targetBytes = 1L << 20)).optimize()
    assert(manifest.agg(sum("n_files")).collect()(0).getLong(0) == nIn)
    val back = spark.read.parquet(out.toString).select("id", "v", "p")
    assert(src.exceptAll(back).isEmpty && back.exceptAll(src).isEmpty)
    assert(partFiles(out) == Map("p=0" -> 1, "p=1" -> 1), s"layout: ${partFiles(out)}")
  }

  test("optimize keeps a column that only later partitions carry") {
    import spark.implicits._
    val in = tmpDir("opt_added_in"); val out = tmpDir("opt_added_out")
    val d1 = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val d2 = (201 to 400).map(i => (i.toLong, s"v$i", s"e$i")).toDF("id", "v", "extra")
    d1.repartition(2).write.parquet(s"$in/day=d1")
    d2.repartition(2).write.parquet(s"$in/day=d2")
    new LakeCollector(spark,
      CompactionConfig(in.toString, out.toString, targetBytes = 1L << 20)).optimize()
    val back = spark.read.parquet(out.toString)
    assert(back.columns.sorted.sameElements(Array("day", "extra", "id", "v")),
      s"columns: ${back.columns.mkString(",")}")
    val want = d1.withColumn("extra", lit(null).cast("string")).withColumn("day", lit("d1"))
      .unionByName(d2.withColumn("day", lit("d2")))
    val got = back.select("id", "v", "extra", "day")
    assert(want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty)
    assert(back.filter($"extra".isNotNull).count() == 200)
  }

  test("optimize job budget: the pass and its manifest collect <= 4 jobs, no cache left registered") {
    import spark.implicits._
    import graft.operators.{Caches, Compactor}
    val in = tmpDir("opt_jobs_in"); val out = tmpDir("opt_jobs_out")
    (1 to 2000).map(i => (i.toLong, s"payload_$i", i % 2)).toDF("id", "payload", "p")
      .repartition(8).write.mode("overwrite").partitionBy("p").parquet(in.toString)
    assert(partFiles(in).values.sum == 16)
    val live = Caches.liveCount
    // the footer merge, the shuffle to (partition dir, bundle) and the
    // write; the manifest is a local relation
    val (m, jobs) = countJobs(
      Compactor.optimizeParquet(in.toString, s"$out/0", 1L << 20)(spark).collect())
    assert(jobs <= 4, s"optimizeParquet ran $jobs jobs")
    assert(m.map(_.getAs[Long]("n_files")).sum == 16)
    (1 to 2).foreach(i => Compactor.optimizeParquet(in.toString, s"$out/$i", 1L << 20)(spark))
    assert(Caches.liveCount == live, s"Caches grew ${live} -> ${Caches.liveCount}")
  }

  test("commitOptimized swaps the optimized lake in at the original path, retiring a rollback copy") {
    import spark.implicits._
    import graft.operators.Compactor
    val in = tmpDir("opt_commit_in"); val out = tmpDir("opt_commit_out")
    (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(8).write.mode("overwrite").parquet(in.toString)
    def nParts(dir: String) = {
      val it = Files.walk(Paths.get(dir)).iterator()
      var n = 0
      while (it.hasNext) if (it.next().toString.endsWith(".parquet")) n += 1
      n
    }
    assert(nParts(in.toString) == 8)

    Compactor.optimizeParquet(in.toString, out.toString, 1L << 20)(spark)
    val retired = Compactor.commitOptimized(in.toString, out.toString)(spark)

    // the ORIGINAL path now serves the collapsed lake, rows intact
    assert(nParts(in.toString) == 1, "promoted lake not collapsed")
    assert(spark.read.parquet(in.toString).count() == 500)
    // the fragmented copy is retired beside it, intact for rollback
    assert(Paths.get(retired).getFileName.toString.startsWith(
      in.getName + ".pre-optimize-"))
    assert(nParts(retired) == 8 && spark.read.parquet(retired).count() == 500)
    // and the staging path is gone — no second copy to double-read
    assert(!Files.exists(Paths.get(out.toString)))
  }
}
