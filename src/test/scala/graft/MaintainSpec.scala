package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Compactor

/** [[graft.operators.Compactor.maintainLake]] — the one-call
  * compact + z-order + manifest-resync composition. Pins:
  *   - only DIRTY partitions (files unknown to the manifest) are
  *     rewritten; clean partitions are byte-untouched;
  *   - the manifest is live immediately after (prune active, rows
  *     exact);
  *   - idempotence: a second run rewrites nothing and leaves the lake
  *     file-set-identical.
  */
class MaintainSpec extends SparkSpec {

  test("maintainLake: dirty-only rewrite, manifest resync, idempotent second run") {
    implicit val s = spark
    import s.implicits._
    val lake = Files.createTempDirectory("graft-maint").toString
    // two day partitions of scattered (x, y)
    (0 until 8192).map { i =>
      val r = (i * 2654435761L) % 4096
      ((r % 64).toInt, (r / 64).toInt, i.toLong, s"d${i % 2}")
    }.toDF("x", "y", "id", "day").repartition(6)
      .write.mode("overwrite").partitionBy("day").parquet(lake)

    // run 1: no manifest -> everything dirty, all partitions rewritten
    val r1 = Compactor.maintainLake(lake, 2 * 1024, Seq("x", "y"))
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(r1.size == 2 && r1.values.forall(identity),
      s"first run must maintain every partition: $r1")
    val files1 = spark.read.parquet(lake).inputFiles.toSet
    assert(spark.read.parquet(lake).count() == 8192)

    // prune is live immediately: x-range read touches a strict subset
    val pruned = Compactor.readPruned(lake, "x", lit(3), lit(6))
    assert(pruned.count() ==
      spark.read.parquet(lake).filter($"x" >= 3 && $"x" <= 6).count())
    assert(pruned.inputFiles.length < files1.size)

    // run 2: nothing dirty -> nothing rewritten, lake byte-identical
    val r2 = Compactor.maintainLake(lake, 2 * 1024, Seq("x", "y"))
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(r2.values.forall(m => !m), s"second run must be a no-op: $r2")
    assert(spark.read.parquet(lake).inputFiles.toSet == files1,
      "an idempotent no-op must not touch a single file")

    // streaming residue lands in ONE partition -> only that partition
    // is rewritten; the other keeps its exact files
    val cleanFiles = files1.filter(_.contains("day=d1"))
    (0 until 512).map(i => (70, 99, 900000L + i, "d0"))
      .toDF("x", "y", "id", "day").coalesce(3)
      .write.mode("append").partitionBy("day").parquet(lake)
    val r3 = Compactor.maintainLake(lake, 2 * 1024, Seq("x", "y"))
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(r3("day=d0") && !r3("day=d1"), s"only the residue partition is dirty: $r3")
    assert(spark.read.parquet(lake).inputFiles.toSet
      .filter(_.contains("day=d1")) == cleanFiles,
      "the clean partition must be byte-untouched")
    assert(spark.read.parquet(lake).count() == 8192 + 512)
    // manifest covers the resynced lake: the new value range prunes to
    // the rewritten partition only, rows exact
    val p2 = Compactor.readPruned(lake, "x", lit(70), lit(70))
    assert(p2.count() == 512)
    assert(p2.inputFiles.forall(_.contains("day=d0")))
    // and a full-range parity check
    val full = spark.read.parquet(lake)
    val viaPrune = Compactor.readPruned(lake, "x", lit(0), lit(70))
    assert(viaPrune.count() == full.filter($"x" >= 0 && $"x" <= 70).count())
  }

  test("maintainLake preserves dict columns: point skip stays live across a maintenance pass") {
    implicit val s = spark
    import s.implicits._
    val lake = Files.createTempDirectory("graft-maint-dict").toString
    (0 until 8192).map { i =>
      val r = (i * 2654435761L) % 4096
      ((r % 64).toInt, (r / 64).toInt, (i % 40).toLong, s"d${i % 2}")
    }.toDF("x", "y", "user", "day").repartition(6)
      .write.mode("overwrite").partitionBy("day").parquet(lake)
    Compactor.maintainLake(lake, 2 * 1024, Seq("x", "y"))
    // a dict column enters the manifest by explicit rewrite...
    Compactor.writeStatsManifest(lake, Seq("x", "y"), dictCols = Seq("user"))
    assert(spark.read.parquet(s"$lake/${Compactor.StatsDir}")
      .columns.contains("dict_user"))
    // ...then new files land and maintenance resyncs the manifest —
    // the rebuilt manifest must carry dict_user forward (fresh stats
    // for rewritten partitions INCLUDE the dict), not silently drop
    // the point-skip coverage
    (8192 until 8448).map { i =>
      val r = (i * 2654435761L) % 4096
      ((r % 64).toInt, (r / 64).toInt, (i % 40).toLong, s"d${i % 2}")
    }.toDF("x", "y", "user", "day")
      .write.mode("append").partitionBy("day").parquet(lake)
    Compactor.maintainLake(lake, 2 * 1024, Seq("x", "y"))
    val man = spark.read.parquet(s"$lake/${Compactor.StatsDir}")
    assert(man.columns.contains("dict_user"),
      "maintenance must not drop dict columns from the manifest")
    assert(man.filter(col("dict_user").isNotNull).count() > 0,
      "rebuilt entries must carry real dictionaries")
    // and the dict actually prunes + answers exactly after the resync
    val got = Compactor.readPrunedEq(lake, Seq(("user", lit(7))))
    val full = spark.read.parquet(lake).filter($"user" === 7L)
    assert(got.count() == full.count() && full.count() > 0)
    assert(got.inputFiles.length < spark.read.parquet(lake).inputFiles.length,
      "dict must prune at least one file post-maintenance")
  }

  test("maintainLake on a FLAT lake: rewrite-all then no-op, manifest survives the swap") {
    implicit val s = spark
    import s.implicits._
    val lake = Files.createTempDirectory("graft-maint-flat").toString
    (0 until 4096).map { i =>
      val r = (i * 2654435761L) % 4096
      ((r % 64).toInt, (r / 64).toInt, i.toLong)
    }.toDF("x", "y", "id").repartition(5)
      .write.mode("overwrite").parquet(lake)
    val r1 = Compactor.maintainLake(lake, 2 * 1024, Seq("x", "y")).collect()
    assert(r1.length == 1 && r1(0).getBoolean(1))
    assert(spark.read.parquet(lake).count() == 4096)
    val files1 = spark.read.parquet(lake).inputFiles.toSet
    val r2 = Compactor.maintainLake(lake, 2 * 1024, Seq("x", "y")).collect()
    assert(r2.length == 1 && !r2(0).getBoolean(1), "second flat run must no-op")
    assert(spark.read.parquet(lake).inputFiles.toSet == files1)
    val pruned = Compactor.readPruned(lake, "x", lit(10), lit(12))
    assert(pruned.count() ==
      spark.read.parquet(lake).filter($"x" >= 10 && $"x" <= 12).count())
    assert(pruned.inputFiles.length < files1.size)
  }

  test("maintainLake resyncs after a pure DELETION: dead manifest rows dropped, no rewrite, prune live again") {
    implicit val s = spark
    import s.implicits._
    val lake = Files.createTempDirectory("graft-maint-del").toString
    (0 until 8192).map { i =>
      val r = (i * 2654435761L) % 4096
      ((r % 64).toInt, (r / 64).toInt, i.toLong, s"d${i % 2}")
    }.toDF("x", "y", "id", "day").repartition(6)
      .write.mode("overwrite").partitionBy("day").parquet(lake)
    Compactor.maintainLake(lake, 2 * 1024, Seq("x", "y"))

    // retention purge: delete one manifest-known data file, add nothing
    val victim = spark.read.parquet(lake).inputFiles
      .filter(_.contains("day=d0")).sorted.head
    val vp = new org.apache.hadoop.fs.Path(victim)
    val fs = vp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(vp, false))

    // the stale manifest (dead entry) disables the prune via the
    // correctness fallback: full scan, every file touched
    val before = Compactor.readPruned(lake, "x", lit(3), lit(6))
    val allFiles = spark.read.parquet(lake).inputFiles.toSet
    assert(before.inputFiles.toSet == allFiles,
      "a dead manifest entry must fall back to the full scan")

    // maintain: NO rewrite (nothing dirty), but the dead row is
    // dropped and the prune is live again — rows exact, subset read
    val files0 = allFiles
    val r = Compactor.maintainLake(lake, 2 * 1024, Seq("x", "y"))
      .collect().map(x => (x.getString(0), x.getBoolean(1))).toMap
    assert(r.values.forall(m => !m),
      s"a pure deletion must not rewrite any partition: $r")
    assert(spark.read.parquet(lake).inputFiles.toSet == files0,
      "deletion resync must not touch data files")
    val after = Compactor.readPruned(lake, "x", lit(3), lit(6))
    assert(after.count() ==
      spark.read.parquet(lake).filter($"x" >= 3 && $"x" <= 6).count())
    assert(after.inputFiles.length < files0.size,
      "the prune must be live again after the resync")
  }

  test("index small-file maintenance: appends accrete files, maintain " +
       "compacts past the threshold, selections are row-identical") {
    implicit val s = spark
    import s.implicits._
    import graft.operators.{Curation, DsirIndex}
    val dir = Files.createTempDirectory("graft-dsir-maint").toString
    val docs = Tables.load(spark, sf0001, "documents")
    val base = docs.filter($"doc_id" % 4 === 0)
    DsirIndex.write(dir, base, $"doc_id", $"text")
    // 3 day-appends, each landing its own file-set
    (1 to 3).foreach(d =>
      DsirIndex.append(dir, docs.filter($"doc_id" % 4 === d),
        $"doc_id", $"text"))
    def nFiles = spark.read.parquet(s"$dir/features").inputFiles.length
    val fragmented = nFiles
    assert(fragmented >= 4, s"appends should fragment the table: $fragmented")
    val targets = docs.filter($"source" === "src1").select($"doc_id")
    def sel = Curation.dsirSelectIndexed(spark, dir, targets, budget = 50)
      .collect().map(_.toSeq).toSet
    val before = sel
    // below threshold: listing-only no-op
    assert(!DsirIndex.maintain(spark, dir, maxFiles = fragmented))
    assert(nFiles == fragmented)
    // past threshold: rewrite shrinks the file count, rows exact
    assert(DsirIndex.maintain(spark, dir, maxFiles = 1))
    assert(nFiles < fragmented, s"maintain must shrink the file count")
    assert(sel == before, "maintenance must be row-preserving")
    // idempotent: the compacted table is below the threshold
    assert(!DsirIndex.maintain(spark, dir, maxFiles = nFiles))
  }

  test("sketch-index maintenance compacts every appended table and " +
       "searches stay row-identical") {
    implicit val s = spark
    import s.implicits._
    import graft.operators.AnnIndex
    val dir = Files.createTempDirectory("graft-sk-maint").toString
    val e = Tables.load(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding")
    AnnIndex.writeSketch(dir, e.filter($"vec_id" < 200))
    (0 until 3).foreach(d => AnnIndex.appendSketchVectors(dir,
      e.filter($"vec_id" >= 200 + d * 100 && $"vec_id" < 300 + d * 100)))
    def files(t: String) = spark.read.parquet(s"$dir/$t").inputFiles.length
    val (v0, s0) = (files("vectors"), files("sketches"))
    assert(v0 > 4 && s0 > 4, s"appends should fragment: vectors=$v0 sketches=$s0")
    val q = e.filter($"vec_id" < 5)
    def search = AnnIndex.searchSketch(spark, dir, q, k = 5, m = 50)
      .collect().map(_.toSeq).toSet
    val before = search
    assert(AnnIndex.maintainSketch(spark, dir, maxFiles = 4))
    assert(files("vectors") <= 4 || files("vectors") < v0)
    assert(files("sketches") < s0)
    assert(search == before, "sketch maintenance must be row-preserving")
    assert(!AnnIndex.maintainSketch(spark, dir, maxFiles = math.max(4,
      math.max(files("vectors"), files("sketches")))))
  }

  test("compactTableIf job budget: a no-op runs no job, a rewrite <= 5") {
    implicit val s = spark
    val dir = Files.createTempDirectory("graft-ctif-jobs").toString + "/t"
    spark.range(400).selectExpr("id", "cast(id as string) as v").repartition(8).write.parquet(dir)
    val (noop, j0) = countJobs(Compactor.compactTableIf(dir, maxFiles = 8))
    assert(!noop && j0 == 0, s"a no-op ran $j0 jobs")
    val (rewrote, j1) = countJobs(Compactor.compactTableIf(dir, maxFiles = 4))
    assert(rewrote && j1 <= 5, s"a rewrite ran $j1 jobs")
    val back = spark.read.parquet(dir)
    assert(back.inputFiles.length == 1 && back.count() == 400)
  }

  test("maintainLake job budget: a first run of a perfbench-shaped flat lake <= 9 jobs, a no-op <= 3") {
    implicit val s = spark
    val lake = Files.createTempDirectory("graft-maint-jobs").toString + "/lake"
    // as the serve benchmark lands its lake: lineitem in 24 part files,
    // maintained to 32 KiB files on l_orderkey
    spark.read.parquet(s"$sf0001/lineitem.parquet").repartition(24).write.parquet(lake)
    val in = spark.read.parquet(lake).count()
    def maintain() = Compactor.maintainLake(lake, 32L << 10, Seq("l_orderkey")).collect()
    // the lake's footer read, the count-and-quantile aggregate (2), the
    // range-partitioned write (3: bounds sample, exchange, write), the
    // stats read-back (2), the manifest write from driver rows
    val (first, jobs) = countJobs(maintain())
    assert(first.length == 1 && first(0).getBoolean(1) && first(0).getLong(3) == in)
    assert(jobs <= 9, s"first maintainLake ran $jobs jobs")
    // the lake's and the manifest's footer reads, the manifest's file list
    val (again, noop) = countJobs(maintain())
    assert(again.length == 1 && !again(0).getBoolean(1))
    assert(noop <= 3, s"no-op maintainLake ran $noop jobs")
    assert(spark.read.parquet(lake).count() == in)
  }

  test("maintainLake's manifest equals a fresh stats pass: flat, partitioned with dict columns, " +
       "after a pure deletion, under an encoded directory name") {
    implicit val s = spark
    import s.implicits._
    // a space and a non-ASCII letter in the lake's directory and in the
    // partition values: input_file_name() spells both URI-encoded
    val root = Files.createTempDirectory("graft-maint-eq").toString + "/la ke é"
    def data(from: Int, until: Int) = (from until until).map { i =>
      val r = (i * 2654435761L) % 4096
      ((r % 64).toInt, (r / 64).toInt, (i % 40).toLong, s"d é${i % 2}")
    }.toDF("x", "y", "user", "day")
    def manifest(lake: String) = {
      val m = spark.read.parquet(s"$lake/${Compactor.StatsDir}")
      (m.schema, m.collect().map(_.toString).sorted.toSeq)
    }
    // maintainLake's manifest, then the same lake's manifest written
    // afresh by a full stats pass: rows and schema equal
    def assertFresh(lake: String, dictCols: Seq[String]): Unit = {
      val (schema, rows) = manifest(lake)
      val written = Compactor.writeStatsManifest(lake, Seq("x", "y"), dictCols)
      val (wantSchema, want) = manifest(lake)
      assert(schema == wantSchema && written.schema == wantSchema)
      assert(rows.nonEmpty && rows == want, s"maintained manifest != fresh stats pass in $lake")
      assert(rows.length == spark.read.parquet(lake).inputFiles.length)
    }

    val flat = s"$root/flat"
    data(0, 4096).drop("day").repartition(5).write.parquet(flat)
    Compactor.maintainLake(flat, 2 * 1024, Seq("x", "y"))
    assertFresh(flat, Nil)

    val part = s"$root/part"
    data(0, 8192).repartition(6).write.partitionBy("day").parquet(part)
    Compactor.maintainLake(part, 2 * 1024, Seq("x", "y"))
    assertFresh(part, Nil)
    // dict columns, one of them the partition column: the resync keeps
    // the clean partition's rows and adds the rewritten partition's,
    // dictionaries included
    Compactor.writeStatsManifest(part, Seq("x", "y"), dictCols = Seq("user", "day"))
    data(8192, 8448).filter($"day" === "d é0").write.mode("append").partitionBy("day").parquet(part)
    val r = Compactor.maintainLake(part, 2 * 1024, Seq("x", "y"))
      .collect().map(x => (x.getString(0), x.getBoolean(1))).toMap
    assert(r == Map("day=d é0" -> true, "day=d é1" -> false), s"one dirty partition: $r")
    assertFresh(part, Seq("user", "day"))
    // a pure deletion: the dead row goes, nothing is rewritten
    val victim = spark.read.parquet(part).inputFiles.map(new java.net.URI(_))
      .filter(_.getPath.contains("/day=d é1/")).minBy(_.toString)
    val vp = new org.apache.hadoop.fs.Path(victim)
    assert(vp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(vp, false))
    val d = Compactor.maintainLake(part, 2 * 1024, Seq("x", "y")).collect()
    assert(d.forall(!_.getBoolean(1)), "a pure deletion must not rewrite")
    assertFresh(part, Seq("user", "day"))
  }

  test("guards: data files without the .parquet extension are refused, and the lake is left as it was") {
    implicit val s = spark
    import s.implicits._
    val lake = Files.createTempDirectory("graft-maint-ext").toString
    (0 until 1024).map(i => (i % 32, i.toLong)).toDF("x", "id").repartition(3)
      .write.mode("overwrite").parquet(lake)
    // rename every data file: still parquet, no longer '*.parquet'
    new java.io.File(lake).listFiles().filter(_.getName.endsWith(".parquet")).foreach(f =>
      assert(f.renameTo(new java.io.File(lake, f.getName.stripSuffix(".parquet") + ".data"))))
    val before = new java.io.File(lake).list().toSet
    assert(spark.read.parquet(lake).count() == 1024, "the renamed files stay readable")
    val z = intercept[IllegalArgumentException](
      Compactor.zorderParquet(lake, lake + ".z", 2 * 1024, Seq("x")))
    assert(z.getMessage.contains("no '*.parquet' files"), z.getMessage)
    val m = intercept[IllegalArgumentException](
      Compactor.maintainLake(lake, 2 * 1024, Seq("x")))
    assert(m.getMessage.contains("no '*.parquet' files"), m.getMessage)
    assert(new java.io.File(lake).list().toSet == before, "a refused maintain must not touch the lake")
    assert(spark.read.parquet(lake).count() == 1024)
  }

  test("a partition keeps its own columns: maintainLake and zorderParquet rewrite each " +
    "partition with that partition's schema, not the lake's") {
    implicit val s = spark
    import s.implicits._
    val lake = Files.createTempDirectory("graft-maint-evolve").toString
    // a column added in the later day: the lake-level read infers one
    // partition's footer, so it sees `extra` in one partition only
    (0 until 600).map(i => (i % 32, i / 32, i.toLong)).toDF("x", "y", "id")
      .repartition(3).write.parquet(s"$lake/day=d0")
    (0 until 600).map(i => (i % 32, i / 32, i.toLong, s"e$i")).toDF("x", "y", "id", "extra")
      .repartition(3).write.parquet(s"$lake/day=d1")
    val days = Seq("d0", "d1")
    def snapshot(root: String) = days.map { d =>
      val df = spark.read.parquet(s"$root/day=$d")
      (df.columns.toSeq, df.collect().map(_.toSeq.mkString("|")).sorted.toSeq)
    }
    val before = snapshot(lake)
    assert(before.map(_._1) == Seq(Seq("x", "y", "id"), Seq("x", "y", "id", "extra")))
    // the driver-side footer schema is the one a plain read infers
    days.foreach(d => assert(graft.operators.Readers.footerSchema(spark, s"$lake/day=$d")
      .contains(spark.read.parquet(s"$lake/day=$d").schema)))
    def assertKept(root: String, what: String): Unit =
      days.zip(snapshot(root)).zip(before).foreach { case ((d, (cols, rows)), (cols0, rows0)) =>
        assert(cols == cols0, s"$what: day=$d has columns $cols, expected $cols0")
        assert(rows == rows0, s"$what: day=$d rows changed")
      }

    Compactor.zorderParquet(lake, lake + ".z", 2 * 1024, Seq("x", "y")).collect()
    assertKept(lake + ".z", "zorderParquet")
    val r = Compactor.maintainLake(lake, 2 * 1024, Seq("x", "y")).collect()
    assert(r.forall(_.getBoolean(1)), "no manifest yet: every partition is rewritten")
    assertKept(lake, "maintainLake")
  }

  test("appendStatsManifest dup-guard catches a scheme-less spelling of a known path") {
    implicit val s = spark
    import s.implicits._
    val lake = Files.createTempDirectory("graft-maint-norm").toString
    (0 until 256).map(i => (i % 16, i.toLong)).toDF("x", "id")
      .repartition(2).write.mode("overwrite").parquet(lake)
    Compactor.writeStatsManifest(lake, Seq("x"))
    // manifest spells files file://...; the caller passes a bare path
    val bare = new java.io.File(lake).listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted.head
    assert(!bare.startsWith("file:"))
    val e = intercept[IllegalArgumentException](
      Compactor.appendStatsManifest(lake, Seq(bare)))
    assert(e.getMessage.contains("already in the manifest"))
  }
}
