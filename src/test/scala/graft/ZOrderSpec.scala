package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Compactor

/** Z-order clustering contract ([[graft.operators.Compactor.zorderParquet]]
  * + [[graft.expressions.ZValue]]): interleave correctness against a
  * reference bit-twiddle, row preservation, and the CLUSTERING PROPERTY
  * itself — per-file min/max spans shrink on EVERY z-ordered column,
  * which is the thing parquet stats pruning feeds on (a single-column
  * sort only tightens its own column; that contrast is asserted, not
  * narrated).
  */
class ZOrderSpec extends SparkSpec {

  test("z_value == reference Morton interleave, null element -> null") {
    import spark.implicits._
    import graft.expressions.NativeFns.z_value
    def ref(vals: Seq[Int], bits: Int): Long = {
      var z = 0L
      for (b <- 0 until bits; c <- vals.indices)
        z |= (((vals(c).toLong >> b) & 1L) << (b * vals.size + c))
      z
    }
    val rnd = new scala.util.Random(42)
    val cases = Seq.fill(200)((rnd.nextInt(4096), rnd.nextInt(4096)))
    val got = cases.toDF("x", "y")
      .select(z_value(array($"x", $"y"), 12).as("z"))
      .collect().map(_.getLong(0))
    val want = cases.map { case (x, y) => ref(Seq(x, y), 12) }
    assert(got.toSeq == want)
    // axis identities: interleaving (v, 0) spreads v's bits to even
    // positions; z is monotone along each axis at fixed other axis
    val gotAxis = Seq((5, 0), (0, 5), (4095, 4095)).toDF("x", "y")
      .select(z_value(array($"x", $"y"), 12).as("z"))
      .collect().map(_.getLong(0))
    assert(gotAxis(0) == ref(Seq(5, 0), 12) && gotAxis(1) == ref(Seq(0, 5), 12))
    assert(gotAxis(2) == (1L << 24) - 1) // all 24 low bits set
    val nulls = Seq((Some(1), Option.empty[Int])).toDF("x", "y")
      .select(z_value(array($"x", $"y"), 12).as("z")).collect()
    assert(nulls(0).isNullAt(0))
  }

  test("countAndQuantiles: the row count and the same bounds as count() and approxQuantile") {
    import spark.implicits._
    val probs = (1 until 256).map(_ / 256.0)
    def check(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Unit = {
      val (n, bounds) = Compactor.countAndQuantiles(df,
        cols.map(c => col(c).cast("double")), probs, 0.001)
      val qs = cols.indices.map(i => s"_q$i")
      val want = df.select(cols.zip(qs).map { case (c, q) => col(c).cast("double").as(q) }: _*)
        .stat.approxQuantile(qs.toArray, probs.toArray, 0.001)
      assert(n == df.count())
      assert(bounds.map(_.toSeq) == want.toSeq.map(_.toSeq), s"bounds differ over ${cols.mkString(",")}")
    }
    // the shapes the z-order rewrites see: scattered grid columns in
    // several partitions, a skewed column, nulls and NaNs, no rows
    val grid = (0 until 12288).map { i =>
      val r = (i * 2654435761L) % 4096
      ((r % 64).toInt, (r / 64).toInt, i.toLong)
    }.toDF("x", "y", "id").repartition(6)
    check(grid, Seq("x", "y"))
    check(grid, Seq("id"))
    val odd = (0 until 5000).map(i =>
      (if (i % 7 == 0) None else Some(if (i % 11 == 0) Double.NaN else math.pow(i % 97, 3)),
        (i % 3).toLong)).toDF("v", "w").repartition(4)
    check(odd, Seq("v", "w"))
    check(grid.filter($"x" < 0), Seq("x", "y"))
    check(spark.read.parquet(s"$sf0001/lineitem.parquet").repartition(24), Seq("l_orderkey"))
  }

  test("zorderParquet: rows preserved; per-file spans tighten on BOTH columns") {
    implicit val s = spark
    import s.implicits._
    // a 256 x 256 grid in random arrival order: plain compaction gives
    // files spanning the full range of both x and y
    val n = 65536
    val rnd = new scala.util.Random(7)
    val rows = rnd.shuffle((0 until n).toVector)
      .map(i => (i % 256, i / 256, s"payload-$i"))
    val in = Files.createTempDirectory("graft-zin").toString
    rows.toDF("x", "y", "payload").repartition(8)
      .write.mode("overwrite").parquet(in)

    val zOut = Files.createTempDirectory("graft-zout").toString
    val manifest = Compactor.zorderParquet(in, zOut, targetBytes = 16 * 1024,
      zorderCols = Seq("x", "y"), bits = 8)
    val m = manifest.collect()(0)
    assert(m.getLong(0) == n, "row preservation is the contract")
    assert(m.getLong(1) > 12, "fixture must produce enough files for tight boxes")

    val xOut = Files.createTempDirectory("graft-xout").toString
    spark.read.parquet(in).repartitionByRange(m.getLong(1).toInt, $"x")
      .sortWithinPartitions($"x").write.mode("overwrite").parquet(xOut)

    def spans(dir: String): (Double, Double) = {
      val sp = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg((max($"x") - min($"x")).as("sx"), (max($"y") - min($"y")).as("sy"))
        .agg(avg($"sx"), avg($"sy")).collect()(0)
      (sp.getDouble(0), sp.getDouble(1))
    }
    val (zx, zy) = spans(zOut)
    val (sx, sy) = spans(xOut)
    // z-order: BOTH dims well under the full 255 span
    assert(zx < 100 && zy < 100,
      f"z-order must tighten both dims, got x $zx%.0f y $zy%.0f")
    // single-column sort: own dim tight, other dim ~full — the contrast
    assert(sx < zx, "x-sort should beat z-order on its own column")
    assert(sy > 200, f"x-sort leaves y unclustered (got $sy%.0f) — " +
      "if this tightened, the fixture stopped proving anything")

    // content identity, not just counts
    val a = spark.read.parquet(in).orderBy($"x", $"y").collect()
    val b = spark.read.parquet(zOut).orderBy($"x", $"y").collect()
    assert(a.sameElements(b))
  }

  test("stats manifest: pruned read == full filter, touching only intersecting files") {
    implicit val s = spark
    import s.implicits._
    val n = 16384
    val rnd = new scala.util.Random(11)
    val in = Files.createTempDirectory("graft-min").toString
    rnd.shuffle((0 until n).toVector).map(i => (i % 128, i / 128, i.toLong))
      .toDF("x", "y", "id").repartition(4)
      .write.mode("overwrite").parquet(in)
    val lake = Files.createTempDirectory("graft-mlake").toString
    Compactor.zorderParquet(in, lake, targetBytes = 8 * 1024,
      zorderCols = Seq("x", "y"), bits = 7)
    val manifest = Compactor.writeStatsManifest(lake, Seq("x", "y"))
    val nFiles = manifest.count()
    assert(nFiles > 8, "fixture must produce enough files to prune")
    // the sidecar must be invisible to plain lake readers
    assert(spark.read.parquet(lake).count() == n)

    val pruned = Compactor.readPruned(lake, "y", lit(10), lit(20))
    val expect = spark.read.parquet(lake)
      .filter($"y" >= 10 && $"y" <= 20)
    assert(pruned.count() == expect.count())
    assert(pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty)
    val touched = pruned.inputFiles.length
    assert(touched < nFiles / 2,
      s"manifest prune must skip most files: read $touched of $nFiles")
    // empty interval: zero files, empty result, schema intact
    val none = Compactor.readPruned(lake, "x", lit(1000), lit(2000))
    assert(none.count() == 0 && none.columns.toSeq == Seq("x", "y", "id"))
  }

  test("multi-predicate prune: conjunction touches fewer files than either range alone, rows exact") {
    implicit val s = spark
    import s.implicits._
    val n = 16384
    val rnd = new scala.util.Random(13)
    val in = Files.createTempDirectory("graft-m2in").toString
    rnd.shuffle((0 until n).toVector).map(i => (i % 128, i / 128, i.toLong))
      .toDF("x", "y", "id").repartition(4)
      .write.mode("overwrite").parquet(in)
    val lake = Files.createTempDirectory("graft-m2lake").toString
    Compactor.zorderParquet(in, lake, targetBytes = 8 * 1024,
      zorderCols = Seq("x", "y"), bits = 7)
    Compactor.writeStatsManifest(lake, Seq("x", "y"))

    val both = Compactor.readPrunedMulti(lake,
      Seq(("x", lit(10), lit(30)), ("y", lit(10), lit(30))))
    val expect = spark.read.parquet(lake)
      .filter($"x" >= 10 && $"x" <= 30 && $"y" >= 10 && $"y" <= 30)
    assert(both.exceptAll(expect).isEmpty && expect.exceptAll(both).isEmpty)
    val xOnly = Compactor.readPruned(lake, "x", lit(10), lit(30))
    val yOnly = Compactor.readPruned(lake, "y", lit(10), lit(30))
    assert(both.inputFiles.length <=
      math.min(xOnly.inputFiles.length, yOnly.inputFiles.length),
      "the conjunction can never touch more files than either range alone")
  }

  test("manifest is advisory in code, not just doc: absent and stale manifests fall back to the full scan") {
    implicit val s = spark
    import s.implicits._
    val lake = Files.createTempDirectory("graft-adv").toString
    (0 until 1024).map(i => (i % 32, i.toLong)).toDF("x", "id")
      .repartition(4).write.mode("overwrite").parquet(lake)
    // no manifest at all: full-scan fallback, correct rows
    val noMan = Compactor.readPruned(lake, "x", lit(3), lit(5))
    assert(noMan.count() ==
      spark.read.parquet(lake).filter($"x" >= 3 && $"x" <= 5).count())
    // manifest written, then the lake grows: the stale manifest must
    // NOT hide the appended rows (the silent-row-loss failure mode)
    Compactor.writeStatsManifest(lake, Seq("x"))
    (0 until 64).map(i => (4, 100000L + i)).toDF("x", "id")
      .coalesce(1).write.mode("append").parquet(lake)
    val stale = Compactor.readPruned(lake, "x", lit(4), lit(4))
    assert(stale.count() ==
      spark.read.parquet(lake).filter($"x" === 4).count(),
      "stale manifest must fall back, never drop appended rows")
    // re-manifest: prune active again and still exact
    Compactor.writeStatsManifest(lake, Seq("x"))
    val fresh = Compactor.readPruned(lake, "x", lit(4), lit(4))
    assert(fresh.count() == stale.count())
    // the OTHER staleness direction: files DELETED after the manifest
    // (retention purge) with none added. The manifest still lists the
    // dead paths; handing them to spark.read would throw
    // PATH_NOT_FOUND — the advisory contract demands a silent
    // full-scan fallback instead
    val dataFiles = new java.io.File(lake).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.isFile)
    assert(dataFiles.length > 1)
    assert(dataFiles.head.delete())
    val purged = Compactor.readPruned(lake, "x", lit(4), lit(4))
    assert(purged.count() ==
      spark.read.parquet(lake).filter($"x" === 4).count(),
      "post-purge manifest must fall back to the surviving files, not throw")
    // a manifest migrated from a FOREIGN environment: entries spelled
    // in a scheme whose FileSystem is not loadable here (connector
    // jar/credentials absent). Path normalization must not throw — the
    // un-matchable spelling reads as stale and the prune falls back
    Compactor.writeStatsManifest(lake, Seq("x"))
    val manDir = s"$lake/${Compactor.StatsDir}"
    val foreign = spark.read.parquet(manDir)
      .withColumn("file",
        regexp_replace($"file", "^file:/+", "graftbogus://remote/"))
      .collect()
    spark.createDataFrame(
        spark.sparkContext.parallelize(foreign.toIndexedSeq),
        spark.read.parquet(manDir).schema)
      .coalesce(1).write.mode("overwrite").parquet(manDir)
    val migrated = Compactor.readPruned(lake, "x", lit(4), lit(4))
    assert(migrated.count() ==
      spark.read.parquet(lake).filter($"x" === 4).count(),
      "foreign-scheme manifest must full-scan, never crash the reader")
  }

  test("hash-dictionary point skip: prunes what min/max cannot, exact rows, over-cap safe, append-aware") {
    implicit val s = spark
    import s.implicits._
    val lake = Files.createTempDirectory("graft-dict").toString
    // 12 files; file k holds users {k, 1000} — the 1000 sentinel makes
    // every file's [min,max] span huge (span pruning nearly useless for
    // a point lookup) while each file's VALUE SET stays tiny (the dict
    // skip's exact target)
    (0 until 12).foreach { k =>
      (0 until 50).map(i => (if (i % 5 == 0) 1000L else k.toLong, k * 50L + i))
        .toDF("user", "seq")
        .coalesce(1).write.mode("append").parquet(lake)
    }
    val fullHit = spark.read.parquet(lake).filter($"user" === 7L)

    // cap too small: every file has 2 distinct users > cap=1 -> dict is
    // null everywhere -> prune degrades to the span test, rows exact
    Compactor.writeStatsManifest(lake, Seq("user"),
      dictCols = Seq("user"), dictCap = 1)
    val overCap = Compactor.readPrunedEq(lake, Seq(("user", lit(7))))
    assert(overCap.count() == fullHit.count(),
      "over-cap dict must degrade to span pruning, never drop rows")
    assert(overCap.inputFiles.length >= 8,
      "span test alone cannot isolate the user (sentinel widens every file)")

    // real cap: the lookup touches exactly the one file holding user 7.
    // The probe literal is an INT against a LONG column — the read side
    // must cast before hashing or it would silently skip the right file
    Compactor.writeStatsManifest(lake, Seq("user"),
      dictCols = Seq("user"))
    val dictHit = Compactor.readPrunedEq(lake, Seq(("user", lit(7))))
    assert(dictHit.count() == fullHit.count() && fullHit.count() > 0)
    assert(dictHit.inputFiles.length == 1,
      s"dict must isolate the single file: ${dictHit.inputFiles.length}")
    // sentinel present in EVERY file: dict keeps them all, rows exact
    val sentinel = Compactor.readPrunedEq(lake, Seq(("user", lit(1000))))
    assert(sentinel.count() ==
      spark.read.parquet(lake).filter($"user" === 1000L).count())
    assert(sentinel.inputFiles.length == 12)

    // append rides the existing dict schema: a new file with user 7
    // enters the manifest and the point lookup now touches exactly 2
    val preFiles = spark.read.parquet(lake).inputFiles.toSet
    (0 until 10).map(i => (7L, 10000L + i)).toDF("user", "seq")
      .coalesce(1).write.mode("append").parquet(lake)
    val newFiles = spark.read.parquet(lake).inputFiles
      .filterNot(preFiles.contains)
    assert(newFiles.length == 1)
    Compactor.appendStatsManifest(lake, newFiles.toIndexedSeq)
    val after = Compactor.readPrunedEq(lake, Seq(("user", lit(7))))
    assert(after.count() == fullHit.count() + 10)
    assert(after.inputFiles.length == 2,
      s"append must extend the dict skip: ${after.inputFiles.length}")
  }

  test("IN-list point skip: union of per-literal dict hits, over-cap safe, bounded") {
    implicit val s = spark
    import s.implicits._
    val lake = Files.createTempDirectory("graft-dict-in").toString
    // same layout as the point-skip fixture: file k holds users
    // {k, 1000}; span pruning is useless, the dict isolates files
    (0 until 12).foreach { k =>
      (0 until 50).map(i => (if (i % 5 == 0) 1000L else k.toLong, k * 50L + i))
        .toDF("user", "seq")
        .coalesce(1).write.mode("append").parquet(lake)
    }
    val expect = spark.read.parquet(lake)
      .filter($"user" === 3L || $"user" === 7L)

    // over-cap: dict null everywhere, prune degrades, rows exact
    Compactor.writeStatsManifest(lake, Seq("user"),
      dictCols = Seq("user"), dictCap = 1)
    val overCap = Compactor.readPrunedIn(lake,
      Seq(("user", Seq(lit(3), lit(7)))))
    assert(overCap.count() == expect.count() && expect.count() > 0,
      "over-cap dict must degrade to span pruning, never drop rows")

    // real dict: IN (3, 7) touches exactly the two files holding them
    // (INT literals against the LONG column — cast-before-hash again)
    Compactor.writeStatsManifest(lake, Seq("user"), dictCols = Seq("user"))
    val hit = Compactor.readPrunedIn(lake, Seq(("user", Seq(lit(3), lit(7)))))
    assert(hit.count() == expect.count())
    assert(hit.inputFiles.length == 2,
      s"IN-list must union the per-literal hits: ${hit.inputFiles.length}")
    // one sentinel literal in the list drags every file back in — the
    // union can only ADD files, rows stay exact
    val withSentinel = Compactor.readPrunedIn(lake,
      Seq(("user", Seq(lit(3), lit(1000)))))
    assert(withSentinel.inputFiles.length == 12)
    assert(withSentinel.count() == spark.read.parquet(lake)
      .filter($"user" === 3L || $"user" === 1000L).count())
    // an unbounded probe refuses loudly — that plan is a semi-join
    val ex = intercept[IllegalArgumentException] {
      Compactor.readPrunedIn(lake,
        Seq(("user", (0 to Compactor.MaxInListLiterals).map(lit(_)))))
    }
    assert(ex.getMessage.contains("semi-join"))
  }

  test("appendStatsManifest: prune stays active across an ingest without a manifest rewrite") {
    implicit val s = spark
    import s.implicits._
    val lake = Files.createTempDirectory("graft-append").toString
    (0 until 4096).map(i => (i % 32, i.toLong)).toDF("x", "id")
      .repartition(8).write.mode("overwrite").parquet(lake)
    Compactor.writeStatsManifest(lake, Seq("x"))
    val before = spark.read.parquet(lake).inputFiles.toSet
    // a day's ingest lands, stats appended for ONLY the delta
    (0 until 256).map(i => (40 + i % 8, 100000L + i)).toDF("x", "id")
      .coalesce(2).write.mode("append").parquet(lake)
    val delta = spark.read.parquet(lake).inputFiles.toSet -- before
    assert(delta.size == 2)
    val man = Compactor.appendStatsManifest(lake, delta.toSeq)
    assert(man.count() == before.size + delta.size)
    // prune ACTIVE (not the staleness fallback): a predicate matching
    // only the delta must touch only delta files, rows exact
    val pruned = Compactor.readPruned(lake, "x", lit(40), lit(47))
    assert(pruned.inputFiles.toSet.subsetOf(delta),
      "a delta-only predicate must read only the appended files")
    assert(pruned.count() == 256)
    // and a base-range predicate still reads no delta files
    val base = Compactor.readPruned(lake, "x", lit(0), lit(5))
    assert(base.inputFiles.toSet.intersect(delta).isEmpty)
    assert(base.count() ==
      spark.read.parquet(lake).filter($"x" >= 0 && $"x" <= 5).count())
    // double-append of a known file refuses
    val e = intercept[IllegalArgumentException] {
      Compactor.appendStatsManifest(lake, delta.toSeq)
    }
    assert(e.getMessage.contains("already in the manifest"))
  }

  test("partitioned lakes: zorderParquet rewrites per partition dir, layout preserved, both columns prune") {
    implicit val s = spark
    import s.implicits._
    val lake = Files.createTempDirectory("graft-plake").toString
    // x and y scattered within every day so an unclustered file spans
    // nearly the full range of both
    (0 until 12288).map { i =>
      val r = (i * 2654435761L) % 4096
      ((r % 64).toInt, (r / 64).toInt, i.toLong, s"d${i % 3}")
    }.toDF("x", "y", "id", "day").repartition(8)
      .write.mode("overwrite").partitionBy("day").parquet(lake)
    val zlake = lake + ".z"
    val man = Compactor.zorderParquet(lake, zlake, 4 * 1024, Seq("x", "y"))
    assert(man.select("rows").as[Long].head() == 12288)
    val out = spark.read.parquet(zlake)
    // layout preserved: still partition-discovered on day, same days,
    // same rows per day
    assert(out.columns.contains("day"))
    val inDays = spark.read.parquet(lake).groupBy("day").count()
    assert(out.groupBy("day").count().exceptAll(inDays).isEmpty)
    // per-file spans tighten on BOTH columns inside every partition
    // (the same clustering property the flat case pins)
    val spans = out
      .select(input_file_name().as("f"), $"x", $"y")
      .groupBy("f")
      .agg((max($"x") - min($"x")).as("sx"), (max($"y") - min($"y")).as("sy"))
      .agg(avg($"sx"), avg($"sy")).collect()(0)
    assert(spans.getDouble(0) < 63.0 * 0.7 && spans.getDouble(1) < 63.0 * 0.7,
      s"z-ordered partition files must tighten both columns: $spans")
    // z-ordering a partition column itself refuses
    val e = intercept[IllegalArgumentException] {
      Compactor.zorderParquet(lake, zlake + "2", 24 * 1024, Seq("x", "day"))
    }
    assert(e.getMessage.contains("partition column"))
    // manifest prune over the partitioned z-lake keeps partition
    // columns and exact rows
    Compactor.writeStatsManifest(zlake, Seq("x"))
    val pruned = Compactor.readPruned(zlake, "x", lit(5), lit(9))
    assert(pruned.columns.contains("day"),
      "pruned read must keep partition columns (basePath)")
    val expect = spark.read.parquet(zlake).filter($"x" >= 5 && $"x" <= 9)
    assert(pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty)
    assert(pruned.inputFiles.length < out.inputFiles.length,
      "the x-range prune must skip files in a clustered partitioned lake")
  }
}
