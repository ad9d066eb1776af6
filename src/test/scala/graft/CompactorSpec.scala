package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.functions._
import graft.operators.Compactor

/** Compaction invariants (SURVEY §5 test plan): every bundle is below
  * target + one record; concatenation of bundles in order equals the
  * mtime-ordered concatenation of inputs; glob and empty-file filters
  * hold.
  */
class CompactorSpec extends SparkSpec {

  /** Write a small lake of text files with increasing mtimes. */
  def writeLake(n: Int, dir: java.io.File): Seq[(String, String)] = {
    (1 to n).map { i =>
      val name = f"f$i%03d.json"
      val body = s"""{"i":$i,"pad":"${"x" * (i * 7 % 97)}"}"""
      val p = Paths.get(dir.toString, name)
      Files.write(p, body.getBytes("UTF-8"), StandardOpenOption.CREATE)
      p.toFile.setLastModified(1700000000000L + i * 1000L)
      name -> body
    }
  }

  test("bundle size bound and manifest totals") {
    implicit val s = spark
    import s.implicits._
    val in = tmpDir("lake_in"); val out = tmpDir("lake_out")
    writeLake(60, in)
    val target = 512L
    // binaryFile's modificationTime is NON-nullable — this is the path
    // where r3's delegate codegen emitted an undeclared isNull and the
    // whole bundle-assignment projection silently ran interpreted.
    // CODEGEN_ONLY makes any such fallback a hard failure.
    val mf = withCodegenOnly {
      Compactor.compactDirectory(in.toString, out.toString, target) }
    val rows = mf.orderBy($"bundle_id").collect()
    assert(rows.nonEmpty)
    // every bundle except possibly the last stays under target + max
    // record size (the reference's overshoot-by-one-record bound)
    val maxRec = 200L
    rows.foreach(r => assert(r.getAs[Long]("total_bytes") <= target + maxRec))
    // manifest record count equals input file count
    assert(rows.map(_.getAs[Long]("n_records")).sum == 60)
  }

  test("bundled content equals mtime-ordered input concatenation") {
    implicit val s = spark
    import s.implicits._
    val in = tmpDir("lake_in2"); val out = tmpDir("lake_out2")
    val files = writeLake(40, in)
    Compactor.compactDirectory(in.toString, out.toString, 300L)
    val got = spark.read.parquet(out.toString)
      .orderBy($"bundle_id", $"modificationTime", $"path")
      .select($"content").as[Array[Byte]].collect()
      .map(new String(_, "UTF-8")).mkString("\n")
    val want = files.map(_._2).mkString("\n") // written in mtime order
    assert(got == want)
  }

  test("glob filter prunes non-matching files") {
    implicit val s = spark
    val in = tmpDir("lake_in3"); val out = tmpDir("lake_out3")
    writeLake(10, in)
    Files.write(Paths.get(in.toString, "skip.csv"), "a,b\n1,2".getBytes)
    val mf = Compactor.compactDirectory(in.toString, out.toString, 10000L,
      glob = Some("*.json"))
    assert(mf.agg(sum("n_records")).collect()(0).getLong(0) == 10)
  }

  test("empty files are skipped (F2)") {
    implicit val s = spark
    val in = tmpDir("lake_in4"); val out = tmpDir("lake_out4")
    writeLake(5, in)
    Files.write(Paths.get(in.toString, "empty.json"), Array.emptyByteArray)
    val mf = Compactor.compactDirectory(in.toString, out.toString, 10000L)
    assert(mf.agg(sum("n_records")).collect()(0).getLong(0) == 5)
  }

  test("bundle assignment is independent of bucket count") {
    import spark.implicits._
    val df = Tables.load(spark, sf0001, "events")
      .select($"event_id", $"ts_ns", length($"props").as("sz"))
    def assign(buckets: Int) =
      Compactor.withBundleId(df, $"ts_ns", Seq($"event_id"), $"sz", 2048L, buckets)
        .select($"event_id", col(Compactor.BundleCol)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign(1) == assign(7))
    assert(assign(7) == assign(32))
    // a 100x-scale bucket config must neither change assignment nor
    // fall out of whole-stage codegen (the old chained-when bucketOf
    // generated O(buckets) comparisons per row and blew the JIT limit)
    assert(assign(32) == assign(4096))
    withCodegenOnly {
      val wide = Compactor.withBundleId(
        df, $"ts_ns", Seq($"event_id"), $"sz", 2048L, 4096)
      wide.collect() // finalize the adaptive plan; throws on any fallback
      assert(wide.queryExecution.executedPlan.toString.linesIterator.exists(
        l => l.contains("range_bucket") && l.contains("*(")))
    }
  }

  test("text and parquet passes spell a file name with a space the same way") {
    implicit val s = spark
    import s.implicits._
    val in = tmpDir("lake_in_sp")
    writeLake(3, in)
    val p = Paths.get(in.toString, "sp ace.json")
    Files.write(p, """{"i":9}""".getBytes("UTF-8"))
    p.toFile.setLastModified(1700000000000L + 9000L)
    def keys(mf: org.apache.spark.sql.DataFrame) =
      mf.select($"first_key", $"last_key").as[(String, String)].collect().sorted.toSeq
    val parquetKeys = keys(Compactor.compactDirectory(
      in.toString, tmpDir("lake_out_sp_pq").toString, 10000L))
    val textKeys = keys(Compactor.compactToText(
      in.toString, tmpDir("lake_out_sp_txt").toString, 10000L, codec = None))
    assert(parquetKeys.exists(_._2.endsWith("sp ace.json")), parquetKeys)
    assert(textKeys == parquetKeys)
  }

  test("driver bundle plan equals withBundleId at 1 and 7 buckets, manifest schema included") {
    implicit val s = spark
    import s.implicits._
    import Compactor.Listed
    // UTF-16 and UTF-8 order disagree between a supplementary-plane
    // character (a surrogate pair, 0xD834..) and one at or above U+E000
    val stems = Seq("a", "b", "\u00e9", "e\u0301", "\uD834\uDD1E", "\uE000", "\uFF21", "z")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType)))
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // tied mtimes (5 distinct values over 60 files) and a quarter of
      // the files empty
      val listing = (0 until 60).map { i =>
        Listed(s"file:/lake/d${rnd.nextInt(3)}/${stems(rnd.nextInt(stems.size))}$i.json",
          1700000000000L + rnd.nextInt(5) * 1000L,
          if (rnd.nextInt(4) == 0) 0L else 1L + rnd.nextInt(300))
      }
      val df = spark.createDataFrame(java.util.Arrays.asList(listing.map(f =>
        org.apache.spark.sql.Row(f.path, new java.sql.Timestamp(f.mtime), f.length)): _*), schema)
        .filter($"length" > 0)
      val total = listing.map(_.length).sum
      Seq(1L, total / 5, total + 1).foreach { target =>
        val plan = Compactor.planBundles(listing, target, 0L)
        val got = plan.map(p => (p.file.path, p.bundleId, p.file.length)).toSet
        Seq(1, 7).foreach { buckets =>
          val dist = Compactor.withBundleId(df, $"modificationTime", Seq($"path"),
            $"length", target, buckets)
          val want = dist.select($"path", col(Compactor.BundleCol), $"record_bytes")
            .as[(String, Long, Long)].collect().toSet
          assert(got == want, s"seed $seed, target $target, $buckets buckets")
          val local = Compactor.localManifest(plan)
          val distManifest = Compactor.manifest(dist, $"path")
          assert(local.schema == distManifest.schema)
          assert(local.collect().toSet == distManifest.collect().toSet,
            s"manifest: seed $seed, target $target, $buckets buckets")
        }
      }
    }
  }

  test("each directory pass writes the same lake and manifest through either planner") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import Compactor.{PlanSide, WatermarkOff}
    // the plan-equality case's stems: UTF-16 and UTF-8 order disagree
    // between U+1D11E (a surrogate pair) and U+E000
    val stems = Seq("a", "b", "\u00e9", "e\u0301", "\uD834\uDD1E", "\uE000", "\uFF21", "z")
    val in = tmpDir("sides_in")
    // tied mtimes (three files a second) and every seventh file empty
    def add(ids: Range, mtimeOf: Int => Long): Unit = ids.foreach { i =>
      val p = Paths.get(in.toString, s"${stems(i % stems.size)}$i.json")
      val body = if (i % 7 == 3) "" else s"""{"i":$i,"pad":"${"x" * (i * 13 % 89)}"}"""
      Files.write(p, body.getBytes("UTF-8"), StandardOpenOption.CREATE)
      p.toFile.setLastModified(mtimeOf(i))
    }
    add(0 until 30, i => 1700000000000L + (i / 3) * 1000L)
    val sides = Seq[PlanSide](PlanSide.Driver, PlanSide.Distributed)
    def outs(name: String) = sides.map(side => side -> tmpDir(s"sides_${name}_$side").toString).toMap
    def manifestOf(mf: DataFrame) = (mf.schema, mf.collect().toSet)
    def parquetLake(dir: String) = spark.read.parquet(dir)
      .select(col(Compactor.BundleCol), $"path", $"modificationTime", $"record_bytes",
        $"content".cast("string"))
      .collect().toSet
    def assertSame[T](what: String)(of: PlanSide => T): Unit =
      assert(of(PlanSide.Driver) == of(PlanSide.Distributed), what)
    // each side really ran its own planner: only the driver's manifest is local
    def assertPlanned(mfs: Map[PlanSide, DataFrame]): Unit = sides.foreach { side =>
      assert(mfs(side).queryExecution.analyzed.isInstanceOf[LocalRelation] ==
        (side == PlanSide.Driver), s"$side manifest")
    }

    val full = outs("full")
    val fullMf = sides.map(side => side ->
      Compactor.compactDirectory(in.toString, full(side), 300L, None, side)).toMap
    assertPlanned(fullMf)
    assertSame("compactDirectory manifest")(side => manifestOf(fullMf(side)))
    assertSame("compactDirectory lake")(side => parquetLake(full(side)))
    assert(fullMf(PlanSide.Driver).collect().map(_.getAs[Long]("n_records")).sum == 30 - 4)

    val text = outs("text")
    val textMf = sides.map(side => side -> Compactor.compactToText(
      in.toString, text(side), 300L, None, None, targetCompressed = false, side)).toMap
    assertPlanned(textMf)
    assertSame("compactToText manifest")(side => manifestOf(textMf(side)))
    assertSame("compactToText lake")(side => spark.read.text(text(side))
      .select(col(Compactor.BundleCol), $"value").as[(Long, String)].collect().sorted.toSeq)

    val fold = outs("fold")
    def foldAll() = sides.map(side => side -> Compactor.compactDirectoryIncremental(
      in.toString, fold(side), 300L, None, WatermarkOff, side)).toMap
    val first = foldAll()
    assertPlanned(first)
    assertSame("first fold manifest")(side => manifestOf(first(side)))
    // new files after the lake's newest, and one late file whose mtime
    // ties already-bundled files: the delta's oldest mtime admits
    // bundled files to the content scan, and the join drops them
    add(30 until 45, i => 1700000100000L + i * 1000L)
    add(46 until 47, _ => 1700000004000L)
    val delta = foldAll()
    assertPlanned(delta)
    assertSame("delta fold manifest")(side => manifestOf(delta(side)))
    assert(delta(PlanSide.Driver).collect().map(_.getAs[Long]("n_records")).sum == 14)
    assertSame("folded lake")(side => parquetLake(fold(side)))
    assert(spark.read.parquet(fold(PlanSide.Driver)).count() == 26 + 14)
    val none = foldAll()
    assert(none.values.forall(_.isEmpty))
    assertSame("no-op fold manifest")(side => manifestOf(none(side)))
    assertSame("lake after a no-op fold")(side => parquetLake(fold(side)))
  }

  test("optimizeParquet's manifest equals the distributed prefix sum grouped by partition dir") {
    implicit val s = spark
    import graft.operators.PrefixSum
    val one = tmpDir("opt_parity_one"); val in = tmpDir("opt_parity_in")
    val out = tmpDir("opt_parity_out")
    spark.range(50).selectExpr("id", "cast(id as string) as v").coalesce(1)
      .write.mode("overwrite").parquet(one.toString)
    val file = Files.list(one.toPath).filter(_.toString.endsWith(".parquet")).findFirst().get
    // copies of one file: equal lengths, so the order is the path order
    for (p <- 0 until 2; i <- 0 until 8) {
      val d = Files.createDirectories(Paths.get(in.toString, s"p=$p"))
      Files.copy(file, d.resolve(f"part-$i%05d.parquet"))
    }
    val target = Files.size(file) * 5 / 2 // 2-3 files a bundle, 3 bundles a directory
    val manifest = Compactor.optimizeParquet(in.toString, out.toString, target)
    // the reference plan: one PrefixSum pass grouped by partition
    // directory over a recursive '*.parquet' binaryFile listing
    val listing = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .load(in.toString)
      .select(col("path"), col("length"))
      .withColumn("part_dir", regexp_extract(col("path"), "^(.*)/[^/]+$", 1))
    val want = PrefixSum.runningTotal(listing,
        groupCol = col("part_dir"),
        ordKey = col("length").cast("double"),
        orderCols = Seq(col("length").asc, col("path").asc),
        valueCol = col("length"),
        buckets = 0,
        inclusive = false,
        nullsLast = false,
        outCol = "_prefix",
        keepValueAs = Some("file_bytes"))
      .withColumn(Compactor.BundleCol, floor(col("_prefix") / lit(target)))
      .drop("_prefix")
      .groupBy(col("part_dir"), col(Compactor.BundleCol))
      .agg(count(lit(1)).as("n_files"), sum(col("file_bytes")).as("total_bytes"))
    assert(manifest.schema == want.schema, s"${manifest.schema} vs ${want.schema}")
    val rows = manifest.collect()
    assert(rows.toSet == want.collect().toSet)
    assert(rows.length == 6 && rows.map(_.getString(0)).distinct.length == 2)
    assert(spark.read.parquet(out.toString).count() == 16 * 50)
  }
}
