package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, IndexMemo, Similarity}

/** Persisted IVF index: the indexed search must be row-identical to
  * the inline IVF with the same parameters, the probe scan must
  * partition-prune to the probed cells, and appended vectors must be
  * searchable without retraining.
  */
class AnnIndexSpec extends SparkSpec {

  private def emb = Tables.load(spark, sf0001, "embeddings")
    .select(col("vec_id"), col("embedding"))

  private def rows(df: DataFrame): Set[(Long, Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  test("indexed search == inline knnIvf; the probe scan partition-prunes") {
    val dir = Files.createTempDirectory("graft-ann-ix").toString
    AnnIndex.write(dir, emb, nCells = 8, iters = 1, dim = 64)
    val ix = AnnIndex.load(spark, dir)
    assert(ix.meta == AnnIndex.Meta(8, 1, 64, "lowid", 1))

    val q = emb.filter(col("vec_id") < 5)
    val got = AnnIndex.search(ix, q, k = 5, nprobe = 2)
    val inline = Similarity.knnIvf(q, emb, k = 5, nCells = 8, iters = 1,
      dim = 64, nprobe = 2)

    val expected = rows(inline)
    assert(expected.nonEmpty)
    assert(rows(got) == expected)

    got.collect()
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell#"),
      s"indexed search must partition-prune the corpus scan on cell:\n$plan")
  }

  test("appendVectors: a duplicate vector lands in its cell and is found at cos 1.0") {
    val dir = Files.createTempDirectory("graft-ann-ix").toString
    AnnIndex.write(dir, emb, nCells = 8, iters = 1, dim = 64)

    // clone vec 0 under a fresh id: nearest_centroid is deterministic,
    // so the clone lands in vec 0's own cell — which is also vec 0's
    // top probe cell (both rankings maximize the same cosine)
    val clone = emb.filter(col("vec_id") === 0)
      .select(lit(777777L).as("vec_id"), col("embedding"))
    AnnIndex.appendVectors(dir, clone)

    val got = rows(AnnIndex.search(AnnIndex.load(spark, dir),
      emb.filter(col("vec_id") === 0), k = 5, nprobe = 2))
    assert(got.exists { case (qid, _, vid, cos) =>
      qid == 0L && vid == 777777L && cos == 1.0
    }, s"appended clone must surface as a cos-1.0 neighbor of vec 0: $got")
  }

  test("loadOnce never serves stale centroids after retrain-by-rewrite at the same path") {
    // The serve-path memo used to key on (session, path) alone: after a
    // retrain-by-rewrite — the maintenance write() itself recommends —
    // searches combined the OLD centroids with the NEW cell layout and
    // silently returned wrong neighbors. The memo now keys on on-disk
    // content (file lengths/mtimes) and writers invalidate eagerly.
    val dir = Files.createTempDirectory("graft-ann-ix").toString
    AnnIndex.write(dir, emb, nCells = 4, iters = 1, dim = 64)
    val first = AnnIndex.loadOnce(spark, dir)
    assert(first.meta.nCells == 4 && first.centroids.length == 4)

    AnnIndex.write(dir, emb, nCells = 8, iters = 1, dim = 64)
    val second = AnnIndex.loadOnce(spark, dir)
    assert(second.meta.nCells == 8 && second.centroids.length == 8,
      "loadOnce served the pre-rewrite index")
    // and the refreshed index actually serves: parity with inline IVF
    // on the new geometry
    val q = emb.filter(col("vec_id") < 3)
    assert(rows(AnnIndex.search(second, q, k = 3, nprobe = 2)) ==
      rows(Similarity.knnIvf(q, emb, k = 3, nCells = 8, iters = 1, dim = 64, nprobe = 2)))
  }

  test("loading a foreign format version fails loudly") {
    val dir = Files.createTempDirectory("graft-ann-ix").toString
    AnnIndex.write(dir, emb, nCells = 4, iters = 1, dim = 64)
    import spark.implicits._
    Seq((99, 4, 1, 64)).toDF("version", "n_cells", "iters", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    val e = intercept[IllegalArgumentException](AnnIndex.load(spark, dir))
    assert(e.getMessage.contains("format version"))
  }

  test("sketch index: served search == inline knnSketchRerank; sketches are ~sketchDim/dim of the vector bytes") {
    val dir = Files.createTempDirectory("graft-sk-ix").toString
    AnnIndex.writeSketch(dir, emb, sketchDim = 16, dim = 64)
    // q8 is opt-in as of v3: a default build is float-only, no curve
    assert(AnnIndex.loadSketchMeta(spark, dir) ==
      AnnIndex.SketchMeta(16, 64, 20260814L, hasQ8 = false))

    val q = emb.filter(col("vec_id") < 5)
    val got = AnnIndex.searchSketch(spark, dir, q, k = 5, m = 40)
    val inline = Similarity.knnSketchRerank(q, emb, k = 5, m = 40,
      sketchDim = 16, dim = 64)
    val expected = rows(inline)
    assert(expected.nonEmpty)
    assert(rows(got) == expected)

    // the byte claim that makes the index an index: pass 1's table is
    // a quarter-size scan (16/64 floats + shared id column/overheads
    // -> assert under a third)
    def bytes(sub: String): Long = {
      val d = new java.io.File(s"$dir/$sub")
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    val (sk, vec) = (bytes("sketches"), bytes("vectors"))
    assert(sk > 0 && vec > 0)
    assert(sk.toDouble / vec < 1.0 / 3,
      s"sketches table must be ~sketchDim/dim of vector bytes: $sk vs $vec")
  }

  test("sketch index: appended vectors == full rebuild over the grown corpus") {
    val dir = Files.createTempDirectory("graft-sk-ix").toString
    val base = emb.filter(col("vec_id") % 2 === 0)
    val delta = emb.filter(col("vec_id") % 2 === 1)
    AnnIndex.writeSketch(dir, base, sketchDim = 16, dim = 64)
    AnnIndex.appendSketchVectors(dir, delta)

    val q = emb.filter(col("vec_id") < 5)
    val got = AnnIndex.searchSketch(spark, dir, q, k = 5, m = 40)
    // ground truth: the inline operator over the WHOLE corpus — the
    // append must be indistinguishable from having sketched everything
    val inline = Similarity.knnSketchRerank(q, emb, k = 5, m = 40,
      sketchDim = 16, dim = 64)
    val expected = rows(inline)
    assert(expected.nonEmpty)
    assert(rows(got) == expected)
    // and the delta actually landed: some odd vec_id serves as a hit
    assert(got.filter(col("vec_id") % 2 === 1).count() > 0)
  }

  test("sketch index: a torn append (vectors landed, sketches did not) self-heals on the next append") {
    val dir = Files.createTempDirectory("graft-sk-ix").toString
    val base = emb.filter(col("vec_id") % 3 === 0)
    AnnIndex.writeSketch(dir, base, sketchDim = 16, dim = 64)
    // simulate the torn append: the vectors write committed, the crash
    // hit before the sketches write — orphaned rows pass 1 can't see
    val orphan = emb.filter(col("vec_id") % 3 === 1)
    orphan.toDF("vec_id", "c_vec")
      .write.mode("append").parquet(s"$dir/vectors")
    // the tear is real: no orphaned id ever surfaces for any query
    // (pass 1 scans only the sketch table)
    val q = emb.filter(col("vec_id") < 5)
    val before = AnnIndex.searchSketch(spark, dir, q, k = 5, m = 40)
    assert(before.filter(col("vec_id") % 3 === 1).count() == 0,
      "planted tear must be invisible pre-repair, else the test is vacuous")
    // next append repairs the orphans before adding its own delta
    val delta = emb.filter(col("vec_id") % 3 === 2)
    AnnIndex.appendSketchVectors(dir, delta)
    // the healed index is indistinguishable from a full rebuild...
    val healed = AnnIndex.searchSketch(spark, dir, q, k = 5, m = 40)
    val inline = Similarity.knnSketchRerank(q, emb, k = 5, m = 40,
      sketchDim = 16, dim = 64)
    assert(rows(healed) == rows(inline))
    // ...and formerly-orphaned rows actually serve as hits
    assert(healed.filter(col("vec_id") % 3 === 1).count() > 0,
      "healed orphans must be servable")
  }

  test("int8 sketch knob: served q8 == inline quantize=true; scores stay exact cosines; bytes ~1/4 of float sketches") {
    val dir = Files.createTempDirectory("graft-sk-q8").toString
    AnnIndex.writeSketch(dir, emb, sketchDim = 16, dim = 64, q8 = true)
    val q = emb.filter(col("vec_id") < 5)
    // dequantized-scoring parity: the stored int8 sibling serves the
    // same rows as quantizing inline at query time
    val served = AnnIndex.searchSketch(spark, dir, q, k = 5, m = 40,
      quantized = true)
    val inline = Similarity.knnSketchRerank(q, emb, k = 5, m = 40,
      sketchDim = 16, dim = 64, quantize = true)
    val got = rows(served)
    assert(got.nonEmpty && got == rows(inline))
    // quantization perturbs only pass-1 candidate SELECTION — every
    // returned score must equal the exact 6-dp cosine of its pair
    // (pass 2 always re-ranks the full floats)
    import spark.implicits._
    val exact = served.toDF("query_id", "rk", "vec_id", "cos")
      .join(emb.toDF("vec_id", "c_vec"), "vec_id")
      .join(emb.toDF("query_id", "q_vec"), "query_id")
      .withColumn("cos_exact",
        round(graft.functions.VecFns.cosine(col("q_vec"), col("c_vec")), 6))
      .filter(col("cos") =!= col("cos_exact")).count()
    assert(exact == 0, "q8 output scores must be exact full-float cosines")
    // byte claim: int8 sibling ~1/4 of the float sketch table
    def bytes(sub: String): Long = {
      val d = new java.io.File(s"$dir/$sub")
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    assert(bytes("sketches_q8").toDouble / bytes("sketches") < 0.5,
      s"q8 table must be well under half the float sketches: " +
        s"${bytes("sketches_q8")} vs ${bytes("sketches")}")
  }

  test("int8 sketch knob: appends keep the q8 sibling in lockstep; v1 indexes refuse quantized search") {
    val dir = Files.createTempDirectory("graft-sk-q8").toString
    val base = emb.filter(col("vec_id") % 2 === 0)
    val delta = emb.filter(col("vec_id") % 2 === 1)
    AnnIndex.writeSketch(dir, base, sketchDim = 16, dim = 64, q8 = true)
    AnnIndex.appendSketchVectors(dir, delta)
    val q = emb.filter(col("vec_id") < 5)
    val got = AnnIndex.searchSketch(spark, dir, q, k = 5, m = 40,
      quantized = true)
    val inline = Similarity.knnSketchRerank(q, emb, k = 5, m = 40,
      sketchDim = 16, dim = 64, quantize = true)
    assert(rows(got) == rows(inline))
    assert(got.filter(col("vec_id") % 2 === 1).count() > 0,
      "appended rows must serve through the q8 sibling")
    // a v1 index (no q8 sibling) must refuse loudly, not silently scan
    import spark.implicits._
    Seq((1, 16, 64, 20260814L)).toDF("version", "sketch_dim", "dim", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/sketch_meta")
    val e = intercept[IllegalArgumentException](
      AnnIndex.searchSketch(spark, dir, q, k = 5, m = 40, quantized = true))
    assert(e.getMessage.contains("int8"))
    // float search over the v1 meta still serves
    assert(rows(AnnIndex.searchSketch(spark, dir, q, k = 5, m = 40)).nonEmpty)
  }

  test("loadSketchMetaOnce: hit while the meta is unchanged, rolled by addQ8") {
    val dir = Files.createTempDirectory("graft-sk-lo").toString
    AnnIndex.writeSketch(dir, emb, sketchDim = 8, dim = 64)
    val m1 = AnnIndex.loadSketchMetaOnce(spark, dir)
    assert(AnnIndex.loadSketchMetaOnce(spark, dir) eq m1,
      "unchanged meta must memo-hit (same instance)")
    assert(!m1.hasQ8)
    AnnIndex.addQ8(spark, dir)
    val m2 = AnnIndex.loadSketchMetaOnce(spark, dir)
    assert(m2.hasQ8, "addQ8 must roll the serve-path meta memo")
  }

  test("loadSketchMetaOnce: out-of-band rewrites of sketch_meta replace the path's memo entry") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft-sk-oob").toString
    AnnIndex.writeSketch(dir, emb, sketchDim = 8, dim = 64)
    val meta = new Path(s"$dir/sketch_meta")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var prev = AnnIndex.loadSketchMetaOnce(spark, dir)
    for (i <- 1 to 5) {
      // the same rows rewritten by another process: a plain parquet
      // write to a temp dir, then a rename — no AnnIndex writer runs,
      // so only the fingerprint can roll the memo
      val tmp = new Path(s"$dir/_rewrite$i")
      spark.read.parquet(meta.toString).write.parquet(tmp.toString)
      fs.delete(meta, true)
      assert(fs.rename(tmp, meta))
      val cur = AnnIndex.loadSketchMetaOnce(spark, dir)
      assert(!(cur eq prev), s"rewrite $i must reload the meta")
      assert(cur == prev)
      prev = cur
    }
    assert(AnnIndex.sketchMetas.liveCount(dir) == 1,
      "5 rewrites must leave one live entry for the path")
  }

  test("appendSketchVectors: a steady-state append reads the unchanged meta from the memo") {
    val dir = Files.createTempDirectory("graft-sk-jobs").toString
    AnnIndex.writeSketch(dir, emb.filter(col("vec_id") % 6 === 0),
      sketchDim = 16, dim = 64)
    AnnIndex.appendSketchVectors(dir, emb.filter(col("vec_id") % 6 === 1))
    // loadRaw: no load-time repartition, whose exchange would add a job
    def delta(r: Int) = Tables.loadRaw(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") % 6 === r)
    // a served index is searched between appends, and each search
    // reads the current sketches/vectors schemas into the memo
    AnnIndex.searchSketch(spark, dir, emb.filter(col("vec_id") < 2), k = 5, m = 20)
      .collect()
    // only the orphan check and the two appends run jobs; the meta
    // (read twice, 2 jobs per uncached read) is a memo hit, so are the
    // orphan check's two schemas, and the delta is read with the
    // schema the append wrote
    val (_, jobs) = countJobs(AnnIndex.appendSketchVectors(dir, delta(2)))
    assert(jobs <= 4, s"steady-state append ran $jobs jobs")
    // back to back: the previous append moved both listings, and its
    // writes stored the new listings with the unchanged schemas, so
    // the orphan check infers no footer
    val (_, next) = countJobs(AnnIndex.appendSketchVectors(dir, delta(3)))
    assert(next <= 4, s"back-to-back append ran $next jobs")
    // the first search after an append reloads the resident copy: one
    // collect per table, no footer inference
    val q = spark.createDataFrame(
      java.util.Arrays.asList(emb.filter(col("vec_id") < 3).collect(): _*), emb.schema)
    val (_, search) = countJobs(
      AnnIndex.searchSketch(spark, dir, q, k = 5, m = 20).collect())
    assert(search <= 2, s"first search after an append ran $search jobs")
  }

  test("writeSketch job budget: <= 3 jobs, no footer read of the table it wrote") {
    val dir = Files.createTempDirectory("graft-sk-write-jobs").toString
    // a local corpus frame, as the serve benchmark passes: a frame over
    // a table would add its own scan and exchange jobs
    val corpus = spark.createDataFrame(
      java.util.Arrays.asList(emb.collect(): _*), emb.schema)
    AnnIndex.writeSketch(s"$dir/warm", corpus, sketchDim = 16, dim = 64)
    // the vectors, sketches and meta writes; sketches read the written
    // vectors with the schema just written
    val (_, jobs) = countJobs(AnnIndex.writeSketch(s"$dir/ix", corpus, sketchDim = 16, dim = 64))
    assert(jobs <= 3, s"writeSketch ran $jobs jobs")
    val q = corpus.filter(col("vec_id") < 3)
    assert(AnnIndex.searchSketch(spark, s"$dir/ix", q, k = 5, m = 20).collect().toSeq ==
      AnnIndex.searchSketch(spark, s"$dir/warm", q, k = 5, m = 20).collect().toSeq)
  }

  test("searchSketch job budget: an unchanged index pays no footer reads") {
    val dir = Files.createTempDirectory("graft-sk-search-jobs").toString
    AnnIndex.writeSketch(dir, emb, sketchDim = 16, dim = 64)
    // a local query frame, as a serving caller passes: a query plan
    // over the table would add its own scan and exchange jobs
    val q = spark.createDataFrame(
      java.util.Arrays.asList(emb.filter(col("vec_id") < 3).collect(): _*), emb.schema)
    def search() = AnnIndex.searchSketch(spark, dir, q, k = 5, m = 20).collect()
    val warm = search()
    // the meta and the resident copy come from the memos, the query
    // frame is local, and so is the result
    val (again, jobs) = countJobs(search())
    assert(again.toSeq == warm.toSeq)
    assert(jobs == 0, s"search on an unchanged index ran $jobs jobs")
  }

  test("searchSketch above LocalIndexBytes runs the distributed plan in <= 5 jobs, with parity") {
    val dir = Files.createTempDirectory("graft-sk-search-large").toString
    // 5,000 random 64-dim vectors: about 1.6 MB of vectors and sketches
    val rnd = new scala.util.Random(11)
    val corpus = spark.createDataFrame(java.util.Arrays.asList((0 until 5000).map(i =>
        org.apache.spark.sql.Row(i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat))): _*),
      emb.schema)
    AnnIndex.writeSketch(dir, corpus, sketchDim = 16, dim = 64)
    val q = spark.createDataFrame(
      java.util.Arrays.asList(corpus.filter(col("vec_id") < 3).collect(): _*), emb.schema)
    def search() = AnnIndex.searchSketch(spark, dir, q, k = 5, m = 40)
    search().collect()
    val (got, jobs) = countJobs(search().collect())
    assert(AnnIndex.residents.get(spark, dir) == Some(None),
      "an index above the cap must not be held on the driver")
    assert(jobs > 0 && jobs <= 5, s"distributed search ran $jobs jobs")
    val inline = Similarity.knnSketchRerank(q, spark.read.parquet(s"$dir/vectors"),
      k = 5, m = 40, sketchDim = 16, dim = 64)
    assert(got.map(_.toString).sorted.toSeq == inline.collect().map(_.toString).sorted.toSeq)
    assert(search().schema == inline.schema)
  }

  test("IndexMemo is an access-ordered LRU bounded at 64 entries") {
    val dirs = (0 until 65).map { _ =>
      val d = Files.createTempDirectory("graft-memo-lru")
      Files.createDirectory(d.resolve("meta"))
      d.toString
    }
    val memo = IndexMemo[Int]("meta")
    var loads = 0
    def get(d: String): Int = memo.getOrLoad(spark, d) { loads += 1; loads }
    dirs.foreach(get)
    assert(loads == 65 && memo.liveCount == 64)
    get(dirs.head)
    assert(loads == 66, "the least recently used path must have been evicted")
    assert(memo.liveCount == 64)
    get(dirs.last)
    assert(loads == 66, "the most recent path must still hit")
  }

  test("sketch index: foreign format version fails loudly") {
    val dir = Files.createTempDirectory("graft-sk-ix").toString
    AnnIndex.writeSketch(dir, emb, sketchDim = 8, dim = 64)
    import spark.implicits._
    Seq((99, 8, 64, 20260814L)).toDF("version", "sketch_dim", "dim", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/sketch_meta")
    val e = intercept[IllegalArgumentException](
      AnnIndex.loadSketchMeta(spark, dir))
    assert(e.getMessage.contains("format version"))
  }

  test("addQ8 retrofits the int8 sibling: quantized serves row-identical, meta keeps every other field") {
    val dir = Files.createTempDirectory("graft-sk-q8").toString
    // float-only build (the default), then the explicit retrofit
    AnnIndex.writeSketch(dir, emb, sketchDim = 16, dim = 64, curve = true)
    val pre = AnnIndex.loadSketchMeta(spark, dir)
    assert(!pre.hasQ8 && pre.curveM.nonEmpty)
    AnnIndex.addQ8(spark, dir)
    val post = AnnIndex.loadSketchMeta(spark, dir)
    assert(post.hasQ8, "addQ8 must flip has_q8")
    assert(post.curveM == pre.curveM && post.curveRecall == pre.curveRecall,
      "addQ8 must preserve the stored recall curve")
    val q = emb.filter(col("vec_id") < 5)
    val served = AnnIndex.searchSketch(spark, dir, q, k = 5, m = 40,
      quantized = true)
    val inline = Similarity.knnSketchRerank(q, emb, k = 5, m = 40,
      sketchDim = 16, dim = 64, quantize = true)
    assert(rows(served).nonEmpty && rows(served) == rows(inline))
  }

  test("quantized search refuses an incomplete q8 sibling (torn append) instead of silently under-serving") {
    val dir = Files.createTempDirectory("graft-sk-q8").toString
    AnnIndex.writeSketch(dir, emb, sketchDim = 16, dim = 64, q8 = true)
    // simulate the torn append: float sketches grew, the crash hit
    // before the q8 write — the interim quantized search must refuse
    spark.read.parquet(s"$dir/sketches").limit(7)
      .write.mode("append").parquet(s"$dir/sketches")
    val q = emb.filter(col("vec_id") < 5)
    val e = intercept[IllegalArgumentException](
      AnnIndex.searchSketch(spark, dir, q, k = 5, m = 40, quantized = true))
    assert(e.getMessage.contains("incomplete"))
    // float search is unaffected by the q8 tear
    assert(rows(AnnIndex.searchSketch(spark, dir, q, k = 5, m = 40)).nonEmpty)
    // addQ8 heals (rebuilds the sibling from the float table)...
    AnnIndex.addQ8(spark, dir)
    // ...and quantized serving resumes
    assert(rows(AnnIndex.searchSketch(spark, dir, q, k = 5, m = 40,
      quantized = true)).nonEmpty)
  }

  test("recall curve: measured at build, monotone in m, spans corpus fractions") {
    val dir = Files.createTempDirectory("graft-sk-ix").toString
    AnnIndex.writeSketch(dir, emb, sketchDim = 16, dim = 64, curve = true)
    val meta = AnnIndex.loadSketchMeta(spark, dir)
    assert(meta.curveK == 10 && meta.curveQ == 32)
    assert(meta.curveM.nonEmpty &&
      meta.curveM == meta.curveM.sorted &&
      meta.curveM.distinct == meta.curveM)
    assert(meta.curveM.zip(meta.curveRecall).forall { case (_, r) =>
      r >= 0.0 && r <= 1.0 })
    // recall is monotone non-decreasing in m by construction (recall(m)
    // counts sketch-ranks <= m over a fixed truth set)
    assert(meta.curveRecall.zip(meta.curveRecall.tail).forall {
      case (a, b) => b >= a }, s"curve must be monotone: ${meta.curveRecall}")
    // the grid's top fraction (50% of the corpus) must buy high recall
    // even on this unstructured fixture
    assert(meta.curveRecall.last > 0.85,
      s"recall at m=50% of corpus should be high: ${meta.curveRecall}")
  }

  test("chooseM pins the m selection arithmetic; unreachable targets fail loudly") {
    val meta = AnnIndex.SketchMeta(16, 64, 1L, hasQ8 = false,
      curveM = Seq(10, 50, 100), curveRecall = Seq(0.5, 0.92, 0.99),
      curveK = 10, curveQ = 32)
    // smallest measured m meeting the target
    assert(AnnIndex.chooseM(meta, k = 10, targetRecall = 0.9) == 50)
    assert(AnnIndex.chooseM(meta, k = 10, targetRecall = 0.95) == 100)
    // k above curve_k scales m linearly (conservative correction)
    assert(AnnIndex.chooseM(meta, k = 20, targetRecall = 0.9) == 100)
    // k below curve_k keeps the measured m (recall@smaller-k >= @curve_k)
    assert(AnnIndex.chooseM(meta, k = 5, targetRecall = 0.9) == 50)
    // never below k itself
    assert(AnnIndex.chooseM(meta, k = 60, targetRecall = 0.5) == 60)
    // a target above the measured ceiling refuses
    val e = intercept[IllegalArgumentException](
      AnnIndex.chooseM(meta, k = 10, targetRecall = 0.999))
    assert(e.getMessage.contains("ceiling"))
    // an index built without a curve refuses with the rebuild hint
    val noCurve = AnnIndex.SketchMeta(16, 64, 1L, hasQ8 = false)
    val e2 = intercept[IllegalArgumentException](
      AnnIndex.chooseM(noCurve, k = 10, targetRecall = 0.9))
    assert(e2.getMessage.contains("curve"))
  }

  test("searchSketchAtRecall serves searchSketch at the curve-chosen m and meets the target on held-out queries") {
    val dir = Files.createTempDirectory("graft-sk-ix").toString
    AnnIndex.writeSketch(dir, emb, sketchDim = 16, dim = 64, curve = true)
    val meta = AnnIndex.loadSketchMeta(spark, dir)
    val target = 0.9
    val m = AnnIndex.chooseM(meta, k = 10, target)
    val q = emb.filter(col("vec_id") < 5)
    val got = AnnIndex.searchSketchAtRecall(spark, dir, q, k = 10,
      targetRecall = target)
    assert(rows(got) == rows(AnnIndex.searchSketch(spark, dir, q, k = 10, m)),
      "searchSketchAtRecall must be exactly searchSketch at chooseM's m")
    // measured recall on queries NOT in the curve sample direction:
    // vs brute-force truth, mean recall should be near the target
    // (curve is a 32-query sample; allow sampling slack)
    def ids(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (qid, rs) =>
          qid -> rs.map(_.getLong(1)).toSet }
    val truth = ids(Similarity.knnBruteForce(q, emb, 10))
    val gotIds = ids(got)
    val recalls = truth.map { case (qid, t) =>
      gotIds.get(qid).map(g => (g & t).size.toDouble / t.size).getOrElse(0.0) }
    val mean = recalls.sum / recalls.size
    assert(mean >= target - 0.15,
      f"served recall $mean%.3f too far below target $target (m=$m)")
  }

  test("recall drift: appends decay the stored curve's promise; needsRetrain flags it, rebuild clears it") {
    val dir = Files.createTempDirectory("graft-sk-drift").toString
    val half = emb.filter(col("vec_id") % 2 === 0)
    AnnIndex.writeSketch(dir, half, sketchDim = 16, dim = 64, curve = true)
    // freshly built: current recall == stored recall at every grid m
    // (same tables, same deterministic sample)
    val fresh = AnnIndex.measureDrift(spark, dir)
    assert(fresh.nonEmpty && fresh.forall(d => d.current == d.stored),
      s"fresh index must measure its own curve exactly: $fresh")
    // double the corpus WITHOUT re-measuring: the stored absolute m
    // values now buy half the fraction, so recall at the smallest
    // grid point must decay (monotone in m/N on this fixture)
    AnnIndex.appendSketchVectors(dir, emb.filter(col("vec_id") % 2 === 1))
    val drifted = AnnIndex.measureDrift(spark, dir)
    assert(drifted.map(_.m) == fresh.map(_.m),
      "drift must re-measure the STORED grid")
    assert(drifted.head.current < drifted.head.stored,
      s"doubling N must decay recall at the smallest stored m: $drifted")
    // the retrain signal fires for a target the drifted index no
    // longer meets at its serving m, stays quiet within slack of one
    // it still meets, and a curve-rebuild clears it
    val meta = AnnIndex.loadSketchMeta(spark, dir)
    val mTop = meta.curveM.last
    val curTop = drifted.last.current
    if (curTop < 0.95) { // fixture-dependent guard; holds at sf0.001
      val target = math.min(0.99, curTop + 0.1)
      assert(AnnIndex.chooseM(meta, 10, target) <= mTop ||
        curTop < target - 0.05) // chooseM may refuse instead — also correct
    }
    assert(!AnnIndex.needsRetrain(spark, dir, k = 10,
      targetRecall = math.max(0.01, drifted.head.current - 0.2)),
      "a target far below current recall must not flag")
    // rebuild-with-curve into a fresh dir (writing over a path being
    // read is a Spark error by design): the re-measured curve grounds
    val dir2 = Files.createTempDirectory("graft-sk-drift2").toString
    AnnIndex.writeSketch(dir2, emb, sketchDim = 16, dim = 64, curve = true)
    val rebuilt = AnnIndex.measureDrift(spark, dir2)
    assert(rebuilt.forall(d => d.current == d.stored),
      s"rebuild must re-ground the curve: $rebuilt")
  }

  test("a persisted v1 index still loads: seeding defaults to the exact v1 semantics") {
    val dir = Files.createTempDirectory("graft-ann-ix").toString
    // v1 trained with lowid/every=1 — the only semantics v1 had
    AnnIndex.write(dir, emb, nCells = 4, iters = 1, dim = 64,
      seedMode = "lowid", seedEvery = 1)
    import spark.implicits._
    // a v1 meta: no seed_mode / seed_every columns at all
    Seq((1, 4, 1, 64)).toDF("version", "n_cells", "iters", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    val ix = AnnIndex.load(spark, dir)
    assert(ix.meta == AnnIndex.Meta(4, 1, 64, "lowid", 1),
      "v1 load must default seed_mode=lowid, seed_every=1")
    assert(ix.centroids.length == 4)
    // and the loaded index still serves
    val q = emb.limit(3).toDF("q_id", "q_vec")
    assert(AnnIndex.search(ix, q, k = 5, nprobe = 2).count() > 0)
  }
}
