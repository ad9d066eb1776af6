package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Round}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.expressions.{CosineSim, SketchProject}
import graft.functions.VecFns

/** Persisted IVF index for the similarity family — the production form
  * of the s04 contract, symmetric to [[DedupIndex]] for dedup
  * (reference scope: lakeflush has no ANN; this is the §2.11
  * similarity-search extension's scale path).
  *
  * A 100 TB corpus never re-trains its quantizer per query batch: the
  * index is two persisted artifacts —
  *
  *   - `centroids` (cell, cent: array<double>) — the trained coarse
  *     quantizer, a few KB;
  *   - `corpus`    (vec_id, c_vec) PARTITIONED BY (cell) — every
  *     vector under its cell's directory.
  *
  * The cell partitioning is the point: [[search]] resolves each
  * query's `nprobe` probe cells against the broadcast centroids, then
  * filters the corpus scan with a LITERAL cell list (the probe set is
  * bounded by |queries| x nprobe — driver-side like the centroids
  * themselves), so Catalyst partition-prunes the scan to the probed
  * directories. Probing 3 of 64 cells reads ~3/64ths of the corpus
  * BYTES, not just rows — the property that makes IVF an index rather
  * than a full-scan refinement. AnnIndexSpec asserts the
  * PartitionFilters in the physical plan and row-parity with the
  * inline [[Similarity.knnIvf]].
  *
  * [[appendVectors]] absorbs corpus growth without retraining: new
  * vectors are assigned to their nearest existing centroid and
  * appended under that cell's directory (dynamic-partition append) —
  * the standard IVF maintenance trade (cells drift as data drifts;
  * retrain by rewriting the index when recall decays).
  */
object AnnIndex {

  // v2: adds seed_mode / seed_every (k-means++-style k-center seeding)
  private val FormatVersion = 2

  final case class Meta(nCells: Int, iters: Int, dim: Int,
                        seedMode: String, seedEvery: Int)

  /** A loaded index: trained centroids + cell-partitioned corpus. */
  final case class Index(centroids: Array[Array[Double]], corpus: DataFrame,
                         meta: Meta)

  /** Train the quantizer over `corpus` (id, vec) and persist both
    * artifacts at `path`.
    */
  def write(path: String, corpus: DataFrame, nCells: Int = 16,
            iters: Int = 2, dim: Int = 64,
            seedMode: String = "lowid", seedEvery: Int = 1): Unit = {
    import graft.expressions.NativeFns.nearest_centroid
    val spark = corpus.sparkSession
    val c = corpus.toDF("vec_id", "c_vec")
    val cents = Similarity.trainIvfCentroids(c, nCells, iters, dim,
      seedMode, seedEvery)
    c.withColumn("cell", nearest_centroid(col("c_vec"), cents))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/corpus")
    spark.createDataFrame(
        cents.zipWithIndex.map { case (v, i) => (i, v) }.toSeq)
      .toDF("cell", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    import spark.implicits._
    Seq((FormatVersion, nCells, iters, dim, seedMode, seedEvery))
      .toDF("version", "n_cells", "iters", "dim", "seed_mode", "seed_every")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    loadedIxs.invalidate(path)
  }

  /** [[write]] to a managed temp dir, once per (corpus plan + backing
    * files, params) per session; returns the index path. Keying,
    * staleness and cleanup semantics live in [[BuildOnce]].
    */
  def writeOnce(corpus: DataFrame, nCells: Int = 16, iters: Int = 2,
                dim: Int = 64, seedMode: String = "lowid",
                seedEvery: Int = 1): String = {
    val key = BuildOnce.keyOf(corpus,
      s"ann:$nCells:$iters:$dim:$seedMode:$seedEvery")
    BuildOnce.dirFor(key, "graft-ann-ix")(
      write(_, corpus, nCells, iters, dim, seedMode, seedEvery))
  }

  private[graft] val loadedIxs = IndexMemo[Index]("meta", "centroids", "corpus")

  /** [[load]] through the serve-path [[IndexMemo]]: meta and centroids
    * are read once per on-disk version of the index.
    */
  def loadOnce(spark: SparkSession, path: String): Index =
    loadedIxs.getOrLoad(spark, path)(load(spark, path))

  def load(spark: SparkSession, path: String): Index = {
    val m = spark.read.parquet(s"$path/meta").collect()
    require(m.length == 1, s"ann index at $path: meta must be one row, got ${m.length}")
    val v = m(0).getAs[Int]("version")
    // v1 indexes predate seeding metadata; their training semantics
    // were exactly seed_mode="lowid", seed_every=1, so a durable v1
    // index keeps loading (back-compat read path, no migration
    // rewrite needed). Only unknown FUTURE versions refuse.
    require(v >= 1 && v <= FormatVersion,
      s"ann index at $path: format version $v, expected <= $FormatVersion")
    val (seedMode, seedEvery) =
      if (v == 1) ("lowid", 1)
      else (m(0).getAs[String]("seed_mode"), m(0).getAs[Int]("seed_every"))
    val cents = spark.read.parquet(s"$path/centroids").collect()
      .map(r => r.getAs[Int]("cell") -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    Index(cents, spark.read.parquet(s"$path/corpus"),
      Meta(m(0).getAs[Int]("n_cells"), m(0).getAs[Int]("iters"),
        m(0).getAs[Int]("dim"), seedMode, seedEvery))
  }

  /** Top-k by cosine against the persisted index: probe each query's
    * `nprobe` nearest cells, score only those cells' vectors. Output
    * matches [[Similarity.knnIvf]] with the same parameters row for
    * row (same probe ranking, same 6-decimal rounding, same
    * tie-breaks).
    */
  def search(ix: Index, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val cents = spark.createDataFrame(
        ix.centroids.zipWithIndex.map { case (v, i) => (i, v) }.toSeq)
      .toDF("cell", "cent")
    val q0 = queries.toDF("query_id", "q_vec")
    // |queries| x nprobe rows, used twice (cell-list collect + the
    // scoring join): materialize ONCE — localCheckpoint truncates the
    // lineage so the query-side scan and probe ranking never re-execute.
    // LAZY (eager=false): the cell-list collect below reads every probe
    // partition (its distinct shuffles them all), so it materializes
    // the checkpoint blocks as a side effect — one driver round-trip
    // per search instead of the two an eager checkpoint plus the
    // collect used to cost (the d2 lesson applied to the serve path).
    val probes = q0.crossJoin(broadcast(cents))
      .withColumn("score", VecFns.cosine(col("q_vec"),
        transform(col("cent"), x => x.cast("float"))))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("cell").asc)))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("q_vec"), col("cell"))
      .localCheckpoint(false)
    // the probe-cell set is driver-bounded (|queries| x nprobe ints);
    // folding it into a literal IN gives the scan STATIC partition
    // pruning — only the probed cells' directories are read
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val pruned = ix.corpus.filter(col("cell").isin(cells.toSeq: _*))
    val scored = pruned.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", round(VecFns.cosine(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"), col("vec_id"), col("cos"))
  }

  // ------------------------------------------------------------------
  // Sketch index: the persisted form of [[Similarity.knnSketchRerank]]
  // — the serve path for UNSTRUCTURED corpora, where IVF cells have no
  // cluster structure to exploit and recall tracks scored fraction
  // almost linearly (measured: BENCH_ann_recall.json organic rows).
  //
  // Two sibling tables at `path`:
  //   - `sketches` (vec_id, sk: array<float>[sketchDim]) — the
  //     Johnson-Lindenstrauss projection of every corpus vector;
  //   - `vectors`  (vec_id, c_vec: array<float>[dim]) — the corpus.
  //
  // The byte ratio is the point: pass 1 (rank ALL rows per query)
  // scans ONLY `sketches` — sketchDim/dim of the vector bytes
  // (16/64 = 1/4 by default; AnnIndexSpec asserts the on-disk ratio)
  // — and pass 2 reads full vectors for just the m survivors via an
  // equi join. At 100 TB that turns the unavoidable full-corpus pass
  // into a quarter-size columnar scan with a bounded exact tail.
  // ------------------------------------------------------------------

  // v2 added the `sketches_q8` sibling (vec_id, sk: array<tinyint>) —
  // the int8-quantized serve knob: pass 1 over q8 reads 1 byte/element
  // instead of 4 (1/16 of the vector bytes at 16/64).
  // v3 (r16) makes q8 OPT-IN (`has_q8` meta column; v2 indexes always
  // wrote the sibling, so they load as has_q8=true) and adds the
  // build-time recall-vs-m curve (`curve_m`/`curve_recall` meta
  // columns, measured by sampled self-queries) that
  // [[searchSketchAtRecall]] uses to pick m for a target recall
  // instead of making the caller guess. v1/v2 indexes load fine;
  // searchSketch(quantized = true) requires the q8 sibling.
  private val SketchFormatVersion = 3

  final case class SketchMeta(sketchDim: Int, dim: Int, seed: Long,
                              hasQ8: Boolean,
                              curveM: Seq[Int] = Nil,
                              curveRecall: Seq[Double] = Nil,
                              curveK: Int = 0, curveQ: Int = 0)

  /** Sketch every corpus vector and persist both tables + meta. The
    * projection matrix is not stored — it is a pure function of
    * (dim, sketchDim, seed) ([[Similarity.sketchMatrix]]), recomputed
    * at load; floats round-trip parquet exactly, so a served search is
    * row-identical to the inline operator.
    */
  def writeSketch(path: String, corpus: DataFrame, sketchDim: Int = 16,
                  dim: Int = 64, seed: Long = 20260814L,
                  q8: Boolean = false, curve: Boolean = false,
                  curveK: Int = 10, curveQ: Int = 32): Unit = {
    import graft.expressions.NativeFns.sketch_project
    val spark = corpus.sparkSession
    val r = Similarity.sketchMatrix(dim, sketchDim, seed)
    // the caller plan executes ONCE (the vectors write); sketches are
    // derived from the WRITTEN table — two independent write actions
    // over a non-deterministic input (sample, unordered limit) would
    // otherwise persist divergent row sets and silently break the
    // "row-identical to a full rebuild" search contract
    // the written table is read with the schema just written (every
    // parquet column nullable), so no footer is inferred
    val vectors = corpus.toDF("vec_id", "c_vec")
    vectors.write.mode("overwrite").parquet(s"$path/vectors")
    spark.read.schema(Readers.nullable(vectors.schema)).parquet(s"$path/vectors")
      .select(col("vec_id"), sketch_project(col("c_vec"), r).as("sk"))
      .write.mode("overwrite").parquet(s"$path/sketches")
    // the int8 sibling is OPT-IN (r16): a float-only serving path never
    // reads it, so writing it unconditionally taxed every index build
    // with a third write action (measured: s07 iter-1 3.68 s vs ~3.0 s).
    // Callers that serve quantized build it here or later via [[addQ8]];
    // either way it derives from the WRITTEN float sketches (same
    // single-execution discipline as vectors -> sketches), so a served
    // q8 search is row-identical to the inline quantize=true operator.
    if (q8)
      spark.read.parquet(s"$path/sketches")
        .select(col("vec_id"), Similarity.quantizeSketch(col("sk")).as("sk"))
        .write.mode("overwrite").parquet(s"$path/sketches_q8")
    val (cm, cr) =
      if (curve) measureRecallCurve(spark, path, r, curveK, curveQ)
      else (Nil, Nil)
    writeSketchMeta(spark, path, sketchDim, dim, seed, hasQ8 = q8,
      curveM = cm, curveRecall = cr, curveK = if (curve) curveK else 0,
      curveQ = if (curve) curveQ else 0)
  }

  private def writeSketchMeta(spark: SparkSession, path: String,
                              sketchDim: Int, dim: Int, seed: Long,
                              hasQ8: Boolean, curveM: Seq[Int],
                              curveRecall: Seq[Double], curveK: Int,
                              curveQ: Int): Unit = {
    import spark.implicits._
    Seq((SketchFormatVersion, sketchDim, dim, seed, hasQ8,
         curveM, curveRecall, curveK, curveQ))
      .toDF("version", "sketch_dim", "dim", "seed", "has_q8",
        "curve_m", "curve_recall", "curve_k", "curve_q")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/sketch_meta")
    // every meta mutation funnels through here (writeSketch, addQ8,
    // refreshCurve)
    sketchMetas.invalidate(path)
  }

  // appends and compaction never change the meta (recipe + hasQ8 +
  // curve), so only sketch_meta/ is fingerprinted
  private[graft] val sketchMetas = IndexMemo[SketchMeta]("sketch_meta")

  /** [[loadSketchMeta]] through the serve-path [[IndexMemo]]. */
  def loadSketchMetaOnce(spark: SparkSession, path: String): SketchMeta =
    sketchMetas.getOrLoad(spark, path)(loadSketchMeta(spark, path))

  /** Build the int8 sibling for an existing sketch index — the explicit
    * form of what v2's writeSketch did unconditionally. Derives from
    * the WRITTEN float sketches (quantization is a pure per-row
    * function), then flips `has_q8` in the meta; every other meta field
    * (including a measured recall curve) is preserved.
    */
  def addQ8(spark: SparkSession, path: String): Unit = {
    val meta = loadSketchMeta(spark, path)
    spark.read.parquet(s"$path/sketches")
      .select(col("vec_id"), Similarity.quantizeSketch(col("sk")).as("sk"))
      .write.mode("overwrite").parquet(s"$path/sketches_q8")
    writeSketchMeta(spark, path, meta.sketchDim, meta.dim, meta.seed,
      hasQ8 = true, curveM = meta.curveM, curveRecall = meta.curveRecall,
      curveK = meta.curveK, curveQ = meta.curveQ)
  }

  /** Measure recall@`curveK` of the sketch ranking as a function of the
    * pass-1 survivor count m, by self-querying the WRITTEN index with
    * `curveQ` deterministically sampled corpus vectors (smallest
    * xxhash64(vec_id) — stable across runs, no RNG).
    *
    * One joined pass computes, per sampled query, BOTH the exact rank
    * (full-vector cosine — the ranking pass 2 serves) and the sketch
    * rank (the ranking pass 1 cuts at m); recall(m) is then just the
    * fraction of exact top-`curveK` rows whose sketch rank is <= m —
    * the whole curve falls out of ONE `curveQ` x N join and a
    * `curveQ` x `curveK`-row collect (driver-bounded). The m grid is
    * FRACTIONS of the corpus (0.2%..50%), because on unstructured
    * corpora recall tracks the scored fraction almost linearly
    * (BENCH_ann_recall.json organic rows) — an absolute grid would
    * top out below any useful target at scale.
    *
    * Cost: one full-vector scan of the corpus joined against `curveQ`
    * broadcast queries, at BUILD time, opt-in. At 100 TB this is the
    * same order as the sketch-derivation write the build already pays,
    * and it converts "guess m" into "state a recall target".
    */
  private def measureRecallCurve(spark: SparkSession, path: String,
                                 r: Array[Array[Float]], curveK: Int,
                                 curveQ: Int): (Seq[Int], Seq[Double]) = {
    val n = spark.read.parquet(s"$path/vectors").count()
    val grid = Seq(0.002, 0.005, 0.01, 0.02, 0.05, 0.1, 0.2, 0.35, 0.5)
      .map(f => math.max(curveK.toLong, math.ceil(f * n).toLong).min(n).toInt)
      .distinct.sorted
    (grid, recallAt(spark, path, r, curveK, curveQ, grid))
  }

  /** recall@`kEval` of the sketch ranking at each m in `grid`, by
    * self-querying the CURRENT on-disk tables with `nQ` deterministic
    * sample vectors — the shared kernel of the build-time curve and
    * the serve-time drift check. One |Q| x N join, one |Q| x kEval
    * collect.
    */
  private def recallAt(spark: SparkSession, path: String,
                       r: Array[Array[Float]], kEval: Int, nQ: Int,
                       grid: Seq[Int]): Seq[Double] = {
    import graft.expressions.NativeFns.sketch_project
    import org.apache.spark.sql.expressions.Window
    val vectors = spark.read.parquet(s"$path/vectors")
    val n = vectors.count()
    val qs = broadcast(vectors
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(math.min(nQ.toLong, n).toInt)
      .select(col("vec_id").as("query_id"), col("c_vec").as("q_vec"),
        sketch_project(col("c_vec"), r).as("q_sk")))
    val joined = spark.read.parquet(s"$path/sketches")
      .join(vectors, "vec_id")
      .join(qs, col("query_id") =!= col("vec_id"))
    // both rankings use the SAME keys as the serve path: sketch rank =
    // unrounded sketch cosine desc / vec_id asc (searchSketch wS),
    // exact rank = 6-dp full cosine desc / vec_id asc (pass-2 w)
    val wSk = Window.partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("vec_id").asc)
    val wEx = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val ranked = joined
      .withColumn("s", graft.functions.VecFns.cosine(col("q_sk"), col("sk")))
      .withColumn("cos", round(graft.functions.VecFns.cosine(col("q_vec"), col("c_vec")), 6))
      .withColumn("srk", row_number().over(wSk))
      .withColumn("erk", row_number().over(wEx))
      .filter(col("erk") <= kEval)
      .select(col("srk")).collect().map(_.getInt(0))
    val total = ranked.length.toDouble
    grid.map(m => ranked.count(_ <= m) / total)
  }

  /** One drift row: recall the stored curve promised at m vs what the
    * CURRENT corpus delivers.
    */
  final case class Drift(m: Int, stored: Double, current: Double) {
    def delta: Double = current - stored
  }

  /** Re-measure the stored curve's grid against the CURRENT on-disk
    * tables — the serve-side staleness check the build-time curve
    * needs to stay trustworthy. Appends grow N while the stored m
    * values are ABSOLUTE rows, so the fraction each m buys shrinks and
    * recall at a stored grid point decays monotonically with growth;
    * the curve never updates itself (appendSketchVectors is delta-only
    * by design). Cost: the same one-pass |Q| x N self-query as the
    * build-time measurement — a maintenance action, not a serve-path
    * one.
    */
  def measureDrift(spark: SparkSession, path: String): Seq[Drift] = {
    val meta = loadSketchMeta(spark, path)
    require(meta.curveM.nonEmpty,
      "sketch index has no recall curve — rebuild with writeSketch(curve = true)")
    val r = Similarity.sketchMatrix(meta.dim, meta.sketchDim, meta.seed)
    val cur = recallAt(spark, path, r, meta.curveK, meta.curveQ, meta.curveM)
    meta.curveM.lazyZip(meta.curveRecall).lazyZip(cur).map(Drift.apply)
  }

  /** Retrain signal: does the m [[chooseM]] would serve for
    * (k, targetRecall) still deliver the target on the CURRENT corpus,
    * within `slack`? False = keep serving; true = the stored curve has
    * drifted past its promise (typically after heavy appends) —
    * rebuild with writeSketch(curve = true) to re-measure. The serve
    * path itself stays curve-driven and cheap; this check is the
    * explicit maintenance hook.
    */
  /** Re-measure the stored recall curve against the CURRENT tables and
    * rewrite the meta in place — the maintenance action [[needsRetrain]]
    * points at. This deliberately does NOT go through
    * `writeSketch(curve = true)`: that would re-execute a corpus plan,
    * but after appends the index itself IS the corpus; only the meta
    * (grid + measured recalls, same grid shape as the original build)
    * changes — vectors/sketches/q8 are untouched.
    */
  def refreshCurve(spark: SparkSession, path: String): Unit = {
    val meta = loadSketchMeta(spark, path)
    require(meta.curveK > 0,
      "sketch index has no recall curve — build with writeSketch(curve = true)")
    val r = Similarity.sketchMatrix(meta.dim, meta.sketchDim, meta.seed)
    val (cm, cr) = measureRecallCurve(spark, path, r, meta.curveK, meta.curveQ)
    writeSketchMeta(spark, path, meta.sketchDim, meta.dim, meta.seed,
      hasQ8 = meta.hasQ8, curveM = cm, curveRecall = cr,
      curveK = meta.curveK, curveQ = meta.curveQ)
  }

  def needsRetrain(spark: SparkSession, path: String, k: Int,
                   targetRecall: Double, slack: Double = 0.05): Boolean = {
    val meta = loadSketchMeta(spark, path)
    val m = chooseM(meta, k, targetRecall)
    // drift at the serving m: smallest stored grid point >= m (the
    // curve is measured only at grid points; m may be k/curveK-scaled
    // above them, in which case the largest grid point is the floor
    // of what serving delivers)
    val drift = measureDrift(spark, path)
    val at = drift.find(_.m >= m).getOrElse(drift.last)
    at.current < targetRecall - slack
  }

  /** [[writeSketch]] to a managed temp dir, once per (corpus plan,
    * params) per session; returns the index path. Same build-once
    * amortization as [[writeOnce]].
    */
  def writeSketchOnce(corpus: DataFrame, sketchDim: Int = 16,
                      dim: Int = 64, seed: Long = 20260814L,
                      q8: Boolean = false, curve: Boolean = false): String = {
    val key = BuildOnce.keyOf(corpus, s"sk:$sketchDim:$dim:$seed:$q8:$curve")
    BuildOnce.dirFor(key, "graft-sk-ix")(
      writeSketch(_, corpus, sketchDim, dim, seed, q8 = q8, curve = curve))
  }

  /** Small-file maintenance for the sketch index's appended tables
    * (vectors / sketches / the q8 sibling when present): every
    * [[appendSketchVectors]] lands one file-set per table, so a year
    * of streaming batches degrades each search with per-file
    * open/footer costs ([[Compactor.compactTableIf]] — the
    * rewrite-past-threshold form; listing-only no-op below
    * `maxFiles`). Row-preserving; serves re-key automatically
    * ([[IndexMemo]] fingerprints on-disk content, and the search paths
    * re-read by path per call).
    *
    * @return true when any table was rewritten
    */
  def maintainSketch(spark: SparkSession, path: String, maxFiles: Int = 256,
                     targetBytes: Long = 128L * 1024 * 1024): Boolean = {
    implicit val s: SparkSession = spark
    val tables = Seq(s"$path/vectors", s"$path/sketches") ++
      (if (loadSketchMeta(spark, path).hasQ8) Seq(s"$path/sketches_q8")
       else Nil)
    tables.map(Compactor.compactTableIf(_, maxFiles, targetBytes))
      .exists(identity)
  }

  def loadSketchMeta(spark: SparkSession, path: String): SketchMeta = {
    val m = spark.read.parquet(s"$path/sketch_meta").collect()
    require(m.length == 1,
      s"sketch index at $path: meta must be one row, got ${m.length}")
    val v = m(0).getAs[Int]("version")
    require(v >= 1 && v <= SketchFormatVersion,
      s"sketch index at $path: format version $v, expected <= $SketchFormatVersion")
    // back-compat: v1 never had the sibling; v2 ALWAYS wrote it (hasQ8
    // follows from the version alone); v3 records both the opt-in q8
    // flag and the optional recall curve explicitly
    if (v <= 2)
      SketchMeta(m(0).getAs[Int]("sketch_dim"), m(0).getAs[Int]("dim"),
        m(0).getAs[Long]("seed"), hasQ8 = v == 2)
    else
      SketchMeta(m(0).getAs[Int]("sketch_dim"), m(0).getAs[Int]("dim"),
        m(0).getAs[Long]("seed"), hasQ8 = m(0).getAs[Boolean]("has_q8"),
        curveM = m(0).getSeq[Int](m(0).fieldIndex("curve_m")),
        curveRecall = m(0).getSeq[Double](m(0).fieldIndex("curve_recall")),
        curveK = m(0).getAs[Int]("curve_k"),
        curveQ = m(0).getAs[Int]("curve_q"))
  }

  /** Pick the pass-1 survivor count m for a target recall@k from the
    * index's stored build-time curve — the serving dial a caller can
    * actually state ("I need 0.9 recall") instead of the internal knob
    * they had to guess (m; organic corpora need ~25% of the corpus for
    * 0.9 where clustered need ~2% — BENCH_ann_recall.json).
    *
    * m = the smallest measured grid point whose recall meets the
    * target (the curve is monotone in m by construction), scaled by
    * k/curve_k when the caller's k exceeds the k the curve was
    * measured at (recall@k at fixed m degrades as k grows — the top-k
    * tail reaches deeper into the sketch ranking; linear scaling is
    * the standard conservative correction). A target above the curve's
    * ceiling fails loudly rather than silently under-serving: the
    * caller asked for a guarantee this index cannot give (rebuild with
    * a bigger sketchDim, or search exact).
    */
  def chooseM(meta: SketchMeta, k: Int, targetRecall: Double): Int = {
    require(meta.curveM.nonEmpty,
      "sketch index has no recall curve — rebuild with writeSketch(curve = true)")
    require(targetRecall > 0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    val curve = meta.curveM.zip(meta.curveRecall)
    val hit = curve.find(_._2 >= targetRecall).map(_._1).getOrElse {
      throw new IllegalArgumentException(
        f"target recall $targetRecall%.2f exceeds this index's measured " +
        f"ceiling ${curve.map(_._2).max}%.3f (at m=${curve.maxBy(_._2)._1}); " +
        "rebuild with a larger sketchDim or search exact")
    }
    val scaled = if (k > meta.curveK)
      math.ceil(hit.toDouble * k / meta.curveK).toInt else hit
    math.max(k, scaled)
  }

  /** [[searchSketch]] with m chosen from the stored recall curve for
    * `targetRecall` — see [[chooseM]].
    */
  def searchSketchAtRecall(spark: SparkSession, path: String,
                           queries: DataFrame, k: Int,
                           targetRecall: Double,
                           quantized: Boolean = false): DataFrame = {
    val m = chooseM(loadSketchMetaOnce(spark, path), k, targetRecall)
    searchSketch(spark, path, queries, k, m, quantized)
  }

  /** Sketch-prefilter + exact re-rank against the persisted index —
    * row-identical to [[Similarity.knnSketchRerank]] with the index's
    * (sketchDim, dim, seed) (same ranking keys, same 6-dp rounding,
    * same vec_id tie-breaks; AnnIndexSpec pins parity). Pass 1 scores
    * only `sketches`; pass 2 re-ranks the m survivors' `vectors`.
    *
    * An index whose `vectors`, `sketches` and `sketches_q8` tables
    * together take at most `LocalIndexBytes` on disk is searched on the
    * driver, over a resident copy of those tables ([[residents]]): the
    * query frame is collected, both passes run with the expressions'
    * own kernels ([[graft.expressions.CosineSim.fold]],
    * [[graft.expressions.SketchProject.project]]), Spark's `Round` and
    * Spark's double ordering, and the result is a local relation with
    * the distributed plan's schema, so its `collect()` runs no job. A
    * larger index, or an index or query frame holding a null id,
    * vector or element, runs the distributed plan. Either way the
    * result is the index as listed at call time.
    */
  def searchSketch(spark: SparkSession, path: String, queries: DataFrame,
                   k: Int, m: Int, quantized: Boolean = false): DataFrame = {
    require(m >= k, s"searchSketch: m=$m must be >= k=$k")
    // the meta comes from its memo; an unchanged small index runs no
    // job, the first search after an append one collect per reloaded
    // table, and the distributed plan (Readers.parquet reads, whose
    // schemas appendSketchVectors keeps current) 5 jobs per collect
    // (AnnIndexSpec pins all three)
    val meta = loadSketchMetaOnce(spark, path)
    require(!quantized || meta.hasQ8,
      s"sketch index at $path has no int8 sibling — rebuild with " +
      "writeSketch(q8 = true) / addQ8, or search with quantized = false")
    val resident = residents.getOrLoad(spark, path)(loadResident(spark, path))
      .filter(ix => !quantized || ix.q8.nonEmpty)
    // Completeness gate (ADVICE r15): a crash between the float-sketch
    // and q8 appends leaves q8 missing rows, and repair only runs on
    // the NEXT appendSketchVectors — in the interim a quantized pass 1
    // would silently never see those vectors. A row-count equality
    // check catches exactly that failure shape (appends only ever add
    // rows; the siblings march in lockstep or q8 is short), and costs
    // two parquet footer reads, no data scan (or nothing, on a resident
    // copy). Fail loudly with the repair path rather than silently
    // under-serving.
    if (quantized) {
      val (nF, nQ8) = resident match {
        case Some(ix) => (ix.sketches.n.toLong, ix.q8.get.n.toLong)
        case None => (Readers.parquet(spark, s"$path/sketches").count(),
          Readers.parquet(spark, s"$path/sketches_q8").count())
      }
      require(nF == nQ8,
        s"sketch index at $path: int8 sibling is incomplete " +
        s"($nQ8 of $nF rows — a prior append died between the two " +
        "writes). Run appendSketchVectors (repairs orphans first) or " +
        "addQ8 to heal, or search with quantized = false")
    }
    val r = Similarity.sketchMatrix(meta.dim, meta.sketchDim, meta.seed)
    val q = queries.toDF("query_id", "q_vec")
    resident.flatMap(searchResident(spark, _, q, r, k, m, quantized)).getOrElse(
      sketchPlan(q, sketchTable(Readers.parquet(spark, s"$path/${sketchDir(quantized)}"), quantized),
        Readers.parquet(spark, s"$path/vectors"), r, k, m))
  }

  private def sketchDir(quantized: Boolean): String =
    if (quantized) "sketches_q8" else "sketches"

  /** Pass 1's input: (vec_id, float sketch). The int8 sibling is 1/4
    * the sketch bytes; the per-vector scale cancels in cosine, so a
    * cast IS the dequantization.
    */
  private def sketchTable(table: DataFrame, quantized: Boolean): DataFrame =
    if (quantized) table.select(col("vec_id"), Similarity.dequantSketch(col("sk")).as("sk"))
    else table

  /** The distributed search over query frame `q` (query_id, q_vec),
    * sketch table `sk` (vec_id, sk) and `vectors` (vec_id, c_vec).
    */
  private def sketchPlan(q: DataFrame, sk: DataFrame, vectors: DataFrame,
                         r: Array[Array[Float]], k: Int, m: Int): DataFrame = {
    import graft.expressions.NativeFns.sketch_project
    val qs = broadcast(q.withColumn("q_sk", sketch_project(col("q_vec"), r))
      .select(col("query_id"), col("q_sk")))
    val wS = Window.partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("vec_id").asc)
    val cand = sk
      .join(qs, col("query_id") =!= col("vec_id"))
      .withColumn("s", VecFns.cosine(col("q_sk"), col("sk")))
      .withColumn("srk", row_number().over(wS))
      .filter(col("srk") <= m)
      .select(col("query_id"), col("vec_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    cand.join(vectors, "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos", round(VecFns.cosine(col("q_vec"), col("c_vec")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("vec_id"), col("cos"))
  }

  // ------------------------------------------------------------------
  // Driver-resident sketch indexes: [[searchSketch]]'s path for an
  // index small enough to hold on the driver. At serve sizes the
  // distributed plan is all driver round-trips (5 jobs for a few
  // hundred KB of input), and repeated searches over one slowly growing
  // corpus can reuse one loaded copy instead.
  // ------------------------------------------------------------------

  /** Largest index, in on-disk bytes of its `vectors`, `sketches` and
    * `sketches_q8` tables together, that [[searchSketch]] serves from
    * a driver-resident copy. Random floats barely compress, so the
    * copy takes about as many bytes on the heap.
    */
  private val LocalIndexBytes: Long = 1L << 20

  /** One resident table: row i is `ids(i)` with elements
    * `data(start(i) until start(i + 1))`.
    */
  private[graft] final class Rows(val ids: Array[Long], val start: Array[Int],
                                  val data: Array[Float]) {
    def n: Int = ids.length
    def len(i: Int): Int = start(i + 1) - start(i)
  }

  /** A sketch index's tables on the driver, with the schemas the
    * distributed plan would read them with. `q8` is the int8 sibling
    * as floats (the cast is the dequantization), when it exists.
    */
  private[graft] final class Resident(val vectors: Rows, val sketches: Rows,
                                      val q8: Option[Rows],
                                      schemas: Map[String, StructType]) {
    private val outSchemas =
      new java.util.concurrent.ConcurrentHashMap[(StructType, Boolean), StructType]()

    /** The distributed plan's result schema for queries of schema `q`,
      * from analysing that plan over empty local relations (no job).
      */
    def outSchema(spark: SparkSession, q: StructType, quantized: Boolean): StructType =
      outSchemas.computeIfAbsent((q, quantized), { _ =>
        def empty(s: StructType) =
          spark.createDataFrame(java.util.Collections.emptyList[Row](), s)
        sketchPlan(empty(q), sketchTable(empty(schemas(sketchDir(quantized))), quantized),
          empty(schemas("vectors")), Array(Array(0f)), 1, 1).schema
      })
  }

  /** Resident copies per (session, index path), fingerprinted on the
    * listing of the three searched tables; `None` marks an index the
    * distributed plan serves (above `LocalIndexBytes`, a table
    * missing, a null or an unexpected column type).
    */
  private[graft] val residents =
    IndexMemo[Option[Resident]]("vectors", "sketches", "sketches_q8")

  private def loadResident(spark: SparkSession, path: String): Option[Resident] = {
    val dirs = Seq("vectors", "sketches", "sketches_q8")
      .map(t => t -> new org.apache.hadoop.fs.Path(s"$path/$t"))
    val fs = dirs.head._2.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present = dirs.filter { case (_, p) => fs.exists(p) }
    val bytes = present.map { case (_, p) => fs.getContentSummary(p).getLength }.sum
    val names = present.map(_._1)
    if (!names.contains("vectors") || !names.contains("sketches") || bytes > LocalIndexBytes)
      None
    else {
      val tables = present.map { case (t, _) =>
        val df = Readers.parquet(spark, s"$path/$t")
        t -> (df.schema, residentRows(df, if (t == "vectors") "c_vec" else "sk"))
      }.toMap
      if (tables.values.exists(_._2.isEmpty)) None
      else Some(new Resident(tables("vectors")._2.get, tables("sketches")._2.get,
        tables.get("sketches_q8").flatMap(_._2), tables.map { case (t, v) => t -> v._1 }))
    }
  }

  private def isId(t: DataType): Boolean = t == LongType || t == IntegerType

  /** `df`'s (vec_id, `vec`) rows, in one collect, as primitive arrays;
    * `None` for a null anywhere or a column type the resident search
    * does not take (ids int or long, elements float or byte).
    */
  private def residentRows(df: DataFrame, vec: String): Option[Rows] = {
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val typed = fields.get("vec_id").exists(isId) && (fields.get(vec) match {
      case Some(ArrayType(FloatType | ByteType, _)) => true
      case _ => false
    })
    val rows = if (typed) df.select(col("vec_id"), col(vec)).collect() else Array.empty[Row]
    if (!typed || !nullFree(rows)) None
    else {
      val start = rows.scanLeft(0)(_ + _.getSeq[Any](1).length)
      val data = new Array[Float](start.last)
      rows.indices.foreach(i => rows(i).getSeq[Any](1).iterator.zipWithIndex.foreach {
        case (v, j) => data(start(i) + j) = v.asInstanceOf[Number].floatValue
      })
      Some(new Rows(rows.map(rowId), start, data))
    }
  }

  /** No null id, vector or element in (id, vector) rows. */
  private def nullFree(rows: Array[Row]): Boolean =
    rows.forall(x => !x.isNullAt(0) && !x.isNullAt(1) && !x.getSeq[Any](1).contains(null))

  private def rowId(row: Row): Long = row.get(0).asInstanceOf[Number].longValue

  /** A score and the id it ranks, ordered as the search windows order
    * (score desc, vec_id asc) with Spark's double comparison: NaN
    * greatest, -0.0 equal to 0.0.
    */
  private[graft] final case class Scored(score: Double, id: Long)

  private[graft] val rankOrder: Ordering[Scored] = (a: Scored, b: Scored) => {
    val c = SQLOrderingUtil.compareDoubles(b.score, a.score)
    if (c != 0) c else java.lang.Long.compare(a.id, b.id)
  }

  /** Spark's `round(x, 6)`, the same expression the plan evaluates. */
  private val round6: Double => Double = {
    val e = Round(BoundReference(0, DoubleType, nullable = false), Literal(6))
    x => e.eval(InternalRow(x)).asInstanceOf[Double]
  }

  /** [[sketchPlan]]'s result, computed on the driver over `ix`; `None`
    * when the queries are not (int or long id, float vector) rows free
    * of nulls.
    */
  private def searchResident(spark: SparkSession, ix: Resident, q: DataFrame,
                             r: Array[Array[Float]], k: Int, m: Int,
                             quantized: Boolean): Option[DataFrame] = {
    val typed = isId(q.schema(0).dataType) && (q.schema(1).dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    val rows = if (typed) q.collect() else Array.empty[Row]
    if (!typed || !nullFree(rows)) None
    else {
      val schema = ix.outSchema(spark, q.schema, quantized)
      def value(v: Long, t: DataType): Any = if (t == IntegerType) v.toInt else v
      val sk = if (quantized) ix.q8.get else ix.sketches
      val vectors = ix.vectors
      // the window partitions by query_id: query rows sharing an id
      // rank their candidates together
      val out = rows.groupBy(rowId).toArray.flatMap { case (qid, group) =>
        val qvecs = group.map(_.getSeq[Float](1).toArray)
        // pass 1: every sketch row but the query's own id, top m
        val cands = qvecs.flatMap { qv =>
          val qsk = SketchProject.project(qv, 0, qv.length, r)
          (0 until sk.n).iterator.filter(sk.ids(_) != qid).map(i => Scored(
            CosineSim.fold(qsk, 0, qsk.length, sk.data, sk.start(i), sk.len(i)), sk.ids(i)))
        }.sorted(rankOrder).take(m)
        // pass 2: each surviving row x each vectors row with its id x
        // each query row, exact 6-dp cosine, top k
        val hits = cands.groupMapReduce(_.id)(_ => 1)(_ + _)
        val scored = (0 until vectors.n).filter(j => hits.contains(vectors.ids(j))).flatMap { j =>
          val id = vectors.ids(j)
          qvecs.toSeq.flatMap { qv =>
            val s = Scored(round6(CosineSim.fold(qv, 0, qv.length,
              vectors.data, vectors.start(j), vectors.len(j))), id)
            Seq.fill(hits(id))(s)
          }
        }.sorted(rankOrder).take(k)
        scored.zipWithIndex.map { case (s, i) =>
          Row(value(qid, schema(0).dataType), (i + 1).toLong,
            value(s.id, schema(2).dataType), s.score)
        }
      }
      Some(spark.createDataFrame(java.util.Arrays.asList(out: _*), schema))
    }
  }

  /** Sketch `vecs` (id, vec) with the index's stored recipe and append
    * to both tables — corpus growth without re-sketching the base
    * (the sketch twin of [[appendVectors]]; the matrix is a pure
    * function of the persisted meta, so appended rows are
    * byte-identical to what a full rebuild would produce and a served
    * search stays row-identical to the inline operator over the grown
    * corpus).
    *
    * SINGLE-WRITER contract (same as [[Compactor.commitOptimized]]'s
    * quiet-lake requirement): the delta is detected as a before/after
    * listing diff of `vectors/`, so a CONCURRENT append — or any other
    * writer landing files in the window — gets its files attributed to
    * this run and sketched a second time, producing duplicate sketch
    * rows that consume top-m slots and emit duplicate (query_id,
    * vec_id) pairs from [[searchSketch]]. Serialize appends per index
    * path. (An id-level dedup here is NOT the fix: appending a new row
    * under an existing vec_id is legal, and a rebuild would sketch both
    * rows — skipping "already sketched" ids would silently diverge
    * from the rebuild contract instead.)
    */
  def appendSketchVectors(path: String, vecs: DataFrame): Unit = {
    val spark = vecs.sparkSession
    val meta = loadSketchMetaOnce(spark, path)
    val r = Similarity.sketchMatrix(meta.dim, meta.sketchDim, meta.seed)
    // same single-evaluation discipline as [[writeSketch]]: append the
    // vectors (the only execution of the caller plan), then sketch
    // exactly the files that append produced — a listing diff, so the
    // delta pass reads only the delta's bytes
    val vp = new org.apache.hadoop.fs.Path(s"$path/vectors")
    val fs = vp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing(): Set[String] = fs.listStatus(vp)
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSet
    // Crash repair FIRST (see [[repairSketchOrphans]]) — a prior torn
    // append must be healed before this append lists the vectors dir.
    repairSketchOrphans(spark, path)
    val before = listing()
    val written = vecs.toDF("vec_id", "c_vec")
    Readers.appendParquet(written, s"$path/vectors")
    val delta = (listing() -- before).toSeq.sorted
    // the schema the append just wrote, as a footer read would infer
    // it (every parquet column nullable), so the delta read runs no
    // inference job
    if (delta.nonEmpty)
      appendSketches(spark, path, meta, r,
        spark.read.schema(Readers.nullable(written.schema)).parquet(delta: _*))
  }

  // the q8 sibling (v2 indexes) appends in lockstep: both the orphan
  // repair and the delta pass derive its rows from the same float
  // sketches they just appended, keeping quantize-at-write ==
  // quantize-at-rebuild
  private def appendSketches(spark: SparkSession, path: String,
                             meta: SketchMeta, r: Array[Array[Float]],
                             src: DataFrame): Unit = {
    import graft.expressions.NativeFns.sketch_project
    val sk = src.select(col("vec_id"), sketch_project(col("c_vec"), r).as("sk"))
    Readers.appendParquet(sk, s"$path/sketches")
    if (meta.hasQ8)
      Readers.appendParquet(
        sk.select(col("vec_id"), Similarity.quantizeSketch(col("sk")).as("sk")),
        s"$path/sketches_q8")
  }

  /** Heal a torn prior append: a crash between the two (or three)
    * table writes left vector rows with no sketch — pass 1 scans only
    * the sketch table, so those rows would be invisible to every
    * search forever, silently breaking the row-identical-to-rebuild
    * contract. Detect via an id-only anti-join (columnar: reads the
    * two id columns, ~sketchDim/dim of the table bytes); only a real
    * orphan set pays the full-vector re-read. Runs automatically at
    * the head of every [[appendSketchVectors]]; exposed so callers
    * whose append path is SKIPPED on a replay (a fully-duplicate
    * streaming batch — [[graft.streaming.AnnStream]]) can still heal
    * a crash that landed inside the original append.
    */
  def repairSketchOrphans(spark: SparkSession, path: String): Unit = {
    val meta = loadSketchMetaOnce(spark, path)
    val r = Similarity.sketchMatrix(meta.dim, meta.sketchDim, meta.seed)
    def table(t: String) = Readers.parquet(spark, s"$path/$t")
    // q8-specific repair first: a prior append that died between the
    // float-sketch and q8 writes left q8 rows missing — invisible to
    // every quantized search. Repair derives from the float table
    // (cheap: sketch-sized, no vector re-read).
    if (meta.hasQ8) {
      val q8Orphans = table("sketches").select("vec_id")
        .join(table("sketches_q8").select("vec_id"),
          Seq("vec_id"), "left_anti")
      if (!q8Orphans.isEmpty)
        Readers.appendParquet(table("sketches").join(q8Orphans, Seq("vec_id"))
          .select(col("vec_id"), Similarity.quantizeSketch(col("sk")).as("sk")),
          s"$path/sketches_q8")
    }
    val orphanIds = table("vectors").select("vec_id")
      .join(table("sketches").select("vec_id"),
        Seq("vec_id"), "left_anti")
    if (!orphanIds.isEmpty)
      appendSketches(spark, path, meta, r,
        table("vectors").join(orphanIds, Seq("vec_id")))
  }

  /** Assign `vecs` (id, vec) to their nearest existing centroids and
    * append them under the matching cell directories — corpus growth
    * without retraining.
    */
  def appendVectors(path: String, vecs: DataFrame): Unit = {
    import graft.expressions.NativeFns.nearest_centroid
    val ix = load(vecs.sparkSession, path)
    vecs.toDF("vec_id", "c_vec")
      .withColumn("cell", nearest_centroid(col("c_vec"), ix.centroids))
      .write.mode("append").partitionBy("cell").parquet(s"$path/corpus")
    loadedIxs.invalidate(path)
  }
}
