package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Hyperplane-LSH ANN: deterministic bucketing, and recall against the
  * exact brute-force baseline (deterministic data -> recall is a fixed
  * number, asserted with margin below the measured value).
  */
class AnnSpec extends SparkSpec {

  private def queriesAndCorpus = {
    import spark.implicits._
    val e = Tables.load(spark, sf0001, "embeddings")
    (e.filter($"vec_id" < 20).select($"vec_id", $"embedding"),
     e.select($"vec_id", $"embedding"))
  }

  test("semDedup keeps one min-id representative per intra-cell τ-component") {
    import spark.implicits._
    // two tight duplicate groups on orthogonal axes + two singletons
    // (one anti-parallel to group A: cos = -1, never a dup). Exact
    // duplicates make cell assignment a pure function of the vector,
    // so group members can never straddle a kmeans boundary.
    val e = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(1f, 0f, 0f, 0f)),
      (10L, Array(0f, 1f, 0f, 0f)), (11L, Array(0f, 1f, 0f, 0f)),
      (20L, Array(0f, 0f, 1f, 0f)),
      (30L, Array(-1f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    def run(cellCap: Int) = graft.operators.Dedup.semDedup(
        e, $"vec_id", $"embedding", nCells = 2, iters = 2, dim = 4,
        tau = 0.9, seedMode = "kcenter", cellCap = cellCap)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    val out = run(cellCap = 1024)
    assert(out.map(t => t._1 -> t._2).toMap ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L,
        20L -> 20L, 30L -> 30L), s"got ${out.toSeq}")
    // kept is exactly "I am my own representative"
    assert(out.forall(t => t._3 == (t._1 == t._2)))
    // triangle blocking is a plan choice: a 2-row cap must not change rows
    assert(run(cellCap = 2).toSeq == out.toSeq)
  }

  test("semDedup auto-dial and trained-centroid reuse change the plan, not the semantics") {
    import spark.implicits._
    val (_, c) = queriesAndCorpus
    val e = c.limit(200).toDF("vec_id", "embedding")
    val n = e.count()
    val kAuto = math.ceil(math.sqrt(n.toDouble)).toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // nCells = 0 IS ceil(sqrt(N)): identical output to the explicit dial
    val auto = rows(graft.operators.Dedup.semDedup(e, $"vec_id", $"embedding",
      nCells = 0, iters = 2, dim = 64, tau = 0.3, seedMode = "kcenter"))
    val explicit = rows(graft.operators.Dedup.semDedup(e, $"vec_id", $"embedding",
      nCells = kAuto, iters = 2, dim = 64, tau = 0.3, seedMode = "kcenter"))
    assert(auto == explicit)
    // passing persisted centroids == training the same params in-call
    // (the s05-index-reuse shape): training becomes a pure map
    val cents = Similarity.trainIvfCentroids(e, 8, 2, 64, seedMode = "kcenter")
    val reused = rows(graft.operators.Dedup.semDedup(e, $"vec_id", $"embedding",
      nCells = 8, iters = 2, dim = 64, tau = 0.3, seedMode = "kcenter",
      trained = Some(cents)))
    val trainedInCall = rows(graft.operators.Dedup.semDedup(e, $"vec_id",
      $"embedding", nCells = 8, iters = 2, dim = 64, tau = 0.3,
      seedMode = "kcenter"))
    assert(reused == trainedInCall)
  }

  test("semFlags flags delta-vs-base τ-matches only, never base×base") {
    import spark.implicits._
    // base: duplicate pair on x, singletons on y and z; delta: an x
    // copy (matches both x bases), a y copy (matches the y base), an
    // anti-parallel z (cos -1, never a match), and a near-x vector
    // (cos ~.994 to x). Whatever 2-cell split training picks, equal
    // vectors co-cell and cross-direction cosines stay < τ, so the
    // expected flag set is invariant.
    val base = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(1f, 0f, 0f, 0f)),
      (10L, Array(0f, 1f, 0f, 0f)), (20L, Array(0f, 0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val delta = Seq(
      (100L, Array(1f, 0f, 0f, 0f)),
      (101L, Array(0f, 1f, 0f, 0f)),
      (102L, Array(0f, 0f, -1f, 0f)),
      (103L, Array(0.9f, 0.1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    def run(cellCap: Int) = graft.operators.Dedup.semFlags(
        base, delta, $"vec_id", $"embedding", nCells = 2, iters = 2,
        dim = 4, tau = 0.9, seedMode = "kcenter", cellCap = cellCap)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val out = run(cellCap = 1024)
    assert(out == Map(100L -> (0L, 2L), 101L -> (10L, 1L),
      103L -> (0L, 2L)), s"got $out")
    // blocking cap is a balance knob, never a result knob
    assert(run(cellCap = 1) == out)
  }

  test("LSH buckets are deterministic across runs") {
    import graft.expressions.NativeFns.hyperplane_bucket
    import spark.implicits._
    val e = Tables.load(spark, sf0001, "embeddings")
      .select($"vec_id", hyperplane_bucket($"embedding", 4, 64).as("b"))
    val a = e.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = e.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
    assert(a.values.toSet.size > 1) // planes actually split the corpus
  }

  test("trained IVF with nprobe reaches useful recall vs brute force") {
    val (q, c) = queriesAndCorpus
    val exact = Similarity.knnBruteForce(q, c, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.knnIvf(q, c, 10, nCells = 16, iters = 2,
      dim = 64, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    info(s"IVF recall@10 = $recall")
    assert(recall >= 0.3, s"IVF recall@10 $recall below floor")
  }

  test("vector_avg aggregate equals exploded per-dim average") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = Tables.load(spark, sf0001, "embeddings")
    val viaAgg = e.groupBy($"label")
      .agg(graft.expressions.VectorAvg.vector_avg($"embedding", 64).as("m"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val viaExplode = e.select($"label", posexplode($"embedding").as(Seq("d", "x")))
      .groupBy($"label", $"d").agg(avg($"x").as("m"))
      .collect().groupBy(_.getInt(0))
      .map { case (l, rows) =>
        l -> rows.sortBy(_.getInt(1)).map(r =>
          BigDecimal(r.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toSeq
      }
    viaAgg.foreach { case (l, m) =>
      assert(m == viaExplode(l), s"label $l mismatch")
    }
  }

  test("IVF training is deterministic") {
    val (_, c) = queriesAndCorpus
    val a = Similarity.trainIvfCentroids(c, 8, 2, 64)
    val b = Similarity.trainIvfCentroids(c, 8, 2, 64)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("distributed k-center seeding is seed-for-seed equal to the driver traversal") {
    import spark.implicits._
    val (_, c) = queriesAndCorpus
    // sub-cap corpus: both paths see the identical sample, so the
    // distributed farthest-point rounds must reproduce the driver
    // loop's seeds EXACTLY (bit-equal doubles, not approximately) —
    // the contract that lets the distributed path replace the capped
    // driver path above SeedSampleCap without changing semantics.
    // Cover: plain, sampled (seedEvery), rank-trimmed, and a zero-norm
    // row that seeding must exclude.
    val withZero = c.unionByName(
      Seq((999999L, Seq.fill(64)(0f))).toDF("vec_id", "embedding"))
    for ((every, trim) <- Seq((1, 0.0), (3, 0.0), (1, 0.1))) {
      val drv = Similarity.kcenterSeeds(withZero, 7, every, trim)
      val dist = Similarity.kcenterSeedsDistributed(withZero, 7, every, trim)
      assert(dist.map(_.toSeq).toSeq == drv.map(_.toSeq).toSeq,
        s"seed sets diverge at seedEvery=$every trimFrac=$trim")
    }
    // and through trainIvfCentroids: kcenterdist == kcenter end-to-end
    val a = Similarity.trainIvfCentroids(c, 8, 2, 64, seedMode = "kcenter")
    val b = Similarity.trainIvfCentroids(c, 8, 2, 64, seedMode = "kcenterdist")
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // carried-state form (the large-k path, normally auto-selected
    // above KcenterStateThreshold): identical seeds to the driver
    // traversal, at a k that crosses the 16-round checkpoint
    // re-truncation boundary so the lineage-reset path is exercised,
    // on both the plain and the rank-trimmed argmin
    for (trim <- Seq(0.0, 0.1)) {
      val drvK = Similarity.kcenterSeeds(withZero, 20, 1, trim)
      val carK = Similarity.kcenterSeedsDistributed(withZero, 20, 1, trim,
        carryState = Some(true))
      assert(carK.map(_.toSeq).toSeq == drvK.map(_.toSeq).toSeq,
        s"carried-state seeds diverge at trimFrac=$trim")
    }
  }

  test("oversampled (k-means||) seeding: deterministic, recall-comparable, and the large-k delegate") {
    import spark.implicits._
    val (q, c) = queriesAndCorpus
    // deterministic: two runs (fresh plans) must be bit-identical —
    // the draw is a pure hash function of (vec_id, round, candidates)
    val a = Similarity.kcenterSeedsOversampled(c, 16)
    val b = Similarity.kcenterSeedsOversampled(c, 16)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // zero-norm rows are excluded from seeding like every other form
    val withZero = c.unionByName(
      Seq((999999L, Seq.fill(64)(0f))).toDF("vec_id", "embedding"))
    val z = Similarity.kcenterSeedsOversampled(withZero, 16)
    assert(z.forall(v => math.sqrt(v.map(x => x * x).sum) > 0.0))
    // the first seed matches the exact forms' anchor (lowest-id vector)
    val exact = Similarity.kcenterSeeds(c, 16)
    assert(a.head.toSeq == exact.head.toSeq)
    // recall parity: IVF trained from oversampled seeds serves within
    // tolerance of the exact-k-center-seeded index on the same corpus
    def recallOf(mode: String): Double = {
      val truth = Similarity.knnBruteForce(q, c, 10).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val got = Similarity.knnIvf(q, c, 10, nCells = 16, iters = 2,
        dim = 64, nprobe = 4, seedMode = mode).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      (truth & got).size.toDouble / truth.size
    }
    val rExact = recallOf("kcenter")
    val rOver = recallOf("kcenterover")
    info(s"IVF recall@10: kcenter=$rExact kcenterover=$rOver")
    assert(rOver >= rExact - 0.1,
      s"oversampled-seeded recall $rOver more than 0.1 below exact $rExact")
    // above KcenterRoundCeiling the distributed entry point delegates
    // to the oversampled form (carryState pins the sequential form)
    val kBig = Similarity.KcenterRoundCeiling + 1
    val viaDist = Similarity.kcenterSeedsDistributed(c, kBig)
    val direct = Similarity.kcenterSeedsOversampled(c, kBig)
    assert(viaDist.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq)
    // a corpus smaller than k clamps to at most |corpus| seeds
    assert(viaDist.length <= c.count())
  }

  test("IVF training with fewer corpus vectors than k clamps to seed count") {
    import spark.implicits._
    val (_, c) = queriesAndCorpus
    val tiny = c.filter($"vec_id" < 5) // 5 vectors, ask for 8 centroids
    val cents = Similarity.trainIvfCentroids(tiny, 8, 2, 64)
    assert(cents.length == 5)
    assert(cents.forall(_.length == 64))
  }

  test("vector_avg passes non-finite means through without throwing") {
    import spark.implicits._
    val df = Seq(
      (1, Array(Float.NaN, 1.0f)),
      (1, Array(2.0f, 3.0f))).toDF("g", "v")
    val out = df.groupBy($"g")
      .agg(graft.expressions.VectorAvg.vector_avg($"v", 2).as("m"))
      .collect()(0).getSeq[Double](1)
    assert(out(0).isNaN)
    assert(out(1) == 2.0)
  }

  test("s06 sketch-rerank: no shuffle exchange carries a full vector") {
    // The operator's scale contract (SURVEY §2.11 / r13 weak mark): pass
    // 1 exchanges (vec_id, 16-float sketch), pass 2 broadcasts the m
    // survivors into the corpus scan and the final top-k window shuffles
    // (query_id, vec_id, cos). A 64-float embedding attribute appearing
    // in ANY shuffle exchange output means the full corpus is crossing
    // the wire again — the regression this pins out.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = {
      val self = p match { case e: ShuffleExchangeExec => Seq(e); case _ => Seq.empty }
      val nested = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _ => p.children
      }
      self ++ nested.flatMap(exchanges)
    }
    val banned = Set("c_vec", "q_vec", "embedding", "vec")
    def check(qn: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.collect() // execute so AQE materializes the final stages
      val exs = exchanges(df.queryExecution.executedPlan)
      assert(exs.nonEmpty, s"$qn: expected the pass-1 spread + window exchanges")
      exs.foreach { e =>
        val names = e.output.map(_.name)
        assert(!names.exists(banned),
          s"$qn: shuffle exchange carries a full vector column ($names):\n$e")
      }
    }
    check("s06_knn_sketch_rerank", SparkEntry.queries("s06_knn_sketch_rerank")(spark, sf0001))
    // s07's index is below AnnIndex.LocalIndexBytes: it is searched on
    // the driver and shuffles nothing at all; the persisted index's
    // distributed search is checked on an index above the cap
    val s07 = SparkEntry.queries("s07_knn_sketch_indexed")(spark, sf0001)
    s07.collect()
    assert(exchanges(s07.queryExecution.executedPlan).isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft-sk-large").toString
    val rnd = new scala.util.Random(5)
    val emb = Tables.load(spark, sf0001, "embeddings").select(col("vec_id"), col("embedding"))
    val corpus = spark.createDataFrame(java.util.Arrays.asList((0 until 5000).map(i =>
        org.apache.spark.sql.Row(i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat))): _*),
      emb.schema)
    graft.operators.AnnIndex.writeSketch(dir, corpus)
    check("searchSketch above LocalIndexBytes", graft.operators.AnnIndex.searchSketch(
      spark, dir, corpus.filter(col("vec_id") < 20), k = 10, m = 100))
  }

  test("multi-probe LSH reaches useful recall vs brute force") {
    val (q, c) = queriesAndCorpus
    val exact = Similarity.knnBruteForce(q, c, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.knnHyperplaneLSH(q, c, 10, nPlanes = 4,
      dim = 64, multiProbe = true).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"recall@10 = $recall")
    // measured 0.495 on this (uniformly random, clusterless) corpus —
    // the worst case for sign-LSH; real embedding corpora cluster and
    // recall rises with it. Floor guards against regressions, not SOTA.
    assert(recall >= 0.45, s"recall@10 $recall below floor")
    // and the candidate set actually shrank: approx must not simply
    // return the brute-force result via full scan
    assert(approx.size <= exact.size)
  }
}
