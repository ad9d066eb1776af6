package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VecFns

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against the corpus, so the corpus is scanned once with no
  * shuffle until the final per-query top-k (rank-filter window on the
  * query key, never a global sort).
  *
  * Scale path: cell-partitioned search (IVF-style): corpus and queries
  * carry a cell id (coarse quantizer / LSH bucket); the join is
  * equi on the cell, cutting candidates by the cell fan-out. With a
  * trained quantizer you'd probe the nearest `nprobe` cells — the
  * plumbing is identical (explode query->probe cells, equi-join).
  */
object Similarity {

  /** Brute-force exact top-k neighbors for each query row.
    * `queries`/`corpus`: (id, vec). Self-matches excluded.
    */
  def knnBruteForce(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val par = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val q = queries.toDF("query_id", "q_vec")
    // corpus often arrives as one small split; spread the per-row cosine
    val c = corpus.toDF("vec_id", "c_vec").repartition(par)
    val scored = c.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .withColumn("cos", round(VecFns.cosine(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"), col("vec_id"), col("cos"))
  }

  /** Sign-LSH ANN: bucket both sides with deterministic random-
    * hyperplane signs ([[graft.expressions.HyperplaneBucket]]), then
    * search within the bucket. `multiProbe` additionally probes every
    * bucket at Hamming distance 1 (flip one plane's sign) — the
    * standard recall/cost dial; candidates stay
    * |corpus|/2^planes x (1+planes) per query instead of |corpus|.
    */
  def knnHyperplaneLSH(queries: DataFrame, corpus: DataFrame, k: Int,
                       nPlanes: Int = 4, dim: Int = 64,
                       multiProbe: Boolean = true): DataFrame = {
    import graft.expressions.NativeFns.hyperplane_bucket
    val c = corpus.toDF("vec_id", "c_vec")
      .withColumn("cell", hyperplane_bucket(col("c_vec"), nPlanes, dim))
    val probes: Column = {
      val base = hyperplane_bucket(col("q_vec"), nPlanes, dim)
      if (!multiProbe) array(base)
      else array((base +: (0 until nPlanes).map(p => base.bitwiseXOR(lit(1 << p)))): _*)
    }
    val q = queries.toDF("query_id", "q_vec")
      .withColumn("cell", explode(probes))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", round(VecFns.cosine(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"), col("vec_id"), col("cos"))
  }

  /** Deterministic k-means++-style seeding (greedy k-center /
    * farthest-first traversal): seed 0 is the lowest-id vector; each
    * subsequent seed is the sample vector FARTHEST from the seeds
    * chosen so far — i.e. with the minimal max-cosine to any chosen
    * seed — ties to the lowest vec_id. No RNG anywhere, so a DuckDB
    * oracle can replay the traversal CTE-for-CTE.
    *
    * Runs driver-side over a deterministic sample: rows where
    * `xxhash64(vec_id) % every == 0`, with `every` the MAX of the
    * caller's `seedEvery` and the value that caps the sample at
    * [[SeedSampleCap]] rows — so the collect is bounded by the CAP,
    * not by the caller, and a 100 TB corpus can never reach the
    * driver (k-center quality degrades gracefully under uniform
    * sampling — seeds only need to SPREAD, not be optimal; the
    * O(k * |sample| * dim) traversal is sub-second while Lloyd
    * refinement stays fully distributed). At the oracle's gate scales
    * the corpus is far below the cap, so `every == 1` and the DuckDB
    * restatement sees the whole corpus — the hash rule never needs to
    * be SQL-expressible there.
    *
    * Arithmetic parity contract (the oracle replays it bit-for-bit):
    * floats widen to double (exact), dot/norm fold strictly
    * left-to-right, cos = dot / (|v| * |s|), comparisons on RAW
    * doubles (same ops both sides => same bits => same argmin).
    */
  /** Hard ceiling on the driver-side seeding sample: 10^5 rows x
    * dim 64 floats ~ 26 MB collected, sub-second traversal. Above it,
    * `seedEvery` is raised automatically (deterministic xxhash64 row
    * rule, uniform regardless of id distribution), so a full-corpus
    * collect can NEVER reach the driver no matter what the caller
    * passes — the cap, not the caller, bounds driver memory.
    */
  val SeedSampleCap = 100000L

  def kcenterSeeds(corpus: DataFrame, k: Int,
                   seedEvery: Int = 1,
                   trimFrac: Double = 0.0): Array[Array[Double]] = {
    val c = corpus.toDF("vec_id", "vec")
    val n0 = c.count()
    val every = math.max(seedEvery.toLong,
      (n0 + SeedSampleCap - 1) / SeedSampleCap)
    // The generated DuckDB oracle (SimilarityOps.ivfOracleSql) replays
    // the seeding traversal over the FULL corpus — it is only
    // value-identical while the cap leaves the sample untouched. Warn
    // loudly the moment auto-raising kicks in so an oracle-gated run
    // at a larger fixture fails with a diagnosis, not a silent hash
    // mismatch. (Production recall is unaffected — the sample stays
    // a uniform xxhash64 rule either way.)
    if (every > seedEvery.toLong)
      System.err.println(
        s"[graft] kcenterSeeds: corpus rows $n0 exceed SeedSampleCap " +
        s"$SeedSampleCap; seedEvery auto-raised ${seedEvery} -> $every. " +
        "Generated DuckDB seeding oracles replay the full corpus and " +
        "will DIVERGE at this scale — do not oracle-gate this run. " +
        "seedMode=kcenterdist keeps full-corpus (oracle-parity) seeding " +
        "at any N with flat driver cost.")
    val sampled =
      if (every <= 1) c
      else c.filter(pmod(xxhash64(col("vec_id")), lit(every)) === 0)
    // zero-norm vectors are excluded from SEEDING (cosine to them is
    // NaN — one such row would freeze its own max-cos at -Inf and win
    // every subsequent farthest-point argmin, collapsing all remaining
    // seeds onto it; DuckDB's NaN ordering diverges from the Scala
    // comparison too, so parity also demands the exclusion). The
    // oracle applies the same `nrm > 0` filter to its seeding CTE.
    // They still ASSIGN to cells normally (NearestCentroid scores a
    // zero vector -Inf everywhere and ties to cell 0).
    val rows0 = sampled.orderBy(col("vec_id")).collect()
      .map(r => r.getSeq[Float](1).toArray)
    def normOf(v: Array[Float]): Double = {
      var s = 0.0; var j = 0
      while (j < v.length) { s += v(j).toDouble * v(j).toDouble; j += 1 }
      math.sqrt(s)
    }
    val rows = rows0.filter(v => normOf(v) > 0.0)
    require(rows.nonEmpty, "kcenterSeeds: empty corpus sample (after zero-norm exclusion)")
    // rows are vec_id-sorted: index 0 IS the lowest id
    traverseFarthestFirst(rows, rows.map(normOf), k, trimFrac)
      .map(i => rows(i).map(_.toDouble))
  }

  /** [[kcenterSeeds]] with the farthest-point state kept DISTRIBUTED —
    * the any-N escape from the driver cap: the driver never holds more
    * than the k chosen seeds (one tiny collect per round), so seeding
    * quality no longer silently degrades to a [[SeedSampleCap]] sample
    * and driver wall/memory stay flat as the corpus grows.
    *
    * Seed-for-seed EQUAL to the driver traversal on the same sample
    * (spec-pinned): each round evaluates the row's max cosine against
    * the seeds chosen so far with the [[graft.expressions.MaxCosine]]
    * kernel — operation-for-operation the driver loop (ascending seed
    * order, ascending-index double dot, `dot / (nm * seedNorm)`,
    * strict-> running max), so the values are bit-identical — and the
    * `min_by(…, struct(_mc, vec_id))` argmin resolves ties to the
    * lowest id exactly like the driver's strict-< scan. Up to
    * [[KcenterStateThreshold]] seeds the max is recomputed from
    * scratch per round (no carried state column, no lineage growth,
    * ONE job per round over the once-checkpointed sample): total work
    * is k²/2 dots per row instead of k, bought deliberately — at small
    * k, per-round driver latency and plan depth dominate the extra
    * arithmetic by an order of magnitude. Above the threshold (the
    * √N auto-dial regime, where k² bites) the running max rides as a
    * carried `_mc` column folding in only the new seed each round,
    * with the lineage re-truncated by an eager localCheckpoint every
    * [[KcenterCkptEvery]] rounds — identical seeds either way
    * (spec-pinned), `carryState` overrides the auto choice.
    *
    * Cost shape: k rounds × one scan+agg job — wall is
    * O(k²·N·dim / cores) executor work (recompute form; O(k·N·dim)
    * carried) with O(k·dim) driver bytes;
    * the driver path is O(k·min(N,cap)·dim) driver-serial CPU holding
    * a cap-sized sample. Use this above the cap (exact full-corpus
    * seeding, oracle-parity at any N) or when driver CPU minutes
    * matter; the capped driver path stays the low-latency choice for
    * small corpora.
    */
  /** Release a localCheckpoint's pinned executor-storage blocks —
    * checkpointed blocks are released as soon as a successor
    * checkpoint materializes, and the last one in each caller's
    * `finally`; a long-lived serving JVM calling seeding repeatedly
    * would otherwise accumulate one pinned sample per call until RDD
    * GC gets around to it.
    */
  private def releaseOf(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case _ => // plan shape changed upstream: nothing pinned to free
    }

  def kcenterSeedsDistributed(corpus: DataFrame, k: Int,
                              seedEvery: Int = 1,
                              trimFrac: Double = 0.0,
                              carryState: Option[Boolean] = None)
      : Array[Array[Double]] =
    // above the round ceiling the sequential forms are a wall-clock
    // scale ceiling regardless of cluster size (one Spark job per seed:
    // measured 225 s at k=1024 over 500k vectors — BENCH_seed_probe) —
    // delegate to the bounded-round oversampled form. An explicit
    // carryState pins the sequential form (probes compare all three).
    if (carryState.isEmpty && k > KcenterRoundCeiling)
      kcenterSeedsOversampled(corpus, k, seedEvery, trimFrac = trimFrac)
    else kcenterSeedsSequential(corpus, k, seedEvery, trimFrac, carryState)

  private def kcenterSeedsSequential(corpus: DataFrame, k: Int,
                                     seedEvery: Int,
                                     trimFrac: Double,
                                     carryState: Option[Boolean])
      : Array[Array[Double]] = {
    import graft.expressions.NativeFns.{max_cos, vec_norm}
    val c = corpus.toDF("vec_id", "vec")
    val sampled =
      if (seedEvery <= 1) c
      else c.filter(pmod(xxhash64(col("vec_id")), lit(seedEvery.toLong)) === 0)
    // same zero-norm seeding exclusion as the driver path (see above);
    // the sample is pinned ONCE (eager localCheckpoint roots the k
    // per-round scans at an in-memory table, not the source plan)
    val base = sampled
      .withColumn("_nm", vec_norm(col("vec"))).filter(col("_nm") > 0)
      .select(col("vec_id"), col("vec"), col("_nm"))
      .localCheckpoint()
    var pinned = base
    try {
      val n = base.count()
      require(n > 0,
        "kcenterSeedsDistributed: empty corpus sample (after zero-norm exclusion)")
      val k2 = math.min(k.toLong, n).toInt
      val seeds = new Array[Array[Float]](k2)
      val seedNorms = new Array[Double](k2)
      def vecOf(r: org.apache.spark.sql.Row): Array[Float] =
        r.getSeq[Float](0).toArray
      var cur = base.orderBy(col("vec_id")).select(col("vec"), col("_nm")).first()
      var s = 0
      seeds(s) = vecOf(cur); seedNorms(s) = cur.getDouble(1)
      // Two equivalent forms of the per-round max-cosine (identical
      // values: max over the same per-seed cosines, and fp max is
      // order-independent — spec-pinned seed-for-seed):
      //  - recompute (small k): `_mc` is re-derived from the full seed
      //    array every round with ONE max_cos kernel — constant plan
      //    depth, zero extra materialization, but Σ work is k²/2 dots
      //    per row, which crosses over near k≈[[KcenterStateThreshold]]
      //    (BENCH_seed_probe.json measures the crossing);
      //  - carried state (large k — the √N auto-dial regime): `_mc`
      //    rides as a column, each round folds in ONLY the new seed
      //    (greatest of the carried max and one single-seed max_cos =
      //    k dots per row total), and the lineage is re-truncated by an
      //    eager localCheckpoint every [[KcenterCkptEvery]] rounds so
      //    plan depth stays bounded without paying a per-round
      //    materialization (the 34.6s-vs-6.0s trade at small k).
      val carried = carryState.getOrElse(k2 > KcenterStateThreshold)
      var state =
        if (carried) base.withColumn("_mc",
          max_cos(col("vec"), col("_nm"), seeds.take(1), seedNorms.take(1)))
        else base
      var sinceCkpt = 0
      while (s + 1 < k2) {
        if (carried && sinceCkpt >= KcenterCkptEvery) {
          val ck = state.localCheckpoint() // eager: materializes now
          releaseOf(pinned)
          pinned = ck; state = ck; sinceCkpt = 0
        }
        val mc =
          if (carried) col("_mc")
          else max_cos(col("vec"), col("_nm"),
            seeds.slice(0, s + 1), seedNorms.slice(0, s + 1))
        cur =
          if (trimFrac <= 0.0)
            state.select(min_by(struct(col("vec"), col("_nm")),
              struct(mc, col("vec_id"))).as("m"))
              .select(col("m.vec"), col("m._nm")).first()
          else {
            // rank-trimmed farthest point: the row at rank
            // floor(trimFrac*(n-1)) of the (_mc, vec_id) ascending order
            // = the LAST of its narrow top-(rank+1) — ids only ship to
            // the driver, the vector is fetched by id afterwards
            val rank = math.floor(trimFrac * (n - 1)).toInt
            val id = state.select(mc.as("_rmc"), col("vec_id"))
              .orderBy(col("_rmc"), col("vec_id")).limit(rank + 1)
              .orderBy(col("_rmc").desc, col("vec_id").desc).first().getLong(1)
            state.filter(col("vec_id") === id)
              .select(col("vec"), col("_nm")).first()
          }
        s += 1
        seeds(s) = vecOf(cur); seedNorms(s) = cur.getDouble(1)
        if (carried) {
          state = state.withColumn("_mc", greatest(col("_mc"),
            max_cos(col("vec"), col("_nm"),
              seeds.slice(s, s + 1), seedNorms.slice(s, s + 1))))
          sinceCkpt += 1
        }
      }
      seeds.map(_.map(_.toDouble))
    } finally releaseOf(pinned)
  }

  /** Seed count above which [[kcenterSeedsDistributed]] switches from
    * per-round max-cos recompute (k²/2 dots per row total, constant
    * plan depth) to the carried-state column (k dots per row +
    * periodic lineage checkpoints) — set from the measured crossing in
    * BENCH_seed_probe.json.
    */
  val KcenterStateThreshold = 128
  private val KcenterCkptEvery = 16

  /** Seed count above which [[kcenterSeedsDistributed]] stops running
    * one Spark job per seed and delegates to the bounded-round
    * [[kcenterSeedsOversampled]] form. Even the carried-state column
    * cannot fix the ROUND count — measured 225 s at k=1024 over 500k
    * vectors (BENCH_seed_probe.json), i.e. ~0.22 s of fixed per-round
    * latency that no cluster size amortizes; at the √N auto-dial on
    * production corpora (k≈10⁴–3·10⁴) that is hours of driver-serial
    * scheduling. The ceiling sits at the last k where the sequential
    * wall is still tolerable AND the exactness of full-corpus
    * farthest-first plausibly matters; gate oracles train at k ≤ 23,
    * far below it.
    */
  val KcenterRoundCeiling = 1024

  /** Oversampled seeding — k-means‖ (Bahmani et al., "Scalable
    * k-means++", VLDB 2012, public) adapted to the cosine k-center
    * traversal: the bounded-round escape from one-Spark-job-per-seed.
    *
    * `rounds` passes over the (zero-norm-excluded, optionally
    * seedEvery-sampled) corpus; each pass draws every row
    * INDEPENDENTLY with probability `min(1, ℓ·d_i/Σd)` where
    * `d_i = max(0, 1 − maxcos_i)` is the row's cosine distance to the
    * candidates chosen so far and `ℓ = oversample·k` — so each pass
    * adds ≤ ℓ candidates in expectation, biased toward uncovered
    * space exactly like the farthest-first argmin. After the passes,
    * the EXACT farthest-first traversal (the [[traverseFarthestFirst]]
    * loop [[kcenterSeeds]] runs) runs driver-side over the
    * O(k·oversample·rounds)-row candidate set only.
    *
    * Deterministic end-to-end, no RNG state: the draw is
    * `pmod(xxhash64(vec_id, round), 2²⁴)/2²⁴ < p_i`, a pure function
    * of (vec_id, round, candidates-so-far), and candidates collect
    * sorted by vec_id — two runs see identical seeds.
    *
    * Cost shape: 2·`rounds` jobs (one Σd aggregate + one filtered
    * collect per pass; drawn candidates fold into a carried `_mc`
    * column, lineage re-truncated by an eager localCheckpoint each
    * pass) — round count O(rounds), never O(k). Executor arithmetic
    * totals |candidates|·dim dots per row ≈ oversample·rounds× the
    * carried sequential form's k·dim — bought deliberately for the
    * k/rounds-fold round-count cut (5 rounds vs 10⁴). Driver holds
    * O(k·oversample·rounds·dim) floats and spends
    * O(k·|cand|·dim) parallel flops on the final traversal — at
    * k=4096, |cand|≈40k, dim=64 that is ~10¹⁰ mul-adds across cores,
    * seconds, independent of N.
    *
    * Approximation contract: seeds are farthest-first over a biased
    * SAMPLE, not the full corpus — not bit-equal to [[kcenterSeeds]].
    * AnnSpec pins IVF recall parity within tolerance; gate oracles
    * (d11–d13) never reach this form (k ≤ 23 « [[KcenterRoundCeiling]]).
    */
  def kcenterSeedsOversampled(corpus: DataFrame, k: Int,
                              seedEvery: Int = 1,
                              rounds: Int = 5,
                              oversample: Double = 2.0,
                              trimFrac: Double = 0.0): Array[Array[Double]] = {
    import graft.expressions.NativeFns.{max_cos, vec_norm}
    require(rounds >= 1, s"kcenterSeedsOversampled: rounds=$rounds must be >= 1")
    require(oversample > 0, s"kcenterSeedsOversampled: oversample=$oversample must be > 0")
    val c = corpus.toDF("vec_id", "vec")
    val sampled =
      if (seedEvery <= 1) c
      else c.filter(pmod(xxhash64(col("vec_id")), lit(seedEvery.toLong)) === 0)
    val base = sampled
      .withColumn("_nm", vec_norm(col("vec"))).filter(col("_nm") > 0)
      .select(col("vec_id"), col("vec"), col("_nm"))
      .localCheckpoint()
    var pinned = base
    try {
      val firstRows = base.orderBy(col("vec_id")).limit(1).collect()
      require(firstRows.nonEmpty,
        "kcenterSeedsOversampled: empty corpus sample (after zero-norm exclusion)")
      val first = firstRows(0)
      val candIds = scala.collection.mutable.ArrayBuffer[Long](first.getLong(0))
      val candVecs = scala.collection.mutable.ArrayBuffer[Array[Float]](
        first.getSeq[Float](1).toArray)
      val candNorms = scala.collection.mutable.ArrayBuffer[Double](
        first.getDouble(2))
      // a candidate's residual d is ~1 ulp, not exactly 0 (nm·nm vs
      // Σv² sqrt rounding), so when ℓ·d/Σd stays >= 1 — e.g. k near or
      // above |corpus| — already-drawn rows re-draw; dedupe by id
      val seen = scala.collection.mutable.HashSet[Long](candIds(0))
      val ell = oversample * k
      var state = base.withColumn("_mc",
        max_cos(col("vec"), col("_nm"),
          Array(candVecs(0)), Array(candNorms(0))))
      var r = 0
      var covered = false
      while (r < rounds && !covered) {
        // truncate the fold lineage and release the prior pin BEFORE
        // the pass's two jobs read the state twice
        val ck = state.localCheckpoint()
        releaseOf(pinned); pinned = ck; state = ck
        val d = greatest(lit(0.0), lit(1.0) - col("_mc"))
        val phi = state.agg(sum(d).as("s")).first().getDouble(0)
        if (phi <= 0.0) covered = true // every row coincides with a candidate
        else {
          val u = pmod(xxhash64(col("vec_id"), lit(r)), lit(1L << 24))
            .cast("double") / lit((1L << 24).toDouble)
          val drawn = state
            .filter(u < least(lit(1.0), lit(ell) * d / lit(phi)))
            .select(col("vec_id"), col("vec"), col("_nm"))
            .collect()
            .sortBy(_.getLong(0))
            .filter(row => seen.add(row.getLong(0)))
          if (drawn.nonEmpty) {
            val vs = drawn.map(_.getSeq[Float](1).toArray)
            val ns = drawn.map(_.getDouble(2))
            var i = 0
            while (i < drawn.length) {
              candIds += drawn(i).getLong(0); candVecs += vs(i); candNorms += ns(i)
              i += 1
            }
            state = state.withColumn("_mc", greatest(col("_mc"),
              max_cos(col("vec"), col("_nm"), vs, ns)))
          }
          r += 1
        }
      }
      // exact farthest-first over the candidate set, vec_id-sorted so
      // the index tie-break IS the id tie-break (ids unique via `seen`)
      val order = candIds.indices.sortBy(candIds).toArray
      val rows = order.map(candVecs)
      val norms = order.map(candNorms)
      val chosen = traverseFarthestFirst(rows, norms, k, trimFrac)
      chosen.map(i => rows(i).map(_.toDouble))
    } finally releaseOf(pinned)
  }

  /** The driver farthest-first loop, over in-memory vec_id-sorted
    * rows, with the per-row max-cos update parallelized (each row's
    * update reads only shared-immutable seed state and writes only its
    * own slot, so it is bit-identical to a sequential loop) and the
    * argmin kept sequential (lowest-index tie-break). The next seed is
    * the candidate at rank floor(trimFrac * (n-1)) of the (mc ASC,
    * index ASC) ordering: trimFrac = 0 is the pure farthest point
    * (strict < keeps the earliest = lowest id); a small trimFrac skips
    * the most extreme outliers, the standard robust-farthest-first fix.
    * Returns chosen indices.
    */
  private def traverseFarthestFirst(rows: Array[Array[Float]],
                                    norms: Array[Double], k: Int,
                                    trimFrac: Double): Array[Int] = {
    val n = rows.length
    require(n > 0, "traverseFarthestFirst: empty candidate set")
    val k2 = math.min(k, n)
    val chosen = new Array[Int](k2)
    chosen(0) = 0
    val mc = Array.fill(n)(Double.NegativeInfinity)
    var s = 0
    while (s + 1 < k2) {
      val sv = rows(chosen(s)); val sn = norms(chosen(s))
      java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
        val vi = rows(i)
        val m = math.min(vi.length, sv.length)
        var d = 0.0; var j = 0
        while (j < m) { d += vi(j).toDouble * sv(j).toDouble; j += 1 }
        val cos = d / (norms(i) * sn)
        if (cos > mc(i)) mc(i) = cos
      }
      if (trimFrac <= 0.0) {
        var best = 0; var bestV = Double.PositiveInfinity
        var i = 0
        while (i < n) { if (mc(i) < bestV) { bestV = mc(i); best = i }; i += 1 }
        chosen(s + 1) = best
      } else {
        val rank = math.floor(trimFrac * (n - 1)).toInt
        val order = Array.range(0, n).sortBy(i => (mc(i), i))
        chosen(s + 1) = order(rank)
      }
      s += 1
    }
    chosen
  }

  /** Deterministic IVF training (k-means-lite): seeds are either the k
    * lowest-id vectors (`seedMode = "lowid"`, the cheap legacy mode) or
    * the greedy k-center traversal of [[kcenterSeeds]] (`seedMode =
    * "kcenter"`, the k-means++-style spread that recall measurements
    * favor); then `iters` Lloyd rounds of assign-by-max-cosine +
    * per-dimension mean. Centroids are rounded to 6 decimals each round
    * so parallel-summation ulp noise can't flip near-tie assignments
    * between runs. Per round: one pass over the corpus for assignment
    * (NearestCentroid rides in the plan, no join) and one
    * posexplode+groupBy for means (|corpus| x dim rows, keyed by
    * (cell, dim) — fully parallel). Returns the trained centroids.
    */
  def trainIvfCentroids(corpus: DataFrame, k: Int, iters: Int,
                        dim: Int, seedMode: String = "lowid",
                        seedEvery: Int = 1): Array[Array[Double]] = {
    import graft.expressions.NativeFns.nearest_centroid
    // Session-builder note (NOT set here): ObjectHashAggregate falls
    // back to sort-based aggregation once its hash map holds 128 keys
    // (the conservative default) — a pointless spill-to-sort for
    // VectorAvg's (dim+1)-double buffers (~2 MB/task at 4096 keys x
    // dim 64). Sessions running IVF training should raise
    // `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (the
    // Bench/Verify/test builders set 4096). Mutating it from inside
    // this operator would silently widen the threshold for EVERY
    // ObjectHashAggregate in the session — including ones with much
    // larger per-key buffers, shifting their OOM risk — so the knob
    // stays a session-level decision.
    val c = corpus.toDF("vec_id", "vec")
    // seedMode: "lowid" | "kcenter" | "kcenter@<trimFrac>" (e.g.
    // "kcenter@0.1" picks each next seed at the 10th percentile of the
    // farthest-first ranking instead of the absolute farthest)
    var centroids: Array[Array[Double]] = seedMode match {
      case "kcenter" => kcenterSeeds(c, k, seedEvery)
      case m if m.startsWith("kcenter@") =>
        kcenterSeeds(c, k, seedEvery, m.stripPrefix("kcenter@").toDouble)
      case "kcenterdist" => kcenterSeedsDistributed(c, k, seedEvery)
      case m if m.startsWith("kcenterdist@") =>
        kcenterSeedsDistributed(c, k, seedEvery,
          m.stripPrefix("kcenterdist@").toDouble)
      case "kcenterover" => kcenterSeedsOversampled(c, k, seedEvery)
      case m if m.startsWith("kcenterover@") =>
        kcenterSeedsOversampled(c, k, seedEvery,
          trimFrac = m.stripPrefix("kcenterover@").toDouble)
      case "lowid" => c.orderBy(col("vec_id")).limit(k)
        .collect().map(_.getSeq[Float](1).toArray.map(_.toDouble))
      case other => throw new IllegalArgumentException(
        s"trainIvfCentroids: unknown seedMode '$other' " +
        "(lowid|kcenter[@trim]|kcenterdist[@trim]|kcenterover[@trim])")
    }
    // corpora smaller than k seed fewer centroids; size everything by
    // the actual seed count or the empty-cell loop walks off the array
    val k2 = centroids.length
    var it = 0
    while (it < iters) {
      val assigned = c.withColumn("cell", nearest_centroid(col("vec"), centroids))
      // per-cell mean via the TypedImperativeAggregate: the shuffle
      // carries one (dim+1)-double buffer per (cell, partition), not
      // |corpus| x dim exploded rows
      val means = assigned
        .groupBy(col("cell"))
        .agg(graft.expressions.VectorAvg.vector_avg(col("vec"), dim).as("m"))
        .collect()
      val next = Array.tabulate(k2, dim)((cell, d) => 0.0)
      means.foreach(r => next(r.getInt(0)) = r.getSeq[Double](1).toArray)
      // empty cells keep their previous centroid (standard Lloyd fix)
      val gotRows = means.map(_.getInt(0)).toSet
      (0 until k2).filterNot(gotRows).foreach(cell => next(cell) = centroids(cell))
      centroids = next
      it += 1
    }
    centroids
  }

  /** IVF search: train (or take) centroids, assign corpus cells once,
    * probe each query's `nprobe` nearest cells.
    */
  // one trained index per (session, plan, params) — index construction
  // is amortized across queries in any real ANN deployment. The key
  // names the corpus plan, so the fingerprint is constant.
  private val ivfCache =
    new IndexMemo[String, Array[Array[Double]]]((_, _) => ())

  /** [[trainIvfCentroids]] through the session memo — the build-once
    * amortization every trained-index consumer shares (knnIvf,
    * semDedup, semFlags). Training is deterministic, so a lost race's
    * duplicate training returns byte-identical centroids.
    */
  def trainedCached(corpus: DataFrame, nCells: Int, iters: Int, dim: Int,
                    seedMode: String = "lowid",
                    seedEvery: Int = 1): Array[Array[Double]] = {
    val cacheKey = s"${corpus.queryExecution.analyzed.semanticHash()}:" +
      s"$nCells:$iters:$dim:$seedMode:$seedEvery"
    ivfCache.getOrLoad(corpus.sparkSession, cacheKey)(
      trainIvfCentroids(corpus, nCells, iters, dim, seedMode, seedEvery))
  }

  def knnIvf(queries: DataFrame, corpus: DataFrame, k: Int,
             nCells: Int = 16, iters: Int = 2, dim: Int = 64,
             nprobe: Int = 2,
             trained: Option[Array[Array[Double]]] = None,
             seedMode: String = "lowid", seedEvery: Int = 1): DataFrame = {
    import graft.expressions.NativeFns.nearest_centroid
    val centroids = trained.getOrElse(
      trainedCached(corpus, nCells, iters, dim, seedMode, seedEvery))
    val c = corpus.toDF("vec_id", "c_vec")
      .withColumn("cell", nearest_centroid(col("c_vec"), centroids))
    // nprobe probe cells per query: rank all centroids by cosine on the
    // driver-free path — reuse NearestCentroid per probe by masking is
    // awkward; with k<=64 cells just explode scores via a small join
    val cents = corpus.sparkSession.createDataFrame(
      centroids.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
    ).toDF("cell", "cent")
    val q0 = queries.toDF("query_id", "q_vec")
    val probes = q0.crossJoin(broadcast(cents))
      .withColumn("score", VecFns.cosine(col("q_vec"),
        transform(col("cent"), x => x.cast("float"))))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("cell").asc)))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("q_vec"), col("cell"))
    val scored = c.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", round(VecFns.cosine(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"), col("vec_id"), col("cos"))
  }

  /** Deterministic gaussian projection matrix (sketchDim x dim) for
    * [[knnSketchRerank]] — seeded, so both engines and every run see
    * identical floats.
    */
  def sketchMatrix(dim: Int, sketchDim: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(sketchDim, dim)(rnd.nextGaussian().toFloat)
  }

  /** Sketch-prefilter + exact re-rank kNN — the serve path that beats
    * cell probing on UNSTRUCTURED corpora (RecallProbe's organic
    * fixture: IVF recall tracks candidate fraction ~linearly there
    * because no cluster structure exists to exploit; a
    * Johnson-Lindenstrauss sketch has no such dependence on cluster
    * structure). Two passes:
    *
    *   1. SKETCH pass: every corpus vector is scored against each
    *      query by cosine over a `sketchDim`-dim random projection
    *      (seeded gaussian matrix, 16 native dot products per row in
    *      the scan projection). Top `m` per query survive. The pass
    *      touches every row but only sketchDim/dim of the FLOATS — at
    *      100 TB the sketch is a persisted sibling column and the scan
    *      reads 1/4 of the bytes; the opt-in int8 knob (`quantize`,
    *      [[quantizeSketch]]) cuts it to 1/16 of the vector bytes.
    *      Float sketches keep the oracle exact.
    *   2. RE-RANK pass: exact 6-dp cosine over the full vectors of the
    *      m survivors only, top-k — so the expensive scoring fraction
    *      is m/|corpus|, the dial RecallProbe measures.
    *
    * Fully deterministic (seeded matrix, vec_id tie-breaks), so the
    * s06 oracle replays both passes with the projection matrix
    * embedded as literals.
    */
  /** Per-vector symmetric int8 quantization of a float sketch:
    * q_i = round(127 * s_i / max|s|), stored as array<byte>. COSINE is
    * scale-invariant, so pass-1 ranking over quantized sketches needs
    * no stored scale and no dequantization beyond a cast — the only
    * loss is the <= 1/254 per-element rounding. Zero vectors quantize
    * to zeros (their cosine is 0/NaN either way).
    */
  def quantizeSketch(sk: Column): Column = {
    val mx = array_max(transform(sk, x => abs(x)))
    when(mx === 0.0f, transform(sk, _ => lit(0).cast("byte")))
      .otherwise(transform(sk,
        x => round(x * lit(127.0f) / mx, 0).cast("byte")))
  }

  /** Cast an int8 sketch back to floats for cosine scoring (the
    * per-vector scale cancels — see [[quantizeSketch]]).
    */
  def dequantSketch(q: Column): Column = transform(q, x => x.cast("float"))

  /** @param quantize serve-path knob: score pass 1 over int8-quantized
    *                 corpus sketches — 1 byte/element instead of 4, so
    *                 the full-corpus pass reads sketchDim/(4*dim) of
    *                 the vector bytes (16/256 = 1/16 at defaults; the
    *                 float sketch is 1/4). Pass 2 re-ranks the exact
    *                 floats either way, so output scores stay exact
    *                 6-dp cosines — quantization can only perturb WHICH
    *                 m candidates survive pass 1 (recall measured in
    *                 BENCH_ann_recall.json q8 rows). The s06/s07
    *                 oracles pin the float path; this knob is opt-in.
    */
  def knnSketchRerank(queries: DataFrame, corpus: DataFrame, k: Int, m: Int,
                      sketchDim: Int = 16, dim: Int = 64,
                      seed: Long = 20260814L,
                      quantize: Boolean = false): DataFrame = {
    import graft.expressions.NativeFns.sketch_project
    require(m >= k, s"knnSketchRerank: m=$m must be >= k=$k")
    val R = sketchMatrix(dim, sketchDim, seed)
    // one fused native kernel per row — NOT array(dot_product...):
    // that form is bit-identical but detonates codegen past 16 rows
    // (see SketchProject scaladoc)
    def sk(c: Column): Column = sketch_project(c, R)
    val par = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val q = queries.toDF("query_id", "q_vec")
    val c = corpus.toDF("vec_id", "c_vec")
    // pass 1 NEVER exchanges full vectors: project to (vec_id, sketch)
    // FIRST, then spread the NARROW frame for scoring parallelism — the
    // exchange carries sketchDim floats (or int8s) per row, i.e. the
    // entire byte budget of the pass. (Repartitioning `c` itself — the
    // r13 form — moved every 64-float vector through a full round-robin
    // shuffle before any sketching happened.)
    val qs = broadcast(q.withColumn("q_sk", sk(col("q_vec")))
      .select(col("query_id"), col("q_sk")))
    val wS = Window.partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("vec_id").asc)
    val cSk =
      if (quantize) c.select(col("vec_id"), quantizeSketch(sk(col("c_vec"))).as("c_sk"))
      else c.select(col("vec_id"), sk(col("c_vec")).as("c_sk"))
    val cand = cSk
      .repartition(par)
      .join(qs, col("query_id") =!= col("vec_id"))
      .withColumn("s", VecFns.cosine(col("q_sk"),
        if (quantize) dequantSketch(col("c_sk")) else col("c_sk")))
      .withColumn("srk", row_number().over(wS))
      .filter(col("srk") <= m)
      .select(col("query_id"), col("vec_id"))
    // pass 2: exact re-rank of the m survivors — the tiny (query_id,
    // vec_id) candidate set broadcasts INTO the un-repartitioned corpus
    // scan, so full vectors are read once and never shuffled
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    c.join(broadcast(cand), "vec_id").join(broadcast(q), "query_id")
      // project vectors away BEFORE the top-k window so its hash
      // exchange carries three narrow columns, never an embedding
      .select(col("query_id"), col("vec_id"),
        round(VecFns.cosine(col("q_vec"), col("c_vec")), 6).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("vec_id"), col("cos"))
  }

  /** Cell-partitioned (IVF-style) top-k: only corpus rows sharing the
    * query's cell are scored. `queries`/`corpus`: (id, vec, cell).
    */
  def knnByCell(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.toDF("query_id", "q_vec", "cell")
    val c = corpus.toDF("vec_id", "c_vec", "cell")
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", round(VecFns.cosine(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("cell"), col("rk").cast("long").as("rk"), col("vec_id"), col("cos"))
  }
}
