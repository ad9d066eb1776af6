package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFns, VecFns}

/** Deduplication family for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale notes (the whole point of the LSH/banding structure):
  *  - candidate generation is a self-equi-join on (band_idx, band_hash) —
  *    a hash shuffle on the band key, never an O(n²) cross join;
  *  - per-band buckets are the only quadratic term; band width / row
  *    count tune bucket sizes, and a pathological hot bucket (all-equal
  *    docs) is exactly the duplicate cluster we're hunting anyway;
  *  - everything downstream (exact Jaccard, cosine) runs only on
  *    candidate pairs.
  */
object Dedup {

  /** Key of `df`'s corpus for the [[Caches.memo]]-shared hash passes
    * (shingle table, LSH candidates, refined Jaccard pairs). Six of the
    * declared queries (d02/d04/d06/d07/p01/p02) consume the SAME pass
    * over the same corpus with the same parameters; without sharing,
    * each query re-tokenized, re-shingled and re-minhashed the corpus
    * from parquet — ~6x the dominant cost of a Verify/Bench run. The
    * full key is (pass, session, analyzed-plan semantic hash, params),
    * so a different corpus, session or parameterization never collides.
    */
  private def dfKey(df: DataFrame): (org.apache.spark.sql.SparkSession, Int) =
    (df.sparkSession, df.queryExecution.analyzed.semanticHash())

  /** Keep the first row per key in `order`-order (row_number()=1). */
  def exactFirst(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** (doc_id, shingles) table, redistributed for compute parallelism.
    *
    * The repartition matters: a "small" documents table often arrives as
    * ONE parquet split (file size < maxPartitionBytes), which would run
    * the entire hash-heavy signature computation single-threaded — the
    * input's file layout must not dictate the compute stage's
    * parallelism. The table is persisted because candidate generation
    * (self-join) and Jaccard refinement both consume it; without
    * persistence each consumer re-tokenizes and re-shingles the corpus.
    * At cluster scale, persist to an intermediate parquet instead and
    * drop the round-robin shuffle once inputs arrive in many splits.
    */
  // observability for pipeline composition: how many times the corpus
  // was actually re-shingled (memo MISSES). CorpusPipeline asserts the
  // near-dedup + decontamination stages share ONE pass.
  private val shingleBuildCounter = new java.util.concurrent.atomic.AtomicLong
  private[graft] def shingleBuilds: Long = shingleBuildCounter.get

  def shingleTable(df: DataFrame, idCol: Column, textCol: Column,
                   shingleN: Int): DataFrame =
    Caches.memo(("sh", dfKey(df), idCol.toString, textCol.toString, shingleN)) {
      shingleBuildCounter.incrementAndGet()
      val par = df.sparkSession.sessionState.conf.numShufflePartitions
      df.select(idCol.as("doc_id"), textCol.as("_text"))
        .repartition(par)
        // sorted-distinct ONCE per doc: every consumer is set-based
        // (minhash = min over per-element md5, so duplicates are wasted
        // digests; the refinement jaccard is |A∩B|/|A∪B|; d08 explodes
        // into a distinct), and pre-sorting lets the per-PAIR jaccard —
        // the only per-candidate cost in the family — run as an
        // allocation-free merge walk instead of two hash-set builds.
        .select(col("doc_id"),
          array_sort(array_distinct(
            graft.expressions.NativeFns.word_shingles(col("_text"), shingleN))).as("sh"))
    }

  /** (doc_id, band_idx, band_hash) LSH keys from a shingle table. */
  def lshKeysFromShingles(sh: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val sig = TextFns.minhashSignature(col("sh"), k)
    sh.select(col("doc_id"), explode(TextFns.lshBands(sig, bands, rows)).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_hash"))
  }

  /** Candidate pairs (doc_a < doc_b, n_shared_bands) from a shingle
    * table: equi-join on the band key — linear shuffle, no cross
    * product.
    */
  def candidatesFromShingles(sh: DataFrame, k: Int, bands: Int): DataFrame =
    Caches.memo(("cand", dfKey(sh), k, bands)) {
      // persist the band keys: the self-join consumes them twice, and
      // without the cache each side recomputes the full minhash pass.
      // Registered with Caches so long-lived sessions can release.
      val keys = Caches.track(lshKeysFromShingles(sh, k, bands))
      val a = keys.toDF("doc_a", "band_idx", "band_hash")
      val b = keys.toDF("doc_b", "band_idx", "band_hash")
      a.join(b, Seq("band_idx", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared_bands"))
    }

  /** Candidate near-duplicate pairs via MinHash LSH banding. */
  def minhashCandidates(df: DataFrame, idCol: Column, textCol: Column,
                        shingleN: Int = 3, k: Int = 16, bands: Int = 4): DataFrame =
    candidatesFromShingles(shingleTable(df, idCol, textCol, shingleN), k, bands)

  /** LSH candidates refined with exact shingle-set Jaccard >= minSim.
    * Tokenization/shingling happens ONCE (shared shingle table feeds
    * both the signature and the refinement join).
    */
  def jaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
                   shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                   minSim: Double = 0.3): DataFrame = {
    val sh = shingleTable(df, idCol, textCol, shingleN)
    // memoize the UNFILTERED scored pair table (|candidates| rows —
    // tiny), so callers at different thresholds (d04/d07 at 0.3,
    // p01/p02 at 0.8) share one refinement join, not just the minhash.
    // The memo stores the RAW similarity: HALF_UP rounding to 6
    // decimals moves a value by at most 5e-7, so a raw-margin prefilter
    // makes the per-pair BigDecimal a survivors-only cost (the d05
    // recipe), and the exact filter on the rounded value keeps the
    // caller-visible threshold semantics bit-identical.
    val scored = Caches.memo(("jac", dfKey(sh), k, bands)) {
      candidatesFromShingles(sh, k, bands)
        .join(sh.toDF("doc_a", "sh_a"), "doc_a")
        .join(sh.toDF("doc_b", "sh_b"), "doc_b")
        .withColumn("_jac_raw",
          graft.expressions.NativeFns.jaccard_sim_sorted(col("sh_a"), col("sh_b")))
        .select(col("doc_a"), col("doc_b"), col("_jac_raw"))
    }
    scored.filter(col("_jac_raw") >= minSim - 1e-6)
      .withColumn("jaccard", round(col("_jac_raw"), 6))
      .filter(col("jaccard") >= minSim)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Per-document SimHash fingerprint (bitstring). Documents sharing the
    * fingerprint are near-identical; grouping by it is the cheap
    * near-dup clustering.
    */
  def simhash(df: DataFrame, idCol: Column, textCol: Column, bits: Int = 32): DataFrame =
    df.select(idCol.as("doc_id"),
      TextFns.simhashBits(TextFns.tokens(textCol), bits).as("simhash"))

  /** Cluster formation over a near-dup pair graph — the step that turns
    * verified pairs into one-representative-per-group: connected
    * components by min-label propagation, where each vertex's label
    * converges to the minimum doc id in its component (the canonical
    * representative "keep" doc; everything else is the drop-set).
    *
    * == Scale shape: two-phase CC ==
    * The full edge set is touched by exactly ONE aggregation and two
    * joins — never by the iteration:
    *
    *  1. '''Basin fold''' (one pass): `m(v) = min(v, min neighbor)`.
    *     A duplicate-tolerant `groupBy(src).min(dst)` — map-side
    *     partial aggregation, so the shuffle carries one row per
    *     vertex, not per edge. No `distinct` on the edge multiset: min
    *     doesn't care, and a full-edge distinct is a full-edge shuffle
    *     bought for nothing.
    *  2. '''Quotient graph''': edges whose endpoints fall in different
    *     basins, rewritten to their basin ids — two joins against the
    *     vertex-sized `m` (runtime-broadcastable) + a distinct whose
    *     map-side partials collapse the overwhelmingly-duplicated
    *     basin pairs. For near-dup graphs (dense shallow clusters) the
    *     quotient is tiny or empty: a duplicate 100-clique folds to
    *     one basin and contributes NOTHING to the iteration.
    *  3. '''Iterate on the quotient only''' (the min-label +
    *     pointer-jump loop, with per-round contraction): rounds ≈
    *     log(component size), every round an equi-join + aggregation
    *     over the RESIDUE — a chain halves in the fold and keeps
    *     halving under the jump; the component min is always its own
    *     basin, so quotient minima are real vertex ids.
    *  4. '''Compose''': `label(v) = qLabel(m(v))`, one vertex-sized
    *     left join (identity where the basin never crossed an edge).
    *
    * Label/edge frames are localCheckpointed so lineage doesn't grow
    * with rounds; one driver action per round (the convergence count
    * materializes the round's blocks). This is the standard
    * two-phase/alternating large-graph CC recipe (local-min
    * contraction + label propagation, cf. small-star/large-star).
    * Returns (doc_id, cluster_rep) for every vertex in the pair graph.
    *
    * @param broadcastVertices vertex-count ceiling below which the basin
    *                          map is broadcast into the phase-2 joins
    *                          (~32 B/row: the default 2M ≈ 64 MB,
    *                          executor-safe). Beyond it the shuffle plan
    *                          is kept, where a broadcast would be the
    *                          thing that breaks. Both plans are
    *                          hash-identical (SkewLineageSpec pins the
    *                          boundary); the knob exists for memory-tight
    *                          executors and for tests.
    * @param driverQuotientEdges quotient-edge ceiling below which step 3
    *                          runs as a driver-side union-find over the
    *                          CONTRACTION RESIDUE instead of the
    *                          distributed label loop. ONE bounded
    *                          `limit(cap+1)` probe decides and fetches:
    *                          at most cap+1 primitive (Long, Long)
    *                          tuples ever land on the driver (~32 B/edge
    *                          ≈ 32 MB at the 1M default), and the
    *                          union-find runs over open-addressed
    *                          primitive arrays (16 B/slot × 4·edges ≈
    *                          64 MB at the cap, no boxed entries) — the
    *                          same capped-driver-path pattern as
    *                          [[Similarity.SeedSampleCap]]. Labels are
    *                          identical either way (the loop converges
    *                          to the component-min label; union-by-min
    *                          computes exactly that — spec-pinned across
    *                          the boundary), but the loop costs
    *                          O(log diameter) rounds × several driver
    *                          round-trips each (measured: ~3 s of
    *                          per-job planning gaps on a 4017-edge d11
    *                          graph), while the driver path is one job
    *                          flat. 0 disables (tests pin the loop).
    */
  def clusters(pairs: DataFrame, aCol: Column, bCol: Column,
               maxRounds: Int = 50,
               broadcastVertices: Long = 2000000L,
               driverQuotientEdges: Long = 1000000L): DataFrame = {
    // Every round's frames are localCheckpointed, and Dataset.unpersist
    // does NOT free localCheckpoint blocks (they are plain persisted
    // RDDs, invisible to the cacheManager) — so without explicit
    // cleanup every call leaks rounds x edge-sized block sets until
    // the ContextCleaner happens to GC them. Measured: a second
    // same-JVM d10 run at the 100x corpus went 17 s -> 201 s under the
    // accumulated storage pressure. Track each frame's backing RDD at
    // creation; on exit unpersist everything except the two block sets
    // the returned frame still reads (basins + final labels).
    val trackedRdds =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
    def lcp(df: DataFrame): DataFrame = {
      val out = df.localCheckpoint(eager = false)
      out.queryExecution.logical match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => trackedRdds += lr.rdd
        case _ =>
      }
      out
    }
    def backingRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.logical.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd }
    // lazy: frames are consumed whole by round 1's single job, which
    // materializes their checkpoint blocks as a side effect
    val edges = lcp(pairs.select(aCol.as("src"), bCol.as("dst"))
      .union(pairs.select(bCol.as("src"), aCol.as("dst"))))
    // Phase 1: local-min basins, one duplicate-tolerant pass
    val basins = lcp(edges.groupBy(col("src")).agg(min(col("dst")).as("_nmin"))
      .select(col("src").as("v"), least(col("src"), col("_nmin")).as("m")))
    // The basin map is vertex-sized; Catalyst's static size estimate
    // can't see that and plans the phase-2 joins as full edge-multiset
    // shuffles. The driver KNOWS the vertex count (this count also
    // materializes the basin checkpoint blocks every later phase
    // reads), so broadcast the map below ~2M vertices (~64 MB of rows
    // — executor-safe) and keep the shuffle plan beyond, where a
    // broadcast would be the thing that breaks. One extra driver
    // action, paid once, independent of rounds.
    val nVertices = basins.count()
    val small = nVertices <= broadcastVertices
    val basinsSide = if (small) broadcast(basins) else basins
    // Every frame the iteration joins against is VERTEX-sized (labels,
    // neighbor minima) — but they are localCheckpointed LogicalRDDs,
    // whose size statistic is the default "unknown = huge", so Catalyst
    // plans every per-round join as a SortMergeJoin with two shuffles
    // (measured: the d11 gate plan carried 2 SMJ + 5 Exchange over
    // <= 2000-row frames, and clusters() owned ~4s of d11's 5.2s solo
    // wall). The driver KNOWS the vertex count — the same count that
    // gates the basin broadcast — so below the threshold every
    // vertex-sized join side is broadcast: each round's job becomes a
    // scan over the (already tiny) quotient edges instead of a stack of
    // shuffle+sort stages, and the composed output frame is hinted too,
    // so callers' re-attach joins (semDedup's corpus join, the
    // pipeline's rep annotation) build from the vertex-sized side
    // rather than shuffling the corpus. Above the threshold the plan
    // is byte-identical to before (SkewLineageSpec pins the boundary).
    def vside(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // Phase 2: cross-basin quotient edges (both orientations survive
    // symmetrically, so the loop's neighbor aggregation stays valid)
    var edgesQ = lcp(edges
      .join(basinsSide.select(col("v").as("src"), col("m").as("_ms")), "src")
      .join(basinsSide.select(col("v").as("dst"), col("m").as("_md")), "dst")
      .filter(col("_ms") =!= col("_md"))
      .select(col("_ms").as("src"), col("_md").as("dst"))
      .distinct())
    var labels: DataFrame = null
    // The quotient loop runs under a catch-all so the ERROR path also
    // retires tracked blocks: a non-convergence throw (or a failed
    // round job) propagates to a caller who may well catch and keep
    // the session — without cleanup that path re-opens exactly the
    // storage-pressure leak the tracking exists to close. Nothing
    // downstream reads ANY tracked block once clusters() throws, so
    // everything retires.
    try {
    // Step-3 route: the quotient is CONTRACTION RESIDUE — for near-dup
    // graphs (dense shallow clusters) it is tiny or empty, yet the
    // distributed loop prices each round as several driver round-trips
    // (plan/codegen gaps dominate the tiny jobs: measured 34 jobs /
    // ~3 s of gap on a 4017-edge gate graph). ONE bounded probe decides
    // AND fetches: collect at most cap+1 edges as primitive (Long, Long)
    // tuples (Tuple2 is @specialized — ~32 B/edge, ≤ 32 MB at the 1M
    // default; the old Row collect held ~150 B/edge of boxed objects and
    // a separate gating count() paid one extra round-trip even when the
    // loop ran anyway — ADVICE r19). At or below the cap (and long-keyed
    // — generic column types keep the loop) run union-by-min with path
    // compression driver-side over open-addressed primitive arrays
    // (~16 B/slot × 4·edges ≤ 64 MB at the cap — no boxed entries);
    // above it, the over-fetched probe is dropped and the unchanged
    // distributed loop takes over.
    val longKeys = edgesQ.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val esProbe: Array[(Long, Long)] =
      if (small && longKeys && driverQuotientEdges > 0 &&
          driverQuotientEdges < Int.MaxValue - 8L) {
        import pairs.sparkSession.implicits._
        edgesQ.as[(Long, Long)]
          .limit((driverQuotientEdges + 1).toInt).collect()
      } else null
    if (esProbe != null && esProbe.length <= driverQuotientEdges) {
      val es = esProbe
      // open-addressing slot map: keys[slot] = vertex id, par[slot] =
      // parent SLOT (root: par(s) == s). Capacity = next power of two
      // ≥ 4·edges keeps load ≤ 0.5 for the ≤ 2·edges distinct vertices.
      val slots = java.lang.Long.highestOneBit(
        math.max(32L, 4L * math.max(1, es.length)) * 2 - 1).toInt
      val mask = slots - 1
      val keys = new Array[Long](slots)
      val used = new Array[Boolean](slots)
      val par = new Array[Int](slots)
      def slotOf(x: Long): Int = {
        var s = (java.lang.Long.hashCode(x * -7046029254386353131L)) & mask
        while (used(s) && keys(s) != x) s = (s + 1) & mask
        if (!used(s)) { used(s) = true; keys(s) = x; par(s) = s }
        s
      }
      def findRoot(s0: Int): Int = {
        var r = s0
        while (par(r) != r) r = par(r)
        var c = s0
        while (c != r) { val n = par(c); par(c) = r; c = n }
        r
      }
      var i = 0
      while (i < es.length) {
        val ra = findRoot(slotOf(es(i)._1)); val rb = findRoot(slotOf(es(i)._2))
        if (ra != rb) {
          if (keys(ra) < keys(rb)) par(rb) = ra else par(ra) = rb
        }
        i += 1
      }
      var nV = 0
      var s = 0
      while (s < slots) { if (used(s)) nV += 1; s += 1 }
      val out = new Array[(Long, Long)](nV)
      var o = 0
      s = 0
      while (s < slots) {
        if (used(s)) { out(o) = (keys(s), keys(findRoot(s))); o += 1 }
        s += 1
      }
      // Small label sets become a LocalRelation (Catalyst knows the
      // size; broadcasts without a hint). Past a modest size the
      // LocalRelation is re-serialized from the driver into EVERY plan
      // that consumes the composed frame (ADVICE r19) — back it with a
      // real RDD instead, so the rows ship to executors once and live
      // there.
      val spk = pairs.sparkSession
      import spk.implicits._
      labels =
        if (nV <= 200000)
          spk.createDataset(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
            .toDF("v", "label")
        else
          spk.createDataset(spk.sparkContext.parallelize(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(out),
            math.max(1, nV / 500000)))
            .toDF("v", "label")
    } else {
    labels = lcp(edgesQ.select(col("src").as("v")).distinct()
      .withColumn("label", col("v")))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val neighborMin = edgesQ
        .join(vside(labels.select(col("v").as("dst"), col("label"))), "dst")
        .groupBy(col("src")).agg(min(col("label")).as("nmin"))
      // min over self + neighbor labels...
      val hopped = labels.select(col("v"), col("label").as("_old"))
        .join(vside(neighborMin.select(col("src").as("v"), col("nmin"))),
          Seq("v"), "left")
        .select(col("v"), least(col("_old"),
          coalesce(col("nmin"), col("_old"))).as("_hop"), col("_old"))
      // ...then POINTER JUMP: label := label(label(v)). Plain min
      // propagation needs diameter rounds (a 10k-link chain = 10k
      // rounds); halving the pointer tree each round makes convergence
      // logarithmic in component size — the reason large-graph CC
      // recipes (large-star/small-star and friends) all compress paths.
      // label values are themselves vertex ids, so the self-join below
      // always finds its target. The previous label rides along so the
      // convergence check is a filter-count over materialized blocks.
      // LAZY checkpoint + one count(): the count scans every partition,
      // so it is the action that materializes (and lineage-truncates)
      // the checkpoint blocks AND computes the convergence check — one
      // Spark job per round instead of the two an eager checkpoint
      // followed by a separate count used to cost. At 10+ rounds on a
      // 100x corpus that halves the driver round-trips of the slowest
      // dedup query.
      val staged = lcp(hopped
        .join(vside(labels.select(col("v").as("_hop"), col("label").as("_jump"))),
          Seq("_hop"), "left")
        .select(col("v"), least(col("_hop"),
          coalesce(col("_jump"), col("_hop"))).as("label"), col("_old")))
      changed = staged.filter(col("label") =!= col("_old")).count()
      labels = staged.drop("_old")
      // CONTRACT the surviving edges into label space: an edge whose
      // endpoints now share a label is resolved — it carries no further
      // information and is dropped; the rest are rewritten to their
      // reps (still vertex ids) and deduped. Lazy like everything else:
      // the contraction materializes inside the NEXT round's count,
      // reading this round's already-materialized label blocks — no
      // extra driver action. Skipped once converged (the loop exits).
      if (changed > 0) {
        edgesQ = lcp(edgesQ
          .join(vside(labels.select(col("v").as("src"), col("label").as("_ls"))), "src")
          .join(vside(labels.select(col("v").as("dst"), col("label").as("_ld"))), "dst")
          .filter(col("_ls") =!= col("_ld"))
          .select(col("_ls").as("src"), col("_ld").as("dst"))
          .distinct())
      }
      rounds += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connected-components did not converge in $maxRounds rounds " +
        s"($changed labels still moving) — raise maxRounds; a component " +
        "this deep in a NEAR-DUP graph usually means the pair threshold " +
        "is admitting everything")
    } // end distributed-loop route
    } catch { case t: Throwable =>
      trackedRdds.foreach(r => scala.util.Try(r.unpersist(false)))
      throw t
    }
    // Retire every intermediate round's blocks: at loop exit all
    // tracked frames are materialized (each round's count scanned
    // them), and the returned frame reads only basins + the final
    // labels (= the last staged's blocks) — everything else is dead
    // weight that would otherwise survive until ContextCleaner GC.
    val keep = (backingRdd(basins).toSeq ++ backingRdd(labels).toSeq)
      .map(_.id).toSet
    trackedRdds.foreach(r => if (!keep.contains(r.id)) r.unpersist(false))
    // Phase 4: compose basin and quotient labels — identity for basins
    // that never crossed an edge (whole component in one basin). The
    // result is vertex-sized; below the threshold it carries the
    // broadcast hint so a caller's re-attach join builds from it.
    vside(basins
      .join(vside(labels.select(col("v").as("m"), col("label"))), Seq("m"), "left")
      .select(col("v").as("doc_id"),
        coalesce(col("label"), col("m")).as("cluster_rep")))
  }

  /** Benchmark decontamination — the training-data pass every LLM
    * pipeline needs before training: flag training documents that share
    * at least `minHits` distinct word `shingleN`-grams with ANY
    * document of the held-out benchmark slice (the n-gram-blocklist
    * formulation: the benchmark's shingle set is the blocklist, a
    * training doc is contaminated once enough of its shingles hit it).
    * `isBench` is a predicate over the output `doc_id` column marking
    * benchmark membership — one corpus, split by a flag, the shape a
    * real pipeline uses. Returns (doc_id, n_hits) for flagged training
    * docs — the drop-set.
    *
    * Scale shape: ONE tokenize+shingle pass over the corpus — the
    * memoized [[shingleTable]], so in a session also running the
    * minhash family at the same parameters the pass is shared, not
    * repeated. Both join sides reduce to DISTINCT (doc, shingle-key)
    * projections over it; the join key is `md5(shingle)` — a fixed
    * 16-byte key, so the shuffle carries hashes, never raw n-gram text
    * (at 100 TB the raw-string key would dominate the shuffle). The
    * benchmark side is dimension-sized (benchmarks are tiny next to a
    * training corpus): AQE broadcasts it while it fits, shuffle-equi
    * otherwise; the per-doc hit count partial-aggregates map-side.
    * Never a similarity self-join — cost is linear in the corpus.
    */
  def decontaminate(docs: DataFrame, idCol: Column, textCol: Column,
                    isBench: Column, shingleN: Int = 3,
                    minHits: Long = 5,
                    broadcastBlocklist: Boolean = true): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol, shingleN)
    val keyed = shingleKeys(sh)
    val blocklist = keyed.filter(isBench).select(col("_k")).distinct()
    // The blocklist is the distinct shingle-key set of the BENCH suite
    // — benchmarks are fixed-size (thousands of documents, ~16 B/key),
    // so it broadcasts by DESIGN, not by luck: its in-plan size
    // estimate (post-distinct string/hex era ~20-30 MB at the probe
    // scale) sat just above the auto-broadcast threshold, silently
    // downgrading the probe join to a corpus-sized sort-merge — an
    // Exchange + Sort of every (doc, key) row that the hint removes.
    // Pass broadcastBlocklist=false only for a genuinely unbounded
    // blocklist (then the shuffle join is the right plan).
    val bl = if (broadcastBlocklist) broadcast(blocklist) else blocklist
    keyed.filter(!isBench)
      .join(bl, "_k")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** DISTINCT (doc_id, _k) shingle-key projection of a shingle table —
    * the decontamination probe frame. 16-byte BINARY md5, not 32-hex:
    * same function, same collisions, same oracle semantics (the key
    * never leaves the plan) — half the shuffle bytes on the
    * corpus-sized distinct. Shared by [[decontaminate]] and
    * [[IncrementalPipeline]] (which probes NEW bench keys against the
    * persisted index instead of re-shingling the lake).
    */
  private[operators] def shingleKeys(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), explode(col("sh")).as("_sh"))
      .select(col("doc_id"), unhex(md5(col("_sh"))).as("_k"))
      .distinct()

  /** Incremental dedup: flag DELTA documents that duplicate the BASE
    * corpus — the shape every real 100 TB pipeline actually runs (you
    * never re-dedup the lake; you dedup today's crawl against it).
    *
    * Verdict per flagged delta doc:
    *  - `exact`: byte-identical text exists in base (md5 equi-join —
    *    the shuffle carries 32-hex keys, never document bodies);
    *    match_id = the minimum matching base id.
    *  - `near`: not exact, and some base doc's shingle-set Jaccard
    *    >= minSim. Candidates come from the delta band keys equi-joined
    *    against the BASE band table only (never delta×delta, never
    *    base×base) — at scale the base band table is the persisted
    *    index and cost is linear in the DELTA: shingle/minhash runs
    *    over new documents only, and the candidate join touches the
    *    index partitions the delta's band hashes land in.
    *
    * Unflagged delta docs are novel (absent from the result; callers
    * anti-join to keep them). Delta-internal duplicates are out of
    * scope by contract — run the corpus-wide pass (d02/d04/d07) inside
    * the delta if needed.
    */
  def incrementalFlags(base: DataFrame, delta: DataFrame,
                       idCol: Column, textCol: Column,
                       shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                       minSim: Double = 0.3): DataFrame =
    incrementalFlagsCore(
      DedupIndex.frames(base, idCol, textCol, DedupIndex.Meta(shingleN, k, bands)),
      delta, idCol, textCol, minSim)

  /** [[incrementalFlags]] against a persisted [[DedupIndex]]: the base
    * side's hashes/bands/shingles come from the index tables (never
    * recomputed), and the delta is shingled with the index's OWN
    * parameters — mixed-recipe probes are impossible by construction.
    */
  def incrementalFlagsIndexed(index: DedupIndex.Index, delta: DataFrame,
                              idCol: Column, textCol: Column,
                              minSim: Double = 0.3): DataFrame =
    incrementalFlagsCore(index, delta, idCol, textCol, minSim)

  private def incrementalFlagsCore(ix: DedupIndex.Index, delta: DataFrame,
                                   idCol: Column, textCol: Column,
                                   minSim: Double): DataFrame = {
    // SHAPE NOTE (r20, measured): a one-exchange rewrite — tag
    // exact/near match rows, union, one doc-keyed aggregation — looked
    // strictly better on paper (removes one group-by shuffle and the
    // stats-blind left_anti SortMergeJoin below; solo sf0.1 wall 0.91
    // -> 0.71 s) but measured 1.5x WORSE at the 100x corpus
    // (interleaved sf10 A/B best-of-3: 12.5 s here vs 18.4 s rewritten
    // with plain conditional mins, 28+ s with min(struct) which
    // sort-aggregates): the union breaks the whole-stage fusion of the
    // per-pair jaccard pipeline into its partial aggregation, and at
    // scale the per-pair volume is everything. The two-aggregation +
    // anti-join shape below is the scale-correct plan; the anti-join's
    // SMJ over two DELTA-sized aggregated frames is noise at gate
    // scale and safe at any delta size (a broadcast hint would be the
    // thing that breaks at a billion-doc delta).
    val d = delta.select(idCol.as("doc_id"), md5(textCol).as("_h"))
    val exact = d.join(ix.hashes, "_h")
      .groupBy(col("doc_id")).agg(min(col("base_id")).as("match_id"))

    val shD = shingleTable(delta, idCol, textCol, ix.meta.shingleN)
    val shB = ix.shingles
    val cand = lshKeysFromShingles(shD, ix.meta.k, ix.meta.bands)
      .join(ix.bands, Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("base_id")).distinct()
    // the d04/d05 survivors-only rounding recipe: raw-margin prefilter
    // (6-decimal HALF_UP moves a value <= 5e-7), exact refilter on the
    // rounded value keeps threshold semantics bit-identical
    val near = cand
      .join(shD, "doc_id")
      .join(shB.toDF("base_id", "sh_b"), "base_id")
      .withColumn("_jac_raw",
        graft.expressions.NativeFns.jaccard_sim_sorted(col("sh"), col("sh_b")))
      .filter(col("_jac_raw") >= minSim - 1e-6)
      .filter(round(col("_jac_raw"), 6) >= minSim)
      .groupBy(col("doc_id")).agg(min(col("base_id")).as("match_id"))
      .join(exact, Seq("doc_id"), "left_anti")

    exact.withColumn("dup_kind", lit("exact"))
      .unionByName(near.withColumn("dup_kind", lit("near")))
      .select(col("doc_id"), col("dup_kind"), col("match_id"))
  }

  /** Embedding near-dup: pairs within the same blocking cell whose
    * cosine exceeds `minCos`. Blocking (here: a caller-supplied cell
    * column, e.g. an IVF/LSH bucket or a label) keeps the join from
    * going quadratic at scale.
    *
    * == Skew guard ==
    * A single hot cell used to degenerate to one task computing |cell|²
    * pairs. Cells larger than `cellCap` are now split into `g =
    * ceil(n/cellCap)` hash sub-groups and the self-join runs
    * TRIANGLE-BLOCKED: the left side replicates each row to the keys
    * `(own_group .. g-1)`, the right side to `(0 .. own_group)`, and
    * the equi-join on `(cell, lo, hi)` meets every unordered pair
    * EXACTLY ONCE — same-group pairs under `(i,i)` (deduped by id
    * order), cross-group pairs under `(min_g, max_g)`. Semantics are
    * identical to the unguarded join; per join key at most ~2·cellCap
    * rows enter and ~cellCap² pairs leave, and a hot cell fans out to
    * g(g+1)/2 keys instead of one task. Cells within the cap take the
    * g=1 path, which IS the old plan. Replication cost is g/2 ≈
    * n/(2·cellCap) copies of the hot cell's rows — the price of exact
    * all-pairs semantics; cap it by raising cellCap or pre-thinning the
    * cell.
    *
    * == Pair-kernel shape (the 100× wall) ==
    * The candidate pair table is quadratic in cell size (sf10: 2.0G
    * pairs from 200K rows), so everything per-pair is hot and anything
    * per-row or per-GROUP is free. The plan therefore never builds a
    * pair-per-row table at all:
    *  - Norms are hoisted: each row carries `vec_norm(v)` (one fold per
    *    ROW) and the per-pair kernel is dot-only —
    *    `dot/(norm_a*norm_b)` is bit-identical to `cosine_sim` (same
    *    fold order; pinned by NativeExprParitySpec).
    *  - Each (cell, sub-group) collects to ONE array row of
    *    (id, vec, norm); the triangle's group-PAIR table (g(g+1)/2 rows
    *    per split cell — thousands of rows, not billions) is the only
    *    join, and [[graft.expressions.ScoredPairs]] scores a whole
    *    group-pair per call on unpacked primitive arrays, emitting only
    *    survivors. A pair-per-row join paid ~600ns/pair of joined-row
    *    glue and accessor dispatch — 6x the arithmetic it fed.
    *  - A round-robin `repartition` of the group-pair table pins the
    *    scoring stage's width: per row the work is ~cellCap²/2 dots,
    *    which AQE — coalescing by BYTES — cannot see.
    *  - `cellCap` (default 1024) bounds the per-call unpacked arrays
    *    (~300 KB at dim 64) and the per-row work; the hot cell fans to
    *    g(g+1)/2 group-pair rows. Same output for any cellCap — purely
    *    a physical knob.
    */
  def embeddingPairs(df: DataFrame, idCol: Column, vecCol: Column,
                     cellCol: Column, minCos: Double,
                     cellCap: Int = 1024): DataFrame = {
    require(cellCap >= 1)
    val e = df.select(idCol.as("id"), vecCol.as("v"), cellCol.as("cell"))
      .withColumn("_nm", graft.expressions.NativeFns.vec_norm(col("v")))
    val sized = e.join(
      e.groupBy("cell").agg(count(lit(1)).as("_n")), "cell")
      .withColumn("_g", greatest(lit(1L),
        ceil(col("_n") / lit(cellCap.toDouble))).cast("int"))
      .withColumn("_my", pmod(xxhash64(col("id")), col("_g")).cast("int"))
    val grouped = sized.groupBy(col("cell"), col("_my"))
      .agg(collect_list(struct(col("id"), col("v"), col("_nm"))).as("_rows"))
    val ga = grouped.select(col("cell"), col("_my").as("_lo"),
      col("_rows").as("_ra"))
    val gb = grouped.select(col("cell"), col("_my").as("_hi"),
      col("_rows").as("_rb"))
    val par = df.sparkSession.sessionState.conf.numShufflePartitions
    ga.join(gb, Seq("cell")).filter(col("_lo") <= col("_hi"))
      // round-robin the group-pair rows: each carries ~cellCap²/2 dots
      // of hidden work, so balance by ROW COUNT, explicitly pinned
      // (AQE would coalesce this KB-scale-looking exchange to nothing)
      .repartition(4 * par)
      .select(col("cell"),
        graft.expressions.ScoredPairs(col("_ra"), col("_rb"),
          col("_lo") === col("_hi"), minCos).as(Seq("id_a", "id_b", "cos")))
  }

  /** SemDeDup (semantic deduplication, Abbas et al. 2023 — reference
    * has no embedding-space dedup; this is the north-star §2.11
    * extension): cluster the embedding space with the deterministic
    * k-means of [[Similarity.trainIvfCentroids]], score cosine pairs
    * only WITHIN each cell, connect the τ-similar pairs into
    * components, and keep one representative (the minimum id) per
    * component. Returns one row per input vector:
    * (vec_id, cell, rep, kept).
    *
    * Scale shape — each stage is an already-probed kernel:
    *  - centroid training: `iters` passes, map-side VectorAvg buffers
    *    (one (dim+1)-double buffer per (cell, partition) on the
    *    shuffle), k x dim doubles on the driver;
    *  - pair scoring: [[embeddingPairs]] — cellCap-blocked triangle
    *    join, never all-pairs; the kmeans cell bounds candidates the
    *    same way SemDeDup's paper formulation does (pairs only inside
    *    a cluster), so pair cost is Σ|cell|²/cellCap, not N²;
    *  - components: [[clusters]] — basin contraction + logarithmic
    *    pointer jumping, edge-linear rounds.
    * A 100x corpus grows the pair stage with Σ|cell|² — the nCells
    * dial (≈ sqrt(N) cells in production) keeps cells bounded, exactly
    * the trade the IVF index already measures in BENCH_ann_recall.
    * `nCells = 0` auto-dials to ceil(sqrt(N)) (measured flattening in
    * BENCH_semdedup_probe.json); `trained` accepts persisted centroids
    * (reuse an existing IVF index) and skips training entirely.
    */
  /** Incremental SemDeDup — the delta-vs-base shape of [[semDedup]],
    * mirroring [[incrementalFlags]]: flag each DELTA vector whose
    * cosine against some BASE vector in the same kmeans cell exceeds
    * `tau`. Centroids are trained on the BASE ONLY (or passed in via
    * `trained` — the persisted-index shape: a daily delta is assigned
    * against yesterday's centroids, never retrained), so pair cost is
    * delta × same-cell base occupancy — base×base is NEVER re-paired.
    * Returns (vec_id, match_id, n_matches) for flagged delta rows,
    * match_id = the minimum matching base id.
    *
    * Id contract: ids must be non-negative and < 2^62 — the pair
    * kernel ([[graft.expressions.ScoredPairs]]) normalizes each pair
    * to (min,max), so the delta/base sides are carried through a
    * parity bit (delta = 2·id+1, base = 2·id) and decoded after.
    * ENFORCED in-plan: a violating id raises at encode time (a
    * negative id would otherwise decode onto the wrong side and emit
    * silently swapped garbage), costing one codegen'd branch per row,
    * never an extra validation pass.
    */
  def semFlags(base: DataFrame, delta: DataFrame,
               idCol: Column, vecCol: Column,
               nCells: Int, iters: Int, dim: Int, tau: Double,
               seedMode: String = "kcenter", cellCap: Int = 1024,
               trained: Option[Array[Array[Double]]] = None): DataFrame = {
    require(cellCap >= 1)
    import graft.expressions.NativeFns.{nearest_centroid, vec_norm}
    val b0 = base.select(idCol.as("vec_id"), vecCol.as("v"))
    val d0 = delta.select(idCol.as("vec_id"), vecCol.as("v"))
    // nCells = 0 auto-dials to ceil(sqrt(|base|)), as in [[semDedup]]
    val cents = trained.getOrElse {
      val k =
        if (nCells > 0) nCells
        else math.max(1, math.ceil(math.sqrt(b0.count().toDouble)).toInt)
      Similarity.trainedCached(b0, k, iters, dim, seedMode)
    }
    def prep(df: DataFrame, parity: Int) = df
      .withColumn("cell", nearest_centroid(col("v"), cents))
      .select(col("cell"),
        when(col("vec_id") < 0 || col("vec_id") >= lit(1L << 62),
          raise_error(concat(lit("semFlags: vec_id out of the [0, 2^62) " +
            "parity-encoding contract: "), col("vec_id").cast("string"))))
          .otherwise(shiftleft(col("vec_id"), 1) + lit(parity.toLong))
          .as("id"),
        col("v"), vec_norm(col("v")).as("_nm"))
    // same cellCap blocking as [[embeddingPairs]], per side: a hot
    // cell splits into ceil(n/cellCap) hash groups so no single task
    // carries more than ~cellCap² dots per group pair
    def grouped(df: DataFrame, out: String) = df
      .join(df.groupBy("cell").agg(count(lit(1)).as("_n")), "cell")
      .withColumn("_g", greatest(lit(1L),
        ceil(col("_n") / lit(cellCap.toDouble))).cast("int"))
      .withColumn("_my", pmod(xxhash64(col("id")), col("_g")).cast("int"))
      .groupBy(col("cell"), col("_my"))
      .agg(collect_list(struct(col("id"), col("v"), col("_nm"))).as(out))
      .select(col("cell"), col(out))
    val par = base.sparkSession.sessionState.conf.numShufflePartitions
    val pairs = grouped(prep(d0, 1), "_ra")
      .join(grouped(prep(b0, 0), "_rb"), Seq("cell"))
      // balance by row count like embeddingPairs: each group-pair row
      // hides ~cellCap² dots that AQE's byte-based view cannot see
      .repartition(4 * par)
      .select(graft.expressions.ScoredPairs(col("_ra"), col("_rb"),
        lit(false), tau).as(Seq("id_a", "id_b", "cos")))
    // decode the parity bit: the odd id is the delta side
    pairs
      .select(
        shiftrightunsigned(
          when(col("id_a") % 2 === 1, col("id_a")).otherwise(col("id_b")),
          1).as("vec_id"),
        shiftrightunsigned(
          when(col("id_a") % 2 === 1, col("id_b")).otherwise(col("id_a")),
          1).as("base_id"))
      .groupBy(col("vec_id"))
      .agg(min(col("base_id")).as("match_id"),
        count(lit(1)).as("n_matches"))
  }

  def semDedup(emb: DataFrame, idCol: Column, vecCol: Column,
               nCells: Int, iters: Int, dim: Int, tau: Double,
               seedMode: String = "kcenter",
               cellCap: Int = 1024,
               trained: Option[Array[Array[Double]]] = None): DataFrame = {
    val base = emb.select(idCol.as("vec_id"), vecCol.as("v"))
    // nCells = 0: auto-dial to ceil(sqrt(N)) — the production setting
    // from the scale note above (cells ~sqrt(N) rows each, so the pair
    // stage's Σ|cell|² is ~N^1.5, never N²). One count job buys the
    // dial; `trained` skips training entirely (the persisted-index
    // shape — e.g. reuse the s05 IVF index's centroids), making a gate
    // run's cell assignment a pure map.
    val cents = trained.getOrElse {
      val k =
        if (nCells > 0) nCells
        else math.max(1, math.ceil(math.sqrt(base.count().toDouble)).toInt)
      Similarity.trainedCached(base, k, iters, dim, seedMode)
    }
    val assigned = base.withColumn("cell",
      graft.expressions.NativeFns.nearest_centroid(col("v"), cents))
    val pairs = embeddingPairs(assigned, col("vec_id"), col("v"),
      col("cell"), minCos = tau, cellCap = cellCap)
    val comps = clusters(pairs, col("id_a"), col("id_b"))
      .select(col("doc_id").as("vec_id"), col("cluster_rep"))
    // vectors touching no τ-pair are their own singleton component
    assigned.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("cluster_rep"), col("vec_id")).as("rep"),
        (coalesce(col("cluster_rep"), col("vec_id")) === col("vec_id"))
          .as("kept"))
  }
}
