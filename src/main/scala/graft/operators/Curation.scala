package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Curation-stage operators for training-data pipelines: the selection
  * step between scoring and training.
  *
  * Reference provenance: the rotation prefix-sum of lakeflush W1
  * (`core/file_handler.py:43-59`) — accumulate a running total in a
  * deterministic order, cut at a threshold — applied to token budgets
  * instead of bundle bytes. Like [[Compactor.withBundleId]], the
  * running sum is computed as a DISTRIBUTED prefix sum so no task ever
  * sorts a whole stratum alone.
  */
object Curation {

  /** Per-stratum quality-first token-budget packing: within each
    * stratum, order documents by (quality DESC, tieBreakers), compute
    * the inclusive running token sum, and keep the prefix with
    * `cum_tok <= budget` — prefix-of-ranking, not knapsack: the
    * deterministic, engine-independent contract a reproducible data mix
    * needs.
    *
    * == Scale design ==
    * The naive form is one window per stratum — parallelism = |strata|,
    * and at 100 TB a stratum is a whole training domain sorted and
    * scanned by a single (spillable, but serial) task. Instead: the
    * shared [[PrefixSum.runningTotal]] recipe (range buckets from ONE
    * global `approxQuantile` — boundaries shared across strata, since
    * boundaries affect only balance, never results; per-(stratum,
    * bucket) offsets computed distributed, no driver collect; broadcast
    * back; within-bucket window) with the stratum as the group, an
    * INCLUSIVE frame, and NEGATED quality as the bucketing key — window
    * parallelism is |strata| x |buckets| instead of |strata|, so one
    * hot stratum fans out across `buckets` tasks.
    *
    * `offset(stratum, bucket) + local_prefix == stratum_prefix` for ANY
    * bucket boundaries, so skew (one stratum holding 90% of the corpus)
    * costs balance, never correctness — pinned by the bucket-count
    * independence case in CurationSpec.
    *
    * @param tieBreakers order columns after quality making the
    *                    per-stratum order total (e.g. `$"doc_id".asc`)
    * @param buckets     range buckets (window parallelism per stratum);
    *                    defaults to `spark.sql.shuffle.partitions`
    * @param cumCol      name of the appended running-total column
    * @param qualityBounds when the caller KNOWS the quality range
    *                    (e.g. a composite score in [0,1] by
    *                    construction), pass `Some((lo, hi))`: bucket
    *                    boundaries become a static uniform grid and the
    *                    approxQuantile pass (plus its narrow persist) is
    *                    skipped entirely — boundaries affect only
    *                    balance, never results, so a mildly clumped
    *                    score distribution trades some balance for one
    *                    less corpus pass. None = quantile boundaries.
    */
  def packByBudget(df: DataFrame, stratumCol: Column, qualityCol: Column,
                   tieBreakers: Seq[Column], tokenCol: Column, budget: Long,
                   buckets: Int = 0, cumCol: String = "cum_tok",
                   qualityBounds: Option[(Double, Double)] = None): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    // Negated quality is ascending in the quality-DESC pack order, so
    // range buckets tile the pack order in ascending bucket index; a
    // NULL quality sorts last under `desc` (both engines default NULLS
    // LAST), so null order keys land in the LAST bucket. The stratum is
    // matched null-safely end to end — null-stratum rows pack as their
    // own stratum under their own budget, never silently dropped
    // (CurationSpec pins both).
    PrefixSum.runningTotal(df,
        groupCol = stratumCol,
        ordKey = negate(qualityCol.cast("double")),
        orderCols = qualityCol.desc +: tieBreakers,
        valueCol = tokenCol,
        buckets = buckets,
        inclusive = true,
        nullsLast = true,
        outCol = cumCol,
        // uniform grid over NEGATED quality: -hi .. -lo ascending
        ordBounds = qualityBounds.map { case (lo, hi) => (-hi, -lo) })
      .filter(col(cumCol) <= budget)
  }

  /** Leakage-safe train/validation split: assignment is by NEAR-DUP
    * CLUSTER, never by document. A per-document hash split leaks — two
    * near-duplicate documents land on opposite sides with probability
    * 2·p·(1−p), and at web-corpus duplication rates that quietly turns
    * the validation set into a rephrased subset of train (the
    * eval-contamination twin of [[Dedup.decontaminate]], pointed at
    * the corpus's own held-out slice instead of an external
    * benchmark). Here every document inherits its cluster
    * representative ([[Dedup.clusters]] over the n-gram Jaccard pair
    * graph; itself if unclustered), and the split bucket is a pure
    * function of the REPRESENTATIVE (`md5(salt || rep)` first byte,
    * the t21 portable-hash recipe, so the oracle restates it
    * verbatim) — a cluster is atomic across the split by construction.
    *
    * 100 TB shape: the clustering is the d07 two-phase CC (banded
    * candidates, never all-pairs — its own probed 100x row); on top of
    * it this adds one broadcast-or-shuffle join of the vertex-sized rep
    * map plus a per-row hash. Returns (doc_id, rep, split).
    *
    * @param trainBuckets of the 256 first-byte buckets, how many land
    *                     in "train" (230 ≈ a 90/10 split; buckets, not
    *                     a fraction, so both engines integer-compare)
    */
  def leakageSafeSplit(docs: DataFrame, id: Column, text: Column,
                       shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                       minSim: Double = 0.3, trainBuckets: Int = 230,
                       salt: String = "graft-split:42:"): DataFrame = {
    val pairs = Dedup.jaccardPairs(docs, id, text, shingleN, k, bands, minSim)
    val reps = Dedup.clusters(pairs, col("doc_a"), col("doc_b"))
    docs.select(id.as("doc_id"))
      .join(reps, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("cluster_rep"), col("doc_id")))
      .withColumn("split", splitOfRep(col("rep"), trainBuckets, salt))
      .select(col("doc_id"), col("rep"), col("split"))
  }

  /** THE split bucket rule — first byte of `md5(salt || rep)` against
    * `trainBuckets` of 256 (the t21 portable-hash recipe, restated
    * verbatim in the d10/p04 oracles). One definition, shared by
    * [[leakageSafeSplit]] and [[CorpusPipeline]]'s split stage, so the
    * operator, the pipeline annotation, and their SQL restatements
    * cannot drift apart.
    */
  def splitOfRep(rep: Column, trainBuckets: Int, salt: String): Column = {
    require(trainBuckets > 0 && trainBuckets < 256,
      s"trainBuckets must split 256 buckets two ways, got $trainBuckets")
    when(
      conv(substring(md5(concat(lit(salt), rep.cast("string"))), 1, 2), 16, 10)
        .cast("long") < trainBuckets, "train")
      .otherwise("val")
  }

  /** Intra-document dedup: strip repeated `chunkWords`-word chunks
    * WITHIN each document, keeping the first occurrence — the
    * within-page cleaning pass (navigation loops, repeated headers,
    * template spam) that the corpus-level boilerplate strip (t22)
    * deliberately does not cover: its doc-frequency gate counts each
    * doc once, so a chunk repeated 50× inside ONE page survives it.
    * Returns one row per input document:
    * (doc_id, n_chunks, n_kept, clean_text) — token-less docs keep
    * their row with 0 chunks and empty text.
    *
    * Scale shape: first-occurrence selection is a rank-filter windowed
    * by (doc_id, chunk-hash) — group size = one doc's copies of one
    * chunk — and reconstruction is ONE shuffle keyed by doc_id with an
    * in-group sort bounded by the doc's own chunk count; no global
    * sort, and a pathological mega-doc costs only itself.
    */
  def intraDocDedup(docs: DataFrame, idCol: Column, textCol: Column,
                    chunkWords: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(idCol.as("doc_id"), textCol.as("text"))
    val chunkArr =
      graft.expressions.NativeFns.word_chunks(col("text"), chunkWords)
    // ONE corpus pass: the rn-windowed frame feeds a single doc_id
    // aggregation producing total, kept count, AND the reconstruction
    // (collect_list skips the nulls `when` leaves on non-first copies)
    // — a separate n_chunks aggregation would re-scan and re-explode
    // the corpus, since Catalyst does not share the subtree between
    // two consumers.
    val ranked = base
      .select(col("doc_id"), posexplode(chunkArr).as(Seq("idx", "chunk")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"), md5(col("chunk")))
          .orderBy(col("idx"))))
    ranked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("rn") === 1, lit(1))).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(
            when(col("rn") === 1, struct(col("idx"), col("chunk"))))),
          c => c.getField("chunk")), " ").as("clean_text"))
      .join(base.select(col("doc_id")), Seq("doc_id"), "right")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Temperature-resampled training mix (the mT5/XLM-R multilingual
    * sampling rule): per-stratum document targets proportional to
    * `p^alpha` where `p` is the stratum's corpus share — `alpha < 1`
    * flattens the mix (upsamples the tail strata, downsamples the
    * head), `alpha = 1` is proportional, `alpha = 0` uniform. Each
    * stratum then contributes its `target` lowest-`md5(id)` documents
    * (the t10 deterministic-sampling recipe), so the selection is a
    * pure function of the corpus — no RNG, both engines replay it.
    * Strata must be NON-NULL (an in-plan guard refuses otherwise — see
    * the population note in the body).
    * Returns the SELECTED rows: (id, stratum, n_stratum, target).
    *
    * Determinism across engines: the renormalizer sums the per-stratum
    * weights as DECIMAL(10,6) — decimal addition is exact and
    * order-independent, so partition order cannot perturb `target`
    * through a float-sum ulp; the only doubles are `pow` (rounded to
    * 6dp before the decimal cast, the house convention) and the final
    * `round(budget * w / norm)` whose inputs are bit-identical decimal
    * casts on both engines.
    *
    * Scale shape: one tiny per-stratum count aggregate (|strata| rows,
    * broadcast back) + ONE corpus pass through
    * [[PrefixSum.runningTotal]] over a static uniform grid on the hash
    * prefix — per-stratum rank without any single-stratum serial sort,
    * so a 90%-English web corpus fans its rank across `buckets` tasks
    * exactly like [[packByBudget]]'s hot stratum.
    */
  def temperatureMix(docs: DataFrame, stratumCol: Column, idCol: Column,
                     alpha: Double, budget: Long,
                     buckets: Int = 0): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    // alpha = 0 is the documented uniform mix: pow(p, 0) = 1 exactly in
    // both engines, renormalizing to 1/|strata| per stratum
    require(alpha >= 0 && alpha <= 1, s"alpha must be in [0, 1], got $alpha")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    // a NULL stratum is a labeling bug, not a tail language: Spark's
    // null-safe join would quietly give it its own stratum while a SQL
    // restatement with USING/= drops it — an engine divergence no
    // fixture without NULLs can catch. Refuse in-plan (one codegen
    // branch per row, the semFlags guard pattern) so both engines see
    // the same population or neither runs.
    val base = docs.select(
      when(stratumCol.isNull,
        raise_error(lit("temperatureMix: NULL stratum — strata must be " +
          "non-null; filter or impute upstream")))
        .otherwise(stratumCol).as("stratum"),
      idCol.as("id"))
    // per-stratum counts -> exact-decimal renormalized p^alpha targets;
    // the counts table is |strata|-sized, so the full-frame windows
    // below shuffle a handful of rows, never the corpus
    val wAll = Window.partitionBy()
    val targets = base.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_stratum"))
      .withColumn("_tot", sum(col("n_stratum")).over(wAll))
      .withColumn("_w", round(
        pow(col("n_stratum").cast("double") / col("_tot").cast("double"),
          alpha), 6).cast(DecimalType(10, 6)))
      .withColumn("_norm", sum(col("_w")).over(wAll))
      .select(col("stratum").as("_t_st"), col("n_stratum"),
        greatest(lit(1L),
          round(lit(budget.toDouble) * col("_w").cast("double")
            / col("_norm").cast("double")).cast("long")).as("target"))
    // per-stratum rank in (md5(id), id) order via the distributed
    // prefix sum (value 1 = document count), then cut at the target
    val hashed = base.withColumn("_h", md5(col("id").cast("string")))
    val ranked = PrefixSum.runningTotal(hashed,
      groupCol = col("stratum"),
      // numeric image of the hash's first 8 hex chars: monotone with
      // the full-hash lexicographic order (fixed-length lowercase hex),
      // uniform on [0, 2^32) so the static grid needs no quantile pass
      ordKey = conv(substring(col("_h"), 1, 8), 16, 10).cast("double"),
      orderCols = Seq(col("_h").asc, col("id").asc),
      valueCol = lit(1L),
      buckets = buckets,
      inclusive = true,
      nullsLast = true,
      outCol = "_rk",
      ordBounds = Some((0.0, 4294967296.0)))
    ranked.join(broadcast(targets), col("stratum") <=> col("_t_st"))
      .filter(col("_rk") <= col("target"))
      .select(col("id"), col("stratum"), col("n_stratum"), col("target"))
  }

  /** DSIR — Data Selection with Importance Resampling (Xie et al.
    * 2023): select the raw documents whose hashed-bigram distribution
    * most resembles a TARGET domain. Per bucket `b` (bigrams hashed
    * into `buckets` bins), the importance log-ratio is
    * `ln((ct+1)/(Nt+B)) − ln((cr+1)/(Nr+B))` (Laplace-smoothed target
    * vs raw occurrence rates); a document's weight is the sum of its
    * bigram occurrences' log-ratios, and the `budget` highest-weight
    * documents are selected (rounded weight DESC, id ASC — the
    * rounding keeps the cross-engine ordering ulp-stable, the id
    * breaks residual ties). Deterministic — hashing replaces DSIR's
    * Gumbel noise, which is the right trade for a reproducible
    * curation gate.
    *
    * Documents with fewer than two tokens have no features and are
    * never selected; `targetPred` rows participate as candidates too
    * (raw includes target, as in the paper's source distribution).
    *
    * Scale shape: the bigram explode + md5 bucketing — the dominant
    * per-occurrence cost — runs ONCE, immediately reduced to a
    * (doc, bucket, n) occurrence table (partial-aggregated map-side;
    * ~min(doc_len, buckets) rows per doc) that both consumers read
    * from the session cache: the `buckets`-row count aggregate
    * (broadcast back as log-ratios) and the per-doc weighted sum
    * (`Σ n·lw` — one doc-keyed shuffle) → global top-`budget`. The cut
    * is a TakeOrdered below [[DsirRankCutBudget]] (the driver holds
    * `budget` rows) and the [[PrefixSum]] distributed-rank recipe at
    * or above it (a production selection takes millions of documents —
    * rank ≤ budget filters in place, the driver holds only bucket
    * offsets); `viaRank` overrides the auto choice, and both forms are
    * spec-pinned row-identical. The bucket table is
    * O(buckets) regardless of corpus size — at 100 TB the only
    * corpus-sized exchange is the reduced occurrence table's doc-keyed
    * shuffle, and the memo becomes a persisted feature table
    * ([[DsirIndex]]) exactly like the dedup family's shingle memo.
    */
  def dsirSelect(docs: DataFrame, idCol: Column, textCol: Column,
                 targetPred: Column, budget: Int,
                 buckets: Int = 4096,
                 viaRank: Option[Boolean] = None): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    // one explode+hash pass, reduced to (id, _t, _b) -> n and cached:
    // both the bucket counts and the per-doc weights read this table,
    // so the corpus-sized md5 work is never paid twice (_t is a
    // per-doc constant — riding it in the keys adds no groups)
    val e = Caches.track(
      dsirOccurrences(docs, idCol, textCol, Some(targetPred), buckets))
    dsirCut(dsirWeights(e, buckets), budget,
      viaRank.getOrElse(budget >= DsirRankCutBudget))
  }

  /** The [[dsirSelect]] contract over a PERSISTED feature table
    * ([[DsirIndex]] — features once, any number of target domains):
    * the corpus explode+md5 pass is replaced by a scan of the reduced
    * (id, bucket, n) table, so a day-N selection costs the delta's
    * featurization (at append time) plus feature-table-sized
    * aggregation, never a corpus re-explode. `targetIds` is a
    * one-column frame of target-domain document ids (the domain
    * definition the index deliberately does NOT bake in).
    * Row-identical to the inline form (spec-pinned).
    */
  def dsirSelectIndexed(spark: org.apache.spark.sql.SparkSession,
                        path: String, targetIds: DataFrame, budget: Int,
                        viaRank: Option[Boolean] = None): DataFrame = {
    val (feats, meta) = DsirIndex.loadOnce(spark, path)
    dsirSelectFeatures(feats, meta.buckets, targetIds, budget, viaRank)
  }

  /** [[dsirSelectIndexed]] over an already-loaded (id, _b, _n) feature
    * frame — the entry point for callers that must pre-filter the
    * table (e.g. [[IncrementalPipeline]] pruning to the committed
    * version horizon).
    */
  def dsirSelectFeatures(feats: DataFrame, buckets: Int,
                         targetIds: DataFrame, budget: Int,
                         viaRank: Option[Boolean] = None): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val t = targetIds.toDF("id").distinct().withColumn("_t", lit(true))
    // DSIR's target is a DOMAIN SAMPLE — ids only, usually small next
    // to the corpus — and Catalyst's size estimate for a derived id
    // frame can be arbitrarily wrong (measured: a 200k-id target
    // planned a sort-merge join that shuffled the 38M-row feature
    // table and doubled the select wall). One cheap count decides:
    // broadcast the id set below ~1M ids (~40 MB hashed), fall back to
    // the doc-keyed shuffle join above it (the same exchange class the
    // weights aggregation already pays). The gate counts the RAW ids
    // (a scan-only partial-agg job) — an upper bound on the distinct
    // count, so the broadcast decision is identical below the ceiling
    // and merely conservative above it, without paying the distinct's
    // shuffle a second time outside the main DAG.
    val tj = if (targetIds.count() <= 1000000L) broadcast(t) else t
    // cache the flagged feature scan exactly as the inline form caches
    // its explode output: the bucket counts and the per-doc weights are
    // two consumers, and without the pin each pays its own
    // parquet-scan + target-join pass
    val e = Caches.track(feats.join(tj, Seq("id"), "left")
      .withColumn("_t", coalesce(col("_t"), lit(false))))
    dsirCut(dsirWeights(e, buckets), budget,
      viaRank.getOrElse(budget >= DsirRankCutBudget))
  }

  /** Budget at or above which [[dsirSelect]]'s final cut switches from
    * TakeOrdered (driver holds `budget` rows) to the distributed
    * [[PrefixSum]] rank filter (driver holds only bucket offsets).
    */
  val DsirRankCutBudget = 65536

  /** The (id[, _t], _b, _n) occurrence table behind [[dsirSelect]] —
    * ONE bigram explode + md5 bucket pass, partial-aggregated
    * map-side to ~min(doc_len, buckets) rows per doc. `targetPred`
    * rides as the `_t` flag when given (the inline form);
    * [[DsirIndex]] persists the flagless shape and joins the target
    * at select time.
    */
  private[operators] def dsirOccurrences(docs: DataFrame, idCol: Column,
                                         textCol: Column,
                                         targetPred: Option[Column],
                                         buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val words = graft.functions.TextFns.tokens(textCol)
    // sequence(2, n) DESCENDS when n < 2 — guard short docs to an
    // empty feature array (explode then drops the row)
    val bigrams = when(size(words) >= 2,
      transform(sequence(lit(2), size(words)),
        i => concat(element_at(words, i - 1), lit(" "), element_at(words, i))))
      .otherwise(array())
    val flag = targetPred.map(p => Seq(p.as("_t"))).getOrElse(Seq.empty)
    docs
      .select(Seq(idCol.as("id")) ++ flag :+ explode(bigrams).as("_bg"): _*)
      .withColumn("_b",
        pmod(conv(substring(md5(col("_bg")), 1, 8), 16, 10).cast("long"),
          lit(buckets.toLong)))
      .groupBy(col("id") +: flag.map(_ => col("_t")) :+ col("_b"): _*)
      .agg(count(lit(1)).as("_n"))
  }

  /** (id, n_feat, weight) from an occurrence table with the `_t` flag:
    * bucket counts → Laplace-smoothed log-ratios (broadcast back) →
    * per-doc Σ n·lw.
    */
  private def dsirWeights(e: DataFrame, buckets: Int): DataFrame = {
    val counts = e.groupBy(col("_b"))
      .agg(sum(when(col("_t"), col("_n")).otherwise(lit(0L))).as("_ct"),
        sum(col("_n")).as("_cr"))
    val totals = counts.agg(sum(col("_ct")).as("_nt"), sum(col("_cr")).as("_nr"))
    val lw = counts.crossJoin(broadcast(totals))
      .select(col("_b"),
        (log((col("_ct") + 1).cast("double") /
             (col("_nt") + lit(buckets)).cast("double")) -
         log((col("_cr") + 1).cast("double") /
             (col("_nr") + lit(buckets)).cast("double"))).as("_lw"))
    // Σ n·lw: exact integer multiples of each bucket's log-ratio, so
    // the floating result is independent of per-occurrence add order
    e.join(broadcast(lw), Seq("_b"))
      .groupBy(col("id"))
      .agg(sum(col("_n")).as("n_feat"),
        round(sum(col("_n").cast("double") * col("_lw")), 6).as("weight"))
  }

  /** Global top-`budget` by (weight DESC, id ASC): TakeOrdered when
    * the budget is driver-friendly, otherwise the [[PrefixSum]]
    * distributed rank (value 1, inclusive = exact 1-based rank in the
    * strict total order) filtered in place — same rows either way.
    */
  private def dsirCut(w0: DataFrame, budget: Int, viaRank: Boolean): DataFrame = {
    // The rank path reads the weights TWICE — phase 1/2's narrow
    // quantile+offsets pass and phase 3's windowed pass — and each read
    // re-runs the per-doc weights aggregation (measured 0.4-0.5 s per
    // pass at sf0.1, two of t27's ~21 warm jobs). Pin the weights frame
    // (3 narrow columns, doc-sized — the same byte class as the narrow
    // projection runningTotal itself persists) so the aggregation runs
    // once; the TakeOrdered path reads once and needs no pin.
    val w = if (viaRank) Caches.track(w0) else w0
    if (!viaRank) w.orderBy(col("weight").desc, col("id").asc).limit(budget)
    else {
      // Bounds for the range buckets from ONE cheap min/max over the
      // pinned weights instead of the approxQuantile pass: the static-
      // bounds path skips the narrow persist AND the eager offsets
      // localCheckpoint (a serialization barrier — its own job strictly
      // before the final DAG), so the rank cut goes from three serial
      // driver actions to two, and the offsets aggregation folds into
      // the caller's action as one DAG. Boundaries affect only balance,
      // never results (PrefixSum contract, spec-pinned); a degenerate
      // all-equal-weights frame falls back to the quantile path, which
      // collapses it to one bucket exactly as before.
      val mm = w.agg(min(col("weight")).cast("double"),
        max(col("weight")).cast("double"), count(lit(1))).collect()(0)
      val bounds =
        if (mm.isNullAt(0) || mm.isNullAt(1) || !(mm.getDouble(1) > mm.getDouble(0))) None
        else Some((-mm.getDouble(1), -mm.getDouble(0))) // negated: ord key is -weight
      // Bucket count scales with the DATA, not the core count (guide
      // §2.1; the same knob shape as Bench's shuffle-partition note):
      // the job above returns the row count for free, and ~64k rows per
      // window task is plenty — a gate-scale frame collapses to ONE
      // bucket (no 32-way tiny-task fan-out, the measured 32-core
      // anti-scaling), while a 1B-row production cut still fans out to
      // min(shuffle.partitions, rows/64k) tasks. Bucket count affects
      // only balance, never results (spec-pinned).
      val nW = mm.getLong(2)
      val dataBuckets = math.max(1L, nW / 65536L)
        .min(w.sparkSession.sessionState.conf.numShufflePartitions.toLong).toInt
      PrefixSum.runningTotal(w,
        groupCol = lit(0),
        ordKey = negate(col("weight").cast("double")),
        orderCols = Seq(col("weight").desc, col("id").asc),
        valueCol = lit(1L),
        buckets = dataBuckets,
        inclusive = true,
        nullsLast = true,
        outCol = "_rk",
        ordBounds = bounds)
        .filter(col("_rk") <= budget).drop("_rk")
    }
  }
}
