package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.TextFns

/** The composed corpus-curation pipeline a training-data curator
  * actually runs as ONE job — every stage exists solo with its own
  * oracle (t18, d01, d02/d04, d08, t17, t11, t21); this operator
  * chains them over a single corpus and keeps the composition honest:
  *
  *   gopher-filter -> exact dedup -> near dedup + decontaminate
  *   (SHARED shingle pass) -> PII redact -> token-budget pack ->
  *   shard assign
  *
  * Composition properties this operator owns (PipelineE2ESpec asserts
  * them; BENCH_pipeline_probe.json records their measured walls):
  *
  *   - near-dedup and decontamination both probe the SAME memoized
  *     shingle table of the post-exact corpus — the lake is shingled
  *     ONCE ([[Dedup.shingleBuilds]] counts memo misses). At 100 TB
  *     re-shingling is the difference between one corpus pass and
  *     three.
  *   - both run from the post-exact survivor set and their drops are
  *     unioned; neither depends on the other's verdicts, so Spark is
  *     free to share their scan subtree instead of serializing them.
  *   - survivor counts are monotone non-increasing through the filter
  *     stages, the pack emits a subset of its input, and the shard
  *     stage is a permutation of the packed set (row-count identity).
  *
  * Every stage is declarative DataFrame composition; the driver-side
  * values are the per-stage row counts the caller asked to have
  * measured (one scalar agg each) plus the bounded vertex-count /
  * convergence scalars inside [[Dedup.clusters]]' CC rounds.
  */
object CorpusPipeline {

  /** Per-stage materialization policy. The composed pipeline's default
    * is [[Materialize.None]]: stages stay lazy, Catalyst fuses the
    * whole chain into one plan, and the corpus is materialized exactly
    * once at the caller's terminal action. The alternatives exist for
    * callers who want stage boundaries:
    *
    *  - [[Materialize.Persist]]: cache each stage's output at a chosen
    *    [[StorageLevel]] (replicated levels survive executor loss).
    *  - [[Materialize.Checkpoint]]: RELIABLE checkpoint to a shared
    *    directory — the fault-tolerant stage boundary for long chains
    *    on a real cluster.
    *  - [[Materialize.LocalCheckpoint]]: executor-local, NON-replicated
    *    truncation. Fastest pin, but losing one executor mid-run kills
    *    the job — probe/spec harness setting only, never production.
    *
    * Stats collection is orthogonal and opt-in ([[run]]'s
    * `collectStats`): a per-stage `count()` each. Stage walls are only
    * per-stage-attributable under a materializing policy; under
    * [[Materialize.None]] each count re-runs the fused upstream plan,
    * so walls are cumulative (and the counts themselves add whole
    * corpus passes — leave stats off in production `None` runs).
    */
  sealed trait Materialize
  object Materialize {
    case object None extends Materialize
    final case class Persist(level: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      extends Materialize
    final case class Checkpoint(dir: String) extends Materialize
    case object LocalCheckpoint extends Materialize
  }

  /** Optional terminal stage: leakage-safe train/val annotation
    * ([[Curation.leakageSafeSplit]] semantics priced as a pipeline
    * increment). `minSim` is the SPLIT threshold — deliberately looser
    * than the near-dedup drop threshold: documents at 0.3 ≤ sim < 0.8
    * survive dedup yet still leak a rephrased validation set if a
    * per-document hash splits them, so assignment is by the cluster
    * representative at the looser graph.
    */
  final case class SplitCfg(minSim: Double = 0.3, trainBuckets: Int = 230,
                            salt: String = "graft-split:42:") {
    require(trainBuckets > 0 && trainBuckets < 256,
      s"trainBuckets must split 256 buckets two ways, got $trainBuckets")
  }

  final case class StageStat(stage: String, rowsOut: Long, sec: Double)

  final case class Result(out: DataFrame, stats: Seq[StageStat]) {
    def rowsAfter(stage: String): Long =
      stats.find(_.stage == stage).map(_.rowsOut).getOrElse(sys.error(
        if (stats.isEmpty)
          s"rowsAfter($stage): no stage stats were collected — stats are " +
          "opt-in since the fused default; call run(collectStats = true)"
        else
          s"rowsAfter($stage): unknown stage (recorded: " +
          stats.map(_.stage).mkString(", ") + ")"))
  }

  // ---- Shared stage formulas ----------------------------------------
  // ONE definition each for the gopher gate, the pack-input statistics,
  // and the shard assignment, consumed by BOTH the monolithic run()
  // and [[IncrementalPipeline]] — the day-N path recomputes these for
  // delta documents only, and a formula fork between the two would
  // silently break the incremental == monolithic contract.

  private[operators] val GopherStop = Seq("the", "a", "and", "of", "to", "is")

  private[graft] def gopherGate(text: Column): Column =
    graft.expressions.NativeFns.gopher_keep(text, GopherStop,
      minTok = 10L, minMeanLen = 2.0, maxMeanLen = 8.0,
      maxRepFrac = 0.3, minStopHits = 1L)

  /** Pack-input statistics of a post-redaction corpus slice
    * (doc_id, text) -> (doc_id, stratum, n_tok, quality).
    */
  private[operators] def packStats(s5: DataFrame): DataFrame = {
    val words = TextFns.tokens(col("text"))
    val nTok = size(words).cast("long")
    val stopN = size(filter(words, w => w.isin(GopherStop: _*))).cast("double")
    val lenSat = least(lit(1.0), nTok.cast("double") / lit(50.0))
    val quality = round(lenSat * 0.5 + (stopN / nTok.cast("double")) * 0.5, 6)
    s5.select(col("doc_id"), (col("doc_id") % 4).as("stratum"),
      nTok.as("n_tok"), quality.as("quality"))
  }

  /** Seeded-permutation shard assignment over a packed set
    * (doc_id, stratum, n_tok) -> + (shard, pos).
    */
  private[operators] def shardAssign(s6: DataFrame, nShards: Int): DataFrame = {
    val h = md5(concat(lit("graft-shard:42:"), col("doc_id").cast("string")))
    s6.withColumn("h", h)
      .withColumn("shard",
        (conv(substring(col("h"), 1, 4), 16, 10).cast("long") % nShards)
          .cast("long"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id")))
        .cast("long"))
      .select(col("doc_id"), col("stratum"), col("n_tok"),
        col("shard"), col("pos"))
  }

  /** Shards of `out` whose positions are NOT a dense 1..n ranking —
    * the shard-permutation invariant CorpusPipelineSpec pins.
    */
  def nonDensePositionShards(out: DataFrame): Long =
    out.groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), min(col("pos")).as("lo"),
        max(col("pos")).as("hi"), countDistinct(col("pos")).as("d"))
      .filter(col("lo") =!= 1 || col("hi") =!= col("n") || col("d") =!= col("n"))
      .count()

  /** Run the composed pipeline over `docs` (doc_id, text, source).
    *
    * @param benchPred    membership predicate for the decontamination
    *                     blocklist. Evaluated against the shingle-keyed
    *                     frame inside [[Dedup.decontaminate]], whose
    *                     only doc column is `doc_id` — the predicate
    *                     may reference `doc_id` ONLY (e.g.
    *                     `col("doc_id") >= benchLo`). A predicate over
    *                     `text`/`source` fails at analysis time; derive
    *                     a doc_id set first if membership is content-
    *                     defined.
    * @param budgetPerStratum token budget the pack keeps per stratum
    * @param nShards      shard count for the final assignment
    * @param minSim       near-dup Jaccard threshold (0.8 default =
    *                     the p01/p02 cleaning-pipeline setting; 0.3
    *                     is the aggressive d04/d07 dedup setting)
    * @param contamMinHits shared-shingle count that drops a doc as
    *                     contaminated. The d08 REPORT threshold (5) is
    *                     deliberately low — right for surfacing overlap,
    *                     corpus-destroying as a drop rule on templated
    *                     text (measured: 87% of the sf fixture shares
    *                     >= 5 tri-shingles with a 3%-of-corpus bench
    *                     set). A composed pipeline drops on a stricter
    *                     bar by default.
    * @param trainValSplit when set, append the leakage-safe train/val
    *                     annotation stage (see [[SplitCfg]]) — output
    *                     gains `rep` and `split` columns.
    * @param shingleN     word-shingle width for the shared shingle pass
    * @param k            MinHash signature width
    * @param bands        LSH band count (k must divide evenly)
    *
    * `shingleN`/`k`/`bands` exist so [[IncrementalPipeline.Params]]'
    * recipe knobs have a true monolithic counterpart: the pinned
    * "incremental == monolithic" contract holds for NON-default recipes
    * only if the monolithic run can be parameterized identically.
    */
  def run(docs: DataFrame, benchPred: Column,
          budgetPerStratum: Long, nShards: Int = 64,
          minSim: Double = 0.8, contamMinHits: Long = 20,
          broadcastBlocklist: Boolean = true,
          materialize: Materialize = Materialize.None,
          collectStats: Boolean = false,
          trainValSplit: Option[SplitCfg] = None,
          shingleN: Int = 3, k: Int = 16, bands: Int = 4): Result = {
    val stats = scala.collection.mutable.ArrayBuffer.empty[StageStat]
    // Checkpoint mutates SESSION-GLOBAL state (SparkContext has one
    // checkpoint dir): set it ONCE at entry, and only when it differs —
    // per-stage re-sets would clobber a caller-configured dir six times
    // over and race visibly if two pipelines with different dirs share
    // a session (the last writer would own every in-flight checkpoint).
    materialize match {
      case Materialize.Checkpoint(dir) =>
        val sc = docs.sparkSession.sparkContext
        if (!sc.getCheckpointDir.contains(dir)) sc.setCheckpointDir(dir)
      case _ =>
    }
    // df is BY-NAME: a strict parameter would evaluate the stage block
    // BEFORE the timer starts, and eager construction work (notably
    // Dedup.clusters' driver-coordinated CC rounds) would vanish from
    // the stage wall into unattributed gap time
    def staged(name: String)(df: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val pinned = materialize match {
        case Materialize.None           => df
        // through the bounded LRU, not a bare persist: repeated Persist
        // runs would otherwise accumulate six session-lifetime cache
        // pins per invocation with no release path
        case Materialize.Persist(level) => Caches.track(df, level)
        case Materialize.Checkpoint(_) => // dir set once at run() entry
          df.checkpoint() // reliable + eager: the stage wall owns the write
        case Materialize.LocalCheckpoint => df.localCheckpoint()
      }
      if (collectStats) {
        val n = pinned.count()
        stats += StageStat(name, n, (System.nanoTime() - t0) / 1e9)
      }
      pinned
    }

    // -- stage 1: gopher-style quality filter (t18 rules, floor set) --
    // Per-ROW via the native WordStats struct: all four statistics are
    // per-document functions of the token multiset, so the gate is a
    // scan-side filter — zero shuffle, and the text column never moves.
    // (The aggregate restatement — explode, two token shuffles, then a
    // text-carrying join to re-attach the verdict — cost 23 s of the
    // sf10 probe wall for the identical result; at 100 TB it is two
    // full-corpus token shuffles plus a corpus join versus none.)
    val s1 = staged("gopher_filter") {
      docs.filter(gopherGate(col("text")))
    }

    // -- stage 2: exact dedup (keep the lowest doc_id per text) --
    // The post-exact survivor frame is the pipeline's one DIAMOND: it
    // feeds BOTH the shared shingle pass (near-dedup + decontam) and
    // the left side of the stage-4 anti-join. Catalyst has no
    // cross-subtree common-plan reuse, so under Materialize.None the
    // gopher aggregation + dedup window would run once per consumer —
    // measured 2.3x the e2e wall at sf1. Persist exactly this frame
    // (Caches.track: bounded LRU, lineage PRESERVED — an executor loss
    // recomputes the lost blocks, unlike localCheckpoint), so the fused
    // config still makes one pass over the corpus. Under a materializing
    // policy the stage pin already breaks the diamond.
    val s2 = staged("exact_dedup") {
      val deduped = Dedup.exactFirst(s1, Seq(md5(col("text"))), Seq(col("doc_id").asc))
        .select(docs.columns.toIndexedSeq.map(col): _*)
      materialize match {
        case Materialize.None => Caches.track(deduped)
        case _                => deduped
      }
    }

    // -- stage 3+4: near dedup and decontamination, ONE shingle pass --
    // both probe shingleTable(s2) (same frame, same n => same memo
    // entry); their drop sets union afterwards because neither verdict
    // depends on the other. ALL of it — including Dedup.clusters' CC
    // rounds, which run driver-coordinated jobs at construction time —
    // lives INSIDE the staged block, so the stage wall owns the whole
    // near-dedup cost (an earlier draft built the drop frames outside
    // and the stage stat silently dropped ~40% of the e2e wall).
    val s4 = staged("near_dedup_decontam") {
      val nearDrops = {
        val pairs = Dedup.jaccardPairs(s2, col("doc_id"), col("text"),
          shingleN = shingleN, minSim = minSim, k = k, bands = bands)
        // greedy representative rule, transitively closed: a doc is
        // dropped iff its cluster representative (min id, two-phase CC)
        // is not itself
        val cl = Dedup.clusters(pairs, col("doc_a"), col("doc_b"))
        cl.filter(col("doc_id") =!= col("cluster_rep")).select(col("doc_id"))
      }
      val contamDrops = Dedup.decontaminate(s2, col("doc_id"), col("text"),
        benchPred, shingleN = shingleN, minHits = contamMinHits,
        broadcastBlocklist = broadcastBlocklist).select(col("doc_id"))
      s2.join(nearDrops.unionByName(contamDrops).distinct(),
        Seq("doc_id"), "left_anti")
    }

    // -- stage 5: PII redaction (text rewrite, count tracked) --
    val s5 = staged("pii_redact") {
      s4.withColumn("text", Redact.redact(col("text")))
    }

    // -- stage 6: token-budget pack (t11 quality, per-stratum budget) --
    val s6 = staged("token_pack") {
      Curation.packByBudget(packStats(s5), col("stratum"), col("quality"),
        Seq(col("doc_id").asc), col("n_tok"), budgetPerStratum,
        qualityBounds = Some((0.0, 1.0)))
        .select(col("doc_id"), col("stratum"), col("n_tok"))
    }

    // -- stage 7: shard assignment (t21 seeded permutation) --
    val s7 = staged("shard_assign") { shardAssign(s6, nShards) }

    // -- optional stage 8: leakage-safe train/val annotation --
    // Assignment by near-dup CLUSTER at the (looser) split threshold.
    // Composition economics: the pair graph is rebuilt over the SAME
    // post-exact frame with the SAME shingle/band parameters as stage
    // 3+4, so [[Dedup]]'s memoized shingle table AND its unfiltered
    // scored-pair table are both reused — the stage's only new work is
    // the connected components over the looser edge set plus one
    // vertex-sized join onto the sharded output. Standalone d10 pays a
    // full corpus pass for the identical answer.
    //
    // Clustering runs over the post-exact corpus rather than the packed
    // survivors DELIBERATELY: transitive leakage through a dropped
    // intermediate is real (a and c can each be near b yet not near
    // each other), so components must close over the richer graph.
    // Exact dedup cannot perturb it — identical text means identical
    // shingle edges, and the kept twin always carries the lower id, so
    // both components and min-id representatives are unchanged.
    //
    // The stage ANNOTATES (adds rep + split columns); it never re-packs
    // or re-shards. Projecting the two columns away recovers the
    // split-free pipeline output bit-for-bit, and downstream writers
    // partition by split before shard.
    val out = trainValSplit match {
      case Some(cfg) => staged("split_assign") {
        // Same frame + shingle/band params as stage 3 = full memo ride
        // (shingle AND scored-pair tables reused; only the CC over the
        // looser edge set is new work). The vertex-sized rep map joins
        // DIRECTLY onto the sharded output — routing it through the
        // full doc-id frame first (an earlier draft called
        // leakageSafeSplit(s2) here) re-read the cached diamond a third
        // time inside the fused plan and measurably cost ~2 s at every
        // sf. The bucket rule itself is the ONE shared definition
        // ([[Curation.splitOfRep]]), so the pipeline annotation, the
        // standalone d10 operator, and their SQL oracles cannot drift.
        val pairs = Dedup.jaccardPairs(s2, col("doc_id"), col("text"),
          shingleN = shingleN, minSim = cfg.minSim, k = k, bands = bands)
        val reps = Dedup.clusters(pairs, col("doc_a"), col("doc_b"))
          .select(col("doc_id"), col("cluster_rep"))
        s7.join(reps, Seq("doc_id"), "left")
          .withColumn("rep", coalesce(col("cluster_rep"), col("doc_id")))
          .withColumn("split",
            Curation.splitOfRep(col("rep"), cfg.trainBuckets, cfg.salt))
          .select(col("doc_id"), col("stratum"), col("n_tok"),
            col("shard"), col("pos"), col("rep"), col("split"))
      }
      case None => s7
    }

    Result(out, stats.toSeq)
  }
}
