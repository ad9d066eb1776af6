package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.IncrementalPipeline

/** Continuous curation: the `foreachBatch` composition of the day-N
  * incremental pipeline — a crawl STREAM curated against persisted
  * state, each micro-batch emitting the SAME full curated output the
  * monolithic pipeline would produce over everything seen so far
  * (reference scope: lakeflush has no curation; this extends the §2.11
  * pipeline into the streaming surface the same way [[DedupStream]]
  * extends indexed dedup).
  *
  * Batch 0 bootstraps the state at `stateDir`; every later batch runs
  * [[IncrementalPipeline.runIncremental]] — per-batch cost tracks the
  * BATCH (delta-sized shingle pass, index-probed dedup, contracted
  * CC, affected-strata re-pack), never the history. The id discipline
  * the day pipeline already imposes (append-only doc ids above the
  * committed horizon) is the stream's ordering contract: a source
  * whose batches interleave ids is not curatable incrementally by
  * ANY keep-lowest-id semantics.
  *
  * Exactly-once story (foreachBatch is at-least-once on replay), built
  * on the pipeline's own meta-last commit + horizon self-heal rather
  * than a second transaction log:
  *  - curated output lands at `outDir/batch_id=<id>` with OVERWRITE —
  *    a replayed batch rewrites its own partition, so readers (take
  *    the max batch_id) see each corpus version once;
  *  - a `commits/<batchId>` marker under the state dir short-circuits
  *    the re-emit on a replay of a fully-committed batch. It is NOT a
  *    processing gate (same reasoning as [[AnnStream]]): batchIds
  *    restart at 0 under a new checkpointLocation, so a marker left by
  *    a previous stream lineage can collide with a genuinely fresh
  *    batch — the marker only elides work when the batch is ALSO
  *    entirely at or below the committed horizon, i.e. provably a
  *    replay; a marker-colliding batch with fresh ids curates
  *    normally;
  *  - a crash BETWEEN the pipeline's state commit and the output/marker
  *    writes replays the batch with its ids now at or below the
  *    horizon: the batch is pre-filtered to ids ABOVE the committed
  *    horizon, which turns exactly that replay into runIncremental's
  *    no-op re-emit path (the committed output is re-derived from
  *    v<N>, nothing advances, output/marker land) — torn index
  *    appends below the horizon were already healed by construction.
  *
  * The output is survivor metadata (doc_id, stratum, n_tok, shard,
  * pos[, rep, split]) — never text — so the per-batch full-output
  * write stays narrow at corpus scale.
  */
object CurationStream {

  /** Start the sink: curate each micro-batch of `docs` (columns
    * `doc_id`, `text`) against the state at `stateDir`, write the full
    * curated corpus to `outDir/batch_id=<id>`.
    */
  def curationSink(docs: DataFrame, stateDir: String, outDir: String,
                   checkpointDir: String,
                   benchPred: org.apache.spark.sql.Column,
                   params: IncrementalPipeline.Params): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, stateDir, outDir, benchPred, params, batchId)
      }
      .start()

  /** The foreachBatch body, public so the replay windows are testable
    * without forcing a real stream restart.
    */
  def processBatch(batch: DataFrame, stateDir: String, outDir: String,
                   benchPred: org.apache.spark.sql.Column,
                   params: IncrementalPipeline.Params,
                   batchId: Long): Unit = {
    // consulted, never gated on — see the scaladoc: a new checkpoint
    // lineage restarts batchIds at 0, so the marker alone cannot prove
    // a batch is a replay; only "marker AND all ids <= horizon" can
    val alreadyCommitted = CommitMarkers.committed(batch, stateDir, batchId)
    val spark = batch.sparkSession
    val out = IncrementalPipeline.committedHorizon(spark, stateDir) match {
      case None =>
        IncrementalPipeline.bootstrap(stateDir, batch, benchPred, params)
      case Some(hz) =>
        // ids at or below the horizon are already curated. The three
        // shapes a batch can take are distinguishable and only one may
        // filter silently:
        //  - ALL ids above hz: the normal day — pass through;
        //  - ALL ids at/below hz: the crash-after-state-commit replay —
        //    the filter empties the delta and runIncremental re-emits
        //    the committed output (no-op day);
        //  - MIXED: not a replay (a replayed batch was committed whole)
        //    but a source violating the append-only id discipline —
        //    silently dropping its old-id rows would be data loss, so
        //    it fails loudly instead (one agg over the batch).
        val mm = batch.agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
        require(mm.isNullAt(0) || mm.getLong(0) > hz || mm.getLong(1) <= hz,
          s"curation stream batch $batchId mixes ids at/below the " +
          s"committed horizon $hz (${mm.getLong(0)}..${mm.getLong(1)}) " +
          "with new ids — not a replay, but an append-only id " +
          "discipline violation; re-key the source")
        // provably a fully-committed replay: output + marker already
        // landed (marker is written last), so even the re-emit is
        // skippable. Without the horizon condition this return would
        // silently drop a fresh batch under a stale marker.
        if (alreadyCommitted && (mm.isNullAt(0) || mm.getLong(1) <= hz))
          return
        IncrementalPipeline.runIncremental(stateDir,
          batch.filter(col("doc_id") > hz), benchPred)
    }
    out.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    CommitMarkers.markCommitted(batch, stateDir, batchId)
  }
}
