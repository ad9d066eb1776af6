package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{Dedup, DedupIndex}

/** Streaming incremental dedup against a persisted [[DedupIndex]] —
  * the `foreachBatch` composition of the d09 batch contract (reference
  * scope: lakeflush has no dedup; this extends §2.11 into the streaming
  * surface the same way [[FlushStream]] extends compaction).
  *
  * [[FlushStream.nearDupStream]] documents that the pairwise near-dup
  * families "stay batch: their candidate self-joins need the corpus on
  * both sides". The persisted index removes that constraint for the
  * PROBE side: each micro-batch is a delta, and flagging it is a
  * delta×index join — so a crawl stream can be deduped against the
  * whole historical corpus with per-batch cost proportional to the
  * batch, exactly like the daily-delta batch pass. What stays batch is
  * only index CONSTRUCTION over pre-existing corpora.
  *
  * Exactly-once story (foreachBatch is at-least-once on replay):
  *  - flag output is written to `outDir/batch_id=<id>` with OVERWRITE —
  *    a replayed batch rewrites its own partition, so the flag lake is
  *    idempotent and readers see each verdict once;
  *  - the index append is guarded by a `commits/<lineage>-<batchId>`
  *    marker under the index, scoped to the checkpoint
  *    ([[AnnStream.lineageOf]]): a replay of a fully-committed batch is
  *    a no-op, and a fresh checkpoint, whose batchIds restart at 0, is
  *    never gated by another one's markers. A crash BETWEEN append
  *    and marker can re-append one batch's novel slice; duplicate
  *    index rows never change a verdict (every
  *    consumer takes `min(base_id)` over set-semantics tables — same
  *    content, same id), they only cost bytes until the next full
  *    rebuild. That is the standard at-least-once-with-idempotent-
  *    readers trade, chosen over a transactional metastore dependency.
  *
  * Scale notes: per batch, ONE delta-sized shingle pass + the d09 probe
  * joins (index side shuffle-free under the bucketed layout,
  * [[DedupIndex.writeBucketed]]) + an append of the novel slice.
  * Nothing in the hot path grows with the corpus except the index scan,
  * which prunes to the delta's band keys under bucketing.
  */
object DedupStream {

  /** Start the sink: flag each micro-batch of `docs` (columns `doc_id`,
    * `text`) against the index at `indexPath`, write verdicts to
    * `outDir/batch_id=<id>`, fold the novel slice into the index.
    */
  def indexedDedupSink(docs: DataFrame, indexPath: String, outDir: String,
                       checkpointDir: String,
                       minSim: Double = 0.3): StreamingQuery = {
    val lineage = AnnStream.lineageOf(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!CommitMarkers.committed(batch, indexPath, batchId, lineage)) {
          val spark = batch.sparkSession
          val b = batch.persist() // consumed by flags AND appendNovel
          val ix = DedupIndex.load(spark, indexPath)
          val flags = Dedup.incrementalFlagsIndexed(
            ix, b, col("doc_id"), col("text"), minSim).persist()
          try {
            flags.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
            DedupIndex.appendNovel(indexPath, b, col("doc_id"), col("text"), flags)
            CommitMarkers.markCommitted(batch, indexPath, batchId, lineage)
          } finally {
            flags.unpersist()
            b.unpersist()
          }
        }
        ()
      }
      .start()
  }
}
