package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.AnnIndex

/** Streaming maintenance of the persisted ANN sketch index: the
  * `foreachBatch` composition of [[AnnIndex.writeSketch]] /
  * [[AnnIndex.appendSketchVectors]] plus the recall-drift loop —
  * the vector-index leg of the streaming surface, alongside
  * [[FlushStream]] (lake), [[DedupStream]] (dedup index) and
  * [[CurationStream]] (curation state). Reference scope: lakeflush
  * has no vector indexing; this extends the §2.11 similarity family.
  *
  * Batch 0 bootstraps the index at `indexDir` (with a measured recall
  * curve when `targetRecall > 0`); every later batch appends. Per-batch
  * cost tracks the BATCH: the append sketches only the files it wrote
  * (listing diff), and the idempotence anti-join below reads one id
  * column of the vectors table.
  *
  * Exactly-once story (foreachBatch is at-least-once on replay), built
  * on the index's own repair machinery rather than a second log:
  *  - idempotence is carried by the id anti-join alone: the batch's ids
  *    are anti-joined against the ids ALREADY indexed, so a replayed
  *    append inserts nothing and searches can never see duplicate rows.
  *    `vec_id` is therefore the identity: a re-sent id is BY CONTRACT a
  *    replay (a batch whose ids collide with already indexed vectors
  *    but carries different embeddings is a source keying bug this sink
  *    cannot distinguish from a replay);
  *  - a `commits/<lineage>-<batchId>` marker under the index dir only
  *    elides the orphan-repair pass on a fully-duplicate replay, and
  *    only when it was written by THIS checkpoint lineage: batchIds
  *    restart at 0 under a new checkpointLocation, so `lineage` (a
  *    digest of the checkpointLocation, stable across restarts of the
  *    same stream) scopes the marker — a marker of foreign or unknown
  *    provenance (different lineage, or the legacy unscoped
  *    `commits/<batchId>` written by a direct processBatch call with no
  *    lineage) can never elide the repair, because it certifies a
  *    DIFFERENT batch's run and the torn state it would vouch for is
  *    not the one on disk. The marker is deliberately NOT a processing
  *    gate either way — gating on a collided marker would silently
  *    drop a genuinely fresh batch, while falling through to the
  *    anti-join appends the fresh ids correctly and still makes the
  *    true replay a cheap no-op. The recall-drift check is NEVER
  *    marker-elided, even same-lineage: needsRetrain is meta-only (two
  *    parquet footers) — cheap enough to run unconditionally on
  *    duplicate batches;
  *  - torn appends INSIDE a batch (vectors written, sketches or the q8
  *    sibling missing) are healed by appendSketchVectors' own
  *    orphan-repair passes on the next batch, exactly as in batch mode.
  *
  * Serve-quality loop: when `targetRecall > 0`, [[AnnIndex.needsRetrain]]
  * runs after each non-empty append; a drifted curve is re-measured in
  * place ([[AnnIndex.refreshCurve]] — meta only, tables untouched), so
  * the index keeps serving its stated recall target as the corpus
  * streams in. If appends push the target beyond what ANY m can deliver,
  * chooseM inside needsRetrain refuses with the ceiling named and the
  * stream fails LOUDLY — an index that cannot keep its promise must not
  * keep silently serving it.
  */
object AnnStream {

  /** Start the sink: index each micro-batch of `vecs` (columns
    * `vec_id: long`, `embedding: array<float>`, ids unique per batch)
    * into the sketch index at `indexDir`.
    */
  def annSink(vecs: DataFrame, indexDir: String, checkpointDir: String,
              sketchDim: Int = 16, dim: Int = 64, q8: Boolean = false,
              targetRecall: Double = 0.0, k: Int = 10,
              slack: Double = 0.05): StreamingQuery = {
    val lineage = lineageOf(checkpointDir)
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, indexDir, batchId, sketchDim, dim, q8,
          targetRecall, k, slack, lineage)
      }
      .start()
  }

  /** Lineage token scoping the commit markers: a digest of the
    * checkpointLocation — stable across restarts of the same stream
    * (same checkpoint ⟹ same batchId sequence ⟹ markers are valid
    * replay evidence), distinct for a fresh checkpoint (whose batchIds
    * restart at 0 and must not collide with the old markers).
    */
  def lineageOf(checkpointDir: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(checkpointDir.getBytes("UTF-8"))
    d.take(6).map(b => f"${b & 0xff}%02x").mkString
  }

  /** The foreachBatch body, public so the replay windows are testable
    * without forcing a real stream restart.
    */
  def processBatch(batch: DataFrame, indexDir: String, batchId: Long,
                   sketchDim: Int = 16, dim: Int = 64,
                   q8: Boolean = false, targetRecall: Double = 0.0,
                   k: Int = 10, slack: Double = 0.05,
                   lineage: String = ""): Unit = {
    // the marker is consulted, never gated on: see the scaladoc — a new
    // checkpoint lineage restarts batchIds at 0 and can collide with a
    // leftover marker, so only the anti-join below decides what appends.
    // Only a SAME-LINEAGE marker counts as replay evidence: a direct
    // processBatch call with no lineage never trusts markers at all.
    val alreadyCommitted =
      lineage.nonEmpty && CommitMarkers.committed(batch, indexDir, batchId, lineage)
    val spark = batch.sparkSession
    val rows = batch.select(col("vec_id"), col("embedding"))
    // duplicate ids WITHIN a batch are a source keying bug, not a
    // replay — refusing here is one tiny agg over the delta, and it
    // keeps "anti-join makes replays no-ops" the only dedup semantics
    val cnt = rows.agg(count(lit(1)), countDistinct(col("vec_id")))
      .collect()(0)
    require(cnt.getLong(0) == cnt.getLong(1),
      s"ann stream batch $batchId carries duplicate vec_ids " +
      s"(${cnt.getLong(0)} rows, ${cnt.getLong(1)} distinct) — " +
      "ids are the index identity; re-key the source")
    val metaPath = new Path(s"$indexDir/sketch_meta")
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(metaPath)) {
      // bootstrap — writeSketch writes meta LAST, so a crash mid-build
      // replays into this branch and the overwrite modes reset cleanly.
      // An EMPTY first batch must not bootstrap: a zero-row build with
      // curve=true persists a degenerate curve (grid [0], recall NaN)
      // that poisons every later chooseM — mark it committed and let
      // the first non-empty batch bootstrap instead.
      if (!rows.isEmpty)
        AnnIndex.writeSketch(indexDir, rows, sketchDim, dim, q8 = q8,
          curve = targetRecall > 0, curveK = k)
    } else {
      val known = spark.read.parquet(s"$indexDir/vectors").select("vec_id")
      val fresh = rows.join(known, Seq("vec_id"), "left_anti")
      if (fresh.isEmpty) {
        // a fully-duplicate batch with no same-lineage marker is the
        // replay of an append that crashed BETWEEN its table writes
        // (vectors landed, sketches torn) or between the drift re-check
        // and the marker — so heal orphans (lives at the head of
        // appendSketchVectors, which this branch skips). Only a marker
        // THIS lineage wrote elides the repair (alreadyCommitted is
        // lineage-scoped above): a foreign or unscoped marker certifies
        // a DIFFERENT batch's run, and riding on its word would leave a
        // torn append unhealed — sketch searches silently missing those
        // vectors — until the next non-empty batch. The drift re-check
        // is cheaper still (two parquet footers, meta only) and runs on
        // EVERY fully-duplicate batch, markered or not.
        if (!alreadyCommitted) AnnIndex.repairSketchOrphans(spark, indexDir)
        if (targetRecall > 0 &&
            AnnIndex.needsRetrain(spark, indexDir, k, targetRecall, slack)) {
          AnnIndex.refreshCurve(spark, indexDir)
          AnnIndex.chooseM(AnnIndex.loadSketchMeta(spark, indexDir),
            k, targetRecall)
        }
      } else {
        AnnIndex.appendSketchVectors(indexDir, fresh)
        if (targetRecall > 0 &&
            AnnIndex.needsRetrain(spark, indexDir, k, targetRecall, slack)) {
          AnnIndex.refreshCurve(spark, indexDir)
          // the re-grounded curve must still serve the target: chooseM
          // reads the refreshed meta (two parquet footers, no corpus
          // pass) and REFUSES with the ceiling named if no m delivers —
          // the loud unreachable-target failure documented above
          AnnIndex.chooseM(AnnIndex.loadSketchMeta(spark, indexDir),
            k, targetRecall)
        }
      }
    }
    CommitMarkers.markCommitted(batch, indexDir, batchId, lineage)
  }
}
