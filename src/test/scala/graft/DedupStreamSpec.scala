package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, DedupIndex}
import graft.streaming.{AnnStream, DedupStream}

/** Streaming incremental dedup: each micro-batch must be flagged
  * exactly as the batch d09 pass would flag the same delta against the
  * index state at that moment, the novel slice must be probe-able by
  * the NEXT batch (day-2 contract, streaming-style), and the flag lake
  * must be per-batch idempotent (one partition per batch id).
  */
class DedupStreamSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Set[(Long, String, Long)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("micro-batches flag like batch d09; novel content is probe-able next batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables.load(spark, sfDir, "documents")
    val base = docs.filter(col("doc_id") % 5 =!= 4)
    val delta = docs.filter(col("doc_id") % 5 === 4)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (batch1, batch2base) = delta.sortBy(_._1).splitAt(delta.length / 2)

    val ixDir = Files.createTempDirectory("graft-stream-ix").toString
    val outDir = Files.createTempDirectory("graft-stream-out").toString
    val cpDir = Files.createTempDirectory("graft-stream-cp").toString
    DedupIndex.write(ixDir, base, col("doc_id"), col("text"))

    def deltaDf(rows: Seq[(Long, String)]): DataFrame =
      rows.toDF("doc_id", "text")

    val expected1 = rows(Dedup.incrementalFlagsIndexed(
      DedupIndex.load(spark, ixDir), deltaDf(batch1), col("doc_id"), col("text")))

    val mem = MemoryStream[(Long, String)]
    val q = DedupStream.indexedDedupSink(
      mem.toDF().toDF("doc_id", "text"), ixDir, outDir, cpDir)
    try {
      mem.addData(batch1.toSeq: _*)
      q.processAllAvailable()
      assert(rows(spark.read.parquet(s"$outDir/batch_id=0")) == expected1)

      // day-2 contract: pick a batch-1 doc that was NOVEL (unflagged —
      // its content is now in the index) and replay its text under a
      // fresh id in batch 2; the stream must flag the copy against it
      val flagged1 = expected1.map(_._1)
      val novel = batch1.filterNot(d => flagged1.contains(d._1))
      assert(novel.nonEmpty, "fixture should leave some batch-1 docs novel")
      val echoId = 9000000L
      val batch2 = batch2base :+ (echoId -> novel.head._2)

      // expectation must snapshot the index BEFORE the stream appends
      // batch 2's own novel slice
      val expected2 = rows(Dedup.incrementalFlagsIndexed(
        DedupIndex.load(spark, ixDir), deltaDf(batch2), col("doc_id"), col("text")))

      mem.addData(batch2.toSeq: _*)
      q.processAllAvailable()
      val got2 = rows(spark.read.parquet(s"$outDir/batch_id=1"))
      assert(got2 == expected2)
      assert(got2.contains((echoId, "exact", novel.head._1)),
        "a copy of batch-1 novel content must flag against the updated index")

      // both batches left their commit markers, scoped to this
      // checkpoint (replay of either is a no-op)
      val fs = new org.apache.hadoop.fs.Path(ixDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val lineage = AnnStream.lineageOf(cpDir)
      Seq(0, 1).foreach { b =>
        assert(fs.exists(new org.apache.hadoop.fs.Path(s"$ixDir/commits/$lineage-$b")),
          s"missing commit marker for batch $b")
      }
    } finally q.stop()
  }

  test("a stale marker from another checkpoint lineage must not drop a fresh batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables.load(spark, sfDir, "documents")
    val base = docs.filter(col("doc_id") % 5 =!= 4)
    val batch = docs.filter(col("doc_id") % 5 === 4)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    val ixDir = Files.createTempDirectory("graft-stream-ix-stale").toString
    val outDir = Files.createTempDirectory("graft-stream-out-stale").toString
    val cpDir = Files.createTempDirectory("graft-stream-cp-stale").toString
    DedupIndex.write(ixDir, base, col("doc_id"), col("text"))
    // a marker left under the index by an earlier stream, unscoped
    val stale = new org.apache.hadoop.fs.Path(s"$ixDir/commits/0")
    stale.getFileSystem(spark.sessionState.newHadoopConf()).create(stale, true).close()

    val expected = rows(Dedup.incrementalFlagsIndexed(
      DedupIndex.load(spark, ixDir), batch.toDF("doc_id", "text"),
      col("doc_id"), col("text")))
    val novel = batch.map(_._1).toSet -- expected.map(_._1)
    assert(novel.nonEmpty, "fixture should leave some docs novel")

    val mem = MemoryStream[(Long, String)]
    val q = DedupStream.indexedDedupSink(
      mem.toDF().toDF("doc_id", "text"), ixDir, outDir, cpDir)
    try {
      mem.addData(batch: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(rows(spark.read.parquet(s"$outDir/batch_id=0")) == expected,
      "batch 0 of a fresh checkpoint must be flagged")
    val indexed = spark.read.parquet(s"$ixDir/hashes").select(col("base_id"))
      .as[Long].collect().toSet
    assert(novel.subsetOf(indexed), "batch 0's novel docs must be appended to the index")
  }
}
