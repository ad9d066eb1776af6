package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, DedupIndex}

/** Persisted-index incremental dedup: the indexed path must be
  * row-identical to the inline base-vs-delta pass, parameters must
  * travel with the index, and appending the novel slice must make the
  * next identical delta fully flagged (the day-2 contract).
  */
class DedupIndexSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def docs = Tables.load(spark, sfDir, "documents")
  private def base = docs.filter(col("doc_id") % 5 =!= 4)
  private def delta = docs.filter(col("doc_id") % 5 === 4)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("indexed flags == inline flags, with parameters taken from the index") {
    val dir = Files.createTempDirectory("graft-dedup-index").toString
    DedupIndex.write(dir, base, col("doc_id"), col("text"),
      shingleN = 3, k = 16, bands = 4)

    val ix = DedupIndex.load(spark, dir)
    assert(ix.meta == DedupIndex.Meta(3, 16, 4))

    val inline = rows(Dedup.incrementalFlags(
      base, delta, col("doc_id"), col("text"),
      shingleN = 3, k = 16, bands = 4, minSim = 0.3))
    val indexed = rows(Dedup.incrementalFlagsIndexed(
      ix, delta, col("doc_id"), col("text"), minSim = 0.3))

    assert(inline.nonEmpty, "fixture should produce at least one flag")
    assert(indexed == inline)
  }

  test("appendNovel folds the novel slice in; the same delta re-probed is fully flagged") {
    val dir = Files.createTempDirectory("graft-dedup-index").toString
    DedupIndex.write(dir, base, col("doc_id"), col("text"))

    val ix = DedupIndex.load(spark, dir)
    val day1 = Dedup.incrementalFlagsIndexed(ix, delta, col("doc_id"), col("text"))
    val flagged1 = day1.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val deltaIds = delta.select("doc_id").collect().map(_.getLong(0)).toSet
    val novel = deltaIds -- flagged1
    assert(novel.nonEmpty, "fixture should leave some delta docs novel")

    DedupIndex.appendNovel(dir, delta, col("doc_id"), col("text"), day1)

    val day2 = Dedup.incrementalFlagsIndexed(
      DedupIndex.load(spark, dir), delta, col("doc_id"), col("text"))
    val byId = day2.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

    // every delta doc now hits the index...
    assert(byId.keySet == deltaIds)
    // ...previously-novel docs match their own appended entry exactly
    novel.foreach { id => assert(byId(id) == (("exact", id))) }
    // ...and previously-flagged docs keep their day-1 verdict (their
    // content was NOT appended, so the index is unchanged for them)
    val day1Rows = day1.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    flagged1.foreach { id => assert(byId(id) == day1Rows(id)) }
  }

  test("bucketed-table index: identical flags, base-side joins plan without exchanges") {
    val dir = Files.createTempDirectory("graft-dedup-index").toString
    DedupIndex.write(dir, base, col("doc_id"), col("text"))
    DedupIndex.writeBucketed(base, col("doc_id"), col("text"), "dix", buckets = 4)

    // force SMJ everywhere (a broadcast of the small fixture index would
    // hide the exchange question — at scale the index side never
    // broadcasts, which is the case the bucketing exists for)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val fromParquet = Dedup.incrementalFlagsIndexed(
        DedupIndex.load(spark, dir), delta, col("doc_id"), col("text"))
      val fromTables = Dedup.incrementalFlagsIndexed(
        DedupIndex.loadBucketed(spark, "dix"), delta, col("doc_id"), col("text"))

      val expected = rows(fromParquet)
      assert(expected.nonEmpty, "fixture should produce at least one flag")
      assert(rows(fromTables) == expected)

      // AQE's TreeNode collect doesn't descend into materialized stages;
      // the rendered string does (same workaround as BucketingSpec)
      def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
        df.collect(); df.queryExecution.executedPlan.toString
      }
      def exchanges(plan: String): Int =
        plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      val bp = finalPlan(fromTables)
      val pp = finalPlan(fromParquet)
      assert(bp.contains("Bucketed: true"),
        s"bucketed index probe must read bucketed scans:\n$bp")
      assert(exchanges(bp) < exchanges(pp),
        s"bucketed index must drop base-side exchanges " +
          s"(bucketed ${exchanges(bp)} vs parquet ${exchanges(pp)}):\n$bp")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      Seq("bands", "hashes", "shingles", "meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS dix_$t"))
    }
  }

  test("composed day loop: compact -> flag vs index -> fold novel; day 2 dups of day 1 novelty flag via the fold") {
    // The day-loop composition of BENCH_dayloop_probe.json at spec
    // scale: each day's crawl residue is compacted with
    // optimizeParquet, flagged against the persisted index, and its
    // novel slice folded with appendNovel.
    // Day 2's duplicate half replicates DAY 1'S NOVEL docs — text the
    // index only knows because day 1's fold ran — so the day-2 exact
    // flags are a witness for the loop itself, not just for write().
    val work = Files.createTempDirectory("graft-dayloop").toString
    val ixPath = s"$work/ix"
    DedupIndex.write(ixPath, base, col("doc_id"), col("text"))
    val D = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1

    def novelHalf(day: Int, n: Long) = spark.range(n).select(
      (col("id") + lit((10 * day + 5) * D)).as("doc_id"),
      concat_ws(" ", (0 until 24).map(i =>
        md5(concat(lit(s"d$day:t$i:"), col("id").cast("string")))): _*).as("text"))

    def runDay(day: Int, dupSrc: org.apache.spark.sql.DataFrame,
               nNovel: Long): org.apache.spark.sql.DataFrame = {
      val dupHalf = dupSrc.select(
        (col("doc_id") + lit(10L * day * D)).as("doc_id"), col("text"))
      val incoming = s"$work/in/day$day"
      val compacted = s"$work/lake/day$day"
      dupHalf.unionByName(novelHalf(day, nNovel)).repartition(8)
        .write.parquet(incoming)
      graft.operators.Compactor.optimizeParquet(
        incoming, compacted, 64L * 1024 * 1024)(spark)
      val delta = spark.read.parquet(compacted)
      val flags = Dedup.incrementalFlagsIndexed(
        DedupIndex.load(spark, ixPath), delta,
        col("doc_id"), col("text")).localCheckpoint()
      val nDup = dupHalf.count()
      val exactIds = flags.filter(col("dup_kind") === "exact")
        .select("doc_id").distinct().count()
      assert(exactIds == nDup,
        s"day $day: all $nDup replicated docs must flag exact, got $exactIds")
      val novelN = delta.count() - flags.select("doc_id").distinct().count()
      assert(novelN == nNovel,
        s"day $day: all $nNovel salted docs must stay novel, got $novelN")
      DedupIndex.appendNovel(ixPath, delta, col("doc_id"), col("text"), flags)
      delta
    }

    val ixRows0 = spark.read.parquet(s"$ixPath/hashes").count()
    runDay(1, base.filter(col("doc_id") % 2 === 0), nNovel = 40)
    val ixRows1 = spark.read.parquet(s"$ixPath/hashes").count()
    assert(ixRows1 == ixRows0 + 40, "fold must grow the index by day 1's novelty only")
    runDay(2, novelHalf(1, 40), nNovel = 40)
    assert(spark.read.parquet(s"$ixPath/hashes").count() == ixRows1 + 40,
      "fold must grow the index by day 2's novelty only")
  }

  test("day-2 NEAR-dups of day-1 novelty flag `near` with the true source match_id") {
    // The near-dup slice of BENCH_dayloop_probe.json at spec scale:
    // day 1 folds novel md5-token docs into the index; day 2's delta
    // contains last-token-dropout copies of them (23 of 24 tokens =>
    // shingle Jaccard 21/22 ~ 0.954). Flagging them `near` requires the
    // band-key x Jaccard-refinement path to probe shingles the index
    // only has because day 1's fold persisted them — the persisted
    // near-dup machinery's whole contract. match_id must be the TRUE
    // source doc (id arithmetic, zero tolerance); detection is >= 95%
    // (banding at J=0.954, k=16/bands=4 misses a doc with p ~ 8e-4;
    // deterministic for this fixed fixture text).
    val work = Files.createTempDirectory("graft-nearloop").toString
    val ixPath = s"$work/ix"
    DedupIndex.write(ixPath, base, col("doc_id"), col("text"))
    val D = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1
    val n = 40L
    val off1 = 15L * D
    val off2 = 27L * D

    def salted(day: Int, off: Long, nTok: Int) = spark.range(n).select(
      (col("id") + lit(off)).as("doc_id"),
      concat_ws(" ", (0 until nTok).map(i =>
        md5(concat(lit(s"d$day:t$i:"), col("id").cast("string")))): _*).as("text"))

    // day 1: novel docs land and are folded
    val day1 = salted(1, off1, 24)
    val flags1 = Dedup.incrementalFlagsIndexed(
      DedupIndex.load(spark, ixPath), day1, col("doc_id"), col("text"))
      .localCheckpoint()
    assert(flags1.count() == 0, "day 1 novelty must be unflagged")
    DedupIndex.appendNovel(ixPath, day1, col("doc_id"), col("text"), flags1)

    // day 2: near-dups of day 1's (now-folded) novelty
    val day2 = salted(1, off2, 23)
    val flags2 = Dedup.incrementalFlagsIndexed(
      DedupIndex.load(spark, ixPath), day2, col("doc_id"), col("text"))
      .localCheckpoint()
    val near = flags2.filter(col("dup_kind") === "near")
    val bad = near.filter(
      col("doc_id") < off2 || col("doc_id") >= off2 + n ||
        col("match_id") =!= col("doc_id") - off2 + off1).count()
    assert(bad == 0, s"$bad near flags outside the planted slice or " +
      "pointing at the wrong source")
    assert(flags2.filter(col("dup_kind") === "exact").count() == 0,
      "dropout copies must never flag exact")
    val nNear = near.count()
    assert(nNear >= n * 95 / 100 && nNear <= n,
      s"near detection $nNear of $n outside [95%, 100%]")
  }

  test("loading a foreign format version fails loudly") {
    val dir = Files.createTempDirectory("graft-dedup-index").toString
    DedupIndex.write(dir, base, col("doc_id"), col("text"))
    import spark.implicits._
    Seq((99, 3, 16, 4)).toDF("version", "shingle_n", "k", "bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    val e = intercept[IllegalArgumentException](DedupIndex.load(spark, dir))
    assert(e.getMessage.contains("format version"))
  }
}
