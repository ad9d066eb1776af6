package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions._

import graft.operators.{CorpusPipeline, IncrementalPipeline}

/** Incremental curation over a seeded document stream: the closing
  * phase of the `collect` workload, outside its timed loop, so the
  * curation layer is traced on every run without a workload of its
  * own (one curation day costs seconds of driver round-trips, too
  * slow to sample in a closed loop of a few seconds).
  *
  * A base corpus is bootstrapped with the DSIR feature sidecar, then
  * one day goes through `runIncremental` and `dsirSelect`. The day has
  * ids above the horizon and mixes exact copies, near-duplicates (tail
  * tokens dropped), novel documents and bench-set documents copied
  * from earlier text, which sends it down the retro-decontamination
  * path. Its output must equal the one-shot pipeline over everything.
  */
object Curate {
  val BaseDocs = 300
  val DayDocs = 60
  val DsirBuckets = 4096
  val SelectBudget = 30
  private val bench = col("doc_id") % 101 === 0

  def phase(c: Ctx): Unit = {
    import c.spark
    val dir = c.work.resolve("curate")
    val state = dir.resolve("state").toString
    val r = new Random(c.seed)
    val base = baseDocs(r)
    val budget = base.map(_._2).distinct.map(_.split(" ").length.toLong).sum * 6 / 10 / 4
    val delta = dayDocs(r, base)
    Gen.writeDocs(spark, base, dir.resolve("base").toString)
    Gen.writeDocs(spark, delta, dir.resolve("day").toString)
    c.layer("delta_bytes") = dirBytes(dir.resolve("day")).toDouble
    val targets = spark.createDataFrame(
      base.filter(_._1 % 5 == 0).map(d => Tuple1(d._1))).toDF("doc_id")

    c.step("curation") {
      c.span("IncrementalPipeline.bootstrap") {
        IncrementalPipeline.bootstrap(state, spark.read.parquet(dir.resolve("base").toString),
          bench, IncrementalPipeline.Params(budget), dsirBuckets = Some(DsirBuckets))
          .queryExecution.toRdd.count()
      }
      val out = c.span("IncrementalPipeline.runIncremental") {
        val out = IncrementalPipeline.runIncremental(state,
          spark.read.parquet(dir.resolve("day").toString), bench)
        out.queryExecution.toRdd.count()
        out
      }
      val ids = c.span("IncrementalPipeline.dsirSelect") {
        IncrementalPipeline.dsirSelect(spark, state, targets, SelectBudget).collect()
      }.map(_.getAs[Long]("id"))
      c.check(ids.length == SelectBudget && ids.distinct.length == ids.length,
        s"dsirSelect returned ${ids.length} rows (${ids.distinct.length} distinct), " +
          s"budget $SelectBudget")
      c.mark("curation")
      // the day's output equals the one-shot pipeline over base + day
      val got = out.collect().map(_.toSeq).toSet
      Gen.writeDocs(spark, base ++ delta, dir.resolve("all").toString)
      val want = CorpusPipeline.run(spark.read.parquet(dir.resolve("all").toString),
        benchPred = bench, budgetPerStratum = budget, nShards = 64)
        .out.collect().map(_.toSeq).toSet
      c.check(got.nonEmpty && got == want,
        s"incremental output (${got.size} rows) != one-shot pipeline (${want.size} rows)")
    }
    c.mark("curation check")
    Collect.deleteTree(dir)
  }

  private def baseDocs(r: Random): Vector[(Long, String)] = {
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    (0 until BaseDocs).foreach { i =>
      val text =
        if (i > 20 && r.nextInt(20) == 0) docs(r.nextInt(docs.size))._2
        else Gen.docText(r, 30 + r.nextInt(30))
      docs += i.toLong -> text
    }
    docs.toVector
  }

  /** The day's delta: ids from 1000 up, above every base id; the bench
    * ids among them (multiples of 101) copy earlier text.
    */
  private def dayDocs(r: Random, earlier: Vector[(Long, String)]): Vector[(Long, String)] = {
    def pick() = earlier(r.nextInt(earlier.size))._2
    (1000L until 1000L + DayDocs).map { id =>
      val k = r.nextInt(100)
      val text =
        if (Gen.isBench(id) || k < 15) pick()
        else if (k < 30) {
          val toks = pick().split(" ")
          toks.take(toks.length - 1 - r.nextInt(2)).mkString(" ")
        } else Gen.docText(r, 30 + r.nextInt(30))
      id -> text
    }.toVector
  }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(_.getFileName.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}
