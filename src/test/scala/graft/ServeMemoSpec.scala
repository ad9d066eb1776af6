package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.operators.{AnnIndex, Compactor, IndexMemo, Readers}

/** The serve-path schema and stats-manifest memos
  * ([[graft.operators.Readers.parquet]], `Compactor.manifests`): a
  * lookup on an unchanged lake runs no footer or manifest job, and no
  * change to the files, the session or its parquet confs is ever
  * served from a stale entry.
  */
class ServeMemoSpec extends SparkSpec {

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Replace `dir` by `write`'s output out of band: a write to a temp
    * dir, then a rename, with no graft writer involved. */
  private def rewrite(dir: String)(write: String => Unit): Unit = {
    val tmp = s"$dir-rewrite"
    write(tmp)
    fs.delete(new Path(dir), true)
    assert(fs.rename(new Path(tmp), new Path(dir)))
  }

  /** A flat lake of `l_orderkey` rows in several files, maintained so
    * its stats manifest carries a dictionary for point lookups. */
  private def lake(rows: Int): String = {
    implicit val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-serve-lake").toString + "/lake"
    (0 until rows).map(i => (i.toLong, i % 7, i * 0.5)).toDF("l_orderkey", "l_linenumber", "price")
      .repartition(8).write.parquet(dir)
    Compactor.maintainLake(dir, 1024, Seq("l_orderkey")).collect()
    Compactor.writeStatsManifest(dir, Seq("l_orderkey"), dictCols = Seq("l_orderkey"))
    dir
  }

  test("readPrunedEq job budget: an unchanged maintained lake pays no footer or manifest job") {
    implicit val s = spark
    val dir = lake(4000)
    def lookup(k: Long) =
      Compactor.readPrunedEq(dir, Seq("l_orderkey" -> lit(k))).collect()
    lookup(17)
    val (rows, jobs) = countJobs(lookup(1234))
    assert(rows.map(_.getAs[Long]("l_orderkey")).toSeq == Seq(1234L))
    assert(jobs <= 2, s"lookup on an unchanged lake ran $jobs jobs")
  }

  test("a manifest above LocalManifestBytes prunes with a distributed filter, still per memo") {
    implicit val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-serve-bigman").toString + "/lake"
    // 64 files of 1024 consecutive keys each: every file's dictionary
    // is full, about 8 KB of hashes per manifest row
    spark.range(0, 64 * 1024, 1, 64).select($"id".as("l_orderkey"),
      ($"id" % 7).cast("int").as("l_linenumber")).write.parquet(dir)
    Compactor.writeStatsManifest(dir, Seq("l_linenumber"), dictCols = Seq("l_orderkey"))
    val manBytes = spark.read.parquet(s"$dir/${Compactor.StatsDir}")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(manBytes > Compactor.LocalManifestBytes, s"manifest is only $manBytes bytes")
    def lookup(k: Long) = Compactor.readPrunedEq(dir, Seq("l_orderkey" -> lit(k)))
    assert(lookup(7).collect().map(_.getAs[Long]("l_orderkey")).toSeq == Seq(7L))
    val (hit, jobs) = countJobs {
      val df = lookup(50000)
      (df.collect().map(_.getAs[Long]("l_orderkey")).toSeq, df.inputFiles.length)
    }
    assert(hit._1 == Seq(50000L))
    assert(hit._2 == 1, s"the lookup scanned ${hit._2} files")
    // the prune's filter job and the scan; the file set is memoized
    assert(jobs <= 2, s"lookup over a large manifest ran $jobs jobs")
  }

  test("a table rewritten out of band with an added column is read with the new column") {
    implicit val s = spark
    import s.implicits._
    val sf = Files.createTempDirectory("graft-serve-sf").toString
    val table = s"$sf/orders.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("o_orderkey", "o_status").write.parquet(table)
    assert(Tables.load(spark, sf, "orders").columns.toSeq == Seq("o_orderkey", "o_status"))
    rewrite(table)(t => Seq((1L, "a", 9.5), (2L, "b", 3.0))
      .toDF("o_orderkey", "o_status", "o_total").write.parquet(t))
    val after = Tables.load(spark, sf, "orders")
    assert(after.columns.toSeq == Seq("o_orderkey", "o_status", "o_total"))
    assert(after.filter($"o_orderkey" === 1L).select("o_total").head().getDouble(0) == 9.5)

    val dir = lake(2000)
    Compactor.readPrunedEq(dir, Seq("l_orderkey" -> lit(5L))).collect()
    rewrite(dir) { t =>
      (0 until 2000).map(i => (i.toLong, i % 7, i * 0.5, s"c$i"))
        .toDF("l_orderkey", "l_linenumber", "price", "comment")
        .repartition(8).write.parquet(t)
    }
    // the full-scan fallback (no manifest), then the pruned path
    val plain = Compactor.readPrunedEq(dir, Seq("l_orderkey" -> lit(5L))).collect()
    assert(plain.map(_.getAs[String]("comment")).toSeq == Seq("c5"))
    Compactor.writeStatsManifest(dir, Seq("l_orderkey"), dictCols = Seq("l_orderkey"))
    val pruned = Compactor.readPrunedEq(dir, Seq("l_orderkey" -> lit(6L)))
    assert(pruned.collect().map(_.getAs[String]("comment")).toSeq == Seq("c6"))
    assert(pruned.inputFiles.length < spark.read.parquet(dir).inputFiles.length)
  }

  /** A table with one unannotated binary column and no Spark schema
    * in its footer, as non-Spark writers produce: only for such a file
    * does the inferred type follow `binaryAsString`. */
  private def foreignBinaryTable(): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft-serve-foreign").toString
    val schema = MessageTypeParser.parseMessageType("message t { required binary b; }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi"))
    finally w.close()
    dir
  }

  test("a parquet conf flipped between two reads infers the schema again") {
    val dir = foreignBinaryTable()
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Readers.parquet(spark, dir).schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val flipped = Readers.parquet(spark, dir)
      assert(flipped.schema("b").dataType == StringType)
      assert(flipped.head().getString(0) == "hi")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a newSession() read does not get the first session's entry") {
    val dir = foreignBinaryTable()
    val first = Readers.parquet(spark, dir)
    val other = spark.newSession()
    other.conf.set("spark.sql.parquet.binaryAsString", "true")
    val second = Readers.parquet(other, dir)
    assert(first.schema("b").dataType == BinaryType)
    assert(second.schema("b").dataType == StringType)
    assert(second.sparkSession eq other)
    assert(Readers.schemas.liveCount(dir) == 2,
      "each session holds its own entry")
  }

  test("a manifest rewritten by maintainLake after a file lands serves the new rows") {
    implicit val s = spark
    import s.implicits._
    val dir = lake(3000)
    def lookup(k: Long) = Compactor.readPrunedEq(dir, Seq("l_orderkey" -> lit(k)))
    assert(lookup(10).collect().length == 1)
    // new keys land, then maintenance rewrites the dirty files and the
    // manifest (which keeps its dictionary column)
    (5000 until 5100).map(i => (i.toLong, i % 7, i * 0.5))
      .toDF("l_orderkey", "l_linenumber", "price").write.mode("append").parquet(dir)
    Compactor.maintainLake(dir, 1024, Seq("l_orderkey")).collect()
    val hit = lookup(5050)
    assert(hit.collect().map(_.getAs[Long]("l_orderkey")).toSeq == Seq(5050L))
    // served from the new manifest, not the full-scan fallback
    assert(hit.inputFiles.length < spark.read.parquet(dir).inputFiles.length,
      "the lookup must prune through the rewritten manifest")
  }

  test("appendParquet keeps the schema entry across a same-schema append, drops it on a new schema or an out-of-band file") {
    implicit val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-serve-append").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(dir)
    Readers.parquet(spark, dir).collect()
    // the same columns (nullability aside): the entry is kept under the
    // new listing, so the next read infers nothing
    Readers.appendParquet(Seq((3L, "c")).toDF("id", "v"), dir)
    assert(Readers.schemas.liveCount(dir) == 1)
    val (same, sameJobs) = countJobs(Readers.parquet(spark, dir).schema)
    assert(same.fieldNames.toSeq == Seq("id", "v"))
    assert(sameJobs == 0, s"read after a same-schema append ran $sameJobs jobs")
    // a file landed out of band since the entry was stored: the entry
    // no longer stands for the files on disk, so the append drops it
    Seq((5L, "e", 2.5)).toDF("id", "v", "x").write.mode("append").parquet(dir)
    Readers.appendParquet(Seq((6L, "f")).toDF("id", "v"), dir)
    assert(Readers.schemas.liveCount(dir) == 0)
    assert(Readers.parquet(spark, dir).schema == spark.read.parquet(dir).schema)
    // an added column: the entry is dropped, and the next read infers
    // again, as the plain read does
    Readers.appendParquet(Seq((4L, "d", 1.5)).toDF("id", "v", "w"), dir)
    assert(Readers.schemas.liveCount(dir) == 0)
    val (grown, grownJobs) = countJobs(Readers.parquet(spark, dir))
    assert(grownJobs >= 1, "the read after a new-schema append must infer")
    assert(grown.schema == spark.read.parquet(dir).schema)
    assert(grown.count() == 6)
  }

  test("the end of a context's application releases its entries in every memo") {
    implicit val s = spark
    val dir = lake(400)
    def lookup() = Compactor.readPrunedEq(dir, Seq("l_orderkey" -> lit(123L))).collect()
    val ix = Files.createTempDirectory("graft-serve-release").toString
    AnnIndex.writeSketch(ix, Tables.loadRaw(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")), sketchDim = 8, dim = 64)
    val q = Tables.loadRaw(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 3)
    def search() = AnnIndex.searchSketch(spark, ix, q, k = 5, m = 20).collect().toSeq
    val (rows, hits) = (lookup().toSeq, search())
    val memos = Seq(Readers.schemas, Compactor.manifests, AnnIndex.residents,
      AnnIndex.sketchMetas)
    assert(memos.forall(_.liveCount > 0))
    // the shared session cannot be stopped: run its context's hook as
    // the listener bus would at spark.stop()
    val hook = IndexMemo.stopHook(spark.sparkContext)
    assert(hook.nonEmpty, "a context with entries must have its hook registered")
    hook.get.onApplicationEnd(SparkListenerApplicationEnd(0L))
    assert(memos.forall(_.liveCount == 0) && IndexMemo.liveTotal == 0)
    assert(IndexMemo.stopHook(spark.sparkContext).isEmpty)
    // the next reads load again and return the same rows
    assert(lookup().toSeq == rows && search() == hits)
    assert(memos.forall(_.liveCount > 0) && IndexMemo.stopHook(spark.sparkContext).nonEmpty)
  }
}
