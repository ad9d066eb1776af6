package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.{AnnIndex, Compactor, Similarity}

/** `serve`: a seeded request sequence against a sketch index, a
  * maintained lineitem lake and the analytic query set.
  *
  * Set-up generates a small warehouse and embeddings, writes the sketch
  * index, lands lineitem as many small part files, maintains that lake
  * once with `maintainLake(…, Seq("l_orderkey"))`, and warms every
  * request type. The closed loop then serves blocks of 20 requests in
  * seeded order: 1 append to the index (5 % of requests), 5 analytic
  * queries (one from each query set), 7 kNN searches (1 or 8 query
  * vectors) and 7 point lookups (5 present keys, 2 absent).
  */
object Serve {
  val K = 10
  val M = 64
  val SketchDim = 16
  val SketchSeed = 20260814L
  val LakeFiles = 24
  /** Maintained file size: small enough that the lake keeps several
    * files for a point lookup to prune. */
  val LakeFileBytes: Long = 32L << 10

  /** Analytic requests, served in turn, one from each of the
    * Relational, EventOps, LakeOps, SketchOps and SimilarityOps sets:
    * a block's five query slots serve each once.
    */
  val Queries: Vector[String] = Vector(
    "q01_pricing_summary", "e02_hourly_windows", "c01_bundle_assign",
    "x02_exact_quantiles", "s01_knn_bruteforce")

  /** About how long one block takes on a 4-core host. */
  val NominalBlockS = 14.0

  private val block: Vector[String] =
    Vector.fill(4)("knn1") ++ Vector.fill(3)("knn8") ++ Vector.fill(5)("hit") ++
      Vector.fill(2)("miss") ++ Vector.fill(Queries.size)("query") :+ "append"

  private final class State(val dir: Path, rep: Int, val wh: Gen.Warehouse) {
    val sf: String = dir.resolve("sf").toString
    val index: String = dir.resolve(s"index-$rep").toString
    val lake: String = dir.resolve(s"lake-$rep").toString
    val vectors: mutable.ArrayBuffer[(Long, Array[Float])] =
      mutable.ArrayBuffer.empty ++= wh.vectors
    var nextVecId: Long = 1000000L
    var pending: Vector[(Long, Array[Float])] = Vector.empty
    var nextQuery = 0
    var knnCount = 0
    val digests = mutable.Map.empty[String, mutable.Set[String]]
    var lakeFiles = 0
    val keys: Array[Long] = wh.lineitems.keys.toArray.sorted
    var filesTouched, lookups = 0L
  }

  def run(c: Ctx): Unit = {
    import c.spark
    val dir = c.work.resolve("serve")
    val r = new Random(c.seed)
    val wh = Gen.warehouse(spark, dir.resolve("sf").toString, r)
    c.mark("inputs")
    // set-up: build the index and the lake, several times, each into
    // fresh directories
    var st: State = null
    (0 until c.setupReps).foreach { rep =>
      val s = new State(dir, rep, wh)
      c.setups += c.timed {
        AnnIndex.writeSketch(s.index, vecFrame(spark, s.wh.vectors), SketchDim,
          Gen.vecDim, SketchSeed)
        spark.read.parquet(s"${s.sf}/lineitem.parquet")
          .repartition(LakeFiles).write.parquet(s.lake)
        Compactor.maintainLake(s.lake, LakeFileBytes, Seq("l_orderkey"))(spark).collect()
      }
      s.lakeFiles = spark.read.parquet(s.lake).inputFiles.length
      if (rep < c.setupReps - 1) {
        Collect.deleteTree(java.nio.file.Paths.get(s.index))
        Collect.deleteTree(java.nio.file.Paths.get(s.lake))
      } else st = s
    }
    c.mark("setup")
    // warm every request type once, and every query, outside the
    // timing: a query's first call compiles its plan
    (Seq("knn1", "hit", "append") ++ Queries.map(_ => "query")).foreach(k =>
      c.warm(k)(request(c, st, k, r, warm = true)))
    st.nextQuery = 0

    c.mark("warm-up")
    val order = new Random(c.seed * 31L + 1)
    val args = new Random(c.seed * 31L + 2)
    c.cycle = block.groupMapReduce(identity)(_ => 1)(_ + _)
    c.loop(NominalBlockS) {
      order.shuffle(block).foreach(k => c.op(k)(request(c, st, k, args, warm = false)))
    }
    c.mark("loop")
    c.layer("Compactor.readPrunedEq.files_ratio") =
      st.filesTouched.toDouble / st.lookups.max(1) / st.lakeFiles

    c.step("final check") {
      // every analytic query returned the same rows on every call, and
      // those rows are what a fresh call returns now
      st.digests.foreach { case (q, seen) =>
        val now = digest(SparkEntry.queries(q)(spark, st.sf).collect())
        c.check(seen == mutable.Set(now), s"$q returned ${seen.size} distinct results")
      }
    }
    Collect.deleteTree(st.dir)
  }

  private def request(c: Ctx, s: State, kind: String, r: Random, warm: Boolean): Unit = {
    val spark = c.spark
    kind match {
      case "knn1" | "knn8" =>
        val n = if (kind == "knn1") 1 else 8
        val qs = (s.pending ++ Gen.randomVectors(r, 0L, n))
          .take(n).zipWithIndex.map { case ((_, v), i) => (-1L - i, v) }
        val res = c.span("AnnIndex.searchSketch") {
          AnnIndex.searchSketch(spark, s.index, vecFrame(spark, qs), K, M).collect()
        }
        c.check(res.length == K * n, s"kNN returned ${res.length} rows for $n queries")
        // an appended vector is found at rank 1 by the next search for it
        s.pending.take(n).zipWithIndex.foreach { case ((id, _), i) =>
          val top = res.find(x => x.getLong(0) == -1L - i && x.getLong(1) == 1L)
          c.check(top.exists(_.getLong(2) == id),
            s"appended vector $id not at rank 1: ${top.map(_.toString)}")
        }
        s.pending = s.pending.drop(n)
        s.knnCount += 1
        // sampled: the served result equals the inline operator
        if (!warm && s.knnCount % 4 == 0) c.untimed {
          val inline = Similarity.knnSketchRerank(vecFrame(spark, qs),
            vecFrame(spark, s.vectors.toVector), K, M, SketchDim, Gen.vecDim, SketchSeed)
            .collect()
          c.check(digest(inline) == digest(res), "served kNN != knnSketchRerank")
        }
      case "hit" | "miss" =>
        val key =
          if (kind == "hit") s.keys(r.nextInt(s.keys.length))
          else s.wh.maxOrderKey + 1 + r.nextInt(1000000)
        val (df, rows) = c.span("Compactor.readPrunedEq") {
          val df = Compactor.readPrunedEq(s.lake, Seq("l_orderkey" -> lit(key)))(spark)
          (df, df.collect())
        }
        if (!warm) c.untimed { s.filesTouched += df.inputFiles.length; s.lookups += 1 }
        val want = s.wh.lineitems.getOrElse(key, Vector.empty)
          .map(x => (x.getInt(3), x.getDouble(5))).sorted
        val got = rows.map(x => (x.getAs[Int]("l_linenumber"),
          x.getAs[Double]("l_extendedprice"))).toVector.sorted
        c.check(got == want, s"lookup $key returned ${got.size} rows, expected ${want.size}")
      case "query" =>
        val q = Queries(s.nextQuery % Queries.size)
        s.nextQuery += 1
        val rows = c.span("SparkEntry.queries") {
          SparkEntry.queries(q)(spark, s.sf).collect()
        }
        c.check(rows.nonEmpty, s"$q returned no rows")
        s.digests.getOrElseUpdate(q, mutable.Set.empty) += digest(rows)
      case "append" =>
        val n = 1 + r.nextInt(4)
        val vs = Gen.randomVectors(r, s.nextVecId, n)
        s.nextVecId += n
        c.span("AnnIndex.appendSketchVectors") {
          AnnIndex.appendSketchVectors(s.index, vecFrame(spark, vs))
        }
        s.vectors ++= vs
        s.pending ++= vs
    }
  }

  private val vecSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))

  private def vecFrame(spark: SparkSession, vs: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(vs.map { case (i, v) => Row(i, v.toSeq) }.asJava, vecSchema)

  private def digest(rows: Array[Row]): String =
    rows.map(_.toSeq.mkString("\u0001")).sorted.mkString("\n").hashCode.toString +
      ":" + rows.length
}
