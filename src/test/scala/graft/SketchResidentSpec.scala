package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._

import graft.operators.{AnnIndex, Similarity}

/** A small sketch index is searched on the driver, over a resident
  * copy of its tables ([[AnnIndex.searchSketch]]): that search must
  * equal [[Similarity.knnSketchRerank]] over the index's own vectors
  * row for row, bit for bit and schema for schema, on the inputs where
  * a restated search would drift (duplicate ids, NaN scores, ties at
  * the m cut, 6-dp halfway points, int query ids, the int8 sibling),
  * and hand what it does not take (nulls) to the distributed plan.
  */
class SketchResidentSpec extends SparkSpec {

  private val Dim = 8
  private val SketchDim = 4

  private def vec(xs: Float*): Array[Float] = xs.toArray.padTo(Dim, 0f)

  /** The tie vector: ids 50-57 carry it, so their sketch scores tie. */
  private val tie = vec(0.5f, 1.5f, -0.5f, 0.5f, 1.5f, -0.5f, 0.5f, 1.5f)

  private val corpus: Seq[(Long, Array[Float])] = {
    val r = new scala.util.Random(7)
    val random = (1L to 40L).map(_ -> Array.fill(Dim)(r.nextGaussian().toFloat))
    // |v| = 640 exactly and v(0) odd: cos(e1, v) = v(0)/640 is a 7th
    // decimal 5, e.g. 0.0046875, whose double lies just below it, so
    // Spark's round (HALF_UP over the shortest decimal string) and an
    // exact BigDecimal of the double round it apart
    val halfway = Seq(vec(3, 639, 35, 6, 3), vec(7, 639, 35, 2, 1),
      vec(17, 639, 31, 5, 2), vec(19, 639, 30, 3, 3))
    random ++ (50L to 57L).map(_ -> tie.clone) ++ Seq(60L -> vec()) ++
      halfway.zipWithIndex.map { case (v, i) => (70L + i) -> v }
  }

  private val queries: Seq[(Long, Array[Float])] = Seq(
    5L -> corpus(4)._2,    // an id in the corpus: its own row is skipped
    997L -> vec(1),        // e1: the halfway cosines
    998L -> vec(),         // zero: NaN scores everywhere
    999L -> tie,           // the 8-way tie, cut by m = 5
    -1L -> vec(0.25f, -2, 1, 0, 3, -1, 0.5f, 2))

  private def frame(rows: Seq[(Long, Array[Float])], idType: DataType = LongType,
                    elems: Seq[Array[java.lang.Float]] = Nil): DataFrame = {
    val schema = StructType(Seq(StructField("id", idType),
      StructField("vec", ArrayType(FloatType))))
    val data = rows.map { case (i, v) =>
      Row(if (idType == IntegerType) i.toInt else i, v.toSeq)
    } ++ elems.map(e => Row(if (idType == IntegerType) 0 else 0L, e.toSeq))
    spark.createDataFrame(data.asJava, schema)
  }

  /** Rows as strings, sorted: NaN equals NaN, 0.0 differs from -0.0. */
  private def strings(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def resident(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def index(q8: Boolean): String = {
    val dir = Files.createTempDirectory("graft-sk-resident").toString
    AnnIndex.writeSketch(dir, frame(corpus), sketchDim = SketchDim, dim = Dim, q8 = q8)
    // a second row under an existing id
    AnnIndex.appendSketchVectors(dir, frame(Seq(7L -> vec(1, 1, 1, 1, 1, 1, 1, 1))))
    dir
  }

  private def assertParity(dir: String, quantized: Boolean): Unit =
    for (idType <- Seq(LongType, IntegerType); (k, m) <- Seq((3, 5), (60, 70))) {
      val q = frame(queries, idType)
      val got = AnnIndex.searchSketch(spark, dir, q, k, m, quantized)
      assert(resident(got), s"k=$k m=$m $idType: not served from the resident copy")
      val inline = Similarity.knnSketchRerank(q, spark.read.parquet(s"$dir/vectors"),
        k, m, SketchDim, Dim, quantize = quantized)
      assert(got.schema == inline.schema, s"k=$k m=$m $idType")
      assert(strings(got) == strings(inline), s"k=$k m=$m $idType")
    }

  test("resident search == knnSketchRerank: duplicate ids, own-id queries, NaN, ties at m, halfway rounding, int ids") {
    val dir = index(q8 = false)
    assertParity(dir, quantized = false)
    val got = AnnIndex.searchSketch(spark, dir, frame(queries), k = 3, m = 5).collect()
    def top(qid: Long) = got.filter(_.getLong(0) == qid).sortBy(_.getLong(1)).toSeq
    // the zero vector's NaN ranks first; the m cut keeps 50-53 of the
    // tie and the top 3 keeps 50 and 51
    assert(top(999L).map(_.getLong(2)) == Seq(60L, 50L, 51L))
    assert(top(999L).head.getDouble(3).isNaN)
    assert(top(998L).forall(_.getDouble(3).isNaN))
    assert(!top(5L).exists(_.getLong(2) == 5L))
    // the halfway points round as Spark rounds them
    val e1 = AnnIndex.searchSketch(spark, dir, frame(queries), k = 60, m = 70)
      .collect().filter(_.getLong(0) == 997L).map(x => x.getLong(2) -> x.getDouble(3)).toMap
    assert(e1(70L) == 0.004688 && e1(71L) == 0.010938 && e1(72L) == 0.026563)
    // id 7's two sketch rows both survive pass 1, and each joins both
    // of its vectors rows, as the plan's equi join does
    val all = AnnIndex.searchSketch(spark, dir, frame(queries), k = 60, m = 70).collect()
    assert(all.count(x => x.getLong(0) == -1L && x.getLong(2) == 7L) == 4)
  }

  test("resident quantized search == knnSketchRerank(quantize = true); a torn int8 sibling is refused") {
    val dir = index(q8 = true)
    assertParity(dir, quantized = true)
    // the float sketches grow, the int8 sibling does not
    spark.read.parquet(s"$dir/sketches").limit(7)
      .write.mode("append").parquet(s"$dir/sketches")
    val e = intercept[IllegalArgumentException](
      AnnIndex.searchSketch(spark, dir, frame(queries), k = 3, m = 5, quantized = true))
    assert(e.getMessage.contains("incomplete"))
    assert(AnnIndex.residents.get(spark, dir).flatten.nonEmpty,
      "the refusal must come from the resident copy's row counts")
    val float = AnnIndex.searchSketch(spark, dir, frame(queries), k = 3, m = 5)
    assert(resident(float) && float.collect().nonEmpty)
  }

  test("an index or a query frame holding nulls is searched by the distributed plan, with parity") {
    val dir = Files.createTempDirectory("graft-sk-resident-null").toString
    AnnIndex.writeSketch(dir, frame(corpus,
      elems = Seq(Array[java.lang.Float](1f, null, 2f, 0f, 0f, 0f, 0f, 1f))),
      sketchDim = SketchDim, dim = Dim)
    val q = frame(queries)
    val got = AnnIndex.searchSketch(spark, dir, q, k = 3, m = 5)
    assert(!resident(got))
    assert(AnnIndex.residents.get(spark, dir) == Some(None))
    val inline = Similarity.knnSketchRerank(q, spark.read.parquet(s"$dir/vectors"),
      3, 5, SketchDim, Dim)
    assert(got.schema == inline.schema && strings(got) == strings(inline))

    val clean = index(q8 = false)
    val nullQuery = frame(queries, elems = Seq(Array[java.lang.Float](null, 1f)))
    val served = AnnIndex.searchSketch(spark, clean, nullQuery, k = 3, m = 5)
    assert(!resident(served))
    val want = Similarity.knnSketchRerank(nullQuery, spark.read.parquet(s"$clean/vectors"),
      3, 5, SketchDim, Dim)
    assert(served.schema == want.schema && strings(served) == strings(want))
  }

  test("the resident ranking orders doubles as Spark does: NaN greatest, -0.0 equal to 0.0") {
    import AnnIndex.Scored
    val ranked = Seq(Scored(0.0, 2L), Scored(-0.0, 1L), Scored(Double.NaN, 4L),
      Scored(1.0, 3L), Scored(Double.NaN, 0L)).sorted(AnnIndex.rankOrder)
    assert(ranked.map(_.id) == Seq(0L, 4L, 3L, 1L, 2L))
  }
}
