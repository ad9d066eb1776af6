package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Each takes its randomness from the `Random`
  * it is given, so one seed always yields the same inputs, and writes
  * only under the directory it is handed.
  */
object Gen {

  // ---------------------------------------------------------------- //
  // Small-file lake in the reference test-lake shape:
  // `date=YYYY-MM-DD/hour=HH/<id>.{json,csv}`, mostly ~300 B JSON
  // documents plus a few 100-row CSV employee files.

  /** What one landed hour holds, for the output checks. */
  final case class Landed(paths: Vector[Path], lines: Vector[String],
                          bytes: Long, jsonDocs: Long, csvRows: Long,
                          priceCents: Long)

  private val tags = Vector("electronics", "home", "garden", "toys", "books")
  private val firstNames = Vector("John", "Jane", "Alice", "Bob", "Carol", "Dave")
  private val lastNames = Vector("Smith", "Doe", "Brown", "Jones", "Miller", "Davis")
  private val depts = Vector("Sales", "Engineering", "Marketing", "HR", "Finance")

  private def hexId(r: Random): String = f"${r.nextLong()}%016x${r.nextLong()}%016x"

  private def jsonDoc(r: Random): (String, Long) = {
    val cents = 1000 + r.nextInt(99001)
    val t = Vector.fill(1 + r.nextInt(3))(tags(r.nextInt(tags.size))).distinct
    val created = LocalDateTime.of(2025, 1, 1, 0, 0).plusSeconds(r.nextInt(365 * 86400))
    val doc =
      s"""{"id":"${hexId(r)}","name":"Item_${1 + r.nextInt(100)}",""" +
      f""""price":${cents / 100}%d.${cents % 100}%02d,"in_stock":${r.nextBoolean()},""" +
      s""""tags":[${t.map(x => s""""$x"""").mkString(",")}],""" +
      s""""created_at":"$created.${100000 + r.nextInt(900000)}",""" +
      s""""metadata":{"weight":${1 + r.nextInt(50)},"dimensions":{"width":""" +
      s"""${1 + r.nextInt(100)},"height":${1 + r.nextInt(100)},"depth":${1 + r.nextInt(100)}}}}"""
    (doc, cents.toLong)
  }

  private def csvFile(r: Random, rows: Int): Vector[String] = {
    val fileId = hexId(r)
    val header = "id,fileid,first_name,last_name,email,age,join_date,salary,is_active,department"
    header +: (1 to rows).map { i =>
      val f = firstNames(r.nextInt(firstNames.size))
      val l = lastNames(r.nextInt(lastNames.size))
      val mail = Vector("gmail", "zoho", "outlook")(r.nextInt(3))
      val join = java.time.LocalDate.of(2021, 1, 1).plusDays(r.nextInt(5 * 365))
      val salary = 3000000 + r.nextInt(9000001)
      f"$i,$fileId,$f,$l,${f.toLowerCase}.${l.toLowerCase}@$mail.com,${20 + r.nextInt(46)}," +
        f"$join,${salary / 100}.${salary % 100}%02d,${if (r.nextBoolean()) "True" else "False"}," +
        depts(r.nextInt(depts.size))
    }.toVector
  }

  /** Land one hour of `nFiles` files under `root/date=.../hour=HH`; one
    * file in `csvEvery` is a 100-row CSV. Files get strictly increasing
    * modification times from `mtimeMs`, so bundle order is seeded too.
    */
  def landHour(root: Path, hourIndex: Int, nFiles: Int, csvEvery: Int,
               mtimeMs: Long, r: Random): Landed = {
    val day = LocalDateTime.of(2026, 1, 1, 0, 0).plusHours(hourIndex)
    val dir = root.resolve(f"date=${day.toLocalDate}/hour=${day.getHour}%02d")
    Files.createDirectories(dir)
    val paths = Vector.newBuilder[Path]
    val lines = Vector.newBuilder[String]
    var bytes, docs, rows, cents = 0L
    (0 until nFiles).foreach { i =>
      val csv = i % csvEvery == csvEvery - 1
      val (name, body) =
        if (csv) {
          val ls = csvFile(r, 100)
          rows += 100; lines ++= ls
          (f"emp-$hourIndex%05d-$i%04d.csv", ls.mkString("\n"))
        } else {
          val (d, c) = jsonDoc(r)
          docs += 1; cents += c; lines += d
          (f"doc-$hourIndex%05d-$i%04d.json", d)
        }
      val p = dir.resolve(name)
      val b = body.getBytes(UTF_8)
      Files.write(p, b)
      p.toFile.setLastModified(mtimeMs + hourIndex * 3600000L + i * 1000L)
      bytes += b.length
      paths += p
    }
    Landed(paths.result(), lines.result(), bytes, docs, rows, cents)
  }

  // ---------------------------------------------------------------- //
  // Documents for curation: a base and daily deltas of exact copies,
  // near-duplicates and novel text.

  private val vocab: Vector[String] =
    ("key agg row scan slow fast table value part hash merge batch line " +
     "sort window spark order data column join small customer query big " +
     "group stream filter index shard file lake bundle flush collect " +
     "curate serve vector sketch prune cache plan stage task shuffle " +
     "the a and of to is").split(" ").toVector

  def docText(r: Random, nTok: Int): String =
    Vector.fill(nTok)(if (r.nextInt(8) == 0) s"w${r.nextInt(5000)}"
                      else vocab(r.nextInt(vocab.size))).mkString(" ")

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def writeDocs(spark: SparkSession, rows: Seq[(Long, String)], dir: String): Unit =
    spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava, docSchema)
      .coalesce(1).write.mode("overwrite").parquet(dir)

  /** Bench-set membership, the curation pipeline's contamination probe. */
  def isBench(id: Long): Boolean = id % 101 == 0

  // ---------------------------------------------------------------- //
  // A small star-schema warehouse plus events, documents and
  // embeddings, in the column layout `graft.Tables` loads.

  private def t(name: String, fields: (String, DataType)*): (String, StructType) =
    name -> StructType(fields.map { case (n, d) => StructField(n, d) })

  val vecDim = 64

  final case class Warehouse(lineitems: Map[Long, Vector[Row]],
                             maxOrderKey: Long,
                             vectors: Vector[(Long, Array[Float])])

  def warehouse(spark: SparkSession, dir: String, r: Random): Warehouse = {
    val nOrders = 2000
    val nVectors = 1000
    val ntz = TimestampNTZType
    val t0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val nCust = nOrders / 10
    val nSupp = 40
    val nPart = nOrders / 5
    def write(spec: (String, StructType), rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, spec._2).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/${spec._1}.parquet")
    def money(lo: Int, hi: Int) = (lo * 100 + r.nextInt((hi - lo) * 100)) / 100.0

    write(t("region", "r_regionkey" -> IntegerType, "r_name" -> StringType),
      Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .zipWithIndex.map { case (n, i) => Row(i, n) })
    write(t("nation", "n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segs = Vector("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE")
    write(t("customer", "c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999, 9999), segs(r.nextInt(5)))))
    write(t("supplier", "s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(-999, 9999))))
    val adj = Vector("small", "red", "blue", "hot", "old", "large", "cold", "new")
    val noun = Vector("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")
    val types = Vector("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
    val prices = Array.fill(nPart)(money(900, 1000))
    write(t("part", "p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
        "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong,
        s"${adj(r.nextInt(8))} ${noun(r.nextInt(8))}", s"Brand#${1 + r.nextInt(25)}",
        types(r.nextInt(6)), 1 + r.nextInt(50), prices(i))))
    val prio = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = mutable.ArrayBuffer.empty[Row]
    val items = mutable.ArrayBuffer.empty[Row]
    (0 until nOrders).foreach { o =>
      val date = t0.plusDays(r.nextInt(2400))
      val lines = (1 to 1 + r.nextInt(7)).map { ln =>
        val pk = r.nextInt(nPart)
        val q = (1 + r.nextInt(50)).toDouble
        val ship = date.plusDays(1 + r.nextInt(120))
        Row(o.toLong, pk.toLong, r.nextInt(nSupp).toLong, ln, q,
          math.round(q * prices(pk) * 100) / 100.0, r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, Vector("A", "N", "R")(r.nextInt(3)),
          if (ship.getYear < 1999) "F" else "O", ship)
      }
      items ++= lines
      val total = lines.map(_.getDouble(5)).sum
      orders += Row(o.toLong, r.nextInt(nCust).toLong,
        Vector("P", "F", "O")(r.nextInt(3)), math.round(total * 100) / 100.0,
        date, prio(r.nextInt(5)))
    }
    write(t("orders", "o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> ntz, "o_orderpriority" -> StringType), orders.toSeq)
    write(t("lineitem", "l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> ntz), items.toSeq)
    val evTypes = Vector("error", "click", "view", "signup", "purchase")
    val e0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    var ts = e0
    write(t("events", "event_id" -> LongType, "ts" -> ntz, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      (0 until nOrders).map { i =>
        ts = ts.plusNanos((1 + r.nextInt(600000)) * 1000000L)
        Row(i.toLong, ts, r.nextInt(150).toLong, evTypes(r.nextInt(5)),
          (1 + r.nextInt(49000)) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
      })
    val langs = Vector("en", "zh", "es", "de", "fr")
    write(t("documents", "doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      (0 until nOrders / 8).map { i =>
        val text = docText(r, 20 + r.nextInt(40))
        Row(i.toLong, text, langs(r.nextInt(5)), s"src${r.nextInt(20)}",
          text.length.toLong)
      })
    val vectors = randomVectors(r, 0L, nVectors)
    write(t("embeddings", "vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      vectors.map { case (id, v) => Row(id, v.toSeq, (id % 10).toInt) })
    Warehouse(items.toVector.groupBy(_.getLong(0)), nOrders.toLong - 1, vectors)
  }

  /** Unit-norm vectors around ten seeded cluster centres. */
  def randomVectors(r: Random, firstId: Long, n: Int): Vector[(Long, Array[Float])] = {
    val centres = {
      val c = new Random(7L)
      Vector.fill(10)(Array.fill(vecDim)(c.nextGaussian()))
    }
    (0 until n).map { i =>
      val c = centres(r.nextInt(10))
      val v = Array.tabulate(vecDim)(d => c(d) + 0.6 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (firstId + i, v.map(x => (x / norm).toFloat))
    }.toVector
  }
}
