package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.api.{LakeCollector, LakeFlusher}
import graft.operators.{CompactionConfig, FlushConfig}

/** `collect`: a seeded small-file lake is bundled, then arrival hours
  * are folded in one at a time.
  *
  * Set-up lands a backlog and runs one full `collect()` at the
  * reference's 1 MiB rotation size. The closed loop repeats a cycle of
  * seven operations: five arrival hours, each landed (untimed) and
  * folded in by `collectIncremental()`; the reference's two-stage path
  * over those five hours (gzip collect, then a `LakeFlusher` drain
  * with `Trigger.AvailableNow`); and a downstream scan that parses
  * every bundled record.
  */
object Collect {
  val BacklogHours = 8
  val BacklogFilesPerHour = 125
  val ArrivalFiles = 100
  val CsvEvery = 40
  /** Five, so that the median fold is steady: the fold that follows a
    * flush and scan runs slower than the rest. */
  val HoursPerCycle = 5
  /** About how long one timed cycle takes on a 4-core host. */
  val NominalCycleS = 14.0
  val Target: Long = 1L << 20
  private val Mtime0 = 1767225600000L // 2026-01-01T00:00:00Z

  private val a1 = StructType(Seq(
    StructField("id", StringType), StructField("price", DoubleType)))

  def run(c: Ctx): Unit = {
    import c.spark
    val dir = c.work.resolve("collect")
    val rnd = new Random(c.seed)
    var landed = (0 until BacklogHours).toVector.map(h =>
      Gen.landHour(dir.resolve("in"), h, BacklogFilesPerHour, CsvEvery, Mtime0, rnd))
    val n = landed.map(_.paths.size).sum
    c.mark("inputs")
    // set-up: bundle the backlog into a fresh lake, several times
    (0 until c.setupReps).foreach { rep =>
      val lake = dir.resolve(s"lake-$rep")
      var manifest: Array[org.apache.spark.sql.Row] = Array.empty
      c.setups += c.timed {
        manifest = c.span("api.Lake.collect") {
          collector(c, dir, lake).collect().collect()
        }
      }
      c.step("setup check") {
        val rows = spark.read.parquet(lake.toString)
        c.check(rows.count() == n, s"lake rows != $n input files")
        c.check(rows.select("path").distinct().count() == n,
          s"distinct lake paths != $n input files")
        c.check(manifest.map(_.getAs[Long]("n_records")).sum == n,
          "manifest records != input files")
        c.layer("api.Lake.collect.bundle_fill") =
          manifest.map(_.getAs[Long]("total_bytes").toDouble).sum /
            manifest.length / Target
      }
      if (rep < c.setupReps - 1) deleteTree(lake)
    }
    c.mark("setup")
    val lake = dir.resolve(s"lake-${c.setupReps - 1}")
    val lakeDir = lake.toString
    var hour = BacklogHours
    var cycle = 0
    var staged = Vector.empty[Gen.Landed]
    var newBytes = 0L
    // one cycle: `hours` arrival hours folded in one at a time, then
    // shipped through the two-stage path, then a downstream scan
    def runCycle(hours: Int, timed: Boolean): Unit = {
      val stage = dir.resolve(s"stage/batch=$cycle")
      (0 until hours).foreach { _ =>
        val h = Gen.landHour(dir.resolve("in"), hour, ArrivalFiles, CsvEvery, Mtime0, rnd)
        hour += 1
        landed :+= h
        staged :+= h
        newBytes += h.bytes
        h.paths.foreach { p =>
          val to = stage.resolve(p.getParent.getFileName).resolve(p.getFileName)
          Files.createDirectories(to.getParent)
          Files.copy(p, to)
        }
        c.run("incr", timed) {
          val mf = c.span("api.Lake.collectIncremental") {
            collector(c, dir, lake).collectIncremental().collect()
          }
          c.check(mf.map(_.getAs[Long]("n_records")).sum == h.paths.size,
            s"incremental pass bundled ${mf.map(_.getAs[Long]("n_records")).sum} " +
              s"files, hour had ${h.paths.size}")
        }
      }
      c.run("flush", timed) {
        c.span("api.Lake.collectGzip") {
          new LakeCollector(spark, CompactionConfig(stage.toString,
            dir.resolve(s"collected/batch=$cycle").toString, Target,
            codec = Some("gzip"))).collect().collect()
        }
        c.span("api.LakeFlusher.drain") {
          val f = new LakeFlusher(spark, FlushConfig(dir.resolve("collected").toString,
            dir.resolve("flushed").toString, dir.resolve("flush-ckpt").toString))
          val q = f.start(Trigger.AvailableNow())
          q.awaitTermination()
          f.stop()
          c.check(q.exception.isEmpty, s"flusher failed: ${q.exception}")
        }
      }
      c.run("scan", timed) {
        val row = c.span("downstream.scan") {
          val rows = spark.read.parquet(lakeDir)
            .select(col("path"), col("content").cast("string").as("body"))
          val json = rows.filter(col("path").endsWith(".json"))
            .select(from_json(col("body"), a1).as("d"))
            .agg(count(col("d.id")).as("docs"),
              sum(round(col("d.price") * 100).cast("long")).as("cents"))
          val csv = rows.filter(col("path").endsWith(".csv"))
            .select(explode(split(col("body"), "\n")).as("l"))
            .filter(!col("l").startsWith("id,"))
            .agg(count(lit(1)).as("rows"))
          json.crossJoin(csv).collect()(0)
        }
        c.check(row.getLong(0) == landed.map(_.jsonDocs).sum &&
          row.getLong(1) == landed.map(_.priceCents).sum &&
          row.getLong(2) == landed.map(_.csvRows).sum,
          s"scan read $row, expected ${landed.map(_.jsonDocs).sum} docs")
      }
      cycle += 1
    }
    // warm every step once, outside the timing; then the closed loop
    runCycle(1, timed = false)
    c.mark("warm-up")
    c.cycle = Map("incr" -> HoursPerCycle, "flush" -> 1, "scan" -> 1)
    c.loop(NominalCycleS)(runCycle(HoursPerCycle, timed = true))
    c.mark("loop")
    c.layer("incr_new_bytes") = newBytes.toDouble / (hour - BacklogHours)

    c.step("final check") {
      // every landed file is in the bundled lake exactly once
      val names = spark.read.parquet(lakeDir).select("path").collect()
        .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName)
      val want = landed.flatMap(_.paths.map(_.getFileName.toString))
      c.check(names.length == want.size && names.toSet == want.toSet,
        s"lake holds ${names.length} files (${names.toSet.size} distinct), landed ${want.size}")
      // flushed bundles carry every staged line, byte for byte
      val shipped = spark.read.parquet(dir.resolve("flushed").toString)
        .select("content").collect().map(_.getString(0))
      val shippedBytes = shipped.map(_.getBytes(UTF_8).length.toLong).sum
      val wantBytes = staged.map(h => h.bytes + h.paths.size).sum
      c.check(shippedBytes == wantBytes,
        s"flushed $shippedBytes bytes, staged $wantBytes (+1 newline per file)")
      val got = shipped.toVector.flatMap(_.split("\n")).sorted
      c.check(got == staged.flatMap(_.lines).sorted, "flushed lines differ from staged lines")
    }
    c.mark("final check")
    deleteTree(dir)
    // the curation layer downstream of the lake: traced runs only
    if (c.tracer.enabled) Curate.phase(c)
  }

  private def collector(c: Ctx, d: Path, lake: Path) =
    new LakeCollector(c.spark,
      CompactionConfig(d.resolve("in").toString, lake.toString, Target))

  def deleteTree(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
}
