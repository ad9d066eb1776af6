package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** State shared by a workload and the harness for one run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Double, val work: Path) {
  val setups = mutable.ArrayBuffer.empty[Double]
  val opWalls = mutable.ArrayBuffer.empty[Double]
  val opKinds = mutable.ArrayBuffer.empty[String]
  /** Layer metrics a workload computes itself (ratios, not counters). */
  val layer = mutable.Map.empty[String, Double]
  var attempted = 0
  var failed = 0
  var liveMax = 0
  private var opFailed = false
  private var warming = false
  private var untimedNs = 0L

  /** Setting up is repeated; `setup_s` is the median. */
  val setupReps = 3

  /** A traced call into a layer. Warm-up calls are not traced, so a
    * span's per-call figures cover only timed calls and set-up.
    */
  def span[T](name: String)(body: => T): T =
    if (warming) body else tracer.span(name)(body)

  /** One timed operation of the closed loop. A thrown error counts as a
    * failure and the loop goes on.
    */
  def op(kind: String)(body: => Unit): Unit = {
    attempted += 1
    opFailed = false
    untimedNs = 0L
    val t0 = System.nanoTime()
    try body
    catch { case scala.util.control.NonFatal(e) =>
      Console.err.println(s"[perfbench] operation failed: $e")
      e.printStackTrace()
      fail()
    }
    val wall = (System.nanoTime() - t0 - untimedNs) / 1e9
    opWalls += wall
    opKinds += kind
    noteCaches()
  }

  /** Work inside an operation that its wall time leaves out, such as
    * checking a result against a reference computation.
    */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }

  /** An untimed, untraced warm-up call of one operation kind. */
  def warm(kind: String)(body: => Unit): Unit = {
    warming = true
    try step(s"warm-up $kind")(body) finally warming = false
  }

  /** A timed operation, or the same work as a warm-up call. */
  def run(kind: String, timed: Boolean)(body: => Unit): Unit =
    if (timed) op(kind)(body) else warm(kind)(body)

  /** Operations of each kind in one cycle of the closed loop. */
  var cycle: Map[String, Int] = Map.empty

  /** Wall time of one cycle, from the median wall of each kind. */
  def cycleSeconds: Double = {
    val byKind = opKinds.zip(opWalls).groupMap(_._1)(_._2)
    cycle.map { case (k, n) => n * Main.median(byKind.getOrElse(k, Nil).toVector) }.sum
  }

  /** An untimed step (set-up, final verification) that can still fail. */
  def step(name: String)(body: => Unit): Unit = {
    attempted += 1
    opFailed = false
    try body
    catch { case scala.util.control.NonFatal(e) =>
      Console.err.println(s"[perfbench] $name failed: $e")
      e.printStackTrace()
      fail()
    }
    noteCaches()
  }

  /** Output check for the current operation. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      Console.err.println(s"[perfbench] check failed: $what")
      fail()
    }

  private def fail(): Unit = if (!opFailed) { opFailed = true; failed += 1 }

  private def noteCaches(): Unit =
    liveMax = math.max(liveMax, graft.operators.Caches.liveCount)

  /** Closed loop: run `cycle` once per whole cycle that fits in
    * `seconds` at `nominalS` per cycle, at least once. A fixed count,
    * not a deadline, so a slow moment on the host cannot change how
    * much work a run measures. A run that keeps failing stops early.
    */
  def loop(nominalS: Double)(cycle: => Unit): Unit = {
    val n = math.max(1, math.round(seconds / nominalS).toInt)
    var i = 0
    while (i < n && failed < 5) { cycle; i += 1 }
  }

  /** Logs how far into the JVM's life a phase of the run ended. */
  def mark(phase: String): Unit =
    Console.err.println(f"[perfbench] $phase done at " +
      f"${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs")

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}

/** Entry point: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir>`. Prints the result JSON as
  * the last line of standard output.
  */
object Main {

  val spanNames: Seq[String] = Seq(
    "api.Lake.collect", "api.Lake.collectIncremental", "api.Lake.collectGzip",
    "api.LakeFlusher.drain", "downstream.scan",
    "IncrementalPipeline.bootstrap", "IncrementalPipeline.runIncremental",
    "IncrementalPipeline.dsirSelect",
    "AnnIndex.searchSketch", "AnnIndex.appendSketchVectors",
    "Compactor.readPrunedEq", "SparkEntry.queries")

  /** Layer metrics the workloads compute, with units. */
  val extraLayer: Seq[(String, String)] = Seq(
    "api.Lake.collect.bundle_fill" -> "ratio",
    "api.Lake.collectIncremental.read_amp" -> "ratio",
    "IncrementalPipeline.runIncremental.read_amp" -> "ratio",
    "Compactor.readPrunedEq.files_ratio" -> "ratio")

  private val workloads: Map[String, Ctx => Unit] = Map(
    "collect" -> Collect.run, "serve" -> Serve.run)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    require(name == "train" || workloads.contains(name), s"unknown workload: $name")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val cpus = a.getOrElse("cpus", Runtime.getRuntime.availableProcessors().toString)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    Console.err.println(f"[perfbench] session started in $sessionS%.2fs")
    val tracer = new Tracer(traced)
    if (traced) spark.sparkContext.addSparkListener(tracer)

    if (name == "train") {
      // one short pass over every workload, so that the JVM can archive
      // the classes they load for later runs (see run.py)
      workloads.values.foreach(w => w(new Ctx(spark, tracer, seed, seconds, work)))
      spark.stop()
      return
    }
    val ctx = new Ctx(spark, tracer, seed, seconds, work)
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val gc0 = gcMs
    workloads(name)(ctx)
    val gcS = (gcMs - gc0) / 1e3
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.stop()

    // what the library keeps on the driver (memos, cache registries)
    // once the session and its block stores are gone
    val heapMb = {
      val mem = ManagementFactory.getMemoryMXBean
      System.gc(); System.gc()
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    val ops = ctx.opWalls.toVector
    Console.err.println(f"[perfbench] $name seed=$seed session=${sessionS}%.2fs " +
      s"setups=${ctx.setups.map(x => f"$x%.2f").mkString(",")} ops=${ops.size} " +
      f"cycle=${ctx.cycleSeconds}%.3fs p50=${median(ops)}%.3fs mean=${mean(ops)}%.3fs " +
      s"heap=$heapMb attempted=${ctx.attempted} failed=${ctx.failed}")
    ctx.opKinds.zip(ops).groupMap(_._1)(_._2).toSeq.sortBy(_._1).foreach { case (k, w) =>
      Console.err.println(f"[perfbench]   $k%-8s n=${w.size}%3d p50=${median(w.toVector)}%.3fs " +
        w.map(x => f"$x%.3f").mkString(" "))
    }

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", median(ctx.setups.toVector), "s"),
        ("cycle_s", ctx.cycleSeconds, "s"),
        ("heap_retained_mb", heapMb, "MB"))
      else {
        val rep = tracer.report()
        val perSpan = spanNames.flatMap { s =>
          val st = rep.get(s)
          def v(f: Tracer.SpanStats => Double) = st.map(f).getOrElse(0.0)
          Seq(
            (s"$s.wall_s", v(_.wallS), "s"),
            (s"$s.jobs", v(_.jobs), "count"),
            (s"$s.driver_gap_s", v(_.driverGapS), "s"),
            (s"$s.task_cpu_s", v(_.taskCpuS), "s"),
            (s"$s.input_bytes", v(_.inputBytes), "bytes"),
            (s"$s.shuffle_bytes", v(_.shuffleBytes), "bytes"),
            (s"$s.spill_bytes", v(_.spillBytes), "bytes"),
            (s"$s.failed_tasks", v(_.failedTasks), "count"))
        }
        // ratios over task input bytes need the traced counters
        def inputOf(s: String) = rep.get(s).map(_.inputBytes).getOrElse(0.0)
        val extras = extraLayer.map { case (m, unit) =>
          val v = m match {
            case "api.Lake.collectIncremental.read_amp" =>
              ratio(inputOf("api.Lake.collectIncremental"), ctx.layer.getOrElse("incr_new_bytes", 0.0))
            case "IncrementalPipeline.runIncremental.read_amp" =>
              ratio(inputOf("IncrementalPipeline.runIncremental"), ctx.layer.getOrElse("delta_bytes", 0.0))
            case other => ctx.layer.getOrElse(other, 0.0)
          }
          (m, v, unit)
        }
        perSpan ++ extras ++ Seq(
          ("Caches.live_max", ctx.liveMax.toDouble, "count"),
          ("jvm.gc_s", gcS, "s"),
          ("bench.cycle_s", ctx.cycleSeconds, "s"))
      }

    val body = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":{$body}}""")
  }

  def median(xs: Vector[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Vector[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
