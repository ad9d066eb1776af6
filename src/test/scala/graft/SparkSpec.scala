package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // VectorAvg buffers are ~0.5 KB; the 128-key ObjectHashAggregate
    // default forced spill-to-sort in aggregations grouping on >128
    // keys (AnnSpec's per-label means). 4096 keys ≈ 2 MB per task.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
    // managed tables (bucketing tests) land in tmp, not the repo
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft-warehouse-${ProcessHandle.current().pid()}")
    .getOrCreate()

  /** Run `body` with codegen fallback DISABLED: any expression whose
    * generated code fails to compile (e.g. assigning an undeclared
    * ev.isNull) throws instead of silently dropping the projection to
    * interpreted mode — plan-string '*(' markers alone can't catch
    * that, because they reflect the planned stage, not the runtime
    * compile outcome.
    */
  def withCodegenOnly[T](body: => T): T = {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Run `body` and return what it returned and the properties of every
    * job started meanwhile, on any thread. The listener bus is drained
    * before the jobs are read, so none is missed or counted late. */
  def jobsDuring[T](body: => T): (T, Seq[java.util.Properties]) = {
    val sc = spark.sparkContext
    val props = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        props.add(Option(js.properties).getOrElse(new java.util.Properties))
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.ListenerDrain(sc)
      (r, props.toArray(Array.empty[java.util.Properties]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Run `body` and count the Spark jobs it starts, for pinning a
    * driver round-trip budget. The body runs under a job group of its
    * own, and every job started meanwhile must carry it: a job that
    * does not was started on a thread that lost the caller's local
    * properties (or by something other than `body`). */
  def countJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"countJobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "countJobs")
    val (r, props) = try jobsDuring(body) finally sc.clearJobGroup()
    val foreign = props.map(p => Option(p.getProperty("spark.jobGroup.id"))).filterNot(_.contains(group))
    assert(foreign.isEmpty,
      s"${foreign.size} of ${props.size} jobs ran outside the caller's job group: ${foreign.mkString(", ")}")
    (r, props.size)
  }

  def tmpDir(prefix: String): java.io.File = {
    val f = java.nio.file.Files.createTempDirectory(prefix).toFile
    f.deleteOnExit(); f
  }

  val sf0001 = "/root/testdata/sf0.001"
}
