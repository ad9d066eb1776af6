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

  /** Run `body` and count the Spark jobs it starts, for pinning a
    * driver round-trip budget. */
  def countJobs[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      // listener bus is async: wait for the count to stabilize
      var last = -1
      var spins = 0
      while (jobs.get() != last && spins < 20) {
        last = jobs.get(); Thread.sleep(100); spins += 1
      }
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def tmpDir(prefix: String): java.io.File = {
    val f = java.nio.file.Files.createTempDirectory(prefix).toFile
    f.deleteOnExit(); f
  }

  val sf0001 = "/root/testdata/sf0.001"
}
