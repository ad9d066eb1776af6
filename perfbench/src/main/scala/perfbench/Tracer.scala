package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Outside-in per-layer tracer.
  *
  * The benchmark opens a span around every call into a layer's public
  * function ([[span]]). A SparkListener records every job, stage and
  * task. When the run ends, each job is assigned to the span that was
  * open when the job STARTED, by wall-clock time, not by job group:
  * some layers start jobs from pool threads that do not inherit Spark
  * local properties, but every job still starts inside the caller's
  * span. Task metrics follow their stage's job.
  *
  * Everything stays in memory until [[report]]. A disabled tracer is a
  * plain pass-through, so untraced runs pay nothing.
  */
final class Tracer(val enabled: Boolean) extends SparkListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()

  /** Run `body` inside span `name` (a no-op wrapper when disabled). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = System.nanoTime() - t0
        spans.synchronized(spans += SpanRec(name, s, System.currentTimeMillis(), wall))
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, new JobRec(e.time))
    // a stage reused by a later job keeps its id; its tasks ran in the
    // first job that listed it
    e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
    a.synchronized {
      if (e.taskInfo != null && e.taskInfo.failed) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Aggregate spans by name. Call after the listener bus has drained. */
  def report(): Map[String, SpanStats] = {
    val all = spans.synchronized(spans.toVector).sortBy(_.startMs)
    val jobList = jobs.asScala.toVector.map { case (id, j) => (id, j) }
    // job -> the latest span that opened at or before its start and
    // had not yet closed
    val owner = mutable.Map.empty[Int, Int]
    jobList.foreach { case (id, j) =>
      val i = all.lastIndexWhere(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      if (i >= 0) owner(id) = i
    }
    val jobsOf: Map[Int, Vector[Int]] =
      owner.toVector.groupMap(_._2)(_._1)
    val stagesOfJob: Map[Int, Vector[Int]] =
      stageJob.asScala.toVector.groupMap(_._2)(_._1)
    all.indices.groupBy(all(_).name).map { case (name, idx) =>
      var wall, gap, cpu, in, sh, sp, ft = 0.0
      var nJobs = 0
      idx.foreach { i =>
        val s = all(i)
        val js = jobsOf.getOrElse(i, Vector.empty)
        nJobs += js.size
        wall += s.wallNs / 1e9
        val ivs = js.map { id =>
          val j = jobs.get(id)
          val end = if (j.endMs < 0) s.endMs else math.min(j.endMs, s.endMs)
          (j.startMs, math.max(j.startMs, end))
        }.sortBy(_._1)
        var covered, curS, curE = 0L
        var open = false
        ivs.foreach { case (a, b) =>
          if (!open || a > curE) {
            if (open) covered += curE - curS
            curS = a; curE = b; open = true
          } else curE = math.max(curE, b)
        }
        if (open) covered += curE - curS
        gap += math.max(0.0, s.wallNs / 1e9 - covered / 1e3)
        js.foreach { id =>
          stagesOfJob.getOrElse(id, Vector.empty).foreach { st =>
            Option(stages.get(st)).foreach { a =>
              a.synchronized {
                cpu += a.cpuNs / 1e9; in += a.inputBytes; sh += a.shuffleBytes
                sp += a.spillBytes; ft += a.failedTasks
              }
            }
          }
        }
      }
      val n = idx.size.toDouble
      name -> SpanStats(idx.size, wall / n, nJobs / n, gap / n, cpu / n,
        in / n, sh / n, sp / n, ft / n)
    }
  }
}

object Tracer {
  /** Per-call means for one span name. */
  final case class SpanStats(calls: Int, wallS: Double, jobs: Double,
                             driverGapS: Double, taskCpuS: Double,
                             inputBytes: Double, shuffleBytes: Double,
                             spillBytes: Double, failedTasks: Double)

  private final case class SpanRec(name: String, startMs: Long, endMs: Long,
                                   wallNs: Long)
  private final class JobRec(val startMs: Long) { @volatile var endMs: Long = -1 }
  private final class StageAgg {
    var cpuNs, inputBytes, shuffleBytes, spillBytes, failedTasks = 0L
  }
}
