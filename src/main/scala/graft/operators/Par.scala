package graft.operators

import java.util.concurrent.atomic.AtomicInteger

/** Fork-join for concurrent Spark actions on the driver: the one place
  * in the library that starts threads for Spark work.
  *
  * A fork runs on a new daemon thread started by the caller. Spark's
  * local properties live in an `InheritableThreadLocal` whose child
  * value is a clone, so every job a fork starts carries the caller's
  * job group, scheduler pool and description: `cancelJobGroup` reaches
  * it and per-group listeners attribute it. (Pooled threads, the JVM
  * common pool's included, carry whatever their creator held, or
  * nothing.)
  *
  * The policy: a scope returns only after EVERY fork has finished,
  * whether its body returned or threw. A fail-fast exit would leave
  * sibling jobs racing the caller's next step, such as a retry writing
  * the same directories. On exit the body's error wins; otherwise the
  * first failed fork (in fork order) is rethrown.
  */
private[graft] object Par {

  final class Fork[T] private[Par] (f: () => T) {
    @volatile private var result: Either[Throwable, T] = _
    private val thread = new Thread(() =>
      result = try Right(f()) catch { case t: Throwable => Left(t) }, "graft-par")
    thread.setDaemon(true)
    thread.start()

    /** Waits for the fork and returns its value, or rethrows its error. */
    def get(): T = join().fold(throw _, identity)

    /** Waits even when the caller is interrupted (the interrupt is kept
      * for after): a scope never exits before its forks. */
    private[Par] def join(): Either[Throwable, T] = {
      var interrupted = false
      while (thread.isAlive)
        try thread.join() catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
      result
    }
  }

  final class Scope private[Par] () {
    private val forks = scala.collection.mutable.ArrayBuffer.empty[Fork[_]]

    def fork[T](f: => T): Fork[T] = forks.synchronized {
      val k = new Fork(() => f); forks += k; k
    }

    /** Joins every fork; returns the first failure in fork order. */
    private[Par] def joinAll(): Option[Throwable] =
      forks.synchronized(forks.toList).map(_.join()).collectFirst { case Left(t) => t }
  }

  /** Runs `body` with a scope to fork from, under the policy above. */
  def scope[T](body: Scope => T): T = {
    val s = new Scope
    val out = try Right(body(s)) catch { case t: Throwable => Left(t) }
    val forkErr = s.joinAll()
    out match {
      case Left(t) => throw t
      case Right(v) => forkErr.foreach(throw _); v
    }
  }

  /** Runs `jobs` with at most `width` at once, started in order, and
    * returns their results in order. Every job runs even when another
    * fails; the first failed job (in order) is then rethrown. One
    * runner (width 1, or a single job) runs on the caller's thread.
    */
  def all[T](jobSeq: Seq[() => T], width: Int = Int.MaxValue): Seq[T] = {
    val jobs = jobSeq.toIndexedSeq
    val out = new Array[Any](jobs.size)
    val errs = new Array[Throwable](jobs.size)
    val next = new AtomicInteger
    def run(): Unit = {
      var i = next.getAndIncrement()
      while (i < jobs.size) {
        try out(i) = jobs(i)() catch { case t: Throwable => errs(i) = t }
        i = next.getAndIncrement()
      }
    }
    val runners = math.min(width, jobs.size)
    if (runners <= 1) run()
    else scope { s => Seq.fill(runners)(s.fork(run())) }
    errs.find(_ != null).foreach(throw _)
    out.toSeq.asInstanceOf[Seq[T]]
  }
}
