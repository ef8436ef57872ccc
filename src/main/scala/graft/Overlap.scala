package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}

/** Overlapped blocking driver work (guide §2.6): each unit — typically
  * an independent Spark job, a table write, a footer read — runs on a
  * thread of its own small pool, sized from the number of units and
  * capped at the host's cores, so the next unit's tasks back-fill the
  * executors the current one leaves idle. Threads are created by the
  * caller, so they inherit its Spark local properties (job group,
  * scheduler pool). Results come back in input order; a unit's failure
  * rethrows as itself. */
object Overlap {

  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(1) <= 0) xs.map(f)
    else {
      val daemons: ThreadFactory = r => {
        val t = Executors.defaultThreadFactory().newThread(r)
        t.setDaemon(true)
        t
      }
      val pool = Executors.newFixedThreadPool(
        math.min(xs.size, Runtime.getRuntime.availableProcessors), daemons)
      try {
        xs.map(x => pool.submit(new Callable[B] { def call(): B = f(x) }))
          .map(u => try u.get() catch { case e: ExecutionException => throw e.getCause })
      } finally pool.shutdown()
    }

  /** Two units of different types, overlapped. */
  def pair[A, B](a: => A, b: => B): (A, B) = {
    val Seq(x, y) = map(Seq[() => Any](() => a, () => b))(_())
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }
}
