package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Operation bookkeeping for one run: every public call the client makes
  * is attempted, timed, and checked. A call that throws or returns a wrong
  * answer counts as failed and is never timed as a success.
  *
  * `callWallNs` and `callCpuNs` sum the wall and CPU time spent inside the
  * calls themselves, so a pass's cost excludes the benchmark's own
  * checking, listing and clean-up between calls. CPU is the process's (all
  * threads: driver, executors, GC) less the JIT compiler threads', whose
  * work decays over many passes as the JVM warms up. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  var callWallNs = 0L
  var callCpuNs = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def ms(kind: String): Seq[Double] = samples.getOrElse(kind, Nil).toSeq

  private def add(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  /** Runs `body`, records its wall time under `kind` (when `timed`) if
    * `check` accepts the result; returns the result either way. */
  def run[T](kind: String, timed: Boolean)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val c0 = os.getProcessCpuTime - JitCpu.ns()
    val t0 = System.nanoTime()
    val out =
      try Right(body)
      catch { case e: Exception => Left(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wallNs = System.nanoTime() - t0
    callCpuNs += os.getProcessCpuTime - JitCpu.ns() - c0
    callWallNs += wallNs
    val dt = wallNs / 1e6
    out.flatMap(v => check(v).toLeft(v)) match {
      case Right(v) => if (timed) add(kind, dt); Some(v)
      case Left(why) =>
        failed += 1
        if (failures.size < 20) failures += why.take(500)
        None
    }
  }
}

/** What one pass of a workload sees. `tr` is set only on traced passes. */
final case class PassCtx(spark: SparkSession, ops: Ops, warm: Boolean, index: Int,
                         tr: Option[Tracer]) {
  def timed: Boolean = !warm
  def span[T](name: String)(body: => T): T = tr.fold(body)(_.span(name)(body))
}

final case class Metric(value: Double, unit: String)

trait Workload {
  def name: String
  /** Writes the inputs under `dir`; not part of set-up time. */
  def generate(dir: File, seed: Long): Unit
  /** Work a user pays once per process before the first pass. */
  def setup(spark: SparkSession, dir: File): Unit = ()
  /** Untimed warm-up passes before the timed ones. */
  def warmups: Int = 1
  /** False once the generated inputs are used up (CDC batches). */
  def hasNext: Boolean = true
  /** One pass; returns the input rows it processed. */
  def pass(ctx: PassCtx): Long
  /** Drops the generator's ground truth once every check has run, so the
    * retained driver heap measured afterwards is the program's. */
  def release(): Unit
  /** Workload-specific end-to-end metrics after the timed passes. */
  def metrics(ops: Ops, spark: SparkSession): Map[String, Metric]
  /** Checks run once after the last pass (full-table content checks). */
  def finalCheck(spark: SparkSession, ops: Ops): Unit = ()
  /** Per-layer metrics from the traced passes. */
  def layers(tr: Tracer, traced: Seq[Span], ops: Ops): Map[String, Double]
}

/** Minimal JSON rendering for the benchmark's output lines and truth files. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
      .map { case (k, x) => apply(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case Metric(value, unit) => apply(Map("value" -> value, "unit" -> unit))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt; val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest of p50..p99.9 that has at least ten samples beyond it:
    * (percentile, value). With fewer than 20 samples no percentile above
    * the median qualifies, and the median is returned. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val ps = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
    ps.find(p => xs.size * (1 - p / 100) >= 10) match {
      case Some(p) => (p, quantile(xs, p / 100))
      case None => (50.0, median(xs))
    }
  }

  /** The host probe's time, in ms, on the 4-core reference host when it
    * ran no other work. */
  val RefProbeMs = 110.0

  /** A fixed pure-JVM checksum loop, timed: a host-contention probe. */
  def hostProbeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x12345678L; var acc = 0L; var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x & 0xFF; i += 1 }
    if (acc == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }
}

/** CPU time of the JVM's JIT compiler threads, read from /proc (Linux;
  * 0 elsewhere). run.py starts the JVM with a fixed set of compiler
  * threads (-XX:-UseDynamicNumberOfCompilerThreads), so none exits and
  * takes its count with it. */
object JitCpu {
  private val TickNs = 10000000L // USER_HZ = 100

  private lazy val stats: Seq[java.nio.file.Path] =
    Option(new File("/proc/self/task").listFiles()).map(_.toSeq).getOrElse(Nil).filter { t =>
      scala.util.Try(new String(java.nio.file.Files.readAllBytes(new File(t, "comm").toPath)))
        .toOption.exists(_.contains("CompilerThre"))
    }.map(t => new File(t, "stat").toPath)

  /** utime + stime of every compiler thread, in nanoseconds. */
  def ns(): Long = stats.map { p =>
    val s = new String(java.nio.file.Files.readAllBytes(p))
    // fields after the parenthesised name: state is the first, utime the 12th
    val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
    (f(11).toLong + f(12).toLong) * TickNs
  }.sum

  def threads: Int = stats.size
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Relative path -> size of every regular file under `root`. */
  def listing(root: File): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    def walk(f: File, rel: String): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => walk(c, s"$rel/${c.getName}")))
      else if (f.isFile) out(rel) = f.length()
    walk(root, "")
    out.toMap
  }
}
