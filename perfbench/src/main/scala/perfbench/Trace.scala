package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds with `nanoTime` resolution, so spans
  * line up with the epoch-millisecond times Spark stamps on its events. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNanos = System.currentTimeMillis() * 1000000L
  def now: Long = baseEpochNanos + (System.nanoTime() - baseNano)
}

/** Filesystem counters summed over every thread of the JVM (local-mode
  * executors included): bytes from Hadoop's statistics for scheme `file`,
  * operations from [[CountingFs]]. */
final case class FsCounts(readOps: Long, writeOps: Long, listOps: Long, bytesWritten: Long) {
  def -(o: FsCounts): FsCounts = FsCounts(readOps - o.readOps, writeOps - o.writeOps,
    listOps - o.listOps, bytesWritten - o.bytesWritten)
  def +(o: FsCounts): FsCounts = FsCounts(readOps + o.readOps, writeOps + o.writeOps,
    listOps + o.listOps, bytesWritten + o.bytesWritten)
}

object FsCounts {
  val Zero: FsCounts = FsCounts(0, 0, 0, 0)
  def snapshot(): FsCounts = {
    val s = FileSystem.getGlobalStorageStatistics.get("file")
    def g(k: String): Long =
      if (s == null) 0L else Option(s.getLong(k)).map(_.longValue).getOrElse(0L)
    FsCounts(CountingFs.reads.get, CountingFs.writes.get, CountingFs.lists.get, g("bytesWritten"))
  }
}

/** One traced call: name, start, end, parent, and the pass it belongs to. */
final class Span(val id: Int, val parent: Int, val pass: Int, val name: String,
                 val start: Long, val fsStart: FsCounts) {
  var end: Long = -1L
  var fs: FsCounts = FsCounts.Zero
  def durNs: Long = end - start
}

final case class TaskRec(stageId: Int, runMs: Long, gcMs: Long, delayMs: Long, fetchWaitMs: Long,
                         shuffleWrite: Long, inputBytes: Long, recordsIn: Long)
final case class JobRec(id: Int, submit: Long, var end: Long, stages: Seq[Int])
final case class QeRec(start: Long, planMs: Long)
final case class ProgressRec(addBatchMs: Long, triggerMs: Long, rows: Long)

/** Span recorder plus the Spark listeners whose events it attributes to
  * spans. With one client thread spans nest strictly, so every event
  * belongs to the innermost span open at its timestamp. Everything is
  * held in memory and attributed once, after the passes. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var pass = -1

  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  val qes = new java.util.concurrent.ConcurrentLinkedQueue[QeRec]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[ProgressRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  /** Stages actually run (a job's skipped stages never submit). */
  val submittedStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = JobRec(e.jobId, e.time * 1000000L, -1L, e.stageIds)
      jobById.put(e.jobId, j); jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.get(e.jobId)).foreach(_.end = e.time * 1000000L)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      submittedStages.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics; val i = e.taskInfo
      if (m != null && i != null) {
        val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime)
        tasks.add(TaskRec(e.stageId, m.executorRunTime, m.jvmGCTime, delay,
          m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val start = ph.values.map(_.startTimeMs).min
        qes.add(QeRec(start * 1000000L, ph.values.map(p => p.endTimeMs - p.startTimeMs).sum))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala
      if (e.progress.numInputRows > 0)
        progress.add(ProgressRec(d.get("addBatch").map(_.longValue).getOrElse(0L),
          d.get("triggerExecution").map(_.longValue).getOrElse(0L), e.progress.numInputRows))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener callbacks arrive asynchronously; wait until every started
    * job has ended and the event counts stop moving. */
  def drain(): Unit = {
    var last = -1; var stable = 0; val deadline = System.nanoTime() + 10L * 1000000000L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val n = jobs.size + tasks.size + qes.size + progress.size
      val open = jobs.asScala.exists(_.end < 0)
      if (n == last && !open) stable += 1 else stable = 0
      last = n
    }
  }

  def beginPass(p: Int): Unit = pass = p
  def endPass(): Unit = pass = -1

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), pass, name,
      Clock.now, FsCounts.snapshot())
    spans += s; stack.push(s)
    try body
    finally {
      s.end = Clock.now
      s.fs = FsCounts.snapshot() - s.fsStart
      stack.pop()
    }
  }

  // ------------------------------------------------------- attribution
  // Computed once, on first use: call drain() before.

  private lazy val sorted: IndexedSeq[Span] = spans.filter(_.end >= 0).toIndexedSeq

  /** Innermost span open at `t`: the latest-starting span containing it. */
  def spanAt(t: Long): Option[Span] = {
    var best: Span = null
    sorted.foreach { s => if (s.start <= t && t <= s.end && (best == null || s.start >= best.start)) best = s }
    Option(best)
  }

  lazy val jobSpan: Map[Int, Span] = jobs.asScala.flatMap(j => spanAt(j.submit).map(j.id -> _)).toMap
  private lazy val stageJob: Map[Int, Int] = jobs.asScala.flatMap(j => j.stages.map(_ -> j.id)).toMap

  /** Tasks of jobs submitted inside a span, with the span. */
  lazy val taskSpans: Seq[(TaskRec, Span)] = tasks.asScala.toSeq.flatMap(t =>
    stageJob.get(t.stageId).flatMap(jobSpan.get).map(t -> _))

  lazy val qeSpans: Seq[(QeRec, Span)] = qes.asScala.toSeq.flatMap(q => spanAt(q.start).map(q -> _))

  def isWithin(s: Span, ancestor: Span): Boolean = {
    var cur = s
    while (cur != null) {
      if (cur.id == ancestor.id) return true
      cur = if (cur.parent < 0) null else spans(cur.parent)
    }
    false
  }

  /** Self time: duration minus the part of it covered by child spans. */
  def selfNs(s: Span): Long = {
    val kids = sorted.filter(_.parent == s.id)
    s.durNs - kids.map(_.durNs).sum
  }

  /** Spans under `root` that start before or end after their parent, or
    * overlap an earlier sibling: with one client thread there are none. */
  def nestingErrors(root: Span): Seq[String] = {
    val under = sorted.filter(s => s.id != root.id && isWithin(s, root))
    val outside = under.filter { s =>
      val p = spans(s.parent)
      s.start < p.start || s.end > p.end
    }.map(s => s"span ${s.name} runs outside its parent ${spans(s.parent).name}")
    val overlaps = under.groupBy(_.parent).values.flatMap { kids =>
      kids.sortBy(_.start).sliding(2).collect {
        case Seq(a, b) if b.start < a.end => s"spans ${a.name} and ${b.name} overlap"
      }
    }
    outside ++ overlaps
  }

  def spansNamed(name: String): Seq[Span] = sorted.filter(_.name == name)

  def jobsIn(s: Span): Seq[JobRec] = jobs.asScala.toSeq.filter(j => jobSpan.get(j.id).exists(isWithin(_, s)))
}
