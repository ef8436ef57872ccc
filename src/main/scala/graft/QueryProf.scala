package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Dev profiling main for the optimization rounds: runs named queries
  * through the Bench methodology (noop sink) while a listener counts
  * the Spark-side work — jobs, stages, tasks, shuffle bytes — so a
  * change can be judged by STRUCTURE (fewer passes / exchanges), not
  * just by wall seconds on a noisy host. `compiles` counts the classes
  * Janino compiled during the query (JVM-wide codegen metric): a rep
  * that keeps compiling means the generated-class cache is thrashing.
  *
  * Usage: runMain graft.QueryProf q317_graph_ann_append[,q284_...] [reps]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object QueryProf {
  def main(args: Array[String]): Unit = {
    val names: Seq[String] = args.headOption match {
      case Some(s) => s.split(",").toSeq
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    val reps = args.lift(1).map(_.toInt).getOrElse(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.tune(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shufR = new AtomicLong(0L)
    val shufW = new AtomicLong(0L)
    val inB = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          inB.addAndGet(m.inputMetrics.bytesRead)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // same warm-up as Bench so rep 1 is not class-loading
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }

    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    println(f"${"query"}%-32s ${"sec"}%8s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"compiles"}%8s ${"shufMB"}%8s ${"inMB"}%8s")
    names.foreach { name =>
      (1 to reps).foreach { rep =>
        // settle listener queue so counters attribute to this query
        org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
        jobs.set(0); stages.set(0); tasks.set(0)
        shufR.set(0L); shufW.set(0L); inB.set(0L)
        val c0 = compiled
        val t0 = System.nanoTime()
        val err = try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save(); None
        } catch { case e: Throwable => Some(e.getClass.getSimpleName) }
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
        val tag = if (reps > 1) s"$name#$rep" else name
        println(f"$tag%-32s $sec%8.2f ${jobs.get}%5d ${stages.get}%6d ${tasks.get}%6d ${compiled - c0}%8d ${(shufR.get + shufW.get) / 1e6}%8.1f ${inB.get / 1e6}%8.1f" +
          err.map(e => s"  ERR=$e").getOrElse(""))
      }
    }
    spark.stop()
  }
}
