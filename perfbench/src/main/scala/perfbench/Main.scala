package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  * generate inputs from the seed, build the session, run one untimed
  * warm-up pass, then closed-loop timed passes (one client thread) for
  * `--seconds`, check every output, and print the metrics.
  *
  * `--trace 1` alternates untraced and traced passes, attributes Spark,
  * Catalyst, streaming and Hadoop FS events to the benchmark's spans, runs
  * the isolated probes, and prints the per-layer metrics instead.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <run dir>
  */
object Main {

  /** Sizes are scaled down from the reference ETL's 50k-row inputs so that
    * one run (set-up plus timed passes) fits the benchmark's time budget;
    * the scale is recorded in perfbench/design.json. */
  def workload(name: String): Workload = name match {
    case "opinion_star_load" => opinion()
    case "corpus_curation" => corpus()
    case "table_cdc_mixed" =>
      new TableCdc(Gen.CdcSizes(seedRows = 10000, batchRows = 1000, batches = 40,
        payloadBytes = 200, lookupsPerBatch = 25, scansPerBatch = 5))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def opinion(): OpinionLoad =
    new OpinionLoad(Gen.OpinionSizes(clients = 2000, products = 2000, fuentes = 2000, factRows = 4000))

  def corpus(): CorpusCuration =
    new CorpusCuration(Gen.CorpusSizes(docs = 3000, vectors = 1500, queries = 100, dim = 64,
      clusters = 32))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = workload(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val dir = new File(a("dir")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val hostProbeStart = Stats.hostProbeMs()
    val g0 = System.nanoTime()
    w.generate(new File(dir, "inputs"), seed)
    val genS = (System.nanoTime() - g0) / 1e9
    val probeS = hostProbeStart / 1e3

    val builder = graft.Tables.tune(SparkSession.builder()
        .master(s"local[$cores]").appName("perfbench"))
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = builder
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(dir, "hadoop-tmp").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())

    val ops = new Ops
    w.setup(spark, dir)
    // CPU of every warm-up pass's calls and JIT compiler CPU of every pass,
    // recorded so the warm-up count can be checked against the timed passes
    val warmCpus = mutable.ArrayBuffer.empty[Double]
    val jits = mutable.ArrayBuffer.empty[Double]
    for (k <- 1 to w.warmups) {
      val (c0, j0) = (ops.callCpuNs, JitCpu.ns())
      w.pass(PassCtx(spark, ops, warm = true, index = -k, tr = None))
      warmCpus += (ops.callCpuNs - c0) / 1e9
      jits += (JitCpu.ns() - j0) / 1e9
    }
    // JVM start -> session built and warm-up done, less input generation
    // and the host probe, which a user of the program would not pay
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS - probeS

    // a pass's wall and CPU are those of its public calls (Ops), not of
    // the checks, listings and clean-up the benchmark does between them
    val walls = Map(false -> mutable.ArrayBuffer.empty[Double], true -> mutable.ArrayBuffer.empty[Double])
    val cpus = mutable.ArrayBuffer.empty[Double]
    val cpusAtRef = mutable.ArrayBuffer.empty[Double]
    val passWalls = mutable.Map.empty[Int, Double]
    var rows = 0L
    var rowsWall = 0.0
    val t0 = System.nanoTime()
    var i = 0
    val minPasses = if (trace) 3 else 1
    while (w.hasNext && (i < minPasses || System.nanoTime() - t0 < seconds * 1000000000L)) {
      // untraced and traced passes alternate, untraced first and last, so
      // a steady drift from pass to pass weighs on both sides of the
      // overhead alike
      val traced = trace && i % 2 == 1
      val tr = if (traced) tracer else None
      val probeBefore = Stats.hostProbeMs()
      tr.foreach(_.beginPass(i))
      val p0 = System.nanoTime()
      val (w0, c0, j0) = (ops.callWallNs, ops.callCpuNs, JitCpu.ns())
      val n = tr.fold(w.pass(PassCtx(spark, ops, warm = false, index = i, tr = None)))(t =>
        t.span("pass")(w.pass(PassCtx(spark, ops, warm = false, index = i, tr = Some(t)))))
      passWalls(i) = (System.nanoTime() - p0) / 1e9
      tr.foreach(_.endPass())
      val wall = (ops.callWallNs - w0) / 1e9
      walls(traced) += wall
      jits += (JitCpu.ns() - j0) / 1e9
      val probe = (probeBefore + Stats.hostProbeMs()) / 2
      if (!traced) {
        val cpu = (ops.callCpuNs - c0) / 1e9
        rows += n; rowsWall += wall; cpus += cpu; cpusAtRef += cpu * Stats.RefProbeMs / probe
      }
      i += 1
    }
    w.finalCheck(spark, ops)

    val out = mutable.LinkedHashMap.empty[String, Metric]
    val untraced = walls(false).toSeq
    val (tailPct, tailS) = Stats.tail(untraced)
    out("setup_s") = Metric(setupS, "s")
    out("pass_p50_s") = Metric(Stats.median(untraced), "s")
    out("pass_tail_s") = Metric(tailS, "s")
    out("rows_per_s") = Metric(rows / rowsWall, "rows/s")
    // CPU time of a pass's calls (all threads, JIT compilers excepted):
    // the work a pass costs, which the host's contention for cores does
    // not stretch as it does wall
    out("pass_cpu_s") = Metric(Stats.median(cpus.toSeq), "s")
    // the same, scaled by the host probe taken around each pass to the
    // probe's time on a quiet host: CPU time per unit of work also grows
    // when other tenants share the host's cores and caches
    out("pass_cpu_ref_s") = Metric(Stats.median(cpusAtRef.toSeq), "s")
    out ++= w.metrics(ops, spark)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    tracer.foreach { t =>
      val probes = Probes.run(w, spark, ops, t, dir, seed)
      t.uninstall()
      val passRoots = t.spans.filter(s => s.name == "pass" && s.end > 0).toSeq
      layers ++= Layers.generic(t, passRoots, cores)
      layers ++= w.layers(t, passRoots, ops)
      layers ++= probes
      val tracedMed = Stats.median(walls(true).toSeq)
      val plainMed = Stats.median(untraced)
      layers("trace.overhead_share") = (tracedMed - plainMed) / plainMed
      // self times sum to the root span's duration whenever spans nest, so
      // what is checked is the nesting, and the root against the pass wall
      // measured around it
      passRoots.foreach { p =>
        val errs = t.nestingErrors(p) ++
          (if (p.durNs / 1e9 <= passWalls(p.pass)) Nil
           else Seq(s"pass span ${p.durNs / 1e6} ms exceeds pass wall ${passWalls(p.pass) * 1e3} ms"))
        errs.foreach { e =>
          ops.attempted += 1; ops.failed += 1
          if (ops.failures.size < 20) ops.failures += e
        }
      }
      println("PERFBENCH_SPANS " + Json(Map(
        "passes" -> passRoots.size,
        "spans" -> t.spans.count(_.end > 0),
        "self_s_by_name" -> t.spans.filter(_.end > 0).groupBy(_.name)
          .map { case (n, ss) => n -> ss.map(t.selfNs).sum / 1e9 / math.max(1, passRoots.size) },
        "jobs" -> t.jobs.size, "tasks" -> t.tasks.size, "query_executions" -> t.qes.size)))
    }

    w.release()
    // two collections around a pause, so the ContextCleaner can drop
    // blocks and shuffles whose driver objects the first one freed
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(200); System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    out("driver_retained_mb") = Metric(heap / 1048576.0, "MB")
    out("failed_ops_share") = Metric(ops.failed.toDouble / math.max(1L, ops.attempted), "ratio")

    val detail = Map(
      "workload" -> w.name, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "passes" -> i, "untraced_passes" -> untraced.size, "traced_passes" -> walls(true).size,
      "pass_tail_pct" -> tailPct, "pass_samples" -> untraced.size,
      "pass_wall_s_each" -> untraced, "pass_cpu_s_each" -> cpus.toSeq,
      "warmup_cpu_s_each" -> warmCpus.toSeq, "jit_cpu_s_each" -> jits.toSeq,
      "jit_threads" -> JitCpu.threads,
      "generate_s" -> genS, "host_probe_ms" -> Seq(hostProbeStart, Stats.hostProbeMs()),
      "end_to_end" -> out.toMap, "failures" -> ops.failures.toSeq)
    println("PERFBENCH_DETAIL " + Json(detail))
    if (trace) println("PERFBENCH_LAYERS " + Json(layers.toMap))
    spark.stop()

    // run.py builds the result object from this line, the detail line and
    // BENCHMARK.json, which names the metrics and their units
    val correct = ops.failed == 0
    println("PERFBENCH_RESULT " + Json(Map("correct" -> correct, "attempted" -> ops.attempted,
      "failed" -> ops.failed)))
    System.exit(if (correct) 0 else 1)
  }
}

/** Per-layer metrics every workload reports, from its traced passes. */
object Layers {
  def generic(t: Tracer, passes: Seq[Span], cores: Int): Map[String, Double] = {
    val n = math.max(1, passes.size).toDouble
    val inPass = t.taskSpans.filter { case (_, s) => passes.exists(p => t.isWithin(s, p)) }.map(_._1)
    val jobs = t.jobSpan.count { case (_, s) => passes.exists(p => t.isWithin(s, p)) }
    val stages = t.jobs.toArray(Array.empty[JobRec]).filter(j =>
      t.jobSpan.get(j.id).exists(s => passes.exists(p => t.isWithin(s, p))))
      .map(_.stages.count(t.submittedStages.contains)).sum
    val qes = t.qeSpans.filter { case (_, s) => passes.exists(p => t.isWithin(s, p)) }.map(_._1)
    val wall = passes.map(_.durNs / 1e9).sum
    val coreS = inPass.map(_.runMs / 1e3).sum
    Map(
      "catalyst.plan_s" -> qes.map(_.planMs / 1e3).sum / n,
      "catalyst.query_executions" -> qes.size / n,
      "scheduler.jobs" -> jobs / n,
      "scheduler.stages" -> stages / n,
      "scheduler.tasks" -> inPass.size / n,
      "scheduler.idle_core_share" -> (1 - coreS / (wall * cores)),
      "scheduler.task_delay_s" -> inPass.map(_.delayMs / 1e3).sum / n,
      "scheduler.empty_task_share" -> inPass.count(_.recordsIn == 0).toDouble / math.max(1, inPass.size),
      "executor.core_s" -> coreS / n,
      "executor.gc_s" -> inPass.map(_.gcMs / 1e3).sum / n,
      "executor.fetch_wait_s" -> inPass.map(_.fetchWaitMs / 1e3).sum / n,
      "executor.shuffle_write_bytes" -> inPass.map(_.shuffleWrite.toDouble).sum / n,
      "executor.input_bytes" -> inPass.map(_.inputBytes.toDouble).sum / n)
  }
}
