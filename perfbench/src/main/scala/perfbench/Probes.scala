package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Isolated probes, run by every traced run after its timed passes so
  * each layer is measured whichever workload is traced:
  *  - `graft.sources` and `graft.etl` transform over the opinion CSVs;
  *  - one curation pass of `corpus_curation` (warmed up, then traced) for
  *    the `graft.operators` spans, when the run is not itself a curation
  *    run whose traced passes already hold them;
  *  - the `graft.expressions` kernels over the curation corpus.
  * Inputs are generated from the run's seed into the run directory. */
object Probes {
  def run(w: Workload, spark: SparkSession, ops: Ops, t: Tracer, dir: File,
          seed: Long): Map[String, Double] = {
    val opinion = w match {
      case o: OpinionLoad => o
      case _ => val o = Main.opinion(); o.generate(new File(dir, "probe-opinion"), seed); o
    }
    val corpus = w match {
      case c: CorpusCuration => c
      case _ =>
        val c = Main.corpus()
        c.generate(new File(dir, "probe-corpus"), seed)
        c.pass(PassCtx(spark, ops, warm = true, index = -1, tr = None))
        t.span("probe.corpus_pass")(c.pass(PassCtx(spark, ops, warm = false, index = 0, tr = Some(t))))
        c
    }
    val timed = opinion.probes(spark, ops) ++ corpus.kernelProbes(spark)
    // attribution reads the listener events, so they must all have arrived
    t.drain()
    timed ++ (if (w eq corpus) Map.empty else corpus.layers(t, Nil, ops))
  }
}

/** Warm-up then timed repetitions of an isolated probe; median seconds. */
object Probe {
  def time(body: => Unit): Double = {
    body
    Stats.median((0 until 2).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })
  }
}
