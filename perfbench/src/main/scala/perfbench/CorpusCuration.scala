package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{CorpusPipeline, Dedup, GraphAnn, Similarity}

/** LLM-data curation over a seeded corpus: quality/exact-dedup/cap/scrub,
  * near-duplicate removal, IVF search, and graph-ANN search scored against
  * the exact top-10. No CSV source and no manifest table is involved. */
final class CorpusCuration(sizes: Gen.CorpusSizes) extends Workload {
  import CorpusCuration._

  val name = "corpus_curation"

  private var inDir: File = _
  private var truth: Gen.CorpusTruth = _
  private val warm = mutable.Map.empty[String, Long]
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val dedupRecall = mutable.ArrayBuffer.empty[Double]
  private val dedupPrecision = mutable.ArrayBuffer.empty[Double]

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("source", StringType), StructField("lang", StringType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  def generate(dir: File, seed: Long): Unit = {
    inDir = new File(dir, "corpus")
    truth = Gen.corpus(inDir, seed, sizes)
  }

  private def read(spark: SparkSession, f: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(new File(inDir, f).getAbsolutePath)

  private def checkWarm(ctx: PassCtx, key: String, h: Long): Unit =
    ctx.ops.run("check", timed = false)(()) { _ =>
      if (ctx.warm) { warm(key) = h; None }
      else if (warm.get(key).contains(h)) None
      else Some(s"$key output differs from the warm-up pass")
    }

  private def idsDigest(rows: Seq[(Long, Long)]): Long =
    rows.sorted.foldLeft(17L)((a, r) => a * 31 + Gen.mix(r._1 * 1000003L + r._2))

  def pass(ctx: PassCtx): Long = {
    val spark = ctx.spark
    val docs = read(spark, "docs.jsonl", docSchema)
    val vectors = read(spark, "vectors.jsonl", vecSchema)
    val queries = read(spark, "queries.jsonl", vecSchema)

    // curation: prepare (materialised so each operator's span holds its
    // own work), then near-duplicate removal over the survivors
    val survivors = ctx.ops.run("curate", ctx.timed) {
      val prepared = ctx.span("CorpusPipeline.prepare")(
        CorpusPipeline.prepare(docs, "text", "doc_id", "source", perSourceCap = sizes.docs)
          .localCheckpoint())
      ctx.span("Dedup.dedupCorpus")(
        Dedup.dedupCorpus(prepared, "clean_text", "doc_id")
          .select(col("doc_id"), xxhash64(col("clean_text"))).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    }(s => if (s.isEmpty) Some("curation kept no documents") else None)
    survivors.foreach { s =>
      checkWarm(ctx, "survivors", idsDigest(s))
      val kept = s.iterator.map(_._1).toSet
      val injected = truth.exactDups ++ truth.nearDups
      val removed = (0L until truth.docs.toLong).filterNot(kept).filterNot(truth.lowQuality)
      val hit = removed.count(injected)
      dedupRecall += hit.toDouble / injected.size
      dedupPrecision += (if (removed.isEmpty) 1.0 else hit.toDouble / removed.size)
    }

    val ivf = ctx.ops.run("ivf", ctx.timed)(ctx.span("Similarity.ivfTopK")(
      Similarity.ivfTopK(vectors, queries, "vec_id", "embedding", k = 10,
        nlist = Nlist, nprobe = Nprobe)
        .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq))(
      r => if (r.isEmpty) Some("ivfTopK returned nothing") else None)
    ivf.foreach(r => checkWarm(ctx, "ivf", idsDigest(r)))

    val graph = ctx.ops.run("ann", ctx.timed) {
      val g = ctx.span("GraphAnn.knnGraph")(GraphAnn.knnGraph(vectors, "vec_id", "embedding",
        dim = sizes.dim, planes = Planes, tables = LshTables, degree = Degree,
        refine = Refine))
      val seeds = ctx.span("GraphAnn.lshSeeds")(GraphAnn.lshSeeds(vectors, queries, "vec_id",
        "embedding", dim = sizes.dim, planes = Planes, tables = LshTables,
        entries = (0L until 16L)).localCheckpoint())
      ctx.span("GraphAnn.beamTopK")(GraphAnn.beamTopK(vectors, queries, g, seeds, "vec_id",
        "embedding", rounds = Rounds, beamWidth = BeamWidth)
        .filter(col("rank") <= 10).select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    }(r => if (r.isEmpty) Some("beamTopK returned nothing") else None)
    graph.foreach(r => checkWarm(ctx, "graph_ann", idsDigest(r)))

    val exact = ctx.ops.run("exact", ctx.timed)(ctx.span("Similarity.bruteForceTopK")(
      Similarity.bruteForceTopK(vectors, queries, "vec_id", "embedding", 10)
        .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)) { r =>
      // a query's ids must equal the generator's exact top-10, except
      // where the 10th and 11th neighbours tie after rounding
      val got = r.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      truth.topK.collectFirst {
        case (q, (ids, c10, c11)) if got.getOrElse(q, Set.empty) != ids.toSet &&
          !(math.abs(c10 - c11) < 1e-5 && got.getOrElse(q, Set.empty).size == 10 &&
            (got(q) intersect ids.toSet).size >= 9) =>
          s"bruteForceTopK for query $q differs from the exact top-10"
      }
    }
    for (e <- exact; g <- graph) {
      val ex = e.toSet
      recalls += g.count(ex).toDouble / e.size
    }
    truth.docs.toLong
  }

  def release(): Unit = truth = null

  def metrics(ops: Ops, spark: SparkSession): Map[String, Metric] = Map(
    "ann_recall_at_10" -> Metric(Stats.median(recalls.toSeq), "ratio"),
    "dedup_recall" -> Metric(Stats.median(dedupRecall.toSeq), "ratio"),
    "dedup_precision" -> Metric(Stats.median(dedupPrecision.toSeq), "ratio"))

  /** Per traced curation pass: a pass of this workload, or the isolated
    * probe pass other workloads' traced runs make. */
  def layers(tr: Tracer, traced: Seq[Span], ops: Ops): Map[String, Double] = {
    val passes = math.max(1, tr.spansNamed(CorpusCuration.Operators.head).size)
    CorpusCuration.Operators.flatMap { op =>
      val ss = tr.spansNamed(op)
      Seq(s"operators.${op}_s" -> ss.map(_.durNs / 1e9).sum / passes,
        s"operators.$op.jobs" -> ss.map(s => tr.jobsIn(s).size.toDouble).sum / passes)
    }.toMap
  }

  /** `graft.expressions` kernels in isolation, through the SQL functions
    * GraftExtensions registers, over the generated corpus. */
  def kernelProbes(spark: SparkSession): Map[String, Double] = {
    val docs = read(spark, "docs.jsonl", docSchema).localCheckpoint()
    val vecs = read(spark, "vectors.jsonl", vecSchema).localCheckpoint()
    val nDocs = docs.count().toDouble
    val nVecs = vecs.count().toDouble
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    Seq(
      ("shingles", docs, "shingles(text, 3)", nDocs),
      ("minhash_sig", docs, "minhash_sig(text, 3, 64)", nDocs),
      ("simhash", docs, "simhash(text, 2)", nDocs),
      ("top_gram_stats", docs, "top_gram_stats(text, 2)", nDocs),
      ("cosine_pair", vecs, "cosine_pair(embedding, reverse(embedding))", nVecs)).map {
      case (fn, df, e, n) => s"kernel.$fn.rows_per_s" -> n / Probe.time(noop(df.selectExpr(e)))
    }.toMap
  }
}

object CorpusCuration {
  /** IVF: lists and lists probed per query. */
  val Nlist = 16
  val Nprobe = 4
  /** Graph ANN: LSH planes and tables, graph degree and refinement
    * rounds, beam search rounds and width. */
  val Planes = 4
  val LshTables = 2
  val Degree = 8
  val Refine = 1
  val Rounds = 3
  val BeamWidth = 16

  val Operators: Seq[String] = Seq("CorpusPipeline.prepare", "Dedup.dedupCorpus",
    "Similarity.ivfTopK", "GraphAnn.knnGraph", "GraphAnn.lshSeeds", "GraphAnn.beamTopK")
}
