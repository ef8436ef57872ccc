package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** The end-to-end training-corpus preparation a 100 TB pipeline actually
  * runs, as ONE composable operator: quality floor → repetition filter →
  * exact dedup (keep-first) → per-source cap → PII scrub. Every stage is
  * an engine primitive that is independently oracle-checked (q42/q47/
  * q30/q49/q46); the composition itself is hash-checked end to end as
  * q83.
  *
  * Scale shape: the quality and repetition stages are per-row expressions
  * on the scan (zero shuffle — `TopGramStatsExpr`); dedup shuffles a
  * 16-byte digest (per-digest groups are duplicate-count-sized, never a
  * whole source); the survivors are lineage-cut and the cap runs the
  * threshold-prune + boundary-rank hybrid ([[CorpusMix.prunedStratumRank]]
  * via [[CorpusMix.perSourceCap]]) — no stage sorts a whole source; the
  * scrub is a codegen'd regex chain on the kept rows.
  */
object CorpusPipeline {

  /** Survivor rows with a scrubbed text column (`clean_text`), plus the
    * original id and source columns. Deterministic and engine-portable:
    * dedup keeps the smallest id per digest; the cap keeps the first
    * `perSourceCap` docs per source in (md5, id) order. */
  def prepare(docs: DataFrame, textCol: String, idCol: String,
              sourceCol: String, minTokens: Int = 10,
              maxTopShare: Double = 0.2, perSourceCap: Int = 50,
              maxRepeatMass: Double = 1.0): DataFrame =
    prepareStages(docs, textCol, idCol, sourceCol, minTokens, maxTopShare,
      perSourceCap, maxRepeatMass, nearDup = None)

  /** [[prepare]] with a NEAR-DUP stage whose LSH band config is chosen
    * by MEASURED recall on `sample` ([[Dedup.chooseLshConfig]] at
    * `recallFloorP6`) instead of hardcoded knobs — the tuning loop
    * wired into the pipeline: grade the bounded sample, pick the
    * cheapest qualifying (bands, rowsPerBand), then run the full
    * corpus's banded near-dup join under it, BETWEEN exact dedup and
    * the per-source cap (near-dups survive an md5 match by
    * construction; capping before removal would count losers against
    * the cap). The choice is logged and queryable
    * ([[Dedup.lshConfigChoice]] under `graft.pipeline.lsh.choice`).
    * The corpus pays only the chosen config's banded join; the sample
    * pays the full recall board — keep it a bounded graded slice. */
  def prepareTuned(docs: DataFrame, sample: DataFrame, textCol: String,
                   idCol: String, sourceCol: String,
                   recallFloorP6: Long, minTokens: Int = 10,
                   maxTopShare: Double = 0.2, perSourceCap: Int = 50,
                   maxRepeatMass: Double = 1.0, shingleN: Int = 3,
                   nearDupThreshold: Double = 0.5,
                   configs: Seq[(Int, Int)] =
                     Seq((2, 4), (4, 4), (8, 2), (16, 2))): DataFrame = {
    // the SAMPLE's recall board and the CORPUS's quality + exact-dedup
    // stages are independent (only the near-dup stage needs the chosen
    // config) — overlap them (guide §2.6): the board runs while the
    // corpus survivors materialize, instead of back to back
    val ((bands, rowsPerBand), pre) = graft.Overlap.pair(
      Dedup.chooseLshConfig(sample, textCol, idCol, recallFloorP6, shingleN,
        nearDupThreshold, configs, metricName = "graft.pipeline.lsh.choice"),
      Lineage.cut(prepareStages(docs, textCol, idCol, sourceCol,
        minTokens, maxTopShare, perSourceCap, maxRepeatMass,
        nearDup = None, throughDedupOnly = true)))
    val deduped = Dedup.dedupCorpus(pre, textCol, idCol, bands,
      rowsPerBand, shingleN, nearDupThreshold)
    capAndScrub(deduped, textCol, idCol, sourceCol, perSourceCap)
  }

  private def prepareStages(docs: DataFrame, textCol: String, idCol: String,
              sourceCol: String, minTokens: Int,
              maxTopShare: Double, perSourceCap: Int,
              maxRepeatMass: Double,
              nearDup: Option[(Int, Int, Int, Double)],
              throughDedupOnly: Boolean = false): DataFrame = {
    val text: Column = col(textCol)
    val st = graft.expressions.ShingleExpr.topGramStats(text, 2)
    val kept0 = docs
      .filter(TextAnalysis.tokenCount(text) >= minTokens)
      .withColumn("__st", st)
      // UNROUNDED share, strict mirror of the oracle's max(c)/sum(c)
      .filter(col("__st").getItem(1).cast("double") / col("__st").getItem(0)
        <= maxTopShare)
      .drop("__st")
    // optional compressibility screen (the q285 repeated-window mass):
    // scan-side like the rules above, so opting in adds no shuffle
    val kept = if (maxRepeatMass >= 1.0) kept0 else kept0
      .withColumn("__wn",
        graft.functions.TextAnalysis.shinglesAll(text, 2))
      .filter((size(col("__wn")) - size(array_distinct(col("__wn"))))
        .cast("double") / size(col("__wn")).cast("double")
        <= maxRepeatMass)
      .drop("__wn")
    val byDigest = Window.partitionBy(md5(text)).orderBy(col(idCol).asc)
    val deduped0 = kept.withColumn("__rn", row_number().over(byDigest))
      .filter(col("__rn") === 1).drop("__rn")
    // tuned near-dup removal (prepareTuned only): banded MinHash join
    // over the exact-dedup survivors under the MEASURED-recall config —
    // the default path adds nothing, so prepare's plan (and q83's hash)
    // is byte-identical to the pre-tuning shape
    if (throughDedupOnly) return deduped0
    val deduped = nearDup match {
      case None => deduped0
      case Some((b, r, n, thr)) =>
        Dedup.dedupCorpus(Lineage.cut(deduped0), textCol, idCol, b, r, n, thr)
    }
    capAndScrub(deduped, textCol, idCol, sourceCol, perSourceCap)
  }

  /** Per-source cap + PII scrub over the dedup survivors — the shared
    * pipeline tail. Cut first: every real corpus run materializes
    * post-dedup anyway, and the pruned-rank cap scans its input three
    * times (source counts, candidate-count verify, ranked filter) —
    * against the cut those are scans of the materialization, not
    * re-runs of the quality + dedup stages. The cap itself sorts
    * ~perSourceCap candidates per source, never a whole source. */
  private def capAndScrub(deduped: DataFrame, textCol: String,
                          idCol: String, sourceCol: String,
                          perSourceCap: Int): DataFrame = {
    val cut = Lineage.cut(deduped)
    CorpusMix.perSourceCap(cut, sourceCol, textCol, idCol, perSourceCap.toLong)
      .withColumn("clean_text", TextAnalysis.scrubPii(col(textCol)))
      .drop(textCol)
  }

  /** Filter-attrition report: how many documents each pipeline stage
    * admits — the per-filter accounting every corpus-construction run
    * publishes (which rule is doing the work? did a threshold change
    * silently halve the corpus?).
    *
    * Stages (sequential — each applies to the SURVIVORS of the previous,
    * which is what makes it a funnel and not three independent counts):
    *   1. quality  — the Gopher-style band rules (word count, mean word
    *      length, symbol ratio, duplicate-segment ratio);
    *   2. exact_dedup — keep-first on the md5 digest, computed among
    *      stage-1 survivors only;
    *   3. source_cap — at most `perSourceCap` survivors per source in
    *      content-hash order (C4-style domain downsampling).
    *
    * ONE-PASS construction: no stage filters the frame; later stages see
    * earlier flags through aggregation — "min surviving id per digest"
    * (a digest-keyed window whose groups are duplicate-count-sized) makes
    * the dedup flag, and the cap stage needs NO per-row rank at all: the
    * report only counts admissions, and the cap admits exactly
    * `min(perSourceCap, survivors_s)` per source, so a per-source
    * aggregate computes n3 without ordering anything. One digest window +
    * one source-keyed hash aggregate (map-side combined to source-many
    * rows); the funnel never rescans the corpus and never sorts a source.
    *
    * Output: (stage, n_in, n_out), n_in of stage k = n_out of k-1. */
  def attritionReport(docs: DataFrame, textCol: String, idCol: String,
                      sourceCol: String, perSourceCap: Int): DataFrame = {
    val text = col(textCol)
    val f1 = TextAnalysis.gopherRules(text).pass

    val byDigest = Window.partitionBy(col("__h"))
    val flagged = docs
      .withColumn("__h", md5(text))
      .withColumn("__f1", f1)
      .withColumn("__f2", col("__f1") &&
        col(idCol) === min(when(col("__f1"), col(idCol))).over(byDigest))
    flagged.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("c0"),
        sum(when(col("__f1"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("__f2"), 1L).otherwise(0L)).as("c2"))
      .agg(
        sum(col("c0")).as("n0"),
        sum(col("c1")).as("n1"),
        sum(col("c2")).as("n2"),
        sum(least(col("c2"), lit(perSourceCap.toLong))).as("n3"))
      .selectExpr("stack(3, 'quality', n0, n1, 'exact_dedup', n1, n2," +
        " 'source_cap', n2, n3) AS (stage, n_in, n_out)")
  }
}
