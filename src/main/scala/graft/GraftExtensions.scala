package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.expressions.{CosinePairExpr, DotPairExpr, MinHashSigExpr, ShingleExpr, SimHashExpr, TopGramStatsExpr, ZOrderExpr}

/** SparkSessionExtensions registration for the engine's custom Catalyst
  * expressions, making them first-class SQL functions:
  *
  * {{{
  *   SELECT doc_id, shingles(text, 3)        FROM documents
  *   SELECT doc_id, minhash_sig(text, 3, 32) FROM documents
  *   SELECT doc_id, simhash(text, 2)         FROM documents
  * }}}
  *
  * Wired into every session via `Tables.tune` (`withExtensions`); cluster
  * submits can equivalently set
  * `spark.sql.extensions=graft.GraftExtensions` (zero-arg class). This is
  * the documented extension path — no private Spark APIs involved — so
  * SQL-only users of the engine get the text-signature surface without
  * touching the Scala API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Opt-in optimizer rule: range-predicate joins -> bucketed interval
    // join (fires only when spark.graft.rangeJoin.bucket is set).
    ext.injectOptimizerRule(_ => new graft.plans.RangeJoinRule)
    // Whole-operator strategy: TopKPerKeyNode -> heap-based physical
    // top-k-per-key (graft.operators.TopK.perKey).
    ext.injectPlannerStrategy(_ => new graft.plans.TopKPerKeyStrategy)
    // Opt-in rewrite: row_number window + rank<=k filter gains a
    // TopKPerKeyNode under the window (spark.graft.topk.rewrite=true).
    ext.injectOptimizerRule(_ => new graft.plans.TopKRewriteRule)
    // File skipping while optimizing: a filter over a ManifestTable read
    // narrows the read's file index (graft.etl.FileSkipping's rule).
    ext.injectPreCBORule(_ => graft.etl.PruneManifestFiles)
    ext.injectFunction((FunctionIdentifier("shingles"),
      new ExpressionInfo(classOf[ShingleExpr].getName, "shingles"),
      (args: Seq[Expression]) => {
        requireArgs(args, 2, "shingles")
        ShingleExpr(args.head, litInt(args(1), "shingles"))
      }))
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSigExpr].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        requireArgs(args, 3, "minhash_sig")
        MinHashSigExpr(args.head, litInt(args(1), "minhash_sig"),
          litInt(args(2), "minhash_sig"))
      }))
    ext.injectFunction((FunctionIdentifier("simhash"),
      new ExpressionInfo(classOf[SimHashExpr].getName, "simhash"),
      (args: Seq[Expression]) => {
        requireArgs(args, 2, "simhash")
        SimHashExpr(args.head, litInt(args(1), "simhash"))
      }))
    // SELECT top_gram_stats(text, 2) -> array(total_windows, top_count)
    ext.injectFunction((FunctionIdentifier("top_gram_stats"),
      new ExpressionInfo(classOf[TopGramStatsExpr].getName, "top_gram_stats"),
      (args: Seq[Expression]) => {
        requireArgs(args, 2, "top_gram_stats")
        TopGramStatsExpr(args.head, litInt(args(1), "top_gram_stats"))
      }))
    // SELECT cosine_pair(emb_a, emb_b) / dot_pair(emb_a, emb_b)
    ext.injectFunction((FunctionIdentifier("cosine_pair"),
      new ExpressionInfo(classOf[CosinePairExpr].getName, "cosine_pair"),
      (args: Seq[Expression]) => {
        requireArgs(args, 2, "cosine_pair")
        CosinePairExpr(args.head, args(1))
      }))
    ext.injectFunction((FunctionIdentifier("dot_pair"),
      new ExpressionInfo(classOf[DotPairExpr].getName, "dot_pair"),
      (args: Seq[Expression]) => {
        requireArgs(args, 2, "dot_pair")
        DotPairExpr(args.head, args(1))
      }))
    // Generator (UDTF): LATERAL VIEW shingle_rows(text, 2) -> one
    // (pos, gram) row per window, streamed (no per-doc array)
    ext.injectFunction((FunctionIdentifier("shingle_rows"),
      new ExpressionInfo(classOf[graft.expressions.ShingleRowsGen].getName,
        "shingle_rows"),
      (args: Seq[Expression]) => {
        requireArgs(args, 2, "shingle_rows")
        graft.expressions.ShingleRowsGen(args.head,
          litInt(args(1), "shingle_rows"))
      }))
    // SELECT zorder2(a, b) -> Morton curve value (data-layout key)
    ext.injectFunction((FunctionIdentifier("zorder2"),
      new ExpressionInfo(classOf[ZOrderExpr].getName, "zorder2"),
      (args: Seq[Expression]) => {
        requireArgs(args, 2, "zorder2")
        ZOrderExpr(args.head, args(1))
      }))
    // Aggregates: the analyzer wraps a bare AggregateFunction returned
    // from a builder in its AggregateExpression during resolution.
    // SELECT misra_gries(key, 16) -> array<struct<key, count_lb>>
    ext.injectFunction((FunctionIdentifier("misra_gries"),
      new ExpressionInfo(classOf[graft.expressions.MisraGriesAgg].getName,
        "misra_gries"),
      (args: Seq[Expression]) => {
        requireArgs(args, 2, "misra_gries")
        graft.expressions.MisraGriesAgg(args.head,
          litInt(args(1), "misra_gries"))
      }))
    // SELECT count_min(bucket_array, depth, width) -> flattened grid;
    // pair with graft.expressions.CountMin.buckets for the bucket array
    ext.injectFunction((FunctionIdentifier("count_min"),
      new ExpressionInfo(classOf[graft.expressions.CountMinAgg].getName,
        "count_min"),
      (args: Seq[Expression]) => {
        requireArgs(args, 3, "count_min")
        graft.expressions.CountMinAgg(args.head,
          litInt(args(1), "count_min"), litInt(args(2), "count_min"))
      }))
  }

  private def requireArgs(args: Seq[Expression], n: Int, fn: String): Unit =
    require(args.length == n, s"$fn expects $n arguments, got ${args.length}")

  private def litInt(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) =>
      require(v >= Int.MinValue && v <= Int.MaxValue,
        s"$fn: size argument $v out of int range")
      v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: size arguments must be integer literals, got $other")
  }
}
