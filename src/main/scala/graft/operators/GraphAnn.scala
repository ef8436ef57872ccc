package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-based approximate nearest neighbor: a deterministic k-NN
  * graph (NSW shape — navigable small world without the randomized
  * insertion order) plus greedy beam search. The high-recall
  * complement of the quantization family (LSH q36, IVF q38, IVF-PQ
  * q205): instead of shrinking the candidate set by geometry alone,
  * the search WALKS the neighborhood graph, so recall degrades
  * gracefully where cluster boundaries cut true neighbors apart.
  *
  * Everything is deterministic and engine-replayable: the graph is
  * built from sign-LSH buckets (literal hyperplanes shared with the
  * q36 oracle), edges rank by (cosine desc, id asc) on the 6dp grid,
  * entry points are the smallest corpus ids, and each beam round
  * keeps top-`beamWidth` by the same total order — the oracle unrolls
  * the identical rounds in SQL.
  *
  * Scale: graph build is bucket-confined pairwise (the SemDeDup q91
  * contract — pair count is Σ bucket², controlled by the plane count;
  * raise `planes` as the corpus grows). Search state is
  * (queries × beamWidth) rows per round — each round is one join with
  * the edge list (shuffled on src), one join with the corpus vectors
  * (shuffled on vec_id), one per-query top-k window; lineage is cut
  * per round. No driver-side index, no unbounded collect. */
object GraphAnn {

  /** Pair-dedup with the exchange KEYED on `keyCol` alone (guide §2.4
    * — two operations keyed the same way share one exchange): hash
    * clustering by a SUBSET of the dedup columns already co-locates
    * equal pairs, so the dedup aggregate adds no exchange of its own,
    * and the downstream scoring joins (broadcast — they preserve the
    * streamed side's partitioning) feed a window PARTITIONED BY the
    * same key that reuses the clustering instead of re-shuffling. A
    * candidate-dedup → score → top-k round pays ONE exchange, not the
    * two a plain `.distinct()` forced (its (key, other)-keyed hash
    * partitioning satisfies nothing downstream). Results are
    * identical: same dedup column set, and every surviving duplicate
    * group is one exact row. */
  private def dedupKeyed(df: DataFrame, keyCol: String): DataFrame =
    df.repartition(col(keyCol)).dropDuplicates()

  /** (id, tbl, key) bucket memberships under `tables` INDEPENDENT
    * sign-LSH hash tables: one `planes*tables`-bit signature per
    * vector (one codegen'd pass), table t keyed by its own
    * `planes`-bit slice. Independence across tables is what makes the
    * k-NN graph NAVIGABLE — a single bucketing partitions the corpus,
    * so a bucket-confined graph is disconnected and a beam walk could
    * never leave its seed buckets. */
  private[operators] def tableKeys(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, planes: Int, tables: Int,
                        outId: String): DataFrame = {
    require(planes * tables <= 63,
      s"planes*tables must fit a 64-bit signature (<= 63 bits), got " +
        s"${planes * tables} — the shifted key slices would silently wrap")
    val sig = df.select(col(idCol).as(outId),
      Similarity.hyperplaneBucket(col(vecCol), dim, planes * tables)
        .as("__sig"))
    val mask = (1L << planes) - 1L
    (0 until tables).map { t =>
      sig.select(col(outId), lit(t).as("tbl"),
        expr(s"(__sig div ${1L << (planes * t)})").bitwiseAND(lit(mask))
          .as("key"))
    }.reduce(_ union _)
  }

  /** Directed k-NN edge list (src, dst): `degree` best neighbors per
    * node by (cosine desc, dst asc), initialized from candidates
    * sharing a bucket in ANY of the `tables` hash tables, then
    * improved by `refine` NN-descent rounds (candidates = current
    * edges ∪ reversed edges ∪ two-hop neighbors, rescored, re-ranked)
    * — the standard index-build trade: refinement cost is paid once
    * offline, search cost is untouched. All rescoring shuffles carry
    * (id, id) pairs only; vectors join in by key. */
  /** `cutFinal = false` skips the lineage cut of the FINAL round only —
    * for callers that consume the returned graph exactly once (the
    * index writers: one `.write`), where the cut would only add a
    * materialization job. Callers that iterate over the result (the
    * q164 beam joins the graph once per round) must keep the default. */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String,
               dim: Int, planes: Int, tables: Int, degree: Int,
               refine: Int = 1, maxBucket: Int = 10000,
               cutFinal: Boolean = true): DataFrame = {
    require(degree >= 1 && planes >= 1 && tables >= 1 && refine >= 0,
      "degree, planes, tables >= 1 and refine >= 0")
    require(maxBucket >= 1, "maxBucket >= 1")
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
    def best(cand: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("dst").asc)
      cand.join(c, Seq("vec_id"))
        .join(c.select(col("vec_id").as("dst"), col("cv").as("dv")),
          Seq("dst"))
        .withColumn("cos", round(Similarity.cosine(col("cv"), col("dv")), 6))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= degree)
        .select(col("vec_id").as("src"), col("dst"))
    }
    // Hot-bucket guard (the Dedup skew-cap discipline): the init
    // self-join is quadratic in the largest bucket, and a degenerate
    // embedding set (many zero / near-identical vectors — real web
    // corpora produce them) lands everything in ONE bucket per table →
    // one executor gets an O(n²) pair task. Buckets past `maxBucket`
    // are dropped from INIT ONLY, loudly (Dedup.bucketStats
    // "graft.graphann.init.buckets"); nodes in a dropped bucket can
    // still gain edges from their other hash tables and from reverse /
    // two-hop candidates in the refine rounds — a non-discriminative
    // bucket contributes no useful neighbors anyway.
    val ck = Dedup.cappedBuckets(
      tableKeys(corpus, idCol, vecCol, dim, planes, tables, "vec_id"),
      Seq("tbl", "key"), maxBucket, "graft.graphann.init.buckets")
    val init = best(dedupKeyed(ck
      .join(ck.select(col("tbl"), col("key"), col("vec_id").as("dst")),
        Seq("tbl", "key"))
      .filter(col("vec_id") =!= col("dst"))
      .select(col("vec_id"), col("dst")), "vec_id"))
    // mid-round graphs feed THREE consumers each round (fwd/rev/hop2) —
    // always cut; the final round's cut is skippable for write-once
    // consumers (cutFinal = false)
    var graph = if (refine == 0 && !cutFinal) init else Lineage.cut(init)
    for (i <- 1 to refine) {
      val fwd = graph.select(col("src").as("vec_id"), col("dst"))
      val rev = graph.select(col("dst").as("vec_id"), col("src").as("dst"))
      val hop2 = graph.join(
          graph.select(col("src").as("dst"), col("dst").as("dst2")),
          Seq("dst"))
        .select(col("src").as("vec_id"), col("dst2").as("dst"))
      val next = best(dedupKeyed(fwd.union(rev).union(hop2)
        .filter(col("vec_id") =!= col("dst")), "vec_id"))
      graph = if (i == refine && !cutFinal) next else Lineage.cut(next)
    }
    graph
  }

  /** Per-query beam seeds: the query's bucket members under every
    * hash table (the radius-0 probes) plus fixed global `entries` as
    * a backstop for singleton buckets. (query_id, vec_id), self
    * excluded. */
  def lshSeeds(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, dim: Int, planes: Int, tables: Int,
               entries: Seq[Long], maxBucket: Int = 10000): DataFrame = {
    // corpus-side hot-bucket guard: the seed join's output is
    // |query bucket| × |corpus bucket| per key — a degenerate corpus
    // bucket multiplies EVERY query landing in it. Dropped buckets
    // are logged ("graft.graphann.seeds.buckets"); the global
    // `entries` backstop below keeps every query seeded regardless.
    val ck = Dedup.cappedBuckets(
      tableKeys(corpus, idCol, vecCol, dim, planes, tables, "vec_id"),
      Seq("tbl", "key"), maxBucket, "graft.graphann.seeds.buckets")
    val qk = tableKeys(queries, idCol, vecCol, dim, planes, tables,
      "query_id")
    dedupKeyed(
      qk.join(ck, Seq("tbl", "key")).select(col("query_id"), col("vec_id"))
        .union(queries.select(col(idCol).as("query_id"))
          .crossJoin(broadcast(entries.toDF("vec_id"))))
        .filter(col("vec_id") =!= col("query_id")),
      "query_id")
  }

  /** Greedy beam search over a prebuilt edge list: start every query
    * at its `seeds` (query_id, vec_id) rows, then `rounds` times
    * expand the beam by one graph hop and keep the `beamWidth` best
    * candidates seen, ties to the smaller id. Output: (query_id,
    * vec_id, cosine, rank) for the final beam, rank 1..beamWidth. */
  def beamTopK(corpus: DataFrame, queries: DataFrame, graph: DataFrame,
               seeds: DataFrame, idCol: String, vecCol: String,
               rounds: Int, beamWidth: Int): DataFrame = {
    require(rounds >= 1 && beamWidth >= 1, "rounds, beamWidth >= 1")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    def topk(cand: DataFrame): DataFrame = cand
      .join(c, Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", round(Similarity.cosine(col("qv"), col("cv")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= beamWidth)
    var beam = topk(seeds).select(col("query_id"), col("vec_id"))
    for (r <- 1 to rounds) {
      val expanded = dedupKeyed(beam
        .join(graph, beam("vec_id") === graph("src"))
        .select(col("query_id"), col("dst").as("vec_id"))
        .union(beam.select(col("query_id"), col("vec_id")))
        .filter(col("vec_id") =!= col("query_id")), "query_id")
      val ranked = topk(expanded).select(col("query_id"), col("vec_id"))
      // mid-round beams feed the next round's expansion join AND its
      // union (two consumers) — cut; the LAST round's beam is consumed
      // exactly once, by the final re-rank below, so its cut would
      // only add a materialization job
      beam = if (r < rounds) Lineage.cut(ranked) else ranked
    }
    topk(beam).select(col("query_id"), col("vec_id"), col("cosine"),
      col("rank"))
  }

  /** Rank a (src, dst) candidate frame to the `degree` best per src by
    * (cosine desc, dst asc), scoring against `vecs` (vec_id, cv). */
  private def topEdges(cand: DataFrame, vecs: DataFrame,
                       degree: Int): DataFrame = {
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst").asc)
    cand.select(col("src"), col("dst"))
      .join(vecs.select(col("vec_id").as("src"), col("cv").as("sv")),
        Seq("src"))
      .join(vecs.select(col("vec_id").as("dst"), col("cv").as("dv")),
        Seq("dst"))
      .withColumn("cos", round(Similarity.cosine(col("sv"), col("dv")), 6))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= degree)
      .select(col("src"), col("dst"))
  }

  /** The batched HNSW insertion step over the current full-layer
    * `edges`: each `delta` node beam-searches the existing graph for its
    * neighborhood (plus LSH bucket mates among the delta itself, so
    * intra-batch near-dups still connect) and keeps its `degree` best by
    * (cosine desc, id asc); the base nodes that gain reverse partners
    * re-rank their adjacency over (existing targets ∪ new partners). The
    * fixed tie-breaks make the insert deterministic. Cost is
    * delta-proportional: the base corpus is never re-paired. Returns the
    * lineage-cut merged edge list, safe to publish over the frame it was
    * derived from. */
  private def appendMergedEdges(edges: DataFrame, base: DataFrame,
                                delta: DataFrame, idCol: String,
                                vecCol: String, dim: Int, planes: Int,
                                tables: Int, degree: Int, rounds: Int,
                                beamWidth: Int,
                                entries: Seq[Long]): DataFrame = {
    val all = base.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      .unionByName(delta.select(col(idCol).as("vec_id"), col(vecCol).as("cv")))
    val seeds = lshSeeds(base, delta, idCol, vecCol, dim, planes, tables,
      entries)
    val beamNbrs = beamTopK(base, delta, edges, seeds, idCol, vecCol,
        rounds, beamWidth)
      .select(col("query_id").as("src"), col("vec_id").as("dst"))
    val dk = tableKeys(delta, idCol, vecCol, dim, planes, tables, "vec_id")
    val mates = dk
      .join(dk.select(col("tbl"), col("key"), col("vec_id").as("dst")),
        Seq("tbl", "key"))
      .filter(col("vec_id") =!= col("dst"))
      .select(col("vec_id").as("src"), col("dst"))
    val fwd = Lineage.cut(topEdges(
      dedupKeyed(beamNbrs.unionByName(mates), "src"), all, degree))
    // base nodes gaining reverse edges re-rank over old ∪ new targets
    val aff = fwd.select(col("dst").as("src")).distinct()
    val acand = dedupKeyed(edges.join(aff, Seq("src"), "left_semi")
      .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst"))),
      "src")
    // distinct: a delta node reachable through delta-delta mates appears
    // as src in BOTH fwd and the affected re-rank, so without it the
    // persisted index could hold duplicate (src,dst) rows — and repeated
    // appends would compound them (a duplicated edge occupies two
    // top-degree slots in any later re-rank). Mirrored in the oracle's
    // gm CTE.
    Lineage.cut(
      edges.join(aff, Seq("src"), "left_anti")
        .unionByName(topEdges(acand, all, degree))
        .unionByName(fwd)
        .distinct())
  }

  // ---------------------- persisted build parameters ----------------------

  /** The build-time knobs an index must be REBUILT under to stay
    * self-consistent: an escalated vacuum/compaction that silently used
    * call-site defaults instead (refine=1, upperRefine=1, ...) would
    * change search results after the escalation fires. Committed with
    * the index at write time and read back by every maintenance op that
    * rebuilds a layer. `baseN`/`appendedN` carry the upper-layer
    * staleness accounting: baseN = corpus size when the upper layer was
    * last built, appendedN = rows appended since. */
  private[graft] case class BuildParams(dim: Int, planes: Int,
      tables: Int, degree: Int, refine: Int, upperMod: Int,
      upperDegree: Int, upperRefine: Int, baseN: Long, appendedN: Long)

  private def paramsDf(spark: org.apache.spark.sql.SparkSession,
                       p: BuildParams): DataFrame =
    spark.range(1).select(
      lit(p.dim).as("dim"), lit(p.planes).as("planes"),
      lit(p.tables).as("tables"), lit(p.degree).as("degree"),
      lit(p.refine).as("refine"), lit(p.upperMod).as("upper_mod"),
      lit(p.upperDegree).as("upper_degree"),
      lit(p.upperRefine).as("upper_refine"),
      lit(p.baseN).as("base_n"), lit(p.appendedN).as("appended_n"))

  private def paramsOf(df: DataFrame): BuildParams = {
    val r = df.select("dim", "planes", "tables", "degree", "refine",
      "upper_mod", "upper_degree", "upper_refine", "base_n",
      "appended_n").head()
    BuildParams(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
      r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7), r.getLong(8),
      r.getLong(9))
  }

  // ------- graph index: ManifestTable-committed layers -------

  private val EdgesT = "edges"
  private val UpperT = "upper_edges"
  private val TombT = "tombstones"
  private val ParamsT = "build_params"

  /** Per-file coverage every edge publish records: src range+bloom
    * (discovery for [[graphForgetVersioned]]'s targeted rewrite of
    * affected sources) and a dst bloom (the "who points at a dead
    * node" scan) — what lets a small forget touch only the edge files
    * holding a tombstoned node instead of rebuilding the table. */
  private val EdgeStats = Map(EdgesT -> "src", UpperT -> "src")
  private val EdgeBlooms = Map(EdgesT -> "src", UpperT -> "src")
  private val EdgeExtraBlooms = Map(EdgesT -> Seq("dst"), UpperT -> Seq("dst"))

  /** The build params committed with the index at `root`. Every index
    * write records them, so a missing or malformed `build_params` table
    * is an error naming the root — never a silent fall-back to the
    * caller's arguments, the drift the table exists to prevent. */
  private[graft] def readParamsVersioned(
      spark: org.apache.spark.sql.SparkSession, root: String): BuildParams =
    try paramsOf(graft.etl.ManifestTable.read(spark, root, ParamsT))
    catch {
      case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(
          s"graph index at $root: unreadable $ParamsT table: ${e.getMessage}", e)
    }

  /** Footer-only empty tombstone table (the ManifestTable.deleteWhere
    * schema-preservation idiom: repartition(1) of an empty frame still
    * writes one parquet footer, so the table stays readable). */
  private def emptyTombTable(
      spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(0).select(col("id").as("vec_id")).repartition(1)

  /** Build and commit the graph index under `root`: the full-layer k-NN
    * edge list plus a sampled UPPER-layer graph (HNSW-style two-level
    * hierarchy), an empty tombstone table and the build params, all in
    * ONE [[graft.etl.ManifestTable]] commit — a crash can never leave a
    * full layer newer than its routing layer. The upper layer is the
    * nodes with `id % upperMod == 0` — a property of the id, not of
    * insertion order — so the index is a pure function of the corpus
    * and an oracle replays it exactly. Build cost (bucket-confined
    * pairwise + NN-descent) is paid once; searches
    * ([[layeredTopKVersioned]]) read the edge lists back and pay only
    * beam-walk joins. The manifest adds snapshot isolation for readers
    * racing any maintenance op, "search as of version V", and retention
    * vacuum ([[graft.etl.ManifestTable.vacuum]]). Returns the version.
    *
    * Both edge tables carry per-file src range stats, a src bloom and a
    * dst bloom: the beam itself joins the whole table, but
    * [[graphForgetVersioned]] probes them to rewrite only the edge files
    * that hold a forgotten node. */
  def graphWriteVersioned(corpus: DataFrame, idCol: String, vecCol: String,
                          dim: Int, planes: Int, tables: Int, degree: Int,
                          refine: Int, root: String, upperMod: Int = 4,
                          upperDegree: Int = 8,
                          upperRefine: Int = 1): Long = {
    require(upperMod >= 2, "upperMod >= 2 (1 would duplicate the full layer)")
    val spark = corpus.sparkSession
    val upper = corpus.filter(pmod(col(idCol), lit(upperMod.toLong)) === 0L)
    // the two layer builds are independent and EAGER (their refine
    // rounds lineage-cut as they are constructed) — overlap them
    // (guide §2.6) so the sparse upper build back-fills the full
    // layer's stage tails
    val (full, upperEdges) = graft.Overlap.pair(
      knnGraph(corpus, idCol, vecCol, dim, planes, tables, degree, refine,
        cutFinal = false),
      knnGraph(upper, idCol, vecCol, dim, planes, tables, upperDegree,
        upperRefine, cutFinal = false))
    graft.etl.ManifestTable.publish(spark, root, Map(
      EdgesT -> full,
      UpperT -> upperEdges,
      TombT -> emptyTombTable(spark),
      ParamsT -> paramsDf(spark, BuildParams(dim, planes, tables, degree,
        refine, upperMod, upperDegree, upperRefine, corpus.count(), 0L))),
      statsCols = EdgeStats, bloomCols = EdgeBlooms,
      extraBloomCols = EdgeExtraBlooms)
  }

  /** SOFT-delete ids from the index — the HNSW soft-delete discipline:
    * tombstoned nodes keep ROUTING (their edges stay in both layers, so
    * the graph stays navigable — cutting them would disconnect regions
    * and crater recall) but are never RETURNED: [[layeredTopKVersioned]]
    * drops them from the final beam and re-ranks the live survivors.
    * The merged tombstone set republishes as a new version in one
    * commit; the edge layers carry over untouched, never re-read.
    * Pre-delete versions stay searchable until retention drops them.
    * Reclaim dead nodes with [[graphForgetVersioned]] (few) or
    * [[graphVacuumVersioned]] (many). Idempotent. */
  def graphDeleteVersioned(spark: org.apache.spark.sql.SparkSession,
                           root: String, ids: DataFrame): Long = {
    val nw = ids.select(col(ids.columns.head).cast("long").as("vec_id"))
    val merged = graft.etl.ManifestTable.read(spark, root, TombT)
      .select(col("vec_id")).union(nw).distinct()
    graft.etl.ManifestTable.publish(spark, root,
      Map(TombT -> merged.coalesce(1)))
  }

  /** VACUUM: rebuild BOTH layers from the live corpus and clear the
    * tombstone table — all four tables in ONE atomic commit. A k-NN
    * graph over the survivors is not the survivor subgraph of the old
    * edge lists (removing a hub must re-route its neighborhood through
    * new edges), so vacuum is a rebuild by construction. Post-vacuum
    * the latest version equals a fresh [[graphWriteVersioned]] over the
    * live corpus. */
  def graphVacuumVersioned(spark: org.apache.spark.sql.SparkSession,
                           root: String, corpus: DataFrame, idCol: String,
                           vecCol: String, dim: Int, planes: Int,
                           tables: Int, degree: Int, refine: Int,
                           upperMod: Int = 4, upperDegree: Int = 8,
                           upperRefine: Int = 1): Long = {
    val tomb = graft.etl.ManifestTable.read(spark, root, TombT)
      .select(col("vec_id"))
    val live = corpus.join(broadcast(tomb),
      corpus(idCol) === tomb("vec_id"), "left_anti").persist()
    try {
      val upper = live.filter(pmod(col(idCol), lit(upperMod.toLong)) === 0L)
      graft.etl.ManifestTable.publish(spark, root, Map(
        EdgesT -> knnGraph(live, idCol, vecCol, dim, planes, tables,
          degree, refine, cutFinal = false),
        UpperT -> knnGraph(upper, idCol, vecCol, dim, planes, tables,
          upperDegree, upperRefine, cutFinal = false),
        TombT -> emptyTombTable(spark),
        ParamsT -> paramsDf(spark, BuildParams(dim, planes, tables, degree,
          refine, upperMod, upperDegree, upperRefine, live.count(), 0L))),
        statsCols = EdgeStats, bloomCols = EdgeBlooms,
        extraBloomCols = EdgeExtraBlooms)
    } finally live.unpersist()
  }

  /** TARGETED reclaim of a SMALL tombstone set — the keyed-forget path.
    * [[graphVacuumVersioned]] rebuilds both layers from the live corpus
    * (right when deletes are a large fraction), but a 2-node GDPR
    * forget must not rewrite an N-file edge table: this repair rewrites
    * ONLY the edge files holding a tombstoned node (as src or dst) —
    * discovered through the per-file src stats/blooms + dst blooms
    * every edge publish records — and replaces the affected sources'
    * lists with EXACT top-degree lists over the live layer (brute force:
    * the affected set is tombstone-proportional, so the scoring
    * crossJoin is O(|affected| × layer) with a broadcast query side —
    * better-than-LSH-approximate lists for exactly the nodes a forget
    * disturbed). Dead nodes stop routing entirely (full vacuum semantics
    * for them); untouched files carry byte-identical into the new
    * versions.
    *
    * Three commits (edges repair, upper repair, tombstone clear), each
    * atomic; the sequence is idempotent — a crash between them leaves
    * tombstone-filtered search exact (the cleared set only shrinks what
    * the final filter must drop) and a re-run converges. Returns
    * Some(version) of the tombstone-clearing commit, or None — caller
    * escalates to [[graphVacuumVersioned]] — when tombstones exceed
    * `maxForget` or nothing is tombstoned. */
  def graphForgetVersioned(spark: org.apache.spark.sql.SparkSession,
                           root: String, corpus: DataFrame, idCol: String,
                           vecCol: String,
                           maxForget: Int = 1024): Option[Long] = {
    val p = readParamsVersioned(spark, root)
    val tombAll = graft.etl.ManifestTable.read(spark, root, TombT)
      .select(col("vec_id"))
    val tombIds = tombAll.limit(maxForget + 1).collect()
      .map(_.getLong(0)).toSeq
    if (tombIds.isEmpty || tombIds.length > maxForget) return None
    val live = corpus.join(broadcast(tombAll),
      corpus(idCol) === tombAll("vec_id"), "left_anti")
      .select(col(idCol), col(vecCol))
    def repair(tableName: String, layer: DataFrame, deg: Int): Long = {
      // who points at a dead node: dst-bloom-pruned scan, then the
      // LIVE sources among them (dead sources just drop)
      val affSrc = graft.etl.ManifestTable.read(spark, root, tableName)
        .filter(col("dst").isin(tombIds: _*))
        .select(col("src")).distinct()
        .filter(!col("src").isin(tombIds: _*))
      val queries = layer.join(broadcast(affSrc),
        layer(idCol) === affSrc("src"), "left_semi")
      // exact replacement lists, same (cosine desc, id asc) 6dp-grid
      // ranking the builder uses
      val repl = Similarity.bruteForceTopK(layer, queries, idCol, vecCol,
        deg).select(col("query_id").as("src"), col("vec_id").as("dst"))
      val (files, _) = graft.etl.ManifestTable.replaceByKeys(spark, root,
        tableName, repl, Seq("src"), dropKeys = tombIds.toDF("src"),
        statsCol = Some("src"), bloomCol = Some("src"),
        extraBloomCols = Seq("dst"))
      files
    }
    repair(EdgesT, live, p.degree)
    repair(UpperT,
      live.filter(pmod(col(idCol), lit(p.upperMod.toLong)) === 0L),
      p.upperDegree)
    Some(graft.etl.ManifestTable.publish(spark, root,
      Map(TombT -> emptyTombTable(spark))))
  }

  /** Index COMPACTION — rebuild the upper routing layer from the
    * CURRENT corpus as a new version (full layer + tombstones carried).
    * Appends below [[graphAppendVersioned]]'s bar leave the upper layer
    * stale: inserted nodes stay reachable through full-layer
    * forward/reverse edges but never ROUTE queries, so regions populated
    * only by appended vectors have no upper-layer presence. Compaction
    * restores the build invariant exactly: post-compact `upper_edges`
    * equals a fresh build's for the same corpus. Tombstoned nodes stay
    * IN the routing layer by the soft-delete contract — they route,
    * they don't return. The layer hashes under the committed
    * dim/planes/tables; the (possibly new) upper knobs are recorded and
    * the staleness accounting resets. Cost: one sparse knnGraph build
    * over ~1/upperMod of the corpus. */
  def graphCompactVersioned(spark: org.apache.spark.sql.SparkSession,
                            root: String, corpus: DataFrame, idCol: String,
                            vecCol: String, upperMod: Int = 4,
                            upperDegree: Int = 8,
                            upperRefine: Int = 1): Long = {
    require(upperMod >= 2, "upperMod >= 2 (1 would duplicate the full layer)")
    val p = readParamsVersioned(spark, root)
    val upper = corpus.filter(pmod(col(idCol), lit(upperMod.toLong)) === 0L)
    graft.etl.ManifestTable.publish(spark, root, Map(
      UpperT -> knnGraph(upper, idCol, vecCol, p.dim, p.planes, p.tables,
        upperDegree, upperRefine, cutFinal = false),
      ParamsT -> paramsDf(spark, p.copy(upperMod = upperMod,
        upperDegree = upperDegree, upperRefine = upperRefine,
        baseN = corpus.count(), appendedN = 0L))),
      statsCols = EdgeStats, bloomCols = EdgeBlooms,
      extraBloomCols = EdgeExtraBlooms)
  }

  /** INCREMENTAL insert of a `delta` batch without a rebuild
    * ([[appendMergedEdges]]): the merged full layer commits as ONE new
    * version (upper layer + tombstones carried untouched), with TWO
    * self-escalation cadences, both evaluated under the index's
    * COMMITTED build params (never this call site's arguments — an
    * index built with upperRefine=0 must not be silently rebuilt under
    * upperRefine=1, nor a merge mix edge structures built under
    * drifted dim/planes/tables/degree into one index):
    *
    *  - tombstone fraction >= `vacuumAtTombstoneFraction` → the append
    *    folds into [[graphVacuumVersioned]] over base ∪ delta (one
    *    rebuild commit): every append republishes the full edge layer,
    *    dead nodes' edges included, so under churn an append-only regime
    *    would re-copy an ever-growing dead fraction forever;
    *  - appended fraction >= `compactAtAppendedFraction` → the commit
    *    ALSO rebuilds the upper routing layer
    *    ([[graphCompactVersioned]] semantics) in the SAME version.
    *    Without this, pure append-only growth — the most common
    *    workload — degrades routing without bound. The accounting rides
    *    the `build_params` table: `base_n` = corpus size at the last
    *    upper build, `appended_n` = rows appended since, reset whenever
    *    any op rebuilds the upper layer.
    *
    * Returns the version. */
  def graphAppendVersioned(spark: org.apache.spark.sql.SparkSession,
                           root: String, base: DataFrame, delta: DataFrame,
                           idCol: String, vecCol: String,
                           rounds: Int, beamWidth: Int, entries: Seq[Long],
                           vacuumAtTombstoneFraction: Double = 0.25,
                           compactAtAppendedFraction: Double = 0.5): Long = {
    val p = readParamsVersioned(spark, root)
    val tombN = graft.etl.ManifestTable.read(spark, root, TombT).count()
    val deltaN = delta.count()
    if (tombN > 0 &&
        tombN.toDouble / (base.count() + deltaN).max(1L)
          >= vacuumAtTombstoneFraction) {
      val corpus = base.select(col(idCol), col(vecCol))
        .unionByName(delta.select(col(idCol), col(vecCol)))
      return graphVacuumVersioned(spark, root, corpus, idCol, vecCol,
        p.dim, p.planes, p.tables, p.degree, p.refine, p.upperMod,
        p.upperDegree, p.upperRefine)
    }
    val edges = graft.etl.ManifestTable.read(spark, root, EdgesT)
      .select("src", "dst")
    val merged = appendMergedEdges(edges, base, delta, idCol, vecCol,
      p.dim, p.planes, p.tables, p.degree, rounds, beamWidth, entries)
    val appended = p.appendedN + deltaN
    if (appended.toDouble / p.baseN.max(1L) >= compactAtAppendedFraction) {
      // upper-staleness escalation: merged full layer AND the rebuilt
      // routing layer land in ONE commit (tombstoned nodes stay in the
      // routing layer — they route, they don't return)
      val corpus = base.select(col(idCol).as("__i"), col(vecCol).as("__v"))
        .unionByName(delta.select(col(idCol).as("__i"), col(vecCol).as("__v")))
      val upper = corpus.filter(pmod(col("__i"), lit(p.upperMod.toLong)) === 0L)
      graft.etl.ManifestTable.publish(spark, root, Map(
        EdgesT -> merged,
        UpperT -> knnGraph(upper, "__i", "__v", p.dim, p.planes, p.tables,
          p.upperDegree, p.upperRefine, cutFinal = false),
        ParamsT -> paramsDf(spark,
          p.copy(baseN = p.baseN + appended, appendedN = 0L))),
        statsCols = EdgeStats, bloomCols = EdgeBlooms,
        extraBloomCols = EdgeExtraBlooms)
    } else {
      graft.etl.ManifestTable.publish(spark, root, Map(
        EdgesT -> merged,
        ParamsT -> paramsDf(spark, p.copy(appendedN = appended))),
        statsCols = EdgeStats, bloomCols = EdgeBlooms,
        extraBloomCols = EdgeExtraBlooms)
    }
  }

  /** Two-phase layered search over the index at `root`, optionally
    * pinned to a retained `version`: a cheap beam over the SPARSE upper
    * graph first (few nodes, small degree — it localizes every query to
    * its neighborhood from fixed global entry points), then the
    * full-layer beam SEEDED by the upper results plus the query's own
    * LSH bucket mates. The upper phase replaces blind global entry
    * points with per-query-adapted ones, which is what lets the
    * full-layer walk converge in fewer rounds at equal-or-better recall
    * (the HNSW argument, two levels deep). Tombstoned nodes route the
    * walk but are dropped from the final beam, which is re-ranked over
    * the live survivors so `rank <= k` still yields k results. Every
    * layer (edges, routing, tombstones) resolves from the SAME commit,
    * so a pinned search is consistent by construction even while
    * appends, deletes and vacuums commit concurrently.
    *
    * `entries` must be upper-layer ids (multiples of `upperMod`).
    * Output: (query_id, vec_id, cosine, rank), rank 1..beamWidth. */
  def layeredTopKVersioned(spark: org.apache.spark.sql.SparkSession,
                           root: String, corpus: DataFrame,
                           queries: DataFrame, idCol: String,
                           vecCol: String, dim: Int, planes: Int,
                           tables: Int, entries: Seq[Long],
                           upperRounds: Int = 2, upperWidth: Int = 16,
                           rounds: Int = 3, beamWidth: Int = 32,
                           upperMod: Int = 4,
                           version: Option[Long] = None): DataFrame = {
    require(entries.forall(_ % upperMod == 0),
      s"entries must live on the upper layer (id % $upperMod == 0)")
    def tbl(t: String) = version match {
      case Some(v) => graft.etl.ManifestTable.readAt(spark, root, t, v)
      case None    => graft.etl.ManifestTable.read(spark, root, t)
    }
    val upperSeeds = queries.select(col(idCol).as("query_id"))
      .crossJoin(broadcast(entries.toDF("vec_id")))
      .filter(col("vec_id") =!= col("query_id"))
    val upperBeam = beamTopK(corpus, queries,
      tbl(UpperT).select("src", "dst"), upperSeeds, idCol, vecCol,
      upperRounds, upperWidth)
    val seeds = dedupKeyed(
      upperBeam.select(col("query_id"), col("vec_id"))
        .union(lshSeeds(corpus, queries, idCol, vecCol, dim, planes, tables,
          entries = Seq.empty)),
      "query_id")
    val beam = beamTopK(corpus, queries, tbl(EdgesT).select("src", "dst"),
      seeds, idCol, vecCol, rounds, beamWidth)
    survivorsReRanked(beam.join(broadcast(tbl(TombT).select(col("vec_id"))),
      Seq("vec_id"), "left_anti"))
  }

  /** FILTERED layered search: top results among corpus rows satisfying
    * `pred` (evaluated against `corpus`, which carries the metadata
    * columns). The walk itself stays UNCONSTRAINED — non-matching nodes
    * keep routing exactly like soft-deleted ones, because filtering
    * during the walk fragments the graph under selective predicates
    * (the ACORN problem) — and the predicate applies to the FINAL beam,
    * re-ranked over the survivors. The over-widen discipline is the
    * price: at selectivity s, a beam of width w yields ~s·w filtered
    * results, so size `beamWidth ≈ k/s` (the graph twin of q328's
    * over-probe rule). The filter side is an id-only column-pruned
    * scan semi-joined against the (queries × beamWidth)-sized beam. */
  def layeredTopKVersionedWhere(spark: org.apache.spark.sql.SparkSession,
                                root: String, corpus: DataFrame,
                                queries: DataFrame, idCol: String,
                                vecCol: String, dim: Int, planes: Int,
                                tables: Int, entries: Seq[Long],
                                pred: Column,
                                upperRounds: Int = 2, upperWidth: Int = 16,
                                rounds: Int = 3, beamWidth: Int = 32,
                                upperMod: Int = 4): DataFrame = {
    val beam = layeredTopKVersioned(spark, root, corpus, queries, idCol,
      vecCol, dim, planes, tables, entries, upperRounds, upperWidth,
      rounds, beamWidth, upperMod)
    val keep = corpus.filter(pred).select(col(idCol).as("vec_id"))
    survivorsReRanked(beam.join(keep, Seq("vec_id"), "left_semi"))
  }

  /** Re-rank the rows of a final beam that survived a filter, per query
    * by (cosine desc, vec_id asc). */
  private def survivorsReRanked(beam: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    beam.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
  }

  private implicit class LongSeqToDf(xs: Seq[Long]) {
    def toDF(name: String): DataFrame = {
      val spark = org.apache.spark.sql.SparkSession.active
      import spark.implicits._
      spark.createDataset(xs).toDF(name)
    }
  }
}
