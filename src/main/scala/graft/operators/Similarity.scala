package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - `bruteForceTopK`: exact cosine top-k — broadcast the (small) query
  *    set against the corpus scan; one pass, no corpus shuffle, window
  *    top-k per query. The correctness baseline.
  *  - `lshTopK`: hyperplane-LSH bucketed ANN — corpus and queries are
  *    bucketed by the sign pattern of `planes` deterministic hyperplanes;
  *    candidates come only from the matching bucket (plus the query's
  *    1-bit-flip probes, the standard multi-probe trick), then exact cosine
  *    ranks them. At 100 TB this turns an O(|Q|·|C|) scan into
  *    O(|Q|·bucket) with a corpus pre-partitioned by bucket key.
  *
  * All math is `zip_with`/`aggregate` higher-order expressions — native
  * Catalyst, no UDF.
  */
object Similarity {

  /** Dot product of two float-array columns (double accumulator, float
    * products widened AFTER the float multiply — HOF/oracle parity).
    * Backed by a codegen'd expression: the former
    * `aggregate(zip_with(...))` higher-order chain evaluated an
    * interpreted lambda per element per candidate pair — the ANN
    * verification hot path. */
  def dot(a: Column, b: Column): Column =
    graft.expressions.PairMathExprs.dotPair(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector is all-zero. Codegen'd
    * one-pass expression (same math as the composed HOF form). */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.PairMathExprs.cosinePair(a, b)

  /** Deterministic pseudo-random hyperplane component for (plane, dim
    * index): splitmix64 finalizer (public-domain mixing constants) mapped
    * to [-0.5, 0.5). Pure driver-side — planes are literal arrays. */
  private def planeComponent(plane: Int, i: Int): Double = {
    var z = plane.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble) / 2.0
  }

  /** The literal hyperplane matrix — exposed so the q36 oracle can inline
    * the exact same constants into SQL. */
  private[graft] def planeRows(dim: Int, planes: Int): Seq[Array[Double]] =
    (0 until planes).map(p => Array.tabulate(dim)(i => planeComponent(p, i)))

  /** Sign-pattern LSH bucket id (long with one bit per hyperplane).
    * `cosines_lit` + `sign_bits`: ONE pass over the vector for all planes
    * (sign(cosine) == sign(dot); norms are positive), instead of `planes`
    * interpreted higher-order dot products per row. */
  def hyperplaneBucket(vec: Column, dim: Int, planes: Int): Column =
    graft.expressions.CosinesExpr.signBits(
      graft.expressions.CosinesExpr.cosinesD(vec, planeRows(dim, planes)))

  /** Exact cosine top-k: for each row of `queries`, the k nearest corpus
    * rows. Queries are broadcast (they are the small side by construction).
    * Output: query_id, vec_id, cosine, rank. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cosine", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  /** Maximal Marginal Relevance diversified top-k (Carbonell &
    * Goldstein 1998): greedily select `k` of the `candK` most relevant
    * candidates, each pick maximizing
    * `λ·rel(q,d) − (1−λ)·max_{s∈picked} sim(d,s)` — the re-rank that
    * stops a near-duplicate cluster from monopolizing a result page,
    * and the retrieval-side complement of [[semanticDedup]] (which
    * removes near-dups from the CORPUS; MMR tolerates them and
    * diversifies per query instead).
    *
    * Determinism: rel and sim live on the 6dp integer grid
    * (floor(round(cos,6)·1e6 + 0.5)), λ on the same 1e6 grid, so every
    * greedy score is the exact integer `λ6·rel6 − (1e6−λ6)·sim6`
    * (|·| ≤ 1e12, fits a long with 6 digits of headroom) and ties
    * break to the smaller id — an oracle replays the unrolled rounds.
    *
    * Scale: the greedy loop is k bounded driver-side ROUNDS (the
    * PageRank discipline), never a driver-side collect — each round is
    * one aggregation over the (queries × candK²)-bounded pairwise-sim
    * frame plus one per-query argmax. candK caps the quadratic factor
    * per query, independent of corpus size; the corpus-sized work is
    * exactly one [[bruteForceTopK]] (swap in the IVF/graph searchers
    * for the candidate pass at scale — MMR only needs (query_id,
    * vec_id, rel) rows).
    *
    * Output: (query_id, vec_id, mmr12, rank), rank 1..k per query
    * (fewer when a query has under k candidates). */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, lambda6: Long = 700000L,
              candK: Int = 20): DataFrame = {
    require(k >= 1 && candK >= k, "need k >= 1 and candK >= k")
    require(lambda6 >= 0L && lambda6 <= 1000000L,
      "lambda6 is a 6dp fraction in [0, 1000000]")
    // both frames feed every greedy round: cut once so k rounds don't
    // re-run the corpus-sized candidate pass k times
    val cand = Lineage.cut(
      bruteForceTopK(corpus, queries, idCol, vecCol, candK)
        .select(col("query_id"), col("vec_id"),
          floor(col("cosine") * lit(1e6) + lit(0.5d)).cast("long")
            .as("rel6")))
    val cv = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
    val withV = cand.select(col("query_id"), col("vec_id")).join(cv, Seq("vec_id"))
    // candidate-candidate sims, per query: ≤ candK² rows per query, the
    // bounded frame every round's max-sim-to-picked aggregates over
    val sims = Lineage.cut(withV.select(col("query_id"),
        col("vec_id").as("a"), col("cv").as("av"))
      .join(withV.select(col("query_id"), col("vec_id").as("b"),
        col("cv").as("bv")), Seq("query_id"))
      .filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        floor(round(cosine(col("av"), col("bv")), 6) * lit(1e6) + lit(0.5d))
          .cast("long").as("sim6")))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("mmr12").desc, col("vec_id").asc)
    // round 1: no picked set, the max-sim penalty is 0 — pure relevance
    var picked = Lineage.cut(cand
      .withColumn("mmr12", col("rel6") * lit(lambda6))
      .withColumn("__rn", row_number().over(wq))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("vec_id"), col("mmr12"),
        lit(1L).as("rank")))
    for (r <- 2 to k) {
      val maxSim = sims
        .join(picked.select(col("query_id"), col("vec_id").as("b")),
          Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a"))
        .agg(max(col("sim6")).as("msim6"))
        .select(col("query_id"), col("a").as("vec_id"), col("msim6"))
      val scored = cand
        .join(picked.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "left_anti")
        .join(maxSim, Seq("query_id", "vec_id"))
        .withColumn("mmr12", col("rel6") * lit(lambda6)
          - col("msim6") * lit(1000000L - lambda6))
      val pick = scored
        .withColumn("__rn", row_number().over(wq))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("vec_id"), col("mmr12"),
          lit(r.toLong).as("rank"))
      picked = Lineage.cut(picked.union(pick))
    }
    picked
  }

  /** HARD-NEGATIVE mining for embedding/contrastive training (the
    * triplet-mining board): per anchor, the `k` most-similar corpus
    * vectors with a DIFFERENT label — high cosine, wrong class, the
    * negatives a contrastive loss actually learns from — each with the
    * anchor's best same-label positive and the integer margin
    * `floor(neg·1e6+.5) − floor(pos·1e6+.5)` (≥ 0 means the negative
    * OUTRANKS every positive: a label-error suspect as much as a
    * training example, the q299 connection). Anchors without a
    * same-label peer report a NULL positive/margin.
    *
    * Scale: one broadcast pass of the (small) anchor set against the
    * corpus scan — the q35 shape; at 100 TB swap the candidate pass
    * for the IVF/graph searchers (the miner only needs (query_id,
    * vec_id, cosine, labels) candidate rows) and keep the same
    * per-anchor split/rank tail.
    * Output: (query_id, vec_id, cosine, rank, pos_cos, margin6). */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"),
      col(labelCol).as("c_lab"))
    val a = anchors.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("q_lab"))
    val scored = c.crossJoin(broadcast(a))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cosine", round(cosine(col("qv"), col("cv")), 6))
    val pos = scored.filter(col("c_lab") === col("q_lab"))
      .groupBy(col("query_id")).agg(max(col("cosine")).as("pos_cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.filter(col("c_lab") =!= col("q_lab"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .join(pos, Seq("query_id"), "left")
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"),
        col("pos_cos"),
        (floor(col("cosine") * lit(1e6) + lit(0.5d)).cast("long")
          - floor(col("pos_cos") * lit(1e6) + lit(0.5d)).cast("long"))
          .as("margin6"))
  }

  /** Deterministic seed centroids: the nlist smallest ids, exact float
    * values widened to double. orderBy + limit plans as
    * TakeOrderedAndProject — a distributed top-k, not a single-task global
    * sort — and needs no separate count() pass. */
  private def seedCentroids(c: DataFrame, nlist: Int): Seq[Array[Double]] =
    c.orderBy(col("vec_id").asc).limit(nlist)
      .collect().toSeq
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)

  /** DataFrame-native Lloyd's k-means over the corpus (cosine metric):
    * each iteration assigns every vector to its nearest current centroid
    * with ONE `cosines_lit` + argmax pass (no per-centroid HOF dot
    * products), then recomputes centroids as per-list per-dimension means
    * via posexplode + groupBy — Spark's hash aggregate combines map-side,
    * so the shuffle carries nlist*dim partials per task, not the corpus.
    * Only nlist*dim mean rows ever reach the driver per iteration.
    *
    * Determinism/portability: means are rounded to 6 decimals each
    * iteration, so the trained centroids are reproducible across engines
    * (summation-order double drift stays far below the rounding grain);
    * a list that loses all members keeps its previous centroid. Seeded
    * from the nlist smallest ids — fixed, re-run-stable. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nlist: Int, iters: Int): Seq[Array[Double]] = {
    import graft.expressions.CosinesExpr.{argMax, cosinesD}
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
    var cents = seedCentroids(c, nlist)
    val dim = cents.head.length
    (0 until iters).foreach { _ =>
      val means = c
        .withColumn("list_id", argMax(cosinesD(col("cv"), cents)))
        .select(col("list_id"), posexplode(col("cv")).as(Seq("pos", "v")))
        .groupBy(col("list_id"), col("pos"))
        .agg(round(avg(col("v").cast("double")), 6).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (lid, rows) =>
          val arr = new Array[Double](dim)
          rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
          lid -> arr
        }
      cents = cents.zipWithIndex.map { case (old, i) => means.getOrElse(i, old) }
    }
    cents
  }

  /** IVF (inverted-file) ANN top-k: assign every corpus vector to its
    * nearest of `nlist` coarse centroids, search only the `nprobe` nearest
    * lists per query. With `trainIters = 0` centroids are a deterministic
    * corpus sample (fixed, re-run-stable seed set); `trainIters > 0` runs
    * that many Lloyd's iterations first ([[kmeansCentroids]]) — better
    * list balance and recall, same query plan. At 100 TB the assigned
    * corpus is persisted once ([[ivfWriteVersioned]]), so a query opens
    * only the files of its nprobe lists — the classic IVF pruning,
    * expressed as manifest file skipping ([[ivfTopKVersioned]]).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
              trainIters: Int = 0): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))

    // Assign corpus rows to their nearest centroid: ONE `cosines_lit`
    // pass over the literal centroid matrix + argmax, instead of nlist
    // interpreted higher-order cosines per row. (Centroid order == list
    // id, so argmax index IS the list id.)
    val centroidRows: Seq[Array[Double]] =
      if (trainIters > 0) kmeansCentroids(corpus, idCol, vecCol, nlist, trainIters)
      else seedCentroids(c, nlist)
    import graft.expressions.CosinesExpr.{argMax, cosinesD, topKIndices}
    val assigned = c.withColumn("list_id", argMax(cosinesD(col("cv"), centroidRows)))
    rankProbedLists(assigned, probes(queries, idCol, vecCol, centroidRows, nprobe), k)
  }

  /** Query probe frame: (query_id, qv, list_id) — each query's nprobe
    * best lists from one cosines pass over the literal centroid matrix. */
  private def probes(queries: DataFrame, idCol: String, vecCol: String,
                     cents: Seq[Array[Double]], nprobe: Int): DataFrame = {
    import graft.expressions.CosinesExpr.{cosinesD, topKIndices}
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("list_id",
        explode(topKIndices(cosinesD(col("qv"), cents), nprobe)))
      .select(col("query_id"), col("qv"), col("list_id"))
  }

  /** Shared IVF search tail: join probed lists, exact cosine, rank. */
  private def rankProbedLists(assigned: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val scored = assigned.join(broadcast(q), Seq("list_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cosine", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  // ------------- persisted IVF: ManifestTable-committed index -------------

  /** Table name the IVF index commits under its root. */
  private val IvfTable = "lists"

  /** Soft-deleted vector ids ([[ivfSoftDeleteVersioned]]), committed
    * under the same root. */
  private val IvfTombT = "tombstones"

  /** `assigned` (lists `0 until nlist`) shuffled into contiguous list
    * ranges, one per shuffle partition (at most `nlist` of them), and
    * sorted by list within each. The partition id is computed from
    * `list_id`, so no range sample runs; each write task writes one
    * file, so a file covers one list range. */
  private def clusterByList(assigned: DataFrame, nlist: Int): DataFrame = {
    val parts = math.min(nlist, assigned.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt)
    assigned
      .repartitionById(parts, (col("list_id") * parts / nlist).cast("int"))
      .sortWithinPartitions(col("list_id"))
  }

  /** Materialize the IVF index under `root`: every corpus vector
    * assigned to its nearest centroid (`list_id`) and committed through
    * [[graft.etl.ManifestTable]] as ONE atomic commit-file PUT — snapshot
    * isolation for readers racing an append or delete, "search as of
    * version V" time travel ([[ivfTopKVersioned]]) and retention vacuum
    * ([[graft.etl.ManifestTable.vacuum]]). Rows are range-clustered by
    * list before the write so each file covers a tight list range, and
    * a probed search opens only files whose [min,max] intersects its
    * probed set (a `list_id` `isin` filter the manifest index skips
    * files by) — the classic IVF pruning, expressed as file skipping. `metaCols` ride along in
    * the index files so a filtered search pushes its predicate into the
    * scan instead of joining metadata back in by id. Rewriting a root
    * clears its soft-deleted ids in the same commit. Returns the
    * centroids — immutable index metadata the caller keeps for appends
    * and searches. */
  def ivfWriteVersioned(corpus: DataFrame, idCol: String, vecCol: String,
                        root: String, nlist: Int = 16, trainIters: Int = 0,
                        metaCols: Seq[String] = Nil): Seq[Array[Double]] = {
    import graft.expressions.CosinesExpr.{argMax, cosinesD}
    val c = corpus.select((Seq(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      ++ metaCols.map(col)): _*)
    val cents =
      if (trainIters > 0) kmeansCentroids(corpus, idCol, vecCol, nlist, trainIters)
      else seedCentroids(c, nlist)
    val assigned = clusterByList(
      c.withColumn("list_id", argMax(cosinesD(col("cv"), cents))), nlist)
    // a rebuild over a root that soft-deleted ids clears them in the
    // same commit: they named rows of the index being replaced
    val spark = corpus.sparkSession
    val stale = graft.etl.ManifestTable.current(spark, root)
      .exists(_.entries.exists(_.table == IvfTombT))
    // secondary vec_id bloom on every file (list_id stats stay the
    // primary, range-dense, bloom-free pruning axis — spec-pinned): the
    // vec-id forget path ([[ivfForgetVersioned]]) probes it so a GDPR
    // delete rewrites only files actually CONTAINING a forgotten vector
    graft.etl.ManifestTable.publish(spark, root,
      Map(IvfTable -> assigned) ++ (if (!stale) Map.empty else
        Map(IvfTombT -> spark.range(0).select(col("id").as("vec_id")))),
      statsCols = Map(IvfTable -> "list_id"),
      extraBloomCols = Map(IvfTable -> Seq("vec_id")))
    cents
  }

  /** INCREMENTAL insert of a `delta` batch into an [[ivfWriteVersioned]]
    * index WITHOUT re-training: each delta vector is assigned to its
    * nearest EXISTING centroid (the build's exact argmax — same literal
    * centroid matrix, same tie-break), range-clustered, and committed as
    * a NEW VERSION via the idempotent manifest append — a replayed
    * batch appends 0 rows and creates no version, and readers of the
    * previous version are untouched. Re-training would reassign the
    * whole corpus, which is a rebuild, not an append; as the appended
    * fraction grows, lists get lopsided relative to re-trained
    * centroids — rebuild on the compaction cadence. Search equality
    * (spec-asserted): at fixed centroids, a search of the appended index
    * equals a search of an index built from the full corpus in one
    * shot — assignment is per-vector, so batching cannot change it.
    * `metaCols` must match the write's. Returns rows appended. */
  def ivfAppendVersioned(delta: DataFrame, idCol: String, vecCol: String,
                         root: String, cents: Seq[Array[Double]],
                         metaCols: Seq[String] = Nil): Long = {
    import graft.expressions.CosinesExpr.{argMax, cosinesD}
    val assigned = clusterByList(delta
      .select((Seq(col(idCol).as("vec_id"), col(vecCol).as("cv"))
        ++ metaCols.map(col)): _*)
      .withColumn("list_id", argMax(cosinesD(col("cv"), cents))),
      cents.length)
    // write-time bloom on list_id: an appended file's [min,max] spans
    // every list between the batch's extremes, but a small batch
    // POPULATES only some of them — the bloom lets a probed search
    // ([[ivfTopKVersioned]]'s list_id filter) skip appended files whose
    // range covers a probed list that the batch never touched. The base
    // write carries no LIST_ID bloom deliberately: its range-clustered
    // files are dense (every list inside a file's range is populated),
    // so keptBloom == keptRange by construction — measured, not assumed
    // (Round16OpsSpec pins both directions with filesKept). The
    // secondary vec_id bloom serves only the forget path.
    graft.etl.ManifestTable.appendNew(delta.sparkSession, root, IvfTable,
      assigned, key = Seq("vec_id"), statsCol = Some("list_id"),
      bloomCol = Some("list_id"), extraBloomCols = Seq("vec_id"))
  }

  /** SOFT-delete `ids` (a `vec_id` column) from a [[ivfWriteVersioned]]
    * index: the ids join the root's tombstone table in ONE commit —
    * O(batch), no index file rewritten — and [[ivfTopKVersioned]]
    * anti-joins that table, so deleted vectors stop appearing the
    * moment the commit lands. Re-deleting an id is a distinct-union
    * no-op. The rows themselves stay in the index files, and in every
    * retained version, until [[ivfForgetVersioned]] purges them (an
    * erasure goes there directly) or a rebuild drops them. Returns the
    * committed version. */
  def ivfSoftDeleteVersioned(spark: org.apache.spark.sql.SparkSession,
                             root: String, ids: DataFrame): Long = {
    val fresh = ids.select(col("vec_id").cast("long"))
    val all = tombstonesAt(spark, root, None).fold(fresh)(_.union(fresh))
    graft.etl.ManifestTable.publish(spark, root,
      Map(IvfTombT -> all.distinct().coalesce(1)))
  }

  /** The soft-deleted ids as of `version` (latest when None), or None
    * when that version has no tombstone with rows. */
  private def tombstonesAt(spark: org.apache.spark.sql.SparkSession,
                           root: String,
                           version: Option[Long]): Option[DataFrame] = {
    val entries = version match {
      case Some(v) => graft.etl.ManifestTable.entriesAt(spark, root, v)
      case None => graft.etl.ManifestTable.current(spark, root).map(_.entries)
    }
    val tomb = entries.getOrElse(Nil).filter(_.table == IvfTombT)
    if (!tomb.exists(_.rows.exists(_ > 0L))) None
    else Some(version.fold(graft.etl.ManifestTable.read(spark, root, IvfTombT))(
      graft.etl.ManifestTable.readAt(spark, root, IvfTombT, _)))
  }

  /** Delete from a [[ivfWriteVersioned]] index: manifest copy-on-write
    * at FILE granularity ([[graft.etl.ManifestTable.deleteWhere]]) —
    * only files holding a matching row are rewritten, untouched files
    * carry over byte-identical, and the whole delete is one atomic
    * commit. The delete pays the rewrite up front (no search-side
    * anti-join, no separate vacuum), and every pre-delete version
    * stays searchable until retention
    * drops it — the audit trail a right-to-be-forgotten pipeline wants
    * ([[graft.etl.ManifestTable.snapshotDiff]] shows exactly what each
    * delete removed). Returns (filesRewritten, rowsDeleted). */
  def ivfDeleteVersioned(spark: org.apache.spark.sql.SparkSession,
                         root: String,
                         pred: Column): (Long, Long) =
    // rewritten files re-cover with a bloom: a delete can punch holes in
    // a previously-dense file (lists inside its range with no surviving
    // row), which is exactly the interleaving blooms catch
    graft.etl.ManifestTable.deleteWhere(spark, root, IvfTable, pred,
      statsCol = Some("list_id"), bloomCol = Some("list_id"),
      extraBloomCols = Seq("vec_id"))

  /** Forget a KEY SET of vector ids from the versioned index — the
    * right-to-be-forgotten fast path: the id set probes the per-file
    * SECONDARY vec_id blooms (written by [[ivfWriteVersioned]] /
    * [[ivfAppendVersioned]]), so discovery reads — and the rewrite
    * touches — only files that actually CONTAIN a forgotten vector,
    * instead of scanning every list partition per forget
    * ([[graft.etl.ManifestTable.deleteByKeys]];
    * `mergeDiscoveryStats(root, "lists")` reports the skip rate). One
    * atomic commit; pre-forget versions stay searchable until retention
    * drops them. `ids` must carry a `vec_id` column. Returns
    * (filesRewritten, rowsDeleted). */
  def ivfForgetVersioned(spark: org.apache.spark.sql.SparkSession,
                         root: String, ids: DataFrame): (Long, Long) =
    graft.etl.ManifestTable.deleteByKeys(spark, root, IvfTable,
      ids.select(col("vec_id")), key = Seq("vec_id"),
      statsCol = Some("list_id"), bloomCol = Some("list_id"),
      extraBloomCols = Seq("vec_id"))

  /** Search a [[ivfWriteVersioned]] index, optionally pinned to a
    * retained `version` (time travel — "what did this query return
    * before yesterday's delete?") and optionally filtered by a
    * metadata predicate over index-resident columns (`metaCols` of the
    * write) — the "constrained nearest neighbor" query: top-k within a
    * language / license / date range. The probed-list set prunes at
    * FILE granularity through the manifest's min/max stats and list_id
    * blooms; `pred` pushes into the parquet scan of the surviving files,
    * so no id-join back to a metadata table and no post-hoc filtering
    * of a top-k that came up short. The filter shrinks each probed list,
    * not the probe count: under a highly selective predicate raise
    * `nprobe` (the standard over-probe trade). Ids soft-deleted as of
    * the searched version ([[ivfSoftDeleteVersioned]]) are anti-joined
    * out before ranking. */
  def ivfTopKVersioned(spark: org.apache.spark.sql.SparkSession,
                       root: String, cents: Seq[Array[Double]],
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, nprobe: Int = 4,
                       version: Option[Long] = None,
                       pred: Option[Column] = None): DataFrame = {
    val q = probes(queries, idCol, vecCol, cents, nprobe)
    val probedLists = q.select(col("list_id")).distinct()
      .collect().map(_.getInt(0).toLong).toSeq
    val probed = version
      .fold(graft.etl.ManifestTable.read(spark, root, IvfTable))(
        graft.etl.ManifestTable.readAt(spark, root, IvfTable, _))
      .filter(col("list_id").isin(probedLists: _*))
    val live = tombstonesAt(spark, root, version).fold(probed)(t =>
      probed.join(broadcast(t), Seq("vec_id"), "left_anti"))
    rankProbedLists(pred.fold(live)(live.filter), q, k)
  }

  /** Per-subspace product-quantization codebooks trained on coarse
    * RESIDUALS with Lloyd's iterations under L2 (the PQ metric of Jégou
    * et al. 2011, "Product Quantization for Nearest Neighbor Search").
    * `rsub` is the long-form residual frame (vec_id, m, sub); seeds are
    * the residual subvectors of the `ksub` smallest vec_ids (the same
    * deterministic seed rule as [[kmeansCentroids]]); per-(m,cid,pos)
    * means round to 6dp each iteration so the trained codebooks are
    * engine-portable. Returns `[m][cid][dsub]` — M*ksub*dsub doubles, a
    * driver literal by construction. Empty cells keep their previous
    * centroid. ALL subspaces train in the same passes (the iteration is
    * one argmin projection + one (m,cid,pos)-keyed aggregation — never
    * M separate jobs). */
  private[graft] def pqTrain(rsub: DataFrame, seedIds: Seq[Long], ksub: Int,
                             dsub: Int, iters: Int): Seq[Seq[Seq[Double]]] = {
    val seedRank = seedIds.sorted.zipWithIndex.toMap
    val seedRows = rsub.filter(col("vec_id").isin(seedIds: _*))
      .select(col("vec_id"), col("m"), col("sub")).collect()
    val nSub = seedRows.map(_.getInt(1)).max + 1
    var cb: Seq[Seq[Seq[Double]]] = (0 until nSub).map { mi =>
      seedRows.filter(_.getInt(1) == mi)
        .sortBy(r => seedRank(r.getLong(0)))
        .map(_.getSeq[Double](2).toSeq).toSeq
    }
    (0 until iters).foreach { _ =>
      val means = rsub.withColumn("code", pqCode(cb))
        .select(col("m"), col("code"), posexplode(col("sub")))
        .groupBy(col("m"), col("code"), col("pos"))
        .agg(round(avg(col("col")), 6).as("mn"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (key, rows) =>
          val arr = new Array[Double](dsub)
          rows.foreach(r => arr(r.getInt(2)) = r.getDouble(3))
          key -> arr.toSeq
        }
      cb = cb.zipWithIndex.map { case (cents, mi) =>
        cents.zipWithIndex.map { case (old, cid) =>
          means.getOrElse((mi, cid), old)
        }
      }
    }
    cb
  }

  /** Nearest sub-centroid (argmin L2, ties to the smallest cid — the
    * first position of the minimum) for a long-form (m, sub) row against
    * the literal codebooks. */
  private def pqCode(cb: Seq[Seq[Seq[Double]]]): Column = {
    val dists = transform(element_at(typedLit(cb), col("m") + 1), cvec =>
      aggregate(zip_with(col("sub"), cvec, (a, b) => (a - b) * (a - b)),
        lit(0.0d), _ + _))
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Internal: IVF-PQ build — coarse-assign, residual-split, train the
    * per-subspace codebooks, encode. Returns (cents, codebooks,
    * assigned(vec_id, cv, list_id), codes(vec_id, list_id, m, code,
    * rn2)) where rn2 is the reconstruction's partial squared norm. */
  private def pqEncodeAll(c: DataFrame, dim: Int, nlist: Int, m: Int,
                          ksub: Int, pqIters: Int)
      : (Seq[Array[Double]], Seq[Seq[Seq[Double]]], DataFrame, DataFrame) = {
    require(dim % m == 0, "dim must split evenly into m subspaces")
    val dsub = dim / m
    val cents = seedCentroids(c, nlist)
    val (assigned, rsub) = pqResidSub(c, cents, m, dsub)
    val seedIds = c.orderBy(col("vec_id").asc).limit(ksub)
      .collect().map(_.getLong(0)).toSeq
    val cb = pqTrain(rsub, seedIds, ksub, dsub, pqIters)
    (cents, cb, assigned, pqEncodeRsub(rsub, cents, cb, dsub))
  }

  /** Coarse-assign at FIXED centroids + long-form residual split —
    * the first half of the one-shot build ([[pqEncodeAll]]). Returns
    * (assigned(vec_id, cv, list_id), rsub(vec_id, list_id, m, sub)). */
  private def pqResidSub(c: DataFrame, cents: Seq[Array[Double]], m: Int,
                         dsub: Int): (DataFrame, DataFrame) = {
    import graft.expressions.CosinesExpr.{argMax, cosinesD}
    val centsLit = typedLit(cents.map(_.toSeq))
    val assigned = c.withColumn("list_id", argMax(cosinesD(col("cv"), cents)))
    // residual r = widen(v) - c_list, split into m long-form subvectors
    val resid = zip_with(col("cv"),
      element_at(centsLit, col("list_id") + 1), (a, b) => a.cast("double") - b)
    val rsub = assigned
      .withColumn("r", resid)
      .select(col("vec_id"), col("list_id"),
        explode(transform(sequence(lit(0), lit(m - 1)), i =>
          struct(i.as("m"),
            slice(col("r"), i * dsub + 1, lit(dsub)).as("sub")))).as("ms"))
      .select(col("vec_id"), col("list_id"),
        col("ms.m").as("m"), col("ms.sub").as("sub"))
    (assigned, rsub)
  }

  /** Encode long-form residuals under FIXED codebooks: per (vec, m) the
    * code and the reconstruction's partial squared norm — the only
    * per-vector state search ever touches. */
  private def pqEncodeRsub(rsub: DataFrame, cents: Seq[Array[Double]],
                           cb: Seq[Seq[Seq[Double]]],
                           dsub: Int): DataFrame =
    rsub.withColumn("code", pqCode(cb))
      .withColumn("rn2",
        aggregate(pqRecon(cents, cb, dsub)(col("m"), col("code"), col("list_id")),
          lit(0.0d), (acc, x) => acc + x * x))
      .select("vec_id", "list_id", "m", "code", "rn2")

  /** Reconstruction of sub-centroid (m, cid) inside list `listId`:
    * the coarse centroid's subspace slice plus the codebook entry. */
  private def pqRecon(cents: Seq[Array[Double]], cb: Seq[Seq[Seq[Double]]],
                      dsub: Int)(mi: Column, cid: Column, listId: Column): Column =
    zip_with(
      slice(element_at(typedLit(cents.map(_.toSeq)), listId + 1),
        mi * dsub + 1, lit(dsub)),
      element_at(element_at(typedLit(cb), mi + 1), cid + 1), _ + _)

  /** Internal: the IVF-PQ search tail over the build's code and
    * vector frames: probe, ADC-score,
    * cut at `rerank` by approximate cosine, exact-rerank, emit top-k. */
  private def pqSearchTail(codes: DataFrame, vectors: DataFrame,
                           cents: Seq[Array[Double]], cb: Seq[Seq[Seq[Double]]],
                           dim: Int, queries: DataFrame, idCol: String,
                           vecCol: String, k: Int, nprobe: Int,
                           rerank: Int): DataFrame = {
    val m = cb.length; val dsub = dim / m; val ksub = cb.head.length
    import graft.expressions.CosinesExpr.{cosinesD, topKIndices}
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn2", aggregate(col("qv"), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
    // ADC contribution table: queries x nprobe x m x ksub rows, broadcast
    val adc = q
      .withColumn("list_id",
        explode(topKIndices(cosinesD(col("qv"), cents), nprobe)))
      .withColumn("mc", explode(transform(sequence(lit(0), lit(m - 1)), i =>
        struct(i.as("m"),
          transform(slice(col("qv"), i * dsub + 1, lit(dsub)),
            x => x.cast("double")).as("qsub")))))
      .select(col("query_id"), col("qn2"), col("list_id"),
        col("mc.m").as("m"), col("mc.qsub").as("qsub"))
      .withColumn("cid", explode(sequence(lit(0), lit(ksub - 1))))
      .withColumn("contrib",
        aggregate(zip_with(col("qsub"),
          pqRecon(cents, cb, dsub)(col("m"), col("cid"), col("list_id")), _ * _),
          lit(0.0d), _ + _))
      .select("query_id", "qn2", "list_id", "m", "cid", "contrib")
    val approx = codes
      .join(broadcast(adc),
        codes("list_id") === adc("list_id") && codes("m") === adc("m") &&
          codes("code") === adc("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("contrib")).as("adot"), sum(col("rn2")).as("xn2"),
        min(col("qn2")).as("qn2"))
      .withColumn("approx_cos",
        round(when(sqrt(col("qn2")) * sqrt(col("xn2")) > 0.0d,
          col("adot") / (sqrt(col("qn2")) * sqrt(col("xn2"))))
          .otherwise(lit(0.0d)), 6))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("vec_id").asc)
    val candidates = approx
      .withColumn("arn", row_number().over(wa))
      .filter(col("arn") <= rerank)
      .select("query_id", "vec_id")
    // exact rerank over raw vectors — the only stage touching them
    val scored = candidates
      .join(vectors.select(col("vec_id"), col("cv")), Seq("vec_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"))), Seq("query_id"))
      .withColumn("cosine", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  /** IVF-PQ (the IVFADC structure of Jégou et al. 2011, scored under
    * this module's cosine convention): coarse-quantize the corpus into
    * `nlist` inverted lists, PRODUCT-QUANTIZE each vector's residual
    * (dim = m subspaces x dsub dims, `ksub` centroids per subspace — an
    * m-byte code per vector), then answer a query by probing its
    * `nprobe` best lists and ranking candidates by the cosine of the
    * query against each candidate's RECONSTRUCTION
    * `x-hat = c_list + concat_m cb[m][code_m]` — computed as an
    * asymmetric-distance table join, never by materializing x-hat per
    * pair. The top `rerank` approximate candidates per query are
    * re-ranked with exact cosine over the raw vectors; output is the
    * exact-scored top-k, same shape as every other ANN here.
    *
    * Scale (100 TB): after encoding, the search-side corpus state is
    * (vec_id, list_id, m, code, partial-norm) — the m-byte PQ promise:
    * raw vectors are touched ONLY by the top-`rerank` join. The ADC
    * tables are queries x nprobe x m x ksub rows (a few thousand),
    * broadcast; scoring is one hash join on (list_id, m, code) plus a
    * (query, vec) re-aggregation. Codebooks and coarse centroids are
    * driver literals (nlist*dim + m*ksub*dsub doubles). Per-query work
    * is proportional to the probed lists' code rows, not the corpus.
    *
    * Determinism: residuals are exact double ops from the literal
    * centroids; codebook means round 6dp per iteration; approximate
    * cosines round 6dp before the rerank cut (ties to smaller vec_id);
    * exact cosines round 6dp before the final rank — every step
    * relationally replayed by the oracle. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, dim: Int, k: Int,
                nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, ksub: Int = 16, pqIters: Int = 1,
                rerank: Int = 20): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
    val (cents, cb, assigned, encoded) =
      pqEncodeAll(c, dim, nlist, m, ksub, pqIters)
    pqSearchTail(encoded, assigned, cents, cb, dim, queries, idCol, vecCol,
      k, nprobe, rerank)
  }

  /** Scalar int8 quantization of the embedding column: per-vector
    * symmetric scale `127 / max|x|`, elements mapped with round-half-up
    * (`floor(x*scale + 0.5)`, the formulation both engines implement
    * identically) and clamped to [-127, 127]. At 100 TB this is the
    * standard 4x memory/shuffle reduction for ANN: integer dot products
    * over `qv` recover cosines to ~1e-2, and a production sink stores the
    * elements as TINYINT. Returns (vec_id, v, scale, qv). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val base = df.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    val absmax = aggregate(col("v"), lit(0.0d),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    base.withColumn("scale",
        when(absmax > 0.0d, lit(127.0d) / absmax).otherwise(lit(0.0d)))
      .withColumn("qv", transform(col("v"), x =>
        least(lit(127), greatest(lit(-127),
          floor(x.cast("double") * col("scale") + lit(0.5d)).cast("int")))))
  }

  /** LSH-bucketed ANN top-k with multi-probe. Same output shape as
    * bruteForceTopK; recall < 1.0 by construction, bounded work per query.
    *
    * `probeRadius` is the recall/compute knob: a query probes every bucket
    * within Hamming distance `probeRadius` of its own sign pattern —
    * sum(C(planes, i), i=0..r) probes of the 2^planes buckets. Radius 1
    * (default) is the classic planes+1 multi-probe; radius 2 roughly
    * doubles probed coverage for weakly-similar neighbors. Corpus-side
    * cost is unchanged (one bucket per row) — only the broadcast query
    * fan-out grows, so raising the radius is cheap at any corpus size. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, dim: Int, k: Int, planes: Int = 8,
              probeRadius: Int = 1): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      .withColumn("bucket", hyperplaneBucket(col("cv"), dim, planes))
    // Query probes: every mask with popcount <= probeRadius (mask 0 is the
    // query's own bucket).
    val masks = (0L until (1L << planes))
      .filter(m => java.lang.Long.bitCount(m) <= probeRadius)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qb", hyperplaneBucket(col("qv"), dim, planes))
      .withColumn("bucket",
        explode(array(masks.map(m => col("qb").bitwiseXOR(lit(m))): _*)))
      .drop("qb")
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      // A pair can surface via several probes — dedupe before ranking or
      // row_number would count it twice.
      .dropDuplicates("query_id", "vec_id")
      .withColumn("cosine", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  /** Semantic deduplication (the SemDeDup shape, Abbas et al. 2023):
    * cluster the embedding space with k-means, then inside each cluster
    * mark every vector that has a more-canonical near-duplicate. A vector
    * is `dropped` iff some SMALLER-id vector in its cluster has cosine
    * >= tau with it — deterministic, per-pair semantics (no transitive
    * closure: a dropped vector can still cause later drops, the
    * conservative policy).
    *
    * Output: (vec_id, list_id, dropped).
    *
    * Scale: the all-pairs comparison is confined to single clusters — the
    * self-join shuffles on list_id and pair volume is sum(cluster^2),
    * controlled by nlist; cosines are the codegen'd pair kernel. This is
    * what makes SemDeDup tractable where corpus-wide pairwise cosine
    * is not: nlist grows with the corpus so clusters stay bounded. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int, trainIters: Int, tau: Double): DataFrame = {
    import graft.expressions.CosinesExpr.{argMax, cosinesD}
    val cents = kmeansCentroids(corpus, idCol, vecCol, nlist, trainIters)
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      .withColumn("list_id", argMax(cosinesD(col("cv"), cents)))
    val a = c.select(col("list_id"), col("vec_id").as("id_a"), col("cv").as("va"))
    val b = c.select(col("list_id"), col("vec_id").as("id_b"), col("cv").as("vb"))
    val dropped = a.join(b, Seq("list_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(cosine(col("va"), col("vb")), 6) >= tau)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("dropped", lit(true))
    c.select("vec_id", "list_id")
      .join(dropped, Seq("vec_id"), "left")
      .na.fill(false, Seq("dropped"))
  }

  /** Per-label mean-pooled centroids with intra-cluster dispersion — the
    * "how tight is each class/cluster in embedding space" profile behind
    * semantic-dedup tuning, label auditing, and per-class ANN index
    * sizing.
    *
    * EXACT-ARITHMETIC design: floats are first snapped to the 1e-4 grid
    * as BIGINTs (floor(x*1e4 + 0.5) — one IEEE tie rule); every sum, dot
    * product, and squared norm is then exact integer math — 64-bit where
    * the bound proves it fits (per-member norms), decimal(38,0) for the
    * centroid-side Σcv² / q·cv whose terms scale with member count and
    * would wrap Int64 beyond ~38k members — so partial-agg order cannot
    * move a bit at any label size. Cosine is scale-invariant, so
    * members are compared against the integer SUM vector directly — the
    * mean's division by n is never performed, removing a rounding layer.
    * The only doubles are the final cosine (fixed op sequence:
    * widen, multiply, sqrt, divide) and the 6dp grid snap — both
    * bit-reproducible on any IEEE-754 engine.
    *
    * Output: (label, n_members, centroid_norm, avg_cos, min_cos, max_cos)
    * where centroid_norm is the norm of the MEAN vector (unquantized
    * units) and *_cos are member-to-centroid cosines on the 6dp grid.
    *
    * Scale: pass 1 shuffles (label, pos, partial-sum) — dim x labels rows
    * after map-side combine, independent of corpus size. The centroid
    * frame is labels-many rows (broadcast join). Pass 2 is a scan-side
    * expression per member plus one labels-keyed aggregation. No
    * all-pairs stage anywhere (dispersion is member-to-centroid, not
    * member-to-member). */
  def labelCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
                     labelCol: String): DataFrame = {
    val q = embeddings.select(col(labelCol).as("label"), col(idCol).as("id"),
      transform(col(vecCol),
        x => floor(x.cast("double") * lit(1e4) + lit(0.5d)).cast("long")).as("qv"))
    val centroids = q.select(col("label"), posexplode(col("qv")))
      .groupBy(col("label"), col("pos")).agg(sum(col("col")).as("s"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x.getField("s")).as("cv"))
    // centroid-side accumulators widen to decimal(38,0) BEFORE the
    // multiply: cv entries are member-count-scaled (~1e4·n), so an Int64
    // Σcv² wraps silently beyond ~38k members per label. n2q stays long
    // (per-member: dims·1e8, nowhere near 2^63).
    val dec = (c: Column) => c.cast("decimal(19,0)")
    val dzero = lit(0).cast("decimal(38,0)")
    val dotQC = aggregate(zip_with(col("qv"), col("cv"), (a, b) => dec(a) * dec(b)),
      dzero, (acc, x) => (acc + x).cast("decimal(38,0)"))
    val n2q = aggregate(col("qv"), lit(0L), (acc, x) => acc + x * x)
    val n2c = aggregate(col("cv"), dzero,
      (acc, x) => (acc + dec(x) * dec(x)).cast("decimal(38,0)"))
    val cos6 = when(n2q === 0L || n2c === 0L, lit(0L))
      .otherwise(floor(dotQC.cast("double")
        / sqrt(n2q.cast("double") * n2c.cast("double"))
        * lit(1e6) + lit(0.5d)).cast("long"))
    q.join(broadcast(centroids), Seq("label"))
      .withColumn("cos6", cos6)
      .withColumn("n2c", n2c)
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_members"),
        // ||sum||/n/1e4 = norm of the mean vector in original units
        (floor(sqrt(max(col("n2c")).cast("double")) / count(lit(1)).cast("double")
          / lit(1e4) * lit(1e6) + lit(0.5d)) / lit(1e6)).as("centroid_norm"),
        (floor(sum(col("cos6")).cast("double") / count(lit(1)).cast("double")
          + lit(0.5d)) / lit(1e6)).as("avg_cos"),
        (min(col("cos6")).cast("double") / lit(1e6)).as("min_cos"),
        (max(col("cos6")).cast("double") / lit(1e6)).as("max_cos"))
  }

  /** Per-DIMENSION standardization (feature z-scoring) of an embedding
    * column — the whitening-lite step before distance computations mix
    * dimensions of different variance (per-vector scaling like
    * [[quantizeInt8]] can't fix a hot dimension; this is the corpus-
    * statistics complement).
    *
    * Exactness contract: inputs snap to the 1e6 grid
    * (`floor(x*1e6+0.5)` as long), per-dimension sum / sum-of-squares
    * are ORDER-FREE integer aggregates, and mean/std derive from them
    * by one fixed IEEE sequence — so the z-scores are bit-identical
    * across partitionings, re-runs, and engines (the oracle replays the
    * integer math verbatim). A zero-variance dimension standardizes to
    * z = 0 rather than dividing by zero.
    *
    * Scale: one explode for the dimension statistics (shuffle keyed on
    * dimension index — at most `maxDims` uniform keys), then the
    * z-transform is a SCAN-SIDE literal-array fold: no second shuffle,
    * no join, the stats ride the plan as two dim-sized literals.
    * `maxDims` is the fail-loud cap on that collect (embedding width is
    * a model constant, never data-dependent).
    *
    * Output: per-vector integer stats over the 1e6-grid z-scores
    * (z_sum, z_norm2 — order-free longs, the q82 output convention). */
  def standardizeDims(df: DataFrame, idCol: String, vecCol: String,
                      maxDims: Int = 4096): DataFrame = {
    val xi = df.select(col(idCol), posexplode(col(vecCol)))
      .select(col(idCol), col("pos"),
        floor(col("col").cast("double") * lit(1e6) + lit(0.5d))
          .cast("long").as("x"))
    val stats = xi.groupBy(col("pos"))
      .agg(sum(col("x")).as("s"), sum(col("x") * col("x")).as("s2"),
        count(lit(1)).as("n"))
      .limit(maxDims + 1).collect()
    require(stats.length <= maxDims,
      s"standardizeDims: more than $maxDims dimensions — the dimension" +
        " statistics must stay driver-bounded; raise maxDims only for a" +
        " genuinely wider model")
    val byPos = stats.map(r => r.getInt(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val dims = byPos.size
    require((0 until dims).forall(byPos.contains), "ragged embedding widths")
    val means = (0 until dims).map { d =>
      val (s, _, n) = byPos(d); s.toDouble / n
    }
    val stds = (0 until dims).map { d =>
      val (_, s2, n) = byPos(d)
      val m = means(d)
      math.sqrt(s2.toDouble / n - m * m)
    }
    val z6 = transform(col(vecCol), (x, i) => {
      val xl = floor(x.cast("double") * lit(1e6) + lit(0.5d)).cast("long")
      val m = element_at(typedLit(means), i + 1)
      val sd = element_at(typedLit(stds), i + 1)
      when(sd > lit(0.0d),
        floor((xl.cast("double") - m) / sd * lit(1e6) + lit(0.5d))
          .cast("long"))
        .otherwise(lit(0L))
    })
    df.select(col(idCol), z6.as("__z"))
      .select(col(idCol),
        size(col("__z")).cast("long").as("n_dims"),
        aggregate(col("__z"), lit(0L), (a, z) => a + z).as("z_sum"),
        aggregate(col("__z"), lit(0L), (a, z) => a + z * z).as("z_norm2"))
  }

  /** Johnson–Lindenstrauss random projection to `outDims` dimensions —
    * the index-shrinking step before ANN at scale: a 4× narrower vector
    * is 4× less shuffle, cache, and dot-product work, and the JL lemma
    * bounds the distance distortion. The projection matrix is the SAME
    * splitmix64-derived literal family as the LSH hyperplanes
    * ([[planeRows]]) — fixed constants both engines inline, no stored
    * model.
    *
    * Exactness: each output component is an ORDER-FREE integer sum of
    * per-dimension products snapped to the 1e6 grid
    * (`floor(x_d * M_pd * 1e6 + 0.5)` summed as longs), so the
    * projected vectors are bit-identical across partitionings and
    * engines — no float accumulation order anywhere.
    *
    * Scan-side only: one projection per row, zero shuffle. Output:
    * (idCol, `proj` array<long> of grid components, `pnorm2` their
    * exact squared norm). */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
                dim: Int, outDims: Int): DataFrame = {
    val rows = planeRows(dim, outDims)
    val comps = rows.map { r =>
      aggregate(
        zip_with(col(vecCol), typedLit(r.toSeq), (x, m) =>
          floor(x.cast("double") * m * lit(1e6) + lit(0.5d)).cast("long")),
        lit(0L), (acc, v) => acc + v)
    }
    df.select(col(idCol), array(comps: _*).as("proj"))
      .withColumn("pnorm2",
        aggregate(col("proj"), lit(0L), (a, v) => a + v * v))
  }

  /** LEAVE-ONE-OUT nearest-centroid classification over an embedding
    * corpus — the label-noise screen: each vector is classified against
    * per-label centroids computed WITHOUT itself (so a vector can't
    * vote for its own label), and a `correct = false` row flags a
    * likely mislabel or an overlapping class.
    *
    * The LOO correction needs no second pass: with per-label dimension
    * sums S_l and counts n_l, the held-out centroid of x's own label is
    * (S_l - x)/(n_l - 1), so cosine against it derives from the SAME
    * integer sums as everyone else's —
    *   dot(x, S_l - x) = dot(x, S_l) - ||x||²,
    *   ||S_l - x||²    = ||S_l||² - 2 dot(x, S_l) + ||x||²
    * (the scalar n_l-1 cancels in cosine). Inputs snap to the 1e4 grid
    * so every sum/product above is an ORDER-FREE long (overflow-guarded
    * against the collected stats), and cosines are one fixed IEEE
    * sequence snapped to 6dp with ties broken by smallest label.
    *
    * Scale: one explode for the (label, dim)-keyed sums — bounded keys,
    * uniform — then classification is a SCAN-SIDE fold against literal
    * per-label sum arrays: no join, no second shuffle, no pairwise
    * anything. A single-member label's held-out centroid is undefined:
    * that label is skipped for its own member (sentinel, never wins).
    *
    * Output: (vec_id, label, pred, cos6, correct). */
  def centroidLooEval(df: DataFrame, idCol: String, vecCol: String,
                      labelCol: String, maxLabels: Int = 256,
                      maxDims: Int = 4096): DataFrame = {
    val xi = df.select(col(labelCol).cast("long").as("lab"),
        posexplode(col(vecCol)))
      .select(col("lab"), col("pos"),
        floor(col("col").cast("double") * lit(1e4) + lit(0.5d))
          .cast("long").as("x"))
    val rows = xi.groupBy(col("lab"), col("pos"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .limit(maxLabels * maxDims + 1).collect()
    require(rows.length <= maxLabels * maxDims,
      s"centroidLooEval: more than $maxLabels*$maxDims (label, dim)" +
        " cells — label/dim cardinality must stay driver-bounded")
    val labels = rows.map(_.getLong(0)).distinct.sorted
    val dims = rows.map(_.getInt(1)).max + 1
    val sArr: Map[Long, Array[Long]] = labels.map { l =>
      val a = new Array[Long](dims)
      rows.filter(_.getLong(0) == l).foreach(r => a(r.getInt(1)) = r.getLong(2))
      l -> a
    }.toMap
    val nOf: Map[Long, Long] =
      rows.groupBy(_.getLong(0)).map { case (l, rs) => l -> rs.head.getLong(3) }
    val qOf: Map[Long, Long] = labels.map { l =>
      val q = sArr(l).foldLeft(BigInt(0))((acc, s) => acc + BigInt(s) * s)
      require(q.isValidLong,
        "centroidLooEval: ||S||² overflows long — corpus too large for" +
          " the 1e4 grid; shrink the grid or shard by label")
      l -> q.toLong
    }.toMap
    val xiArr = transform(col(vecCol),
      x => floor(x.cast("double") * lit(1e4) + lit(0.5d)).cast("long"))
    val base = df.select(col(idCol), col(labelCol).cast("long").as("label"),
        xiArr.as("__xi"))
      .withColumn("__p",
        aggregate(col("__xi"), lit(0L), (a, v) => a + v * v))
    // per-label 6dp cosine against the (possibly held-out) centroid;
    // single-member own label gets a sentinel that can never win
    val scored = labels.map { m =>
      val dm = aggregate(
        zip_with(col("__xi"), typedLit(sArr(m).toSeq), (a, b) => a * b),
        lit(0L), (acc, v) => acc + v)
      val own = col("label") === m
      val aNum = when(own, dm - col("__p")).otherwise(dm)
      val nc = when(own, lit(qOf(m)) - lit(2L) * dm + col("__p"))
        .otherwise(lit(qOf(m)))
      val effN = when(own, lit(nOf(m) - 1L)).otherwise(lit(nOf(m)))
      val c6 = when(effN > 0L && nc > 0L && col("__p") > 0L,
        floor(aNum.cast("double")
          / sqrt(col("__p").cast("double") * nc.cast("double"))
          * lit(1e6) + lit(0.5d)).cast("long"))
        .otherwise(lit(-2000000L))
      struct(c6.as("c6"), lit(-m).as("nl"))
    }
    val best = array_max(array(scored: _*))
    base.select(col(idCol), col("label"),
        (-best.getField("nl")).as("pred"), best.getField("c6").as("cos6"))
      .withColumn("correct", col("pred") === col("label"))
  }

  /** Per-label centroid direction vs the corpus centroid — the
    * embedding-space drift diagnostic: a label (or source / time
    * slice) whose centroid points away from the corpus mean is the
    * stratum to inspect before mixing. Unlike [[centroidLooEval]]
    * (driver-side literal centroids, a classifier), this is FULLY
    * relational — no collect, any label cardinality.
    *
    * Exact arithmetic: elements snap to a 6dp integer grid scan-side
    * (`floor(x·1e6 + 0.5)`), per-(label, dim) sums are exact BIGINTs,
    * and cosine is scale-invariant so the UNNORMALIZED sum vectors
    * stand in for the centroids. Dot products and squared norms
    * accumulate in decimal(38,0) (a 1e6-grid sum vector squared
    * overflows BIGINT at real corpus size); one sqrt+division per
    * label at the end, floored onto the 6dp grid.
    *
    * Scale: posexplode → (label, dim)-keyed sum (map-side combined;
    * output is |labels|·dim rows), dim-keyed re-aggregation for the
    * corpus vector, one broadcast join on dim, one 1-row broadcast
    * for the corpus norm. The exploded stage is the only data-sized
    * shuffle and its key space is uniform. */
  def labelCentroidCosine(df: DataFrame, vecCol: String,
                          labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val el = df.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("d", "x")))
      .select(col("label"), (col("d") + 1).as("d"),
        floor(col("x").cast("double") * lit(1e6) + lit(0.5d))
          .cast("long").as("x6"))
    val ls = el.groupBy(col("label"), col("d")).agg(sum(col("x6")).as("s"))
    val gs = ls.groupBy(col("d")).agg(sum(col("s")).as("g"))
    val gn = gs.agg(sum(col("g").cast(dec) * col("g").cast(dec)).as("nb"))
    val nOf = df.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_vecs"))
    ls.join(broadcast(gs), Seq("d"))
      .groupBy(col("label"))
      .agg(sum(col("s").cast(dec) * col("g").cast(dec)).as("dot"),
        sum(col("s").cast(dec) * col("s").cast(dec)).as("na"))
      .crossJoin(broadcast(gn))
      .join(nOf, Seq("label"))
      .select(col("label"), col("n_vecs"),
        floor(col("dot").cast("double")
          / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
          * lit(1e6) + lit(0.5d)).cast("double").divide(lit(1e6))
          .as("cos_to_corpus"),
        // centroid vector norm of the label on the same 6dp grid — a
        // low value flags an incoherent (self-cancelling) stratum.
        // ||centroid|| = ||sum||/(n·1e6); ·1e6 to grid units cancels
        // the grid factor, leaving floor(||sum||/n + 0.5)/1e6
        floor(sqrt(col("na").cast("double")) / col("n_vecs").cast("double")
          + lit(0.5d)).cast("double").divide(lit(1e6)).as("centroid_norm"))
  }
}
