package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Dedup

/** Continuous corpus ingestion behind the near-dup gate — the streaming
  * face of the dedup-index lifecycle
  * ([[graft.operators.Dedup.minhashIndexWriteVersioned]] and its
  * append/forget/pairs methods). Corpus, index and quarantine are
  * tables of ONE [[graft.etl.ManifestTable]] root. Each micro-batch is
  * deduped WITHIN itself, then against the index (batch-proportional —
  * the corpus never re-signs), and only the unique survivors append to
  * the corpus and contribute their signatures to the index. Gated
  * near-dups are not dropped silently: the quarantine table carries
  * what matched them (`doc_id, matched_id, jaccard, kind, batch_id`) —
  * `kind = "batch"` for within-batch losers (matched_id = the surviving
  * cluster representative; jaccard only when directly paired —
  * transitive members carry null), `kind = "index"` for cross-history
  * dups (matched_id = the smallest matching historical id, jaccard =
  * the strongest match). This is the shape a 100 TB training-data
  * pipeline actually runs: the index is the only state that grows with
  * the corpus, and every batch touches it key-locally.
  *
  * Exactly-once: the entire batch lands as a SINGLE transactional
  * commit carrying the `(writer, batchId)` watermark. foreachBatch
  * replays a failed batch UNDER THE SAME batch id (the Structured
  * Streaming contract); the replay either sees the watermark (O(1)
  * manifest resolve, before touching the batch) and no-ops, or
  * recomputes and commits whole. A pre-commit crash leaves only orphan
  * data files that readers never see and `ManifestTable.vacuum`
  * reclaims. An empty history needs no bootstrap: the first batch
  * creates the tables.
  */
object CorpusIngest {

  /** Audit rows for the gated docs of one batch: within-batch losers
    * with their surviving representative (direct-pair jaccard when
    * available, null for transitive members) and cross-history dups
    * with their strongest match. */
  private def quarantineRows(pairs: DataFrame, batchDrops: DataFrame,
                             indexDups: DataFrame): DataFrame = {
    val sym = pairs.select(col("id_a").as("id"), col("id_b").as("mid"),
        col("jaccard"))
      .unionByName(pairs.select(col("id_b").as("id"),
        col("id_a").as("mid"), col("jaccard")))
    val batchQ = batchDrops
      .join(sym, batchDrops("id") === sym("id") &&
        batchDrops("cluster_id") === sym("mid"), "left")
      .groupBy(batchDrops("id").as("doc_id"),
        col("cluster_id").as("matched_id"))
      .agg(max(col("jaccard")).as("jaccard"))
      .withColumn("kind", lit("batch"))
    val indexQ = indexDups.select(col("new_id").as("doc_id"),
      col("matched_id"), col("jaccard"), lit("index").as("kind"))
    batchQ.unionByName(indexQ)
  }

  /** Start the ingestion stream. `stream` must carry `idCol` (long) and
    * `textCol`; band settings MUST match the index's.
    *
    * `compactLogEvery` > 0 runs [[graft.etl.ManifestTable.compactLog]]
    * every that-many batches (keeping `keepVersions` commits) INSIDE the
    * stream — the hygiene cadence a per-batch committer needs or the
    * commit log grows one file per trigger forever. Safe mid-stream:
    * commit files are self-contained snapshots and the watermark rides
    * the current one, so dropping old commits never perturbs a replay.
    *
    * `compactAtFileCount` > 0 compacts the corpus/index tables whenever
    * their manifest file count crosses the bar (the CdcApply adaptive
    * trigger): per-batch transactional appends fragment both tables one
    * file set per trigger, and a batch-count cadence cannot see how
    * fast that actually happens. */
  def dedupIngestManifest(stream: DataFrame, textCol: String, idCol: String,
                          root: String, checkpoint: String,
                          bands: Int = 16, rowsPerBand: Int = 2,
                          shingleN: Int = 3, threshold: Double = 0.8,
                          quarantine: Boolean = true,
                          maxBucket: Int = 1000,
                          compactLogEvery: Int = 0,
                          keepVersions: Int = 10,
                          compactAtFileCount: Int = 0): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatchManifest(batch, textCol, idCol, root, batchId, bands,
          rowsPerBand, shingleN, threshold, quarantine, maxBucket,
          compactLogEvery, keepVersions, compactAtFileCount)
        ()
      }

  /** One micro-batch (exposed for replay testing). */
  private[graft] def ingestBatchManifest(batch: DataFrame, textCol: String,
                                         idCol: String, root: String,
                                         batchId: Long, bands: Int,
                                         rowsPerBand: Int, shingleN: Int,
                                         threshold: Double,
                                         quarantine: Boolean = true,
                                         maxBucket: Int = 1000,
                                         compactLogEvery: Int = 0,
                                         keepVersions: Int = 10,
                                         compactAtFileCount: Int = 0): Unit = {
    import graft.etl.ManifestTable
    val spark = batch.sparkSession
    val Writer = "corpus-ingest"
    // O(1) replay fast path: the watermark rides the manifest itself
    if (ManifestTable.batchApplied(spark, root, Writer, batchId)) return
    val cached = batch.localCheckpoint()
    if (cached.isEmpty) return
    val pairs = Dedup.minhashPairs(cached, textCol, idCol, bands,
      rowsPerBand, shingleN, threshold).localCheckpoint()
    val batchDrops = Dedup.clusters(pairs)
      .filter(col("id") =!= col("cluster_id")).localCheckpoint()
    val surv = cached
      .join(batchDrops.select(col("id").as(idCol)), Seq(idCol), "left_anti")
      .localCheckpoint()
    val cur = ManifestTable.current(spark, root)
    def tbl(t: String): Option[DataFrame] =
      if (cur.exists(_.entries.exists(_.table == t)))
        Some(ManifestTable.read(spark, root, t))
      else None
    val indexDups = ((tbl("corpus"), tbl("index")) match {
      case (Some(corpus), Some(idx)) =>
        Dedup.incrementalPairsFrame(surv, corpus,
          idx.select(col("id"), col("bh"), col("band")), textCol, idCol,
          bands, rowsPerBand, shingleN, threshold)
      case _ => spark.range(0)
        .select(col("id").as("new_id"), col("id").as("old_id"),
          lit(0d).as("jaccard"))
    }).groupBy(col("new_id"))
      .agg(min(col("old_id")).as("matched_id"),
        max(col("jaccard")).as("jaccard"))
      .localCheckpoint()
    val unique = surv
      .join(indexDups.select(col("new_id").as(idCol)), Seq(idCol),
        "left_anti")
      .localCheckpoint()
    val indexRows = Dedup.cappedIndexRows(
      tbl("index").getOrElse(Dedup.emptyMinhashIndex(spark)),
      unique, textCol, idCol, bands, rowsPerBand, shingleN, maxBucket)
    val tables = Map("corpus" -> unique, "index" -> indexRows) ++
      (if (quarantine)
        Map("quarantine" -> quarantineRows(pairs, batchDrops, indexDups)
          .withColumn("batch_id", lit(batchId)))
      else Map.empty)
    // band stats cluster the index for banded maintenance reads; the id
    // bloom gives keyed forgets (right-to-be-forgotten deletes against
    // the ingestion-maintained index) the same file-level pruning the
    // versioned index family has — batch-proportional cost, one extra
    // scan of the just-written files
    ManifestTable.transactionalAppendAll(spark, root, tables, Writer,
      batchId, statsCols = Map("index" -> "band"),
      bloomCols = Map("index" -> "id"))
    if (compactAtFileCount > 0)
      // adaptive defrag (the CdcApply file-count trigger): per-batch
      // appends add one file set per table per trigger; compact a table
      // when ITS manifest crosses the bar AND sits well above its
      // post-compaction ideal (compactIfFragmented — an absolute bar
      // alone would rewrite a legitimately-large table every batch),
      // preserving the index's band clustering so file skipping
      // survives; a lost maintenance CAS is skipped, never stream-fatal
      Seq(("corpus", Option.empty[String], Option.empty[String]),
          ("index", Some("band"), Some("id"))).foreach {
        case (t, stats, bloom) =>
          // bloomCol so compaction keeps the index's id-bloom coverage
          // (keyed forgets consume it); stats keep band clustering
          ManifestTable.compactIfFragmented(spark, root, t,
            compactAtFileCount, statsCol = stats, bloomCol = bloom)
      }
    if (compactLogEvery > 0 && batchId % compactLogEvery == 0)
      ManifestTable.compactLog(spark, root, keepVersions)
    ()
  }
}
