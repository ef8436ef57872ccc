package graft

import org.apache.spark.sql.functions._

/** Round-14 fixes on crafted fixtures: the streaming ingestion gate
  * (O(1) replay guard, quarantine audit sink, empty-history bootstrap),
  * the ManifestTable-committed IVF index, and the tombstone-aware graph
  * compaction cadence. */
class Round14OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- CorpusIngest: O(1) replay guard + quarantine + empty bootstrap ----

  private def ingest(batch: org.apache.spark.sql.DataFrame, root: String,
                     batchId: Long): Unit =
    graft.streaming.CorpusIngest.ingestBatchManifest(batch, "text",
      "doc_id", root, batchId, bands = 16, rowsPerBand = 2, shingleN = 3,
      threshold = 0.8)

  /** A fresh ingestion root whose index and corpus already hold `h`. */
  private def withHistory(prefix: String,
                          h: org.apache.spark.sql.DataFrame): String = {
    val root = tmpDir(prefix) + "/corpus"
    graft.operators.Dedup.minhashIndexWriteVersioned(h, "text", "doc_id", root)
    graft.etl.ManifestTable.publish(spark, root, Map("corpus" -> h))
    root
  }

  private def ids(root: String, table: String, c: String): Set[Long] =
    graft.etl.ManifestTable.read(spark, root, table)
      .select(col(c)).distinct().as[Long].collect().toSet

  test("CorpusIngest: committed-batch replay is O(1) — never reads the index") {
    val h = Seq((1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val root = withHistory("ing-o1", h)
    val b = Seq((10L, "granite rivers remember every glacier that carved them long ago"))
      .toDF("doc_id", "text")
    ingest(b, root, batchId = 0L)
    assert(ids(root, "corpus", "doc_id") == Set(1L, 10L))
    val v = graft.etl.ManifestTable.current(spark, root).get.version
    // replay with the index's files destroyed and a batch that fails the
    // moment any job reads it: the watermark fast path must return
    // before touching either
    graft.etl.IncrementalLoad.deleteRecursively(
      java.nio.file.Paths.get(root, "index"))
    val poisoned = b.withColumn("text",
      when(expr("raise_error('replay read the batch') IS NULL"), col("text")))
    ingest(poisoned, root, batchId = 0L)
    assert(graft.etl.ManifestTable.current(spark, root).get.version == v,
      "no-op replay commits nothing")
    assert(graft.etl.ManifestTable.read(spark, root, "corpus").count() == 2,
      "no-op replay")
  }

  test("CorpusIngest: kept + quarantined = batch; quarantine replay-idempotent") {
    val h = Seq((1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val root = withHistory("ing-quar", h)
    val b = Seq(
      (10L, "seven crimson airships drifted across the copper morning skyline slowly"),
      (11L, "the quick brown fox jumps over the lazy dog again and again"), // == h1
      (12L, "granite rivers remember every glacier that carved them long ago"),
      (13L, "granite rivers remember every glacier that carved them long ago")) // == 12
      .toDF("doc_id", "text")
    ingest(b, root, batchId = 0L)
    val kept = ids(root, "corpus", "doc_id") -- Set(1L)
    def q() = graft.etl.ManifestTable.read(spark, root, "quarantine")
    val quarantined = ids(root, "quarantine", "doc_id")
    assert(kept == Set(10L, 12L), s"kept: $kept")
    assert(quarantined == Set(11L, 13L), s"quarantined: $quarantined")
    assert((kept ++ quarantined).size == 4, "kept + quarantined = batch")
    val rows = q().select("doc_id", "matched_id", "kind")
      .as[(Long, Long, String)].collect().toSet
    assert(rows == Set((11L, 1L, "index"), (13L, 12L, "batch")),
      s"audit carries what matched: $rows")
    assert(q().filter(col("kind") === "index" && col("jaccard") < 0.8).isEmpty,
      "index-dup jaccard recorded at/above threshold")
    // a replay of the same batch id: no duplicate audit or corpus rows
    ingest(b, root, batchId = 0L)
    assert(q().count() == 2, "quarantine idempotent")
    assert(graft.etl.ManifestTable.read(spark, root, "corpus").count() == 3,
      "corpus idempotent")
  }

  test("CorpusIngest: empty-history bootstrap (empty index, no corpus dir)") {
    val root = tmpDir("ing-empty") + "/corpus" // nothing committed yet
    val b = Seq(
      (10L, "seven crimson airships drifted across the copper morning skyline slowly"),
      (11L, "seven crimson airships drifted across the copper morning skyline slowly"))
      .toDF("doc_id", "text")
    ingest(b, root, batchId = 0L)
    assert(ids(root, "corpus", "doc_id") == Set(10L),
      "within-batch dedup still applies")
    assert(ids(root, "index", "id") == Set(10L), "index bootstrapped from empty")
    // and a second batch dedupes against the now-populated index
    val b2 = Seq((20L, "seven crimson airships drifted across the copper morning skyline slowly"))
      .toDF("doc_id", "text")
    ingest(b2, root, batchId = 1L)
    assert(ids(root, "corpus", "doc_id") == Set(10L),
      "cross-batch dup gated after bootstrap")
  }

  // ---- CorpusIngest manifest mode: the batch is ONE transaction ----

  test("CorpusIngest manifest mode: all three dup kinds gated; replay " +
    "is an O(1) watermark no-op; orphans of a pre-commit crash invisible") {
    def doc(id: Long, text: String) = (id, text)
    val root = tmpDir("ingest-mf") + "/corpus"
    def ingestM(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      graft.streaming.CorpusIngest.ingestBatchManifest(b, "text", "doc_id",
        root, id, bands = 16, rowsPerBand = 2, shingleN = 3,
        threshold = 0.8)
    val b0 = Seq( // bootstrap batch — no tables exist yet
      doc(1L, "the quick brown fox jumps over the lazy dog again and again"),
      doc(2L, "colorless green ideas sleep furiously under winter moons tonight"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      doc(10L, "seven crimson airships drifted across the copper morning skyline slowly"),
      doc(11L, "the quick brown fox jumps over the lazy dog again and again"), // == 1
      doc(12L, "granite rivers remember every glacier that carved them long ago"),
      doc(13L, "granite rivers remember every glacier that carved them long ago")) // == 12
      .toDF("doc_id", "text")
    val b2 = Seq(
      doc(20L, "seven crimson airships drifted across the copper morning skyline slowly"), // == 10
      doc(21L, "binary stars trade plasma in slow ten thousand year waltzes"))
      .toDF("doc_id", "text")
    ingestM(b0, 0L); ingestM(b1, 1L); ingestM(b2, 2L)
    def corpusIds() = graft.etl.ManifestTable.read(spark, root, "corpus")
      .select("doc_id").as[Long].collect().toSet
    def indexIds() = graft.etl.ManifestTable.read(spark, root, "index")
      .select(col("id")).distinct().as[Long].collect().toSet
    val live = Set(1L, 2L, 10L, 12L, 21L)
    assert(corpusIds() == live, s"corpus gates all three dup kinds: ${corpusIds()}")
    assert(indexIds() == live, "index stays in step with the corpus")
    val q = graft.etl.ManifestTable.read(spark, root, "quarantine")
    assert(q.select("doc_id", "matched_id", "kind")
      .as[(Long, Long, String)].collect().toSet
      == Set((11L, 1L, "index"), (13L, 12L, "batch"), (20L, 10L, "index")),
      "quarantine audits every gated doc exactly once")
    // replay: the watermark no-ops before touching anything — version
    // count and both sinks unchanged
    val v = graft.etl.ManifestTable.current(spark, root).get.version
    ingestM(b1, 1L)
    assert(graft.etl.ManifestTable.current(spark, root).get.version == v &&
      corpusIds() == live, "watermark replay is a no-op")
    // a pre-commit crash leaves only ORPHAN data files — readers never
    // see them (nothing references them until a commit lands)
    Seq(doc(99L, "never committed")).toDF("doc_id", "text")
      .write.parquet(s"$root/corpus/d-deadbeefcafe")
    assert(corpusIds() == live, "orphans of a crashed batch are invisible")
    // skew-cap parity with the directory family: the combined cap holds
    // across manifest appends too (every bucket ≤ maxBucket)
    assert(graft.etl.ManifestTable.read(spark, root, "index")
      .groupBy("band", "bh").count().filter(col("count") > 1000).isEmpty)
  }

  test("CorpusIngest manifest mode: end-to-end stream across restarts") {
    val root0 = tmpDir("ingest-mf-e2e")
    val root = s"$root0/corpus"
    val src = s"$root0/src"
    val b1 = Seq(
      (10L, "seven crimson airships drifted across the copper morning skyline slowly"),
      (11L, "seven crimson airships drifted across the copper morning skyline slowly"))
      .toDF("doc_id", "text")
    val b2 = Seq(
      (20L, "seven crimson airships drifted across the copper morning skyline slowly"), // == 10
      (21L, "binary stars trade plasma in slow ten thousand year waltzes"))
      .toDF("doc_id", "text")
    def run(): Unit = {
      val stream = spark.readStream.schema(b1.schema).parquet(src)
      val q = graft.streaming.CorpusIngest.dedupIngestManifest(stream,
        "text", "doc_id", root, s"$root0/ckpt").start()
      q.processAllAvailable(); q.stop()
    }
    b1.coalesce(1).write.mode("append").parquet(src)
    run() // stream run 1 (bootstrap: no tables exist)
    b2.coalesce(1).write.mode("append").parquet(src)
    run() // stream run 2 (restart from the checkpoint)
    assert(graft.etl.ManifestTable.read(spark, root, "corpus")
      .select("doc_id").as[Long].collect().toSet == Set(10L, 21L),
      "within-batch and cross-batch dups gated across restarts")
    assert(graft.etl.ManifestTable.read(spark, root, "quarantine")
      .select("doc_id", "matched_id").as[(Long, Long)].collect().toSet
      == Set((11L, 10L), (20L, 10L)), "audit complete across restarts")
  }

  // ---- versioned IVF: ManifestTable-committed index lifecycle ----

  test("versioned IVF: pinned reader byte-stable across append + delete; " +
    "retention vacuum; probed-set file skipping") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .filter(col("vec_id") < 60)
    val isDelta = col("vec_id") >= 5 && col("vec_id") < 25
    val qs = e.filter(col("vec_id") < 3)
    val root = tmpDir("ivf-ver") + "/ivf"
    def search(v: Option[Long]) = graft.operators.Similarity
      .ivfTopKVersioned(spark, root, cents, qs, "vec_id", "embedding",
        k = 5, nprobe = 4, version = v)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Long)]
      .collect().toSet
    lazy val cents = graft.operators.Similarity.ivfWriteVersioned(
      e.filter(!isDelta), "vec_id", "embedding", root, nlist = 16,
      metaCols = Seq("label"))
    cents // force the v1 build
    val r1 = search(None)
    // append commits version 2; the pinned-v1 board must not move
    val appended = graft.operators.Similarity.ivfAppendVersioned(
      e.filter(isDelta), "vec_id", "embedding", root, cents,
      metaCols = Seq("label"))
    assert(appended == 20L, s"delta rows appended: $appended")
    assert(search(Some(1L)) == r1, "v1 pinned across the append")
    val r2 = search(None)
    assert(r2 != r1, "latest sees the delta")
    // replayed append: 0 rows, NO new version (idempotent)
    assert(graft.operators.Similarity.ivfAppendVersioned(
      e.filter(isDelta), "vec_id", "embedding", root, cents,
      metaCols = Seq("label")) == 0L)
    assert(graft.etl.ManifestTable.current(spark, root).get.version == 2L,
      "replay created no version")
    // delete one returned id by manifest copy-on-write (version 3)
    val dead = r2.map(_._2).head
    graft.operators.Similarity.ivfDeleteVersioned(spark, root,
      col("vec_id") === dead)
    assert(!search(None).exists(_._2 == dead), "deleted id gone at latest")
    assert(search(Some(2L)) == r2 && search(Some(1L)) == r1,
      "both prior snapshots byte-stable across the delete")
    // retention: vacuum to the current version only — time travel to
    // v1/v2 must now fail LOUDLY, latest must still serve
    graft.etl.ManifestTable.vacuum(spark, root, keepVersions = 1)
    intercept[IllegalArgumentException] { search(Some(1L)) }
    assert(!search(None).exists(_._2 == dead), "latest survives vacuum")
    // probed-set pruning is real: a single-list probe opens fewer
    // files than the table holds (manifest min/max file skipping)
    val (kept, total) = graft.etl.ManifestFileIndex.filesKept(
      graft.etl.ManifestTable.readPruned(spark, root, "lists", "list_id", 0L, 0L))
    assert(kept < total && total > 1,
      s"file skipping prunes: kept $kept of $total")
    // filtered search: the metadata predicate evaluates against the
    // index-resident label column, pushed into the parquet scan of the
    // surviving files (the q328 semantics on the versioned family)
    val filteredDf = graft.operators.Similarity.ivfTopKVersioned(spark,
      root, cents, qs, "vec_id", "embedding", k = 5, nprobe = 8,
      pred = Some(col("label") === 1))
    val lbl = e.select(col("vec_id"), col("label")).as[(Long, Int)]
      .collect().toMap
    val filtered = filteredDf.select("query_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    assert(filtered.nonEmpty &&
      filtered.forall { case (_, v) => lbl(v) == 1 },
      "every filtered hit satisfies the predicate")
    val plan = filteredDf.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("label"),
      s"label predicate pushed into the manifest-file scan")
  }

  // ---- graphAppend: tombstone-aware compaction cadence ----

  /** The Round12/13 graph fixture: 8 well-separated direction groups of
    * 4 vectors each (ids i, i+8, i+16, i+24 share direction i%8). */
  private def groupedVecs() = {
    val rows = (0 until 32).map { i =>
      val d = i % 8
      val v = Array.tabulate(64)(j =>
        if (j == d * 8) 10.0 else if (j == d * 8 + 1) (i / 8).toDouble else 0.1)
        .toSeq
      (i.toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("graphAppend: past the tombstone bar the append compacts; " +
    "below it dead edges persist") {
    val vecs = groupedVecs()
    val isDelta = col("vec_id") >= 24 // one whole direction tier
    val base = vecs.filter(!isDelta)
    val delta = vecs.filter(isDelta)
    val root = tmpDir("gann-cadence") + "/g"
    graft.operators.GraphAnn.graphWriteVersioned(base, "vec_id", "embedding",
      dim = 64, planes = 4, tables = 2, degree = 8, refine = 1,
      root = root, upperMod = 4, upperDegree = 8, upperRefine = 1)
    // M deletes: 6 of 24 base nodes dead = 6/32 of the post-append
    // corpus — under the bar at 0.25, over it at 0.15
    val deadIds = Seq(1L, 2L, 3L, 9L, 10L, 11L)
    graft.operators.GraphAnn.graphDeleteVersioned(spark, root,
      deadIds.toDF("vec_id"))
    def deadEdges() = graft.etl.ManifestTable.read(spark, root, "edges")
      .filter(col("src").isin(deadIds: _*)).count()
    def tombstoned() = graft.etl.ManifestTable.read(spark, root, "tombstones")
      .count()
    assert(deadEdges() > 0, "fixture: dead nodes hold edges pre-append")
    // below the bar: plain append — dead edges still republished,
    // tombstones still present (the documented churn cost)
    graft.operators.GraphAnn.graphAppendVersioned(spark, root, base, delta,
      "vec_id", "embedding", rounds = 2, beamWidth = 16,
      entries = Seq(4L, 12L), vacuumAtTombstoneFraction = 0.25)
    assert(deadEdges() > 0 && tombstoned() == deadIds.size,
      "below the bar the append stays an append")
    // over the bar: the SAME append escalates to a vacuum rebuild
    graft.operators.GraphAnn.graphAppendVersioned(spark, root, base, delta,
      "vec_id", "embedding", rounds = 2, beamWidth = 16,
      entries = Seq(4L, 12L), vacuumAtTombstoneFraction = 0.15)
    assert(deadEdges() == 0, "dead edges physically gone")
    assert(tombstoned() == 0, "tombstones cleared by the escalated append")
    // search equality: the compacting append's index == a fresh build
    // over the live corpus (base minus deleted, plus delta)
    val fresh = tmpDir("gann-cadence-fresh") + "/g"
    graft.operators.GraphAnn.graphWriteVersioned(
      vecs.filter(!col("vec_id").isin(deadIds: _*)), "vec_id", "embedding",
      dim = 64, planes = 4, tables = 2, degree = 8, refine = 1,
      root = fresh, upperMod = 4, upperDegree = 8, upperRefine = 1)
    def layer(r: String, l: String) = graft.etl.ManifestTable
      .read(spark, r, l).select("src", "dst").as[(Long, Long)]
      .collect().toSet
    assert(layer(root, "edges") == layer(fresh, "edges") &&
      layer(root, "upper_edges") == layer(fresh, "upper_edges"),
      "post-cadence index is a pure function of the live corpus")
  }

  // ---- versioned graph-ANN: one commit per maintenance op ----

  test("versioned graph index: pinned search stable across delete + " +
    "append; vacuum equals a fresh build; cadence escalates in one commit") {
    val vecs = groupedVecs()
    val isDelta = col("vec_id") >= 24
    val base = vecs.filter(!isDelta)
    val root = tmpDir("gann-ver") + "/g"
    def search(v: Option[Long]) = graft.operators.GraphAnn
      .layeredTopKVersioned(spark, root, vecs, vecs.filter(col("vec_id") === 8L),
        "vec_id", "embedding", dim = 64, planes = 4, tables = 2,
        entries = Seq(0L, 4L), rounds = 3, beamWidth = 8, version = v)
      .select("vec_id", "rank").as[(Long, Long)].collect().toSet
    val v1 = graft.operators.GraphAnn.graphWriteVersioned(base, "vec_id",
      "embedding", dim = 64, planes = 4, tables = 2, degree = 8,
      refine = 1, root = root, upperMod = 4, upperDegree = 8,
      upperRefine = 1)
    assert(v1 == 1L)
    val r1 = search(None)
    // soft delete: one commit, tombstones only; pinned v1 unmoved
    val dead = r1.map(_._1).head
    graft.operators.GraphAnn.graphDeleteVersioned(spark, root,
      Seq(dead).toDF("vec_id"))
    assert(!search(None).exists(_._1 == dead), "tombstoned never returned")
    assert(search(Some(1L)) == r1, "v1 pinned across the delete")
    // append below the cadence bar: one commit, edges only; pinned
    // versions unmoved, latest routes to the inserted tier
    graft.operators.GraphAnn.graphAppendVersioned(spark, root, base,
      vecs.filter(isDelta), "vec_id", "embedding", rounds = 2,
      beamWidth = 16, entries = Seq(0L, 4L),
      vacuumAtTombstoneFraction = 0.5)
    assert(search(Some(1L)) == r1, "v1 pinned across the append")
    assert(!search(None).exists(_._1 == dead), "tombstones carried")
    // vacuum: both layers + cleared tombstones in ONE commit; latest
    // equals a fresh build over the live corpus
    graft.operators.GraphAnn.graphVacuumVersioned(spark, root, vecs,
      "vec_id", "embedding", dim = 64, planes = 4, tables = 2,
      degree = 8, refine = 1)
    val fresh = tmpDir("gann-ver-fresh") + "/g"
    graft.operators.GraphAnn.graphWriteVersioned(
      vecs.filter(col("vec_id") =!= dead), "vec_id", "embedding",
      dim = 64, planes = 4, tables = 2, degree = 8, refine = 1,
      root = fresh)
    def layer(r: String, t: String) = graft.etl.ManifestTable
      .read(spark, r, t).select("src", "dst").as[(Long, Long)]
      .collect().toSet
    assert(layer(root, "edges") == layer(fresh, "edges") &&
      layer(root, "upper_edges") == layer(fresh, "upper_edges"),
      "post-vacuum latest is a pure function of the live corpus")
    assert(graft.etl.ManifestTable.read(spark, root, "tombstones")
      .isEmpty, "tombstone table cleared in the same commit")
    // and v1 is STILL searchable (retention, not overwrite)
    assert(search(Some(1L)) == r1, "v1 pinned across the vacuum")
    // cadence: past the tombstone bar the append escalates to a vacuum
    // rebuild that lands as ONE commit — exactly one new version, dead
    // edges gone, tombstone table cleared atomically with the layers
    val deadIds = Seq(1L, 2L, 3L, 9L, 10L, 11L) // 6/32 ≥ the 0.15 bar
    graft.operators.GraphAnn.graphDeleteVersioned(spark, root,
      deadIds.toDF("vec_id"))
    val vBefore = graft.etl.ManifestTable.current(spark, root).get.version
    graft.operators.GraphAnn.graphAppendVersioned(spark, root, base,
      vecs.filter(isDelta), "vec_id", "embedding", rounds = 2,
      beamWidth = 16, entries = Seq(0L, 4L),
      vacuumAtTombstoneFraction = 0.15)
    assert(graft.etl.ManifestTable.current(spark, root).get.version
      == vBefore + 1, "the escalated append is ONE commit")
    assert(graft.etl.ManifestTable.read(spark, root, "tombstones").isEmpty
      && graft.etl.ManifestTable.read(spark, root, "edges")
        .filter(col("src").isin(deadIds: _*)).isEmpty,
      "dead edges reclaimed and tombstones cleared atomically")
  }
}
