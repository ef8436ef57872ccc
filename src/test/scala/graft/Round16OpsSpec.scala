package graft

import org.apache.spark.sql.functions._

/** Round-16 coverage: the round-15 verdict items (O(A+M) affected-file
  * matching on the merge path, GraphAnn LSH-init hot-bucket guard,
  * unified merge rewrite core, write-time blooms for versioned indexes,
  * adaptive CDC compaction, transactionalMerge retry, recall-driven
  * dedup config) and the round-15 ADVICE items. */
class Round16OpsSpec extends SparkSpec {
  import spark.implicits._

  /** A manifest table of `nFiles` files with deterministic per-file key
    * ranges: file i holds keys [i*100, i*100+9]. */
  private def manyFileTable(root: String, nFiles: Int): Unit = {
    val rdd = spark.sparkContext.parallelize(0 until nFiles, nFiles)
      .mapPartitionsWithIndex { (i, _) =>
        (0 until 10).map(j => org.apache.spark.sql.Row(i * 100L + j,
          s"v$i-$j")).iterator
      }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    graft.etl.ManifestTable.publish(spark, root,
      Map("t" -> spark.createDataFrame(rdd, schema)),
      statsCols = Map("t" -> "k"))
  }

  // ---- verdict #1: O(A+M) affected-file discovery over a many-entry
  // manifest (the per-micro-batch CDC merge path) ----

  test("partitionAffected: merge over a many-entry manifest rewrites " +
    "exactly the containing files; every other entry carries verbatim") {
    val root = tmpDir("aff-many") + "/t"
    manyFileTable(root, 40)
    val before = graft.etl.ManifestTable.current(spark, root).get
    assert(before.entries.count(_.table == "t") == 40, "40 data files")
    // touch keys in files 3 and 27 only
    val src = Seq((307L, "UP"), (2701L, "UP"), (99999L, "NEW")).toDF("k", "v")
    val (files, updated, inserted) = graft.etl.ManifestTable.mergeInto(
      spark, root, "t", src, key = Seq("k"), statsCol = Some("k"))
    assert((files, updated, inserted) == (2L, 2L, 1L),
      s"two files rewritten, two updated, one inserted: $files/$updated/$inserted")
    val after = graft.etl.ManifestTable.current(spark, root).get
    val carried = before.entries.map(_.relPath).toSet
      .intersect(after.entries.map(_.relPath).toSet)
    assert(carried.size == 38, s"38/40 entries carried verbatim: ${carried.size}")
    // the merged state is exact
    val got = graft.etl.ManifestTable.read(spark, root, "t")
      .as[(Long, String)].collect().toMap
    assert(got(307L) == "UP" && got(2701L) == "UP" && got(99999L) == "NEW")
    assert(got(306L) == "v3-6" && got(2700L) == "v27-0", "untouched rows intact")
    assert(got.size == 401, s"400 + 1 inserted: ${got.size}")
  }

  test("partitionAffected: transactionalMerge delete-only batch over a " +
    "many-entry manifest rewrites only the containing file") {
    val root = tmpDir("aff-del") + "/t"
    manyFileTable(root, 25)
    val before = graft.etl.ManifestTable.current(spark, root).get
    val ok = graft.etl.ManifestTable.transactionalMerge(spark, root, "t",
      upserts = Seq.empty[(Long, String)].toDF("k", "v"),
      deleteKeys = Seq(1203L).toDF("k"),
      key = Seq("k"), writerId = "w16", batchId = 1L, statsCol = Some("k"))
    assert(ok, "batch applied")
    val after = graft.etl.ManifestTable.current(spark, root).get
    val carried = before.entries.filter(_.table == "t").map(_.relPath).toSet
      .intersect(after.entries.map(_.relPath).toSet)
    assert(carried.size == 24, s"24/25 entries carried verbatim: ${carried.size}")
    val got = graft.etl.ManifestTable.read(spark, root, "t")
      .as[(Long, String)].collect().toMap
    assert(!got.contains(1203L) && got.size == 249, "exactly one row deleted")
  }

  // ---- verdict #2: GraphAnn LSH-init hot-bucket guard ----

  test("GraphAnn hot-bucket guard: a degenerate all-identical corpus " +
    "caps the init self-join loudly; the entries backstop keeps every " +
    "query seeded; a benign corpus is untouched") {
    // 120 identical vectors — every row lands in ONE bucket per table;
    // pre-guard this was a single O(n²) init task
    val ident = (0L until 120L).map(i => (i, Array.fill(8)(1.0f))).toDF(
      "vec_id", "embedding")
    val g = graft.operators.GraphAnn.knnGraph(ident, "vec_id", "embedding",
      dim = 8, planes = 2, tables = 2, degree = 4, refine = 0,
      maxBucket = 50)
    assert(g.count() == 0L, "dropped degenerate bucket yields no init edges")
    val initStats = graft.operators.Dedup
      .bucketStats("graft.graphann.init.buckets")
    assert(initStats.exists(s => s.droppedRows >= 120L &&
      s.maxBucketSize == 120L),
      s"init cap recorded the degenerate bucket: $initStats")
    val seeds = graft.operators.GraphAnn.lshSeeds(ident,
      ident.filter(col("vec_id") < 3), "vec_id", "embedding",
      dim = 8, planes = 2, tables = 2, entries = Seq(7L, 11L),
      maxBucket = 50)
    val byQuery = seeds.groupBy("query_id").count()
      .as[(Long, Long)].collect().toMap
    assert(byQuery.keySet == Set(0L, 1L, 2L) &&
      byQuery.values.forall(_ == 2L),
      s"every query still holds exactly the 2 backstop seeds: $byQuery")
    assert(graft.operators.Dedup.bucketStats("graft.graphann.seeds.buckets")
      .exists(_.droppedRows >= 120L), "seed-side cap recorded")
    // benign corpus under the same cap: nothing dropped, graph intact
    val spread = (0L until 60L).map { i =>
      val v = Array.fill(8)(0.0f); v((i % 8).toInt) = 1.0f; v((i % 3).toInt) += 0.5f
      (i, v)
    }.toDF("vec_id", "embedding")
    val g2 = graft.operators.GraphAnn.knnGraph(spread, "vec_id", "embedding",
      dim = 8, planes = 2, tables = 2, degree = 4, refine = 0,
      maxBucket = 50)
    assert(g2.count() > 0L, "benign corpus builds edges")
    assert(graft.operators.Dedup.bucketStats("graft.graphann.init.buckets")
      .exists(_.droppedRows == 0L), "no rows dropped on the benign corpus")
  }

  // ---- ADVICE: graphAppend non-escalation path under persisted params ----

  test("graphAppendVersioned: the NON-escalation merge runs under the " +
    "committed build params") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .filter(col("vec_id") < 40)
    val base = e.filter(col("vec_id") < 36)
    val delta = e.filter(col("vec_id") >= 36)
    val root = tmpDir("gann-drift") + "/g"
    // degree 3 / planes 2 / tables 1: a merge under any other knobs
    // would show in the merged adjacency
    graft.operators.GraphAnn.graphWriteVersioned(base, "vec_id", "embedding",
      dim = 64, planes = 2, tables = 1, degree = 3, refine = 0,
      root = root, upperMod = 4, upperDegree = 6, upperRefine = 0)
    def layer(t: String) = graft.etl.ManifestTable.read(spark, root, t)
      .select("src", "dst")
    val upper0 = layer("upper_edges").as[(Long, Long)].collect().toSet
    // no tombstones and 4/36 appended → the append takes the
    // NON-escalation merge path
    graft.operators.GraphAnn.graphAppendVersioned(spark, root, base, delta,
      "vec_id", "embedding", rounds = 2, beamWidth = 16,
      entries = Seq(0L, 4L, 8L))
    assert(layer("upper_edges").as[(Long, Long)].collect().toSet == upper0,
      "no escalation: the routing layer is carried")
    val outDeg = layer("edges").groupBy("src").count()
      .select(col("src"), col("count")).as[(Long, Long)].collect().toMap
    assert(outDeg.values.forall(_ <= 3L),
      s"every adjacency obeys the committed degree 3: $outDeg")
    assert((36L until 40L).forall(i => outDeg.get(i).exists(_ > 0L)),
      s"every inserted node got edges: $outDeg")
  }

  // ---- verdict: write-time blooms for the versioned IVF index ----

  test("ivfAppendVersioned write-time bloom: a sparse appended file " +
    "spanning the list range is bloom-skipped for untouched lists; the " +
    "dense base write carries no bloom and loses nothing") {
    def oneHot(i: Int): Array[Float] = {
      val v = Array.fill(8)(0.0f); v(i) = 1.0f; v
    }
    // ids 0..7 are one-hot e_0..e_7 → seed centroids ARE the 8 axes and
    // list i holds exactly direction i; base populates every list
    val base = (0L until 64L).map(i => (i, oneHot((i % 8).toInt)))
      .toDF("vec_id", "embedding")
    val root = tmpDir("ivf-bloom") + "/ivf"
    val cents = graft.operators.Similarity.ivfWriteVersioned(
      base, "vec_id", "embedding", root, nlist = 8)
    // dense base: nothing for a bloom to catch — and none was paid
    // files a list probe keeps (range stats and blooms) vs files a
    // range filter on the same list keeps (range stats alone)
    def lists = graft.etl.ManifestTable.read(spark, root, "lists")
    def keptBy(c: org.apache.spark.sql.Column) =
      graft.etl.ManifestFileIndex.filesKept(lists.filter(c))
    def inStats(l: Long): (Long, Long, Long) = {
      val (kb, tot) = keptBy(col("list_id").isin(l))
      (kb, keptBy(col("list_id").between(l, l))._1, tot)
    }
    val (kb0, kr0, tot0) = inStats(3L)
    assert(kb0 == kr0, s"base files have no bloom to consult: $kb0/$kr0/$tot0")
    // append lists {0,7} ONLY, forced into ONE file → its [min,max]
    // spans 0..7 while it POPULATES only the two extremes
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try {
      val delta = Seq((100L, oneHot(0)), (107L, oneHot(7)))
        .toDF("vec_id", "embedding")
      assert(graft.operators.Similarity.ivfAppendVersioned(
        delta, "vec_id", "embedding", root, cents) == 2L)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // probe an untouched interior list: range stats keep the appended
    // file (3 ∈ [0,7]) — the bloom skips it
    val (kb, kr, tot) = inStats(3L)
    assert(kb < kr, s"bloom beats range on the interleaved file: $kb < $kr ($tot)")
    // skipping is I/O-only: the pruned read equals the full-scan filter
    val pruned = lists.filter(col("list_id").isin(3L))
      .select("vec_id").as[Long].collect().toSet
    val full = graft.etl.ManifestTable.read(spark, root, "lists")
      .filter(col("list_id") === 3).select("vec_id").as[Long].collect().toSet
    assert(pruned == full && full.nonEmpty, "pruned read equals full scan")
    // a probed list the append DID touch keeps the appended file
    val (kb7, _, _) = inStats(7L)
    assert(kb7 > kb, s"list 7 keeps its appended file: $kb7 > $kb")
  }

  // ---- verdict: adaptive CDC compaction (file-count trigger) ----

  test("CdcApply compactAtFileCount: a varying-touch-rate stream compacts " +
    "when the manifest fragments, not on a batch-count clock") {
    val root = tmpDir("cdc-adaptive") + "/t"
    def batch(id: Long, rows: Seq[(Long, String)]): Unit =
      graft.streaming.CdcApply.applyBatch(
        rows.map { case (k, v) => (k, v, id, "U") }.toDF("k", "v", "seq", "op"),
        root, "t", Seq("k"), Seq("seq"), "op", id,
        statsCol = Some("k"), compactEvery = 0, compactAtFileCount = 5)
    def files() = graft.etl.ManifestTable.current(spark, root).get
      .entries.count(_.table == "t")
    // low-touch phase: stays under the bar, NO compaction fires even
    // after many batches (a batch-count cadence would have ticked)
    batch(0L, Seq((1L, "a")))
    batch(1L, Seq((2L, "b")))
    batch(2L, Seq((3L, "c")))
    val low = files()
    assert(low == 3, s"low-touch phase: one file per batch, no compaction: $low")
    // high-touch burst crosses the 5-file bar → compaction fires from
    // the fragmentation signal itself (no batch-count clock involved);
    // without it the table would now hold >= 5 files
    batch(3L, Seq((4L, "d"), (5L, "e")))
    batch(4L, Seq((6L, "f"), (7L, "g")))
    assert(files() <= 3, s"file-count trigger compacted: ${files()}")
    assert(graft.etl.ManifestTable.read(spark, root, "t")
      .select("k", "v").as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"),
             (6L, "f"), (7L, "g")),
      "contents unchanged by adaptive compaction")
  }

  // ---- verdict: concurrent-committer rebase for transactionalMerge ----

  test("transactionalMerge rebase: two interleaved writers on different " +
    "tables of one root both land every batch; a lost commit CAS retries " +
    "against the new head instead of aborting") {
    val root = tmpDir("merge-race") + "/r"
    val nBatches = 4
    def writer(table: String, writerId: String): Runnable = () =>
      (1 to nBatches).foreach { b =>
        val ok = graft.etl.ManifestTable.transactionalMerge(spark, root,
          table,
          upserts = Seq((b.toLong, s"$table-$b", b.toLong))
            .toDF("k", "v", "seq"),
          deleteKeys = Seq.empty[Long].toDF("k"),
          key = Seq("k"), writerId = writerId, batchId = b.toLong,
          statsCol = Some("k"), maxRetries = 20)
        assert(ok, s"$writerId batch $b applied")
      }
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(("ta", "wa"), ("tb", "wb")).map { case (t, w) =>
      new Thread(() => {
        try { barrier.await(); writer(t, w).run() }
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"no writer aborted: ${Option(errs.peek())}")
    Seq("ta", "tb").foreach { t =>
      val got = graft.etl.ManifestTable.read(spark, root, t)
        .select("k", "v").as[(Long, String)].collect().toSet
      assert(got == (1 to nBatches).map(b => (b.toLong, s"$t-$b")).toSet,
        s"every $t batch landed exactly once: $got")
    }
    // exactly-once survived the races: replaying an old batch no-ops
    assert(!graft.etl.ManifestTable.transactionalMerge(spark, root, "ta",
      Seq((99L, "dup", 1L)).toDF("k", "v", "seq"),
      Seq.empty[Long].toDF("k"), Seq("k"), "wa", 1L),
      "replay under the watermark no-ops after rebases")
  }

  // ---- verdict: recall board wired into dedup config selection ----

  test("chooseLshConfig: picks the cheapest config meeting the measured " +
    "recall floor; unmeasurable or unmeetable floors fail loudly; " +
    "dedupCorpusTuned dedups under the chosen knobs") {
    // graded near-dup corpus (the q333 shape) on a small slice
    val base = spark.read.parquet(s"${sf()}/documents.parquet")
      .filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
    val toks = split(col("text"), " ")
    val frac = when(col("doc_id") % 8 === 0, lit(1.0d))
      .when(col("doc_id") % 8 === 2, lit(0.9d))
      .when(col("doc_id") % 8 === 4, lit(0.75d))
      .otherwise(lit(0.6d))
    val variants = base.select((col("doc_id") + 1000000L).as("doc_id"),
      array_join(slice(toks, lit(1),
        greatest(lit(3), floor(size(toks) * frac).cast("int"))), " ")
        .as("text"))
    val graded = base.unionByName(variants)
    val (b, r) = graft.operators.Dedup.chooseLshConfig(graded, "text",
      "doc_id", recallFloorP6 = 900000L)
    val choice = graft.operators.Dedup
      .lshConfigChoice("graft.dedup.lsh.choice").get
    assert((b, r) == (choice.bands, choice.rowsPerBand))
    assert(choice.recallP6 >= 900000L,
      s"chosen config meets the floor: $choice")
    // the cheapest-qualifying rule: no other qualifying config has
    // fewer measured candidates
    val board = graft.operators.Dedup.minhashRecallBoard(graded, "text",
      "doc_id").select("bands", "rows_per_band", "n_cand", "recall_p6")
      .as[(Long, Long, Long, Long)].collect()
    val qualifying = board.filter(_._4 >= 900000L)
    assert(qualifying.nonEmpty &&
      qualifying.map(_._3).min == choice.nCand,
      s"cheapest qualifying config chosen: $choice vs ${qualifying.toSeq}")
    // unmeetable floor under a lossy-only config set → loud
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.chooseLshConfig(graded, "text", "doc_id",
        recallFloorP6 = 999999L, configs = Seq((2, 4)))
    }
    // a sample with no exact near-dup pairs is unmeasurable → loud
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.chooseLshConfig(
        Seq((1L, "alpha beta gamma delta epsilon"),
            (2L, "one two three four five six")).toDF("doc_id", "text"),
        "text", "doc_id", recallFloorP6 = 500000L)
    }
    // the tuned dedup equals dedupCorpus under the chosen knobs
    val tuned = graft.operators.Dedup.dedupCorpusTuned(graded, graded,
      "text", "doc_id", recallFloorP6 = 900000L, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    val manual = graft.operators.Dedup.dedupCorpus(graded, "text",
      "doc_id", bands = b, rowsPerBand = r, shingleN = 3, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(tuned == manual, "tuned dedup == dedupCorpus(chosen config)")
  }

  // ---- merge discovery narrowing: stats + bloom candidate pruning ----

  test("merge discovery reads O(candidate files), not O(table): manifest " +
    "min/max prunes a range-clustered table exactly; blooms prune a " +
    "stats-less table; insert-heavy batches stay narrow") {
    val root = tmpDir("disc-stats") + "/t"
    manyFileTable(root, 40) // file i holds keys [i*100, i*100+9], stats on k
    // update two keys of file 3 + insert a fresh key far outside every
    // file's range — the exact per-file containment test keeps file 3 only
    val (files, updated, inserted) = graft.etl.ManifestTable.mergeInto(
      spark, root, "t", Seq((307L, "UP"), (303L, "UP2"), (99999L, "NEW"))
        .toDF("k", "v"), key = Seq("k"), statsCol = Some("k"))
    assert((files, updated, inserted) == (1L, 2L, 1L))
    val st = graft.etl.ManifestTable.mergeDiscoveryStats(root).get
    assert(st == graft.etl.ManifestTable.DiscoveryStats(1L, 40L),
      s"discovery scanned 1/40 files: $st")
    val got = graft.etl.ManifestTable.read(spark, root, "t")
      .as[(Long, String)].collect().toMap
    assert(got(307L) == "UP" && got(303L) == "UP2" && got(99999L) == "NEW"
      && got.size == 401, "narrowed discovery lost nothing")

    // stats-less table, write-time blooms only: bloom probes narrow the
    // scan (3% fpp leaves a small false-positive tail, never the table)
    val root2 = tmpDir("disc-bloom") + "/t"
    val rdd = spark.sparkContext.parallelize(0 until 40, 40)
      .mapPartitionsWithIndex { (i, _) =>
        (0 until 10).map(j => org.apache.spark.sql.Row(i * 100L + j,
          s"v$i-$j")).iterator }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    graft.etl.ManifestTable.publish(spark, root2,
      Map("t" -> spark.createDataFrame(rdd, schema)),
      bloomCols = Map("t" -> "k"))
    val (f2, u2, i2) = graft.etl.ManifestTable.mergeInto(spark, root2, "t",
      Seq((1705L, "UP")).toDF("k", "v"), key = Seq("k"))
    assert((f2, u2, i2) == (1L, 1L, 0L))
    val st2 = graft.etl.ManifestTable.mergeDiscoveryStats(root2).get
    assert(st2.totalFiles == 40L && st2.scannedFiles < 10L,
      s"bloom narrowing pruned the stats-less table: $st2")
    assert(graft.etl.ManifestTable.read(spark, root2, "t")
      .filter(col("k") === 1705L).select("v").as[String].head() == "UP")
  }

  // ---- CDC end-to-end: time-clustered stats + key blooms ----

  test("CdcApply bloomCol: a time-clustered key-probed table (the " +
    "canonical CDC shape) narrows per-batch discovery by key bloom; " +
    "compaction keeps the coverage") {
    val root = tmpDir("cdc-bloom") + "/t"
    // bootstrap: many files, clustered on seq (time), probed by k
    def batch(id: Long, rows: Seq[(Long, String, Long)]): Unit =
      graft.streaming.CdcApply.applyBatch(
        rows.map { case (k, v, seq) => (k, v, seq, "U") }
          .toDF("k", "v", "seq", "op"),
        root, "t", Seq("k"), Seq("seq"), "op", id,
        statsCol = Some("seq"), bloomCol = Some("k"),
        compactAtFileCount = 12)
    // 8 bootstrap-ish batches, keys scattered so seq-stats can't prune
    // key probes
    (0L until 8L).foreach { b =>
      batch(b, (0L until 5L).map(j => (b * 100L + j * 17L, s"v$b-$j",
        b * 10L + j)))
    }
    val filesBefore = graft.etl.ManifestTable.current(spark, root).get
      .entries.count(_.table == "t")
    // an update batch touching ONE old key: discovery must narrow by
    // the key bloom (seq stats are useless for a key probe)
    batch(8L, Seq((317L, "UPDATED", 999L)))
    val st = graft.etl.ManifestTable.mergeDiscoveryStats(root).get
    assert(st.scannedFiles < st.totalFiles,
      s"key bloom narrowed discovery on the time-clustered table: $st")
    val got = graft.etl.ManifestTable.read(spark, root, "t")
      .filter(col("k") === 317L).select("v").as[String].collect().toSeq
    assert(got == Seq("UPDATED"), s"merge landed: $got")
    assert(graft.etl.ManifestTable.read(spark, root, "t").count() == 40L,
      "one update, no inserts, nothing lost")
    // compaction (file-count trigger fired during the run) re-covered
    // the rewritten files: every data file still has a k-bloom
    val entries = graft.etl.ManifestTable.current(spark, root).get
      .entries.filter(_.table == "t")
    assert(entries.forall(_.bloom.exists(_._1 == "k")),
      s"compaction/merge kept bloom coverage on all ${entries.size} files")
    assert(entries.size < filesBefore || filesBefore < 12,
      "adaptive compaction bounded fragmentation")
  }

  // ---- ingest-manifest adaptive defrag ----

  test("CorpusIngest manifest mode: compactAtFileCount defrags corpus and " +
    "index when their manifests fragment; contents unchanged") {
    val root = tmpDir("ingest-defrag")
    def ingest(id: Long, docs: Seq[(Long, String)]): Unit =
      graft.streaming.CorpusIngest.ingestBatchManifest(
        docs.toDF("doc_id", "text"), "text", "doc_id", root, id,
        bands = 4, rowsPerBand = 2, shingleN = 3, threshold = 0.8,
        quarantine = false, compactAtFileCount = 6)
    (0L until 6L).foreach { b =>
      ingest(b, Seq((b * 10L + 1L,
        s"unique document number $b with distinct words alpha$b beta$b " +
          s"gamma$b delta$b epsilon$b zeta$b")))
    }
    val entries = graft.etl.ManifestTable.current(spark, root).get.entries
    val corpusFiles = entries.count(_.table == "corpus")
    assert(corpusFiles < 6,
      s"corpus defragmented below the batch count: $corpusFiles")
    assert(graft.etl.ManifestTable.read(spark, root, "corpus").count() == 6L,
      "all six unique documents present after defrag")
    // the index still gates a replayed near-dup correctly
    ingest(6L, Seq((999L,
      "unique document number 0 with distinct words alpha0 beta0 " +
        "gamma0 delta0 epsilon0 zeta0")))
    assert(graft.etl.ManifestTable.read(spark, root, "corpus").count() == 6L,
      "near-dup of doc 1 gated by the compacted index")
  }

  // ---- deleteByKeys: the narrowed right-to-be-forgotten path ----

  test("deleteByKeys: forget-by-key discovery reads only candidate " +
    "files; snapshot isolation and exact counts hold") {
    val root = tmpDir("del-keys") + "/t"
    manyFileTable(root, 30)
    val before = graft.etl.ManifestTable.current(spark, root).get
    val (files, rows) = graft.etl.ManifestTable.deleteByKeys(spark, root,
      "t", Seq(503L, 507L, 1201L).toDF("k"), key = Seq("k"),
      statsCol = Some("k"))
    assert((files, rows) == (2L, 3L),
      s"two containing files rewritten, three rows deleted: $files/$rows")
    val st = graft.etl.ManifestTable.mergeDiscoveryStats(root).get
    assert(st.scannedFiles == 2L && st.totalFiles == 30L,
      s"forget discovery read 2/30 files: $st")
    val after = graft.etl.ManifestTable.read(spark, root, "t")
      .select("k").as[Long].collect().toSet
    assert(!after.contains(503L) && !after.contains(507L) &&
      !after.contains(1201L) && after.size == 297,
      "exactly the forgotten keys vanished")
    // pre-delete snapshot still serves the forgotten rows (audit trail)
    assert(graft.etl.ManifestTable.readAt(spark, root, "t", before.version)
      .filter(col("k") === 503L).count() == 1L, "time travel intact")
    // forgetting absent keys is a no-op that writes no version
    val v = graft.etl.ManifestTable.current(spark, root).get.version
    assert(graft.etl.ManifestTable.deleteByKeys(spark, root, "t",
      Seq(424242L).toDF("k"), key = Seq("k"), statsCol = Some("k"))
      == ((0L, 0L)))
    assert(graft.etl.ManifestTable.current(spark, root).get.version == v,
      "absent-key forget creates no version")
  }

  // ---- review hardening: discovery soundness edges ----

  test("bloom discovery probes BOTH canonical key forms: a type-coerced " +
    "probe (DOUBLE source against a LONG bloom) still finds its file") {
    val root = tmpDir("disc-coerce") + "/t"
    // stats-less, bloom-covered: discovery depends on the bloom alone
    val rdd = spark.sparkContext.parallelize(0 until 10, 10)
      .mapPartitionsWithIndex { (i, _) =>
        (0 until 10).map(j => org.apache.spark.sql.Row(i * 100L + j,
          s"v$i-$j")).iterator }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    graft.etl.ManifestTable.publish(spark, root,
      Map("t" -> spark.createDataFrame(rdd, schema)),
      bloomCols = Map("t" -> "k"))
    // DOUBLE-typed forget keys: raw form "305.0" is NOT in any bloom;
    // the long-form probe "305" is — a single-form probe would skip the
    // containing file and silently keep the row
    val (files, rows) = graft.etl.ManifestTable.deleteByKeys(spark, root,
      "t", Seq(305.0d).toDF("k"), key = Seq("k"))
    assert((files, rows) == (1L, 1L),
      s"coerced probe found and rewrote its file: $files/$rows")
    assert(graft.etl.ManifestTable.read(spark, root, "t")
      .filter(col("k") === 305L).count() == 0L, "row actually forgotten")
  }

  test("merge on a root whose path contains a space: the URI-encoded " +
    "input_file_name form still matches the manifest side") {
    val root = tmpDir("disc enc") + "/my corpus/t"
    manyFileTable(root, 8)
    val (files, updated, inserted) = graft.etl.ManifestTable.mergeInto(
      spark, root, "t", Seq((203L, "UP")).toDF("k", "v"),
      key = Seq("k"), statsCol = Some("k"))
    assert((files, updated, inserted) == (1L, 1L, 0L),
      s"merge on the encoded path succeeded: $files/$updated/$inserted")
    assert(graft.etl.ManifestTable.read(spark, root, "t")
      .filter(col("k") === 203L).select("v").as[String].head() == "UP")
  }

  test("compactIfFragmented: an absolute file-count bar alone must not " +
    "rewrite a legitimately-large table; vacuum keeps the data of " +
    "age-retained superseded commits") {
    val root = tmpDir("frag-ideal") + "/t"
    manyFileTable(root, 6)
    // tiny target -> the post-compaction ideal is itself many files ->
    // the table NEEDS them -> no rewrite despite crossing the bar
    assert(graft.etl.ManifestTable.compactIfFragmented(spark, root, "t",
      minFiles = 2, targetFileBytes = 1L, statsCol = Some("k")).isEmpty,
      "bar crossed but table at its natural file count: no rewrite")
    // default target: tiny files compact down
    val r = graft.etl.ManifestTable.compactIfFragmented(spark, root, "t",
      minFiles = 2, statsCol = Some("k"))
    assert(r.exists { case (b, a) => b == 6L && a < 6L }, s"compacted: $r")

    // vacuum with a large minAgeMs retains the superseded commit AND
    // its data: the retained version must stay READABLE, not resolve
    // then crash mid-scan
    val vOld = graft.etl.ManifestTable.current(spark, root).get.version - 1
    assert(graft.etl.ManifestTable.vacuum(spark, root, keepVersions = 1,
      minAgeMs = 3600L * 1000L) == 0L,
      "young superseded commit and its data both survive")
    assert(graft.etl.ManifestTable.readAt(spark, root, "t", vOld)
      .count() == 60L, "retained superseded version still fully readable")
  }

  test("envelope fallback (overflowing probe set): an uncastable probe " +
    "key disables range narrowing — the file that joins it is never " +
    "skipped") {
    val root = tmpDir("disc-envelope") + "/t"
    // STRING key column, mixed castable/uncastable values; stats are
    // the long-cast min/max, so the 'abc' file's stats ignore it
    val rdd = spark.sparkContext.parallelize(0 until 6, 6)
      .mapPartitionsWithIndex { (i, _) =>
        val vals = if (i == 5) Seq("abc", "500", "501")
                   else (0 until 3).map(j => s"${i * 100 + j}")
        vals.map(v => org.apache.spark.sql.Row(v, s"p$i")).iterator }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    graft.etl.ManifestTable.publish(spark, root,
      Map("t" -> spark.createDataFrame(rdd, schema)),
      statsCols = Map("t" -> "k"))
    val prev = graft.etl.ManifestTable.MaxCollectedProbeKeys
    graft.etl.ManifestTable.MaxCollectedProbeKeys = 2L // force overflow
    try {
      // probe keys: two low numerics + the uncastable 'abc' whose file
      // has stats [500,501]; a numeric-only envelope [1,2] would skip it
      val (files, rows) = graft.etl.ManifestTable.deleteByKeys(spark, root,
        "t", Seq("1", "2", "abc").toDF("k"), key = Seq("k"),
        statsCol = Some("k"))
      assert(rows == 3L, s"all three keys deleted, including 'abc': $rows")
      assert(graft.etl.ManifestTable.read(spark, root, "t")
        .filter(col("k") === "abc").count() == 0L,
        "the uncastable key's row is gone")
    } finally graft.etl.ManifestTable.MaxCollectedProbeKeys = prev
  }
}
