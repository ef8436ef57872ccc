package graft

import org.apache.spark.sql.functions._

/** Round-15 coverage: the round-14 verdict items (streaming wiring for
  * manifest-mode ingestion, conformalSets de-straggler, versioned
  * minhash index, graph upper-staleness cadence, readPrunedIn × bloom)
  * and the round-14 ADVICE items (persisted graph build params,
  * transactionalAppendAll single execution). */
class Round15OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- verdict #1: manifest-mode ingestion at the REAL stream boundary ----

  test("CorpusIngest manifest mode: readStream kill/replay — the replayed " +
    "batch no-ops on the watermark; compactLog cadence bounds the log") {
    val root0 = tmpDir("ingest-mf-replay")
    val root = s"$root0/corpus"
    val src = s"$root0/src"
    val ckpt = s"$root0/ckpt"
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
        "text", "doc_id", root, ckpt,
        compactLogEvery = 1, keepVersions = 2).start()
      q.processAllAvailable(); q.stop()
    }
    b1.coalesce(1).write.mode("append").parquet(src)
    run() // batch 0 (bootstrap)
    b2.coalesce(1).write.mode("append").parquet(src)
    run() // batch 1
    def state() = (
      graft.etl.ManifestTable.read(spark, root, "corpus")
        .select("doc_id").as[Long].collect().toSet,
      graft.etl.ManifestTable.read(spark, root, "index")
        .select(col("id")).distinct().as[Long].collect().toSet,
      graft.etl.ManifestTable.current(spark, root).get.version)
    val s0 = state()
    assert(s0._1 == Set(10L, 21L), s"gated corpus: ${s0._1}")
    assert(s0._2 == Set(10L, 21L), "index in step")
    // KILL mid-batch: the sink transaction landed but the streaming
    // engine's own commit didn't — delete the checkpoint's LAST commit
    // entry. On restart Structured Streaming replays that batch UNDER
    // THE SAME batch id (its contract); the (writer, batchId) watermark
    // must no-op it AT THE QUERY BOUNDARY: same corpus, same index,
    // same manifest version.
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.matches("[0-9]+")).sortBy(_.getName.toLong)
    assert(commits.nonEmpty, "stream produced checkpoint commits")
    assert(commits.last.delete(), "killed the last streaming commit")
    // the checksummed local FS keeps a .crc sidecar per commit file —
    // drop it too or the replayed engine's own commit write collides
    new java.io.File(s"$ckpt/commits", s".${commits.last.getName}.crc").delete()
    run() // restart -> the killed batch replays for real
    assert(state() == s0,
      "replayed batch no-opped end to end (exactly-once at the query boundary)")
    // compactLog cadence (hooked inside the stream): the per-batch
    // commit log is bounded by keepVersions, not stream lifetime
    val logFiles = new java.io.File(s"$root/_commits").listFiles()
      .map(_.getName).filter(_.startsWith("c-"))
    assert(logFiles.length <= 2, s"commit log bounded: ${logFiles.toSeq}")
  }

  // ---- verdict #2: conformalSets runs no corpus-proportional window ----

  test("conformalSets: aggregate-then-cumulative order statistic — no " +
    "row_number window over calibration rows; output equals the ranked form") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .withColumn("label", (col("doc_id") % 2).cast("int"))
    val w = Seq(0.1, -0.2, 0.3, -0.4)
    val out = graft.operators.QualityModel.conformalSets(docs, "text",
      "doc_id", "label", w, bias = 0.05, alpha = 0.1)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("row_number"),
      s"corpus-proportional ranking window crept back:\n$plan")
    // semantics pinned against the ranked reference form (the old
    // implementation, inlined): same q_hat, same set shapes
    val p6 = floor(round(lit(1.0d) / (lit(1.0d) + exp(-(
      graft.operators.QualityModel.features(col("text")).zip(w)
        .foldLeft(lit(0.05d)) { case (acc, (f, wt)) => acc + f * lit(wt) }))),
      6) * lit(1e6) + lit(0.5d)).cast("long")
    val isCal = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8),
      16, 10).cast("long"), lit(4L)) === 0L
    val scored = docs.select(col("doc_id").as("__id"),
      col("label").as("__y"), p6.as("__p6"), isCal.as("__cal"))
    val s6 = when(col("__y") === 1, lit(1000000L) - col("__p6"))
      .otherwise(col("__p6"))
    val calScores = scored.filter(col("__cal")).withColumn("__s6", s6)
      .select("__s6").as[Long].collect().sorted
    val k = math.ceil(0.9 * (calScores.length + 1)).toLong
    val qhatRef = calScores(math.min(k, calScores.length).toInt - 1)
    val got = out.select("pred_set", "n_docs", "n_covered", "q_hat")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(got.nonEmpty && got.forall(_._4 == qhatRef.toDouble / 1e6),
      s"q_hat must equal the ${k}-th smallest nonconformity: $got vs $qhatRef")
  }

  // ---- verdict #3: versioned minhash index (spec side of q335) ----

  test("versioned minhash index: pinned pairs stable across append+forget; " +
    "replayed append creates no version") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "colorless green ideas sleep furiously under winter moons tonight"),
      (3L, "granite rivers remember every glacier that carved them long ago"))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),   // == 1
      (11L, "granite rivers remember every glacier that carved them long ago")) // == 3
      .toDF("doc_id", "text")
    val root = tmpDir("mh-ver") + "/mh"
    graft.operators.Dedup.minhashIndexWriteVersioned(docs, "text", "doc_id",
      root, bands = 16, rowsPerBand = 2, shingleN = 3)
    val vPin = graft.etl.ManifestTable.current(spark, root).get.version
    def pairsAt(v: Option[Long]) = graft.operators.Dedup
      .incrementalPairsVersioned(spark, newDocs, docs, "text", "doc_id",
        root, bands = 16, rowsPerBand = 2, shingleN = 3, threshold = 0.8,
        version = v)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    val pinned = pairsAt(Some(vPin))
    assert(pinned == Set((10L, 1L), (11L, 3L)), s"pinned pairs: $pinned")
    // forget doc 3 (a later commit), append a new doc (another commit)
    graft.operators.Dedup.minhashIndexDeleteVersioned(spark, root,
      col("id") === 3L)
    val extra = Seq((4L, "binary stars trade plasma in slow ten thousand year waltzes"))
      .toDF("doc_id", "text")
    val n1 = graft.operators.Dedup.minhashIndexAppendVersioned(spark, extra,
      "text", "doc_id", root, bands = 16, rowsPerBand = 2, shingleN = 3)
    assert(n1 > 0L, "append landed")
    val vAfter = graft.etl.ManifestTable.current(spark, root).get.version
    // replayed append: 0 rows, NO new version (idempotent manifest append)
    assert(graft.operators.Dedup.minhashIndexAppendVersioned(spark, extra,
      "text", "doc_id", root, bands = 16, rowsPerBand = 2, shingleN = 3) == 0L)
    assert(graft.etl.ManifestTable.current(spark, root).get.version == vAfter,
      "replay created no version")
    // the pin still sees the pre-forget world; latest does not
    assert(pairsAt(Some(vPin)) == pinned, "snapshot isolation holds")
    assert(pairsAt(None) == Set((10L, 1L)), "latest forgot doc 3")
  }

  // ---- verdict #4 + ADVICE: graph upper-staleness cadence under
  // PERSISTED build params ----

  test("graphAppendVersioned: appended-fraction escalation rebuilds the " +
    "upper layer in ONE commit under the persisted build params") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .filter(col("vec_id") < 46)
    val base = e.filter(col("vec_id") < 30)
    val d1 = e.filter(col("vec_id") >= 30 && col("vec_id") < 34)  // 4 rows
    val d2 = e.filter(col("vec_id") >= 34 && col("vec_id") < 46)  // 12 rows
    val root = tmpDir("gann-cadence") + "/g"
    // upperRefine deliberately 0 (≠ the knnGraph default of 1): the
    // escalation must rebuild under THESE params, never defaults
    graft.operators.GraphAnn.graphWriteVersioned(base, "vec_id", "embedding",
      dim = 64, planes = 4, tables = 2, degree = 8, refine = 0,
      root = root, upperMod = 4, upperDegree = 6, upperRefine = 0)
    val p0 = graft.operators.GraphAnn.readParamsVersioned(spark, root)
    assert(p0.baseN == 30L && p0.appendedN == 0L && p0.upperRefine == 0)
    def upperRows() = graft.etl.ManifestTable.read(spark, root, "upper_edges")
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val upperV1 = upperRows()
    // append 4/30 = 13% < 50%: upper layer carried untouched
    graft.operators.GraphAnn.graphAppendVersioned(spark, root, base, d1,
      "vec_id", "embedding", rounds = 2, beamWidth = 16,
      entries = Seq(0L, 4L, 8L))
    assert(upperRows() == upperV1, "below the bar the upper layer persists")
    assert(graft.operators.GraphAnn.readParamsVersioned(spark, root)
      .appendedN == 4L, "staleness accounting rides the commit")
    // append 12 more: (4+12)/30 = 53% >= 50% → the SAME commit carries
    // the merged full layer AND the rebuilt routing layer
    val vBefore = graft.etl.ManifestTable.current(spark, root).get.version
    graft.operators.GraphAnn.graphAppendVersioned(spark, root,
      base.unionByName(d1), d2, "vec_id", "embedding", rounds = 2,
      beamWidth = 16, entries = Seq(0L, 4L, 8L))
    assert(graft.etl.ManifestTable.current(spark, root).get.version
      == vBefore + 1L, "escalation lands as exactly one commit")
    val corpus = base.unionByName(d1).unionByName(d2)
    val freshUpper = graft.operators.GraphAnn.knnGraph(
      corpus.filter(pmod(col("vec_id"), lit(4L)) === 0L), "vec_id",
      "embedding", dim = 64, planes = 4, tables = 2, degree = 6,
      refine = 0) // the PERSISTED upper params (upperDegree=6, upperRefine=0)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    assert(upperRows() == freshUpper,
      "post-escalation upper layer equals a fresh build under the " +
        "index's own params")
    val p2 = graft.operators.GraphAnn.readParamsVersioned(spark, root)
    assert(p2.appendedN == 0L && p2.baseN == 46L,
      s"accounting reset after the upper rebuild: $p2")
  }

  test("graphAppendVersioned: tombstone escalation rebuilds under the " +
    "committed build params") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .filter(col("vec_id") < 40)
    val base = e.filter(col("vec_id") < 36)
    val delta = e.filter(col("vec_id") >= 36)
    val root = tmpDir("gann-params") + "/g"
    // refine=0 / upperRefine=0 / upperDegree=6 ≠ the graphVacuumVersioned
    // defaults (1 / 1 / 8)
    graft.operators.GraphAnn.graphWriteVersioned(base, "vec_id", "embedding",
      dim = 64, planes = 4, tables = 2, degree = 8, refine = 0,
      root = root, upperMod = 4, upperDegree = 6, upperRefine = 0)
    // tombstone 12/40 = 30% >= 25% → the next append escalates to vacuum
    graft.operators.GraphAnn.graphDeleteVersioned(spark, root,
      e.filter(col("vec_id") % 3 === 1).select("vec_id"))
    graft.operators.GraphAnn.graphAppendVersioned(spark, root, base, delta,
      "vec_id", "embedding", rounds = 2, beamWidth = 16,
      entries = Seq(0L, 4L, 8L))
    // post-state must equal a fresh build over the live corpus under
    // the ORIGINAL params (vacuum invariant + param persistence)
    val live = e.filter(col("vec_id") % 3 =!= 1)
    val ref = tmpDir("gann-params-ref") + "/g"
    graft.operators.GraphAnn.graphWriteVersioned(live, "vec_id", "embedding",
      dim = 64, planes = 4, tables = 2, degree = 8, refine = 0,
      root = ref, upperMod = 4, upperDegree = 6, upperRefine = 0)
    def edges(r: String, layer: String) = graft.etl.ManifestTable
      .read(spark, r, layer).select("src", "dst").as[(Long, Long)]
      .collect().toSet
    assert(edges(root, "edges") == edges(ref, "edges"),
      "full layer rebuilt under the persisted params")
    assert(edges(root, "upper_edges") == edges(ref, "upper_edges"),
      "upper layer rebuilt under the persisted params")
  }

  test("graphAppendVersioned: a build_params table missing a column fails " +
    "the append with an error naming the root") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .filter(col("vec_id") < 40)
    val base = e.filter(col("vec_id") < 36)
    val root = tmpDir("gann-bad-params") + "/g"
    graft.operators.GraphAnn.graphWriteVersioned(base, "vec_id", "embedding",
      dim = 64, planes = 4, tables = 2, degree = 8, refine = 0,
      root = root, upperMod = 4, upperDegree = 6, upperRefine = 0)
    // hand-edited params: upper_refine dropped
    graft.etl.ManifestTable.publish(spark, root, Map("build_params" ->
      graft.etl.ManifestTable.read(spark, root, "build_params")
        .drop("upper_refine")))
    val v = graft.etl.ManifestTable.current(spark, root).get.version
    val ex = intercept[IllegalStateException] {
      graft.operators.GraphAnn.graphAppendVersioned(spark, root, base,
        e.filter(col("vec_id") >= 36), "vec_id", "embedding", rounds = 2,
        beamWidth = 16, entries = Seq(0L, 4L, 8L))
    }
    assert(ex.getMessage.contains(root) &&
      ex.getMessage.contains("build_params"),
      s"the error names the root and the table: ${ex.getMessage}")
    assert(graft.etl.ManifestTable.current(spark, root).get.version == v,
      "the failed append commits nothing")
  }

  // ---- ADVICE: transactionalAppendAll single execution ----

  test("transactionalAppendAll: each frame is executed exactly once; " +
    "empty contributions carry existing tables and bootstrap new ones") {
    val root = tmpDir("txn-once") + "/t"
    val acc = spark.sparkContext.longAccumulator("evals")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    val counted = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(1L, 2L, 3L), 1)
        .map { v => acc.add(1); org.apache.spark.sql.Row(v) }, schema)
    assert(graft.etl.ManifestTable.transactionalAppendAll(spark, root,
      Map("a" -> counted), "w", 0L))
    assert(acc.value == 3L,
      s"the frame ran ONCE (write), not twice (isEmpty + write): ${acc.value}")
    assert(graft.etl.ManifestTable.read(spark, root, "a").count() == 3L)
    // batch 1: empty contribution to the existing table -> carried (no
    // new files); empty contribution to a NEW table -> one footer-only
    // file establishing the schema
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    assert(graft.etl.ManifestTable.transactionalAppendAll(spark, root,
      Map("a" -> empty, "b" -> empty), "w", 1L))
    assert(graft.etl.ManifestTable.read(spark, root, "a").count() == 3L)
    assert(graft.etl.ManifestTable.read(spark, root, "b").count() == 0L &&
      graft.etl.ManifestTable.read(spark, root, "b").columns.toSeq == Seq("v"),
      "new table bootstrapped with its schema")
    // replay of batch 1: watermark no-op
    assert(!graft.etl.ManifestTable.transactionalAppendAll(spark, root,
      Map("a" -> empty, "b" -> empty), "w", 1L))
  }

  // ---- verdict #5: an IN filter composes range stats with bloom probes ----

  /** (files an `IN` filter on `c` keeps — range stats and blooms —,
    * files a range filter over the same values keeps — stats alone —,
    * files held) for table `t` under `root`. */
  private def inStats(root: String, c: String, vs: Seq[Long]): (Long, Long, Long) = {
    def keptBy(p: org.apache.spark.sql.Column) = graft.etl.ManifestFileIndex
      .filesKept(graft.etl.ManifestTable.read(spark, root, "t").filter(p))
    val (kb, total) = keptBy(col(c).isin(vs: _*))
    (kb, keptBy(col(c).between(vs.min, vs.max))._1, total)
  }
  private def readIn(root: String, c: String, vs: Seq[Long]) =
    graft.etl.ManifestTable.read(spark, root, "t").filter(col(c).isin(vs: _*))

  test("readPrunedIn × indexBloom: files inside the min/max envelope that " +
    "lack the probed value are skipped; results equal a full scan") {
    val root = tmpDir("bloom-in") + "/t"
    // two files with INTERLEAVED key ranges: evens [0,10], odds [1,9] —
    // min/max alone cannot separate a probe of an even value from the
    // odd file. Built from an explicit 2-partition RDD (a union of two
    // LocalRelations folds into one partition and one file).
    val rdd = spark.sparkContext.parallelize(0 until 2, 2)
      .mapPartitionsWithIndex { (i, _) =>
        (if (i == 0) Seq(0L, 2L, 4L, 6L, 8L, 10L) else Seq(1L, 3L, 5L, 7L, 9L))
          .iterator
      }.map(org.apache.spark.sql.Row(_))
    val twoFiles = spark.createDataFrame(rdd,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))))
    graft.etl.ManifestTable.publish(spark, root,
      Map("t" -> twoFiles), statsCols = Map("t" -> "k"))
    graft.etl.ManifestTable.indexBloom(spark, root, "t", "k")
    val (keptBloom, keptRange, total) = inStats(root, "k", Seq(4L))
    assert(total == 2L && keptRange == 2L,
      s"fixture interleaves: range stats keep both files ($keptRange/$total)")
    assert(keptBloom == 1L,
      s"bloom composition skips the odd file: $keptBloom")
    assert(readIn(root, "k", Seq(4L)).select("k").as[Long].collect().toSeq
      == Seq(4L), "pruned read equals the full-scan filter")
    assert(readIn(root, "k", Seq(4L, 7L)).select("k").as[Long].collect().sorted.toSeq
      == Seq(4L, 7L), "multi-probe set keeps every containing file")
  }

  // ---- storage-level MERGE on ManifestTable ----

  test("mergeInto: file-granular copy-on-write upsert — untouched files " +
    "carry byte-identical, counts exact, snapshot isolation holds") {
    val root = tmpDir("merge") + "/t"
    // two files: keys 1-3 and keys 11-13 (explicit partitions so the
    // layout is deterministic)
    val rdd = spark.sparkContext.parallelize(0 until 2, 2)
      .mapPartitionsWithIndex { (i, _) =>
        (if (i == 0) Seq((1L, "a"), (2L, "b"), (3L, "c"))
         else Seq((11L, "x"), (12L, "y"), (13L, "z")))
          .map { case (k, v) => org.apache.spark.sql.Row(k, v) }.iterator }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    graft.etl.ManifestTable.publish(spark, root,
      Map("t" -> spark.createDataFrame(rdd, schema)),
      statsCols = Map("t" -> "k"))
    def entriesOf(v: Long) = graft.etl.ManifestTable
      .readAt(spark, root, "t", v) // force existence
    val before = graft.etl.ManifestTable.current(spark, root).get
    // merge: update key 2, insert key 20 — only the FIRST file matches
    val src = Seq((2L, "B"), (20L, "new")).toDF("k", "v")
    val (files, updated, inserted) = graft.etl.ManifestTable.mergeInto(
      spark, root, "t", src, key = Seq("k"), statsCol = Some("k"))
    assert((files, updated, inserted) == (1L, 1L, 1L),
      s"one file rewritten, one row updated, one inserted: $files/$updated/$inserted")
    val after = graft.etl.ManifestTable.current(spark, root).get
    assert(after.version == before.version + 1L, "one atomic commit")
    // the unmatched file's entry carries VERBATIM (same relPath — the
    // file was not rewritten, not even re-listed)
    val keptPaths = before.entries.map(_.relPath).toSet
      .intersect(after.entries.map(_.relPath).toSet)
    assert(before.entries.exists(e => keptPaths.contains(e.relPath) &&
      e.min.contains(11L) && e.max.contains(13L)),
      s"the 11-13 file carried byte-identical: $keptPaths")
    assert(graft.etl.ManifestTable.read(spark, root, "t")
      .as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "B"), (3L, "c"),
             (11L, "x"), (12L, "y"), (13L, "z"), (20L, "new")),
      "merged state: replaced + carried + inserted")
    // snapshot isolation: the pre-merge version still serves the old row
    assert(entriesOf(before.version).as[(Long, String)].collect().toSet
      .contains((2L, "b")), "pre-merge snapshot intact")
    // ambiguous source (duplicate keys) is rejected loudly
    intercept[IllegalArgumentException] {
      graft.etl.ManifestTable.mergeInto(spark, root, "t",
        Seq((5L, "p"), (5L, "q")).toDF("k", "v"), key = Seq("k"))
    }
  }

  // ---- exactly-once CDC apply onto a ManifestTable ----

  test("CdcApply: upserts, deletes and watermark land as one commit; " +
    "readStream kill/replay no-ops; no-change batch writes no version") {
    val root0 = tmpDir("cdc-apply")
    val root = s"$root0/t"
    val src = s"$root0/src"
    val ckpt = s"$root0/ckpt"
    def chg(k: Long, v: String, seq: Long, op: String) = (k, v, seq, op)
    val b1 = Seq(chg(1L, "a", 1L, "I"), chg(2L, "b", 1L, "I"),
      chg(2L, "b2", 2L, "U")) // within-batch collapse: 2 -> b2
      .toDF("k", "v", "seq", "op")
    val b2 = Seq(chg(1L, "", 3L, "D"), chg(3L, "c", 3L, "I"))
      .toDF("k", "v", "seq", "op")
    def run(): Unit = {
      val stream = spark.readStream.schema(b1.schema).parquet(src)
      val q = graft.streaming.CdcApply.applyStream(stream, root, "t",
        Seq("k"), Seq("seq"), "op", ckpt, statsCol = Some("k")).start()
      q.processAllAvailable(); q.stop()
    }
    b1.coalesce(1).write.mode("append").parquet(src)
    run() // bootstrap from the first batch
    def state() = graft.etl.ManifestTable.read(spark, root, "t")
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(state() == Set((1L, "a"), (2L, "b2")),
      "bootstrap applied the collapsed change log")
    b2.coalesce(1).write.mode("append").parquet(src)
    run() // restart: delete 1, insert 3
    assert(state() == Set((2L, "b2"), (3L, "c")),
      "delete erased the key, insert landed")
    val v = graft.etl.ManifestTable.current(spark, root).get.version
    // kill the engine's own commit record -> the batch replays for real
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.matches("[0-9]+")).sortBy(_.getName.toLong)
    assert(commits.last.delete())
    new java.io.File(s"$ckpt/commits", s".${commits.last.getName}.crc").delete()
    run()
    assert(state() == Set((2L, "b2"), (3L, "c")) &&
      graft.etl.ManifestTable.current(spark, root).get.version == v,
      "replayed batch no-opped on the watermark: same state, same version")
    // a batch touching nothing writes NO version (replay-harmless)
    assert(graft.etl.ManifestTable.transactionalMerge(spark, root, "t",
      Seq.empty[(Long, String, Long, String)].toDF("k", "v", "seq", "op")
        .where(lit(false)),
      Seq(99L).toDF("k"), Seq("k"), "cdc-apply", 5L))
    assert(graft.etl.ManifestTable.current(spark, root).get.version == v,
      "no-change batch created no version")
  }

  // ---- bloom coverage at WRITE time (no indexBloom retro-fit needed) ----

  test("bloom-at-write: publish/appendNew with bloomCol attach per-file " +
    "blooms, so appended files stay skippable without re-running indexBloom") {
    val root = tmpDir("bloom-write") + "/t"
    graft.etl.ManifestTable.publish(spark, root,
      Map("t" -> Seq(0L, 2L, 4L, 6L, 8L, 10L).toDF("k").coalesce(1)),
      statsCols = Map("t" -> "k"), bloomCols = Map("t" -> "k"))
    // append the interleaving odd file WITH a write-time bloom
    assert(graft.etl.ManifestTable.appendNew(spark, root, "t",
      Seq(1L, 3L, 5L, 7L, 9L).toDF("k").coalesce(1), key = Seq("k"),
      statsCol = Some("k"), bloomCol = Some("k")) == 5L)
    val (keptBloom, keptRange, total) = inStats(root, "k", Seq(4L))
    assert(total == 2L && keptRange == 2L && keptBloom == 1L,
      s"write-time blooms skip the appended non-matching file: " +
        s"$keptBloom/$keptRange/$total")
    assert(readIn(root, "k", Seq(7L)).select("k").as[Long].collect().toSeq == Seq(7L),
      "a probe landing in the APPENDED file still resolves exactly")
  }

  // ---- regression: affected-file discovery under a sort-merge join ----

  test("mergeInto/transactionalMerge: affected-file discovery survives a " +
    "sort-merge-joined probe (input_file_name must bind scan-side)") {
    // input_file_name() evaluated ABOVE a non-broadcast join returns ""
    // — every file would look unaffected and matched rows would never be
    // rewritten (duplicate keys committed silently). Force SMJ.
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val root = tmpDir("merge-smj") + "/t"
      graft.etl.ManifestTable.publish(spark, root,
        Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("k", "v")))
      val (files, updated, inserted) = graft.etl.ManifestTable.mergeInto(
        spark, root, "t", Seq((2L, "B"), (3L, "c")).toDF("k", "v"),
        key = Seq("k"))
      assert((files, updated, inserted) == (1L, 1L, 1L),
        s"SMJ probe still finds the affected file: $files/$updated/$inserted")
      assert(graft.etl.ManifestTable.read(spark, root, "t")
        .as[(Long, String)].collect().toSet
        == Set((1L, "a"), (2L, "B"), (3L, "c")),
        "no duplicate keys under SMJ")
      assert(graft.etl.ManifestTable.transactionalMerge(spark, root, "t",
        Seq((3L, "C")).toDF("k", "v"), Seq(1L).toDF("k"), Seq("k"),
        "w", 0L))
      assert(graft.etl.ManifestTable.read(spark, root, "t")
        .as[(Long, String)].collect().toSet == Set((2L, "B"), (3L, "C")),
        "delete erased and upsert replaced under SMJ")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  // ---- vacuum age threshold: the in-flight-write guard ----

  test("vacuum(minAgeMs): a young orphan (an in-flight write's data) " +
    "survives; an old orphan is reclaimed") {
    val root = tmpDir("vacuum-age") + "/t"
    graft.etl.ManifestTable.publish(spark, root,
      Map("t" -> Seq(1L).toDF("v")))
    // orphan 1: "old" (mtime backdated) — collectible
    Seq(9L).toDF("v").coalesce(1).write.parquet(s"$root/t/d-oldorphan")
    new java.io.File(s"$root/t/d-oldorphan").listFiles()
      .foreach(f => f.setLastModified(System.currentTimeMillis() - 3600000L))
    // orphan 2: fresh — looks exactly like a not-yet-committed write
    Seq(8L).toDF("v").coalesce(1).write.parquet(s"$root/t/d-inflight")
    val deleted = graft.etl.ManifestTable.vacuum(spark, root,
      keepVersions = 1, minAgeMs = 60000L)
    assert(deleted >= 1L, "old orphan reclaimed")
    def orphanFiles(d: String) = {
      val f = new java.io.File(s"$root/t/$d")
      if (!f.exists()) Array.empty[String]
      else f.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    }
    assert(orphanFiles("d-oldorphan").isEmpty, "old orphan gone")
    assert(orphanFiles("d-inflight").nonEmpty,
      "in-flight write's files survive the age horizon")
    assert(graft.etl.ManifestTable.read(spark, root, "t")
      .as[Long].collect().toSeq == Seq(1L), "committed data untouched")
  }

  // ---- constraint-gated publish: the DB-rejects-the-load analog ----

  private val publishCheckedGate = "publishChecked: a violating table " +
    "aborts the WHOLE publish before any file is written; a clean " +
    "publish commits"
  test(publishCheckedGate)(publishCheckedAbortsOrCommits())
  test(publishCheckedGate + " (reliable checkpoints)")(
    withReliableCuts(publishCheckedAbortsOrCommits()))

  private def publishCheckedAbortsOrCommits(): Unit = {
    val root = tmpDir("pub-checked") + "/t"
    graft.etl.ManifestTable.publish(spark, root,
      Map("dim" -> Seq((1L, "a")).toDF("id", "name")))
    val v1 = graft.etl.ManifestTable.current(spark, root).get.version
    val dupDim = Seq((1L, "a"), (1L, "b"), (2L, null.asInstanceOf[String]))
      .toDF("id", "name")
    val ex = intercept[IllegalStateException] {
      graft.etl.ManifestTable.publishChecked(spark, root,
        Map("dim" -> dupDim),
        checks = Map("dim" -> Seq(
          ("name_not_null", col("name").isNotNull))),
        uniqueKeys = Map("dim" -> Seq(Seq("id"))))
    }
    assert(ex.getMessage.contains("name_not_null") &&
      ex.getMessage.contains("unique(id)"),
      s"both constraint classes reported: ${ex.getMessage}")
    assert(graft.etl.ManifestTable.current(spark, root).get.version == v1,
      "nothing committed — the previous version keeps serving")
    assert(graft.etl.ManifestTable.read(spark, root, "dim").count() == 1L)
    // the clean frame commits
    val v2 = graft.etl.ManifestTable.publishChecked(spark, root,
      Map("dim" -> Seq((1L, "a"), (2L, "b")).toDF("id", "name")),
      checks = Map("dim" -> Seq(("name_not_null", col("name").isNotNull))),
      uniqueKeys = Map("dim" -> Seq(Seq("id"))))
    assert(v2 == v1 + 1L &&
      graft.etl.ManifestTable.read(spark, root, "dim").count() == 2L)
  }

  test("transactionalMerge fkChecks: an upsert citing an unknown parent " +
    "aborts the batch before any write; valid upserts pass") {
    val root = tmpDir("cdc-fk") + "/r"
    graft.etl.ManifestTable.publish(spark, root,
      Map("dim" -> Seq((10L, "d10"), (20L, "d20")).toDF("id", "name")))
    val fk = Seq(("fk_dim", Seq("dim_id"), "dim", Seq("id")))
    def merge(rows: Seq[(Long, Long)], id: Long) =
      graft.etl.ManifestTable.transactionalMerge(spark, root, "fact",
        rows.toDF("k", "dim_id"),
        spark.emptyDataFrame.withColumn("k", lit(0L)).limit(0).select("k"),
        Seq("k"), "w", id, fkChecks = fk)
    assert(merge(Seq((1L, 10L), (2L, 20L)), 0L), "valid batch applies")
    val v = graft.etl.ManifestTable.current(spark, root).get.version
    val ex = intercept[IllegalStateException] {
      merge(Seq((3L, 99L)), 1L) // 99 has no parent
    }
    assert(ex.getMessage.contains("fk_dim"), ex.getMessage)
    assert(graft.etl.ManifestTable.current(spark, root).get.version == v &&
      graft.etl.ManifestTable.read(spark, root, "fact").count() == 2L,
      "violating batch left nothing behind")
    // NULL FK components pass (SQL semantics)
    assert(graft.etl.ManifestTable.transactionalMerge(spark, root, "fact",
      Seq((4L, null.asInstanceOf[java.lang.Long])).toDF("k", "dim_id")
        .select(col("k"), col("dim_id").cast("long")),
      Seq.empty[Long].toDF("k"), Seq("k"), "w", 2L, fkChecks = fk))
    assert(graft.etl.ManifestTable.read(spark, root, "fact").count() == 3L)
  }

  test("CdcApply: compaction cadence defragments the merged table " +
    "without changing its contents") {
    val root = tmpDir("cdc-compact") + "/t"
    def batch(id: Long, rows: Seq[(Long, String)]): Unit =
      graft.streaming.CdcApply.applyBatch(
        rows.map { case (k, v) => (k, v, id, "U") }.toDF("k", "v", "seq", "op"),
        root, "t", Seq("k"), Seq("seq"), "op", id,
        statsCol = Some("k"), compactEvery = 4, compactLogEvery = 4)
    batch(0L, Seq((1L, "a"), (2L, "b")))
    batch(1L, Seq((3L, "c")))
    batch(2L, Seq((1L, "a2")))
    batch(3L, Seq((4L, "d")))
    def files() = graft.etl.ManifestTable.current(spark, root).get
      .entries.count(_.table == "t")
    val fragmented = files()
    assert(fragmented >= 3, s"per-batch merges fragment: $fragmented files")
    batch(4L, Seq((5L, "e"))) // batchId % 4 == 0 -> compacts after merge
    assert(files() < fragmented, s"cadence compacted: ${files()} files")
    assert(graft.etl.ManifestTable.read(spark, root, "t")
      .select("k", "v").as[(Long, String)].collect().toSet
      == Set((1L, "a2"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")),
      "contents unchanged by compaction")
    // commit log pruned on the same cadence
    assert(new java.io.File(s"$root/_commits").listFiles()
      .count(_.getName.startsWith("c-")) <= 10, "log bounded")
  }

  // ---- the reference pipeline under the DDL constraint gate ----

  private val runCheckedGate = "runChecked: the star publishes under the " +
    "DDL's constraints; a violating dimension aborts the whole nine-table " +
    "transaction"
  test(runCheckedGate)(runCheckedAbortsOrCommits())
  test(runCheckedGate + " (reliable checkpoints)")(
    withReliableCuts(runCheckedAbortsOrCommits()))

  private def runCheckedAbortsOrCommits(): Unit = {
    val raw = graft.etl.RefShaped.out(spark, sf())
    val root = tmpDir("star-checked") + "/star"
    // the RAW transform output violates the PRODUCT FK on this fixture
    // (facts citing unknown products): main.py pre-validates CLIENTS
    // only, so the reference's own DB load would crash on this data —
    // the gate surfaces it as a clean abort naming the constraint
    val exFk = intercept[IllegalStateException] {
      graft.etl.OpinionPipeline.runChecked(spark, raw, root)
    }
    assert(exFk.getMessage.contains("fk_comentarios_producto"),
      exFk.getMessage)
    // the documented repair (drop orphan facts) passes the full gate
    val out = graft.etl.OpinionPipeline.conformFacts(raw)
    val v = graft.etl.OpinionPipeline.runChecked(spark, out, root)
    assert(v == 1L, "conformed star commits as one version")
    assert(graft.etl.ManifestTable.read(spark, root, "clientes").count() ==
      out.clientes.count(), "all rows passed the gate")
    // corrupt ONE dimension: a duplicated IdCliente (PK violation) must
    // abort the WHOLE publish — no table moves, version unchanged
    val dupped = out.copy(clientes =
      out.clientes.unionByName(out.clientes.limit(1)))
    val ex = intercept[IllegalStateException] {
      graft.etl.OpinionPipeline.runChecked(spark, dupped, root)
    }
    assert(ex.getMessage.contains("unique(IdCliente)"), ex.getMessage)
    assert(graft.etl.ManifestTable.current(spark, root).get.version == 1L,
      "the violating load rolled back whole, like the reference's DB")
  }

  // ---- verdict #7: NVARCHAR width cap ----

  test("lengthCap: CHECK semantics — chars compared, NULL passes, " +
    "boundary inclusive") {
    val df = Seq(
      (1L, "abc"), (2L, "abcd"), (3L, null.asInstanceOf[String]))
      .toDF("id", "s")
    val (ok, bad) = graft.etl.CleaningOps.validate(df,
      graft.etl.CleaningOps.lengthCap(col("s"), 3))
    assert(ok.select("id").as[Long].collect().toSet == Set(1L, 3L),
      "boundary value and NULL pass the cap")
    assert(bad.select("id").as[Long].collect().toSet == Set(2L),
      "oversized row quarantined")
  }
}
