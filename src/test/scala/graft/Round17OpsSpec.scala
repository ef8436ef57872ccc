package graft

import org.apache.spark.sql.functions._

/** Round-17 coverage: the round-16 verdict items (FileEntry v2 format —
  * per-file byte sizes, named stats, secondary blooms; zero-FS-stat
  * adaptive compaction; secondary-key GDPR forget; deleteWhere range
  * narrowing; file-reusing conflict rebase; multi-column discovery
  * keys; tuned-LSH pipeline) and the round-16 ADVICE items (named
  * stats trust, bloom'd schema keeper, per-(root, table) discovery
  * stats). */
class Round17OpsSpec extends SparkSpec {
  import spark.implicits._

  /** A manifest table of `nFiles` files with deterministic per-file key
    * ranges: file i holds keys [i*100, i*100+9] (the Round16OpsSpec
    * fixture), optionally with a secondary uncorrelated column `u`
    * (= k * 7 + 3) bloom-covered for point-forget tests. */
  private def manyFileTable(root: String, nFiles: Int,
                            withU: Boolean = false): Unit = {
    val rdd = spark.sparkContext.parallelize(0 until nFiles, nFiles)
      .mapPartitionsWithIndex { (i, _) =>
        (0 until 10).map(j => org.apache.spark.sql.Row(i * 100L + j,
          s"v$i-$j", (i * 100L + j) * 7L + 3L)).iterator
      }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("u",
        org.apache.spark.sql.types.LongType)))
    graft.etl.ManifestTable.publish(spark, root,
      Map("t" -> spark.createDataFrame(rdd, schema)),
      statsCols = Map("t" -> "k"),
      extraBloomCols =
        if (withU) Map("t" -> Seq("u")) else Map.empty)
  }

  // ---- verdict #1: FileEntry v2 — sizes, named stats ----

  test("v2 commit lines round-trip sizes, named stats and secondary " +
    "blooms") {
    val root = tmpDir("v2-fmt") + "/t"
    manyFileTable(root, 6, withU = true)
    graft.etl.ManifestTable.dropStateCacheForTest() // parse the commit
    val cur = graft.etl.ManifestTable.current(spark, root).get
    val mine = cur.entries.filter(_.table == "t")
    assert(mine.size == 6)
    assert(mine.forall(_.bytes.exists(_ > 0L)), "write-time byte sizes")
    assert(mine.forall(_.statsName.contains("k")), "named primary stats")
    assert(mine.forall(_.bloomFor("u").isDefined), "secondary u bloom")
    assert(mine.forall(_.bloomFor("k").isEmpty), "no k bloom was asked for")
  }

  test("named stats refuse cross-column reads: a probe column differing " +
    "from the recorded stats name never consumes the primary pair " +
    "(the ADVICE drift hazard)") {
    val root = tmpDir("named-stats") + "/t"
    manyFileTable(root, 8)
    val mine = graft.etl.ManifestTable.current(spark, root).get.entries
    // every entry records k; asking for u must NOT reinterpret k ranges
    assert(mine.forall(_.statsFor("u").isEmpty),
      "recorded-name mismatch yields no stats (file stays a candidate)")
    // deleteByKeys on u (no stats, no bloom) must still be CORRECT:
    // every file stays a candidate and the row goes away
    val (_, nDel) = graft.etl.ManifestTable.deleteByKeys(spark, root, "t",
      Seq(307L * 7L + 3L).toDF("u"), key = Seq("u"), statsCol = Some("k"))
    assert(nDel == 1L, s"row found without any u coverage: $nDel")
    assert(graft.etl.ManifestTable.read(spark, root, "t")
      .filter(col("k") === 307L).count() == 0L)
  }

  // ---- verdict #1b/#2: zero-FS-stat maintenance sizing ----

  test("compactIfFragmented sizes the table from the manifest: zero " +
    "getFileStatus calls on a v2 table, both on the hold path and " +
    "through an actual compaction") {
    val root = tmpDir("cf-nostat") + "/t"
    manyFileTable(root, 12)
    // hold path: 12 tiny files, ideal = 1, 12 >= 2*1 → compacts; run
    // first with a count bar ABOVE the file count (no byte pass at all)
    assert(graft.etl.ManifestTable.compactIfFragmented(spark, root, "t",
      minFiles = 50).isEmpty)
    // firing path: sizing AND the compact itself read manifest bytes
    val ran = graft.etl.ManifestTable.compactIfFragmented(spark, root, "t",
      minFiles = 4, statsCol = Some("k"))
    assert(ran.exists(_._1 == 12L), s"compaction fired: $ran")
    assert(graft.etl.ManifestTable.read(spark, root, "t").count() == 120L)
    // compacted files carry sizes too (the steady state re-arms)
    val mine = graft.etl.ManifestTable.current(spark, root).get.entries
    assert(mine.forall(_.bytes.exists(_ > 0L)))
  }

  // ---- verdict #1c/#6: secondary-key forget prunes by bloom ----

  test("deleteByKeys on a SECONDARY bloom-covered key reads only " +
    "bloom-surviving files; untouched files carry byte-identical") {
    val root = tmpDir("forget-2nd") + "/t"
    manyFileTable(root, 30, withU = true)
    val before = graft.etl.ManifestTable.current(spark, root).get
    // forget two u-keys living in files 5 and 21
    val (files, nDel) = graft.etl.ManifestTable.deleteByKeys(spark, root,
      "t", Seq(503L * 7L + 3L, 2107L * 7L + 3L).toDF("u"), key = Seq("u"),
      statsCol = Some("k"), extraBloomCols = Seq("u"))
    assert((files, nDel) == (2L, 2L), s"two files, two rows: $files/$nDel")
    val st = graft.etl.ManifestTable.mergeDiscoveryStats(root, "t").get
    assert(st.totalFiles == 30L && st.scannedFiles < 10L,
      s"u blooms pruned discovery on a k-clustered table: $st")
    val after = graft.etl.ManifestTable.current(spark, root).get
    val carried = before.entries.map(_.relPath).toSet
      .intersect(after.entries.map(_.relPath).toSet)
    assert(carried.size == 28, s"28/30 entries carried verbatim: ${carried.size}")
    val got = graft.etl.ManifestTable.read(spark, root, "t")
    assert(got.count() == 298L)
    assert(got.filter(col("k").isin(503L, 2107L)).count() == 0L)
  }

  test("minhashIndexForgetVersioned: the doc-id forget narrows via the " +
    "secondary id bloom and removes every banded row of the ids") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text")).limit(400).localCheckpoint()
    val root = tmpDir("mh-forget") + "/mh"
    graft.operators.Dedup.minhashIndexWriteVersioned(
      docs.filter(col("doc_id") % 5 =!= 0), "text", "doc_id", root)
    graft.operators.Dedup.minhashIndexAppendVersioned(spark,
      docs.filter(col("doc_id") % 5 === 0), "text", "doc_id", root)
    val idx0 = graft.etl.ManifestTable.read(spark, root, "index")
    val forgotten = docs.filter(col("doc_id") % 7 === 1)
      .select(col("doc_id").as("id"))
    val nForget = idx0.join(forgotten, Seq("id"), "left_semi").count()
    assert(nForget > 0L, "fixture has banded rows to forget")
    val (_, nDel) = graft.operators.Dedup.minhashIndexForgetVersioned(
      spark, root, forgotten)
    assert(nDel == nForget, s"all banded rows of the ids removed: $nDel/$nForget")
    val idx1 = graft.etl.ManifestTable.read(spark, root, "index")
    assert(idx1.join(forgotten, Seq("id"), "left_semi").count() == 0L)
    val st = graft.etl.ManifestTable.mergeDiscoveryStats(root, "index").get
    assert(st.scannedFiles <= st.totalFiles, s"stats recorded: $st")
  }

  // ---- verdict #4 (missing): deleteWhere range narrowing ----

  test("deleteWhere with a stats-column conjunct scans only in-range " +
    "files; arbitrary predicates still scan everything; results exact") {
    val root = tmpDir("delw-range") + "/t"
    manyFileTable(root, 30)
    val before = graft.etl.ManifestTable.current(spark, root).get
    // conjunct k in [300, 310] plus a non-extractable residue
    val (files, nDel) = graft.etl.ManifestTable.deleteWhere(spark, root,
      "t", col("k") >= 300L && col("k") <= 310L && col("v").endsWith("-5"),
      statsCol = Some("k"))
    assert((files, nDel) == (1L, 1L), s"one file, one row (305): $files/$nDel")
    val st = graft.etl.ManifestTable.mergeDiscoveryStats(root, "t").get
    assert(st.totalFiles == 30L && st.scannedFiles <= 3L,
      s"range conjunct pruned the discovery scan: $st")
    val after = graft.etl.ManifestTable.current(spark, root).get
    assert(before.entries.map(_.relPath).toSet
      .intersect(after.entries.map(_.relPath).toSet).size == 29,
      "29/30 files carried byte-identical")
    assert(graft.etl.ManifestTable.read(spark, root, "t")
      .filter(col("k") === 305L).count() == 0L)
    // arbitrary predicate: no narrowing recorded as full scan
    val (f2, n2) = graft.etl.ManifestTable.deleteWhere(spark, root, "t",
      col("v") === "v9-9", statsCol = Some("k"))
    assert((f2, n2) == (1L, 1L))
    val st2 = graft.etl.ManifestTable.mergeDiscoveryStats(root, "t").get
    assert(st2.scannedFiles == st2.totalFiles,
      s"no extractable conjunct → full discovery scan: $st2")
  }

  /** Deletes `pred` from table `t` under `root` and checks the outcome
    * against the rows `pred` matched before: all of them gone, no other
    * row touched. Returns the discovery stats. */
  private def purgeExact(root: String, pred: org.apache.spark.sql.Column,
      statsCol: String, extraStatsCols: Seq[String] = Nil)
      : graft.etl.ManifestTable.DiscoveryStats = {
    val M = graft.etl.ManifestTable
    val before = M.read(spark, root, "t").count()
    val matched = M.read(spark, root, "t").filter(pred).count()
    val (_, deleted) = M.deleteWhere(spark, root, "t", pred,
      statsCol = Some(statsCol), extraStatsCols = extraStatsCols)
    assert(deleted == matched, s"$pred: deleted $deleted of $matched matches")
    assert(M.read(spark, root, "t").filter(pred).count() == 0L, s"$pred")
    assert(M.read(spark, root, "t").count() == before - matched, s"$pred")
    M.mergeDiscoveryStats(root, "t").get
  }

  test("deleteWhere narrows by the one skip rule: conjuncts intersect, " +
    "strict bounds exclude their own integer, literal-on-left mirrors, IN " +
    "tests each value; disjunctions and foreign columns narrow nothing") {
    val root = tmpDir("delw-rule") + "/t"
    manyFileTable(root, 30) // file i holds k in [i*100, i*100+9]
    val st1 = purgeExact(root, col("k") >= 105L && col("k") < 200L, "k")
    assert(st1.scannedFiles == 1L && st1.totalFiles == 30L,
      s"k < 200 excludes the file starting at 200: $st1")
    val st2 = purgeExact(root, col("k") > 309L && col("k") <= 405L, "k")
    assert(st2.scannedFiles == 1L, s"k > 309 excludes the file ending at 309: $st2")
    val st3 = purgeExact(root, lit(100L) > col("k"), "k")
    assert(st3.scannedFiles == 1L, s"100 > k is k < 100: $st3")
    val st4 = purgeExact(root, col("k").isin(703L, 909L, 1505L), "k")
    assert(st4.scannedFiles == 3L, s"IN keeps the files of its values: $st4")
    val st5 = purgeExact(root, col("k") >= 2900L || col("k") < 0L, "k")
    assert(st5.scannedFiles == st5.totalFiles, s"a disjunction narrows nothing: $st5")
    val st6 = purgeExact(root, col("v") === "v12-3", "k")
    assert(st6.scannedFiles == st6.totalFiles, s"a foreign column narrows nothing: $st6")
    val st7 = purgeExact(root, col("k") >= 2000L && col("v").endsWith("-1"), "k")
    assert(st7.scannedFiles == 9L, s"the k conjunct narrows beside a residue: $st7")
  }

  test("deleteWhere soundness at the edges: snowflake-scale and double " +
    "literals on LONG, NaN, narrowing and widening casts, out-of-Long " +
    "decimals, the \"4.00\" STRING column and DATE/TIMESTAMP bounds " +
    "delete every matching row") {
    import org.apache.spark.sql.types._
    def table(root: String, schema: StructType, files: Seq[Seq[Any]],
              extraStats: Seq[String] = Nil): Unit = {
      val rdd = spark.sparkContext.parallelize(files, files.size)
        .flatMap(_.map(v => org.apache.spark.sql.Row(v, s"v$v")))
      graft.etl.ManifestTable.publish(spark, root,
        Map("t" -> spark.createDataFrame(rdd, schema)),
        statsCols = Map("t" -> schema.head.name),
        extraStatsCols = Map("t" -> extraStats))
    }
    def kv(dt: DataType) = StructType(Seq(StructField("k", dt),
      StructField("v", StringType)))
    // snowflake-scale ids: 1.5e18 is far past 2^53, where doubles are
    // 256 apart; 6 files of 10 consecutive ids, 1000 apart
    val big = 1500000000000000000L
    val snow = tmpDir("edge-snow") + "/t"
    table(snow, kv(LongType), (0 until 6).map(i =>
      (0 until 10).map(j => big + i * 1000L + j)))
    val s1 = purgeExact(snow, col("k") === big + 2003L, "k")
    assert(s1.scannedFiles == 1L, s"exact > 2^53 literal narrows: $s1")
    val s2 = purgeExact(snow, col("k") >= big + 5005L, "k")
    assert(s2.scannedFiles == 1L, s"exact > 2^53 bound narrows: $s2")
    // a DOUBLE literal compares in double: every id of its 256-wide band
    // matches; past 2^53 the rule claims nothing
    val s3 = purgeExact(snow, col("k") === lit((big + 3004L).toDouble), "k")
    assert(s3.scannedFiles == s3.totalFiles, s"ulp band: no narrowing: $s3")
    // beyond-Long bounds never wrap into a skip
    val s4 = purgeExact(snow, col("k") <= lit(math.pow(2, 70)) &&
      col("k").between(big + 4000L, big + 4999L), "k")
    assert(s4.scannedFiles == 1L, s"the in-range conjunct still narrows: $s4")
    val s5 = purgeExact(snow, col("k") <= lit(java.math.BigDecimal.valueOf(2).pow(70)) &&
      col("k") >= lit(java.math.BigDecimal.valueOf(2).pow(70).negate()) &&
      col("k") < big + 1000L, "k")
    assert(s5.scannedFiles == 1L, s"out-of-Long decimals bound nothing: $s5")
    // a narrowing cast wraps (non-ANSI): it says nothing about k
    val wrapped = (big + 1007L).toInt
    val s6 = purgeExact(snow, col("k").cast("int") === wrapped, "k")
    assert(s6.scannedFiles == s6.totalFiles, s"narrowing cast: no narrowing: $s6")

    // INT column: a widening cast is the column, and a fractional bound
    // excludes the integer past it
    val ints = tmpDir("edge-int") + "/t"
    table(ints, kv(IntegerType), (0 until 4).map(i => (0 until 10).map(j => i * 10 + j)))
    val i1 = purgeExact(ints, col("k").cast("long") === 25L, "k")
    assert(i1.scannedFiles == 1L, s"widening cast narrows: $i1")
    val i2 = purgeExact(ints, col("k").cast("long") <= 9.5, "k")
    assert(i2.scannedFiles == 1L, s"k <= 9.5 is k <= 9: $i2")

    // DOUBLE column with NaN: NaN equals NaN and exceeds every number;
    // the bare column is no canonical long, so nothing narrows
    val dbl = tmpDir("edge-nan") + "/t"
    table(dbl, kv(DoubleType), Seq(Seq(1.5, 2.5, Double.NaN), Seq(10.5, 11.5),
      Seq(Double.NaN, 20.5)))
    val d1 = purgeExact(dbl, col("k") > 1e300, "k")
    assert(d1.scannedFiles == d1.totalFiles, s"NaN: no narrowing: $d1")
    assert(graft.etl.ManifestTable.read(spark, dbl, "t").count() == 5L)
    // the exact stats expression narrows on any column type
    val d2 = purgeExact(dbl, col("k").cast("long") === 11L, "k")
    assert(d2.scannedFiles == 1L, s"cast(k AS long) is the stats value: $d2")

    // STRING column of decimal-formatted numbers: "4.00" = 4 matches
    // through a parse whose result depends on the cast mode, so a string
    // column's recorded longs answer no numeric conjunct
    val str = tmpDir("edge-str") + "/t"
    table(str, kv(StringType), Seq(Seq("4.00", "5.00"), Seq("40.00", "41.00")))
    val t1 = purgeExact(str, col("k") === 4, "k")
    assert(t1.scannedFiles == t1.totalFiles, s"string vs number: no narrowing: $t1")
    val t2 = purgeExact(str, col("k").cast("long") === 41L, "k")
    assert(t2.scannedFiles == t2.totalFiles, s"nor does a string's long cast: $t2")

    // DATE (epoch-day) and TIMESTAMP (epoch-second) bounds
    val dates = tmpDir("edge-date") + "/t"
    val day0 = java.time.LocalDate.of(2023, 1, 1)
    table(dates, kv(DateType), (0 until 4).map(i => (0 until 10).map(j =>
      java.sql.Date.valueOf(day0.plusDays(i * 10L + j)))))
    val e1 = purgeExact(dates, col("k") > lit(java.sql.Date.valueOf("2023-01-10")) &&
      col("k") <= lit(java.sql.Date.valueOf("2023-01-20")), "k")
    assert(e1.scannedFiles == 1L, s"a strict DATE bound excludes its day: $e1")
    val stamps = tmpDir("edge-ts") + "/t"
    val t0 = java.sql.Timestamp.valueOf("2023-01-01 00:00:00").getTime
    table(stamps, kv(TimestampType), (0 until 4).map(i => (0 until 10).map(j =>
      new java.sql.Timestamp(t0 + (i * 10L + j) * 1000L + 500L))))
    val f1 = purgeExact(stamps, col("k") >= lit(new java.sql.Timestamp(t0 + 19700L)) &&
      col("k") < lit(new java.sql.Timestamp(t0 + 20400L)), "k")
    assert(f1.scannedFiles <= 2L, s"sub-second TIMESTAMP bounds narrow: $f1")
  }

  // ---- verdict #3 (missing): file-reusing conflict rebase ----

  test("commit conflict on a DIFFERENT table rebases by re-committing " +
    "the already-written files: exactly one data write for the merge; " +
    "the interloper's table survives") {
    val root = tmpDir("rebase-ok") + "/t"
    manyFileTable(root, 10)
    graft.etl.ManifestTable.publish(spark, root,
      Map("other" -> Seq((1L, "x")).toDF("id", "s")))
    val v0 = graft.etl.ManifestTable.current(spark, root).get.version
    // interleave a commit to ANOTHER table between the merge's plan
    // and its CAS — deterministic, no thread race
    graft.etl.ManifestTable.testBeforeCommit = Some(() =>
      graft.etl.ManifestTable.publish(spark, root,
        Map("other" -> Seq((2L, "y")).toDF("id", "s"))))
    val base = graft.etl.ManifestTable.dataWrites.get()
    val (files, updated, inserted) = graft.etl.ManifestTable.mergeInto(
      spark, root, "t", Seq((307L, "UP", 307L * 7 + 3), (99999L, "NEW", 0L))
        .toDF("k", "v", "u"), key = Seq("k"), statsCol = Some("k"))
    val writes = graft.etl.ManifestTable.dataWrites.get() - base
    assert((files, updated, inserted) == (1L, 1L, 1L))
    // 1 write for the merge's rewrite + 1 for the interloper's publish —
    // the rebase did NOT re-run the merge attempt
    assert(writes == 2L, s"file-reusing rebase: $writes data writes (want 2)")
    val cur = graft.etl.ManifestTable.current(spark, root).get
    assert(cur.version == v0 + 2L, "interloper + rebased merge")
    val got = graft.etl.ManifestTable.read(spark, root, "t")
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(got(307L) == "UP" && got(99999L) == "NEW" && got.size == 101)
    assert(graft.etl.ManifestTable.read(spark, root, "other").count() == 1L,
      "interloper's overwrite of 'other' carried into the rebased commit")
  }

  test("commit conflict on the SAME table re-runs the attempt (no file " +
    "reuse): state stays exact under the overlap") {
    val root = tmpDir("rebase-rerun") + "/t"
    manyFileTable(root, 10)
    // interloper touches the SAME table's files
    graft.etl.ManifestTable.testBeforeCommit = Some(() => {
      graft.etl.ManifestTable.deleteByKeys(spark, root, "t",
        Seq(901L).toDF("k"), key = Seq("k"), statsCol = Some("k"))
      ()
    })
    val base = graft.etl.ManifestTable.dataWrites.get()
    val (files, updated, inserted) = graft.etl.ManifestTable.mergeInto(
      spark, root, "t", Seq((307L, "UP", 307L * 7 + 3)).toDF("k", "v", "u"),
      key = Seq("k"), statsCol = Some("k"))
    val writes = graft.etl.ManifestTable.dataWrites.get() - base
    assert((files, updated, inserted) == (1L, 1L, 0L))
    assert(writes >= 3L, s"same-table conflict re-ran the attempt: $writes")
    val got = graft.etl.ManifestTable.read(spark, root, "t")
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(got(307L) == "UP" && !got.contains(901L) && got.size == 99,
      "both the interloper's delete and the merge landed")
    // the abandoned first attempt's write was eagerly dropped: every
    // data dir on disk belongs to a RETAINED version (versions
    // accumulate here, so reference the union of all commits), no
    // instant orphans waiting for a vacuum horizon
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(root, "t"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    val latest = graft.etl.ManifestTable.current(spark, root).get.version
    val referenced = (1L to latest).flatMap(v =>
      graft.etl.ManifestTable.entriesAt(spark, root, v).getOrElse(Nil))
      .filter(_.table == "t").map(_.relPath.split("/")(1)).toSet
    assert(onDisk.subsetOf(referenced),
      s"no orphan dirs from the abandoned attempt: ${onDisk -- referenced}")
  }

  test("transactionalMerge watermark race resolves to already-applied: " +
    "an interleaved commit of the SAME (writer, batch) makes the loser " +
    "a no-op instead of a double apply") {
    val root = tmpDir("rebase-wm") + "/t"
    manyFileTable(root, 6)
    graft.etl.ManifestTable.testBeforeCommit = Some(() => {
      graft.etl.ManifestTable.transactionalMerge(spark, root, "t",
        upserts = Seq((99998L, "A", 0L)).toDF("k", "v", "u"),
        deleteKeys = Seq.empty[Long].toDF("k"),
        key = Seq("k"), writerId = "w17", batchId = 5L,
        statsCol = Some("k"))
      ()
    })
    val applied = graft.etl.ManifestTable.transactionalMerge(spark, root,
      "t", upserts = Seq((99998L, "A", 0L)).toDF("k", "v", "u"),
      deleteKeys = Seq.empty[Long].toDF("k"),
      key = Seq("k"), writerId = "w17", batchId = 5L, statsCol = Some("k"))
    assert(!applied, "replay that lost the race reports already-applied")
    assert(graft.etl.ManifestTable.read(spark, root, "t")
      .filter(col("k") === 99998L).count() == 1L, "exactly one apply")
    // the loser's written files were eagerly dropped on the
    // already-applied verdict (no vacuum needed for the instant orphan)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(root, "t"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    val latest = graft.etl.ManifestTable.current(spark, root).get.version
    val referenced = (1L to latest).flatMap(v =>
      graft.etl.ManifestTable.entriesAt(spark, root, v).getOrElse(Nil))
      .filter(_.table == "t").map(_.relPath.split("/")(1)).toSet
    assert(onDisk.subsetOf(referenced),
      s"loser's orphan dropped eagerly: ${onDisk -- referenced}")
  }

  // ---- verdict #8 (missing): multi-column discovery keys ----

  test("composite-key merge narrows discovery on the covered column: " +
    "per-column containment prunes even when the second key column has " +
    "no stats") {
    val root = tmpDir("disc-composite") + "/t"
    manyFileTable(root, 30)
    val src = Seq((307L, "v3-7", 307L * 7 + 3), (2101L, "v21-1", 2101L * 7 + 3))
      .toDF("k", "v", "u")
    // key (k, v): k has stats coverage, v has nothing
    val (files, updated, _) = graft.etl.ManifestTable.mergeInto(spark,
      root, "t", src.withColumn("u", col("u") + 1L),
      key = Seq("k", "v"), statsCol = Some("k"))
    assert(files == 2L && updated == 2L)
    val st = graft.etl.ManifestTable.mergeDiscoveryStats(root, "t").get
    assert(st.totalFiles == 30L && st.scannedFiles == 2L,
      s"composite key narrowed on k alone: $st")
  }

  // ---- ADVICE: per-(root, table) discovery stats ----

  test("discovery stats are keyed by (root, table): merges on two " +
    "tables under one root keep separate records") {
    val root = tmpDir("disc-twotables") + "/r"
    manyFileTable(root, 10)
    graft.etl.ManifestTable.publish(spark, root,
      Map("t2" -> (0L until 50L).map(i => (i, s"x$i")).toDF("k", "v")
        .repartitionByRange(5, col("k"))),
      statsCols = Map("t2" -> "k"))
    graft.etl.ManifestTable.deleteByKeys(spark, root, "t",
      Seq(105L).toDF("k"), key = Seq("k"), statsCol = Some("k"))
    graft.etl.ManifestTable.deleteByKeys(spark, root, "t2",
      Seq(7L).toDF("k"), key = Seq("k"), statsCol = Some("k"))
    val s1 = graft.etl.ManifestTable.mergeDiscoveryStats(root, "t").get
    val s2 = graft.etl.ManifestTable.mergeDiscoveryStats(root, "t2").get
    assert(s1.totalFiles == 10L && s2.totalFiles == 5L,
      s"independent per-table records: $s1 / $s2")
    assert(graft.etl.ManifestTable.mergeDiscoveryStats(root).contains(s2),
      "table-less accessor returns the root's most recent record")
  }

  // ---- ADVICE: bloom'd schema keeper ----

  test("a fully-emptied bloom-covered table keeps a schema file whose " +
    "empty bloom rejects every probe: point lookups skip it, reads " +
    "keep the schema") {
    val root = tmpDir("empty-bloom") + "/t"
    graft.etl.ManifestTable.publish(spark, root,
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("k", "v")),
      statsCols = Map("t" -> "k"), bloomCols = Map("t" -> "k"))
    graft.etl.ManifestTable.deleteWhere(spark, root, "t", lit(true),
      statsCol = Some("k"), bloomCol = Some("k"))
    val mine = graft.etl.ManifestTable.current(spark, root).get.entries
      .filter(_.table == "t")
    assert(mine.size == 1 && mine.head.bloomFor("k").isDefined,
      s"schema keeper carries a bloom: $mine")
    val df = graft.etl.ManifestTable.readPrunedEq(spark, root, "t", "k", 1L)
    val (kept, total) = graft.etl.ManifestFileIndex.filesKept(df)
    assert((kept, total) == (0L, 1L), s"empty bloom rejects the probe: $kept/$total")
    assert(df.count() == 0L && df.columns.toSeq == Seq("k", "v"),
      "readable empty table with intact schema")
  }

  // ---- follow-through: equality conjuncts probe blooms in deleteWhere ----

  test("deleteWhere with an equality/IN conjunct on a bloom-covered " +
    "column probes per-file filters: only containing files are scanned") {
    val root = tmpDir("delw-eq") + "/t"
    manyFileTable(root, 30, withU = true)
    // u = k*7+3 is uncorrelated with the k clustering: range stats on k
    // can't help, the u bloom is the only pruning axis
    val (files, nDel) = graft.etl.ManifestTable.deleteWhere(spark, root,
      "t", col("u") === (1204L * 7L + 3L) && col("v").isNotNull,
      statsCol = Some("k"), extraBloomCols = Seq("u"))
    assert((files, nDel) == (1L, 1L), s"one file, one row: $files/$nDel")
    val st = graft.etl.ManifestTable.mergeDiscoveryStats(root, "t").get
    assert(st.totalFiles == 30L && st.scannedFiles <= 3L,
      s"equality conjunct bloom-pruned the discovery scan: $st")
    assert(graft.etl.ManifestTable.read(spark, root, "t")
      .filter(col("k") === 1204L).count() == 0L)
    // IN-set conjunct: two values, two files
    val (f2, n2) = graft.etl.ManifestTable.deleteWhere(spark, root, "t",
      col("u").isin(205L * 7L + 3L, 2503L * 7L + 3L),
      statsCol = Some("k"), extraBloomCols = Seq("u"))
    assert((f2, n2) == (2L, 2L))
    val st2 = graft.etl.ManifestTable.mergeDiscoveryStats(root, "t").get
    assert(st2.scannedFiles <= 4L, s"IN conjunct pruned: $st2")
  }

  // ---- follow-through: blooms through transactionalAppendAll ----

  test("transactionalAppendAll bloomCols: the multi-sink batch commit " +
    "covers its files with key blooms, and keyed deletes against the " +
    "stream-maintained table prune by them") {
    val root = tmpDir("appall-bloom") + "/r"
    (0 until 6).foreach { b =>
      val rows = (0 until 10).map(i => (b * 100L + i, s"d$b-$i"))
        .toDF("id", "payload").repartition(1) // one file per batch
      assert(graft.etl.ManifestTable.transactionalAppendAll(spark, root,
        Map("docs" -> rows), writerId = "w", batchId = b.toLong,
        statsCols = Map("docs" -> "id"), bloomCols = Map("docs" -> "id")))
    }
    val mine = graft.etl.ManifestTable.current(spark, root).get.entries
      .filter(_.table == "docs")
    assert(mine.size == 6 && mine.forall(_.bloomFor("id").isDefined),
      s"every batch file carries an id bloom: $mine")
    val (files, nDel) = graft.etl.ManifestTable.deleteByKeys(spark, root,
      "docs", Seq(203L).toDF("id"), key = Seq("id"),
      statsCol = Some("id"), bloomCol = Some("id"))
    assert((files, nDel) == (1L, 1L))
    val st = graft.etl.ManifestTable.mergeDiscoveryStats(root, "docs").get
    assert(st.scannedFiles <= 2L && st.totalFiles == 6L,
      s"stream-written blooms prune the forget: $st")
    assert(graft.etl.ManifestTable.read(spark, root, "docs").count() == 59L)
  }

  // ---- soundness: type guards on discovery narrowing ----

  test("discovery narrowing is TYPE-GUARDED: a string-typed key column " +
    "compared against numeric probes disables narrowing (the \"4.00\" " +
    "double-coercion hole), and the coercion-matched row is still " +
    "merged; string-vs-string narrowing stays on") {
    val root = tmpDir("guard-str") + "/t"
    // string key column holding decimal-formatted numerics: "4.00"
    // long-casts to NULL (invisible to stats/blooms) but double-coerces
    // equal to probe 4
    val rows = (0 until 8).flatMap(b => (0 until 5).map(i =>
      (f"${b * 100 + i}%d.00", s"v$b-$i", b.toLong)))
      .toDF("sk", "v", "b").repartitionByRange(8, col("b")).drop("b")
    graft.etl.ManifestTable.publish(spark, root, Map("t" -> rows),
      statsCols = Map("t" -> "sk"), bloomCols = Map("t" -> "sk"))
    val total = graft.etl.ManifestTable.current(spark, root).get
      .entries.count(_.table == "t")
    assert(total >= 8, s"multi-file fixture: $total")
    // numeric probe frame against the string key: how Spark coerces an
    // equi-join between string and bigint is SHAPE-dependent (a
    // BinaryComparison widens to double and matches "204.00" = 204; the
    // join form has its own rule). Narrowing must never assume either:
    // the type guard stands down, discovery scans EVERYTHING, and the
    // outcome is exactly whatever Spark's own unnarrowed join says —
    // asserted against a reference join evaluated in this session.
    val expected = graft.etl.ManifestTable.read(spark, root, "t")
      .join(Seq(204L).toDF("sk"), Seq("sk"), "left_semi").count()
    val (_, nDel) = graft.etl.ManifestTable.deleteByKeys(spark, root,
      "t", Seq(204L).toDF("sk"), key = Seq("sk"), statsCol = Some("sk"),
      bloomCol = Some("sk"))
    val st = graft.etl.ManifestTable.mergeDiscoveryStats(root, "t").get
    assert(st.scannedFiles == st.totalFiles,
      s"cross-family types disable narrowing: $st")
    assert(nDel == expected,
      s"outcome equals the unnarrowed join semantics: $nDel vs $expected")
    assert(graft.etl.ManifestTable.read(spark, root, "t").count() ==
      40L - expected, "exactly the join-matched rows are gone")
    // same-type string probes: narrowing stays ON (blooms are exact
    // for string equality)
    val (f2, n2) = graft.etl.ManifestTable.deleteByKeys(spark, root, "t",
      Seq("304.00").toDF("sk"), key = Seq("sk"), statsCol = Some("sk"),
      bloomCol = Some("sk"))
    assert(n2 == 1L && f2 == 1L)
    val st2 = graft.etl.ManifestTable.mergeDiscoveryStats(root, "t").get
    assert(st2.scannedFiles < st2.totalFiles,
      s"string/string narrowing still prunes: $st2")
  }

  test("deleteWhere type guards: numeric conjuncts on a STRING stats/" +
    "bloom column scan everything and still delete the coercion " +
    "match; fractional equality literals disable bloom probing") {
    val root = tmpDir("guard-delw") + "/t"
    val rows = (0 until 6).flatMap(b => (0 until 5).map(i =>
      (f"${b * 100 + i}%d.00", s"v$b-$i", b.toLong)))
      .toDF("sk", "v", "b").repartitionByRange(6, col("b")).drop("b")
    graft.etl.ManifestTable.publish(spark, root, Map("t" -> rows),
      statsCols = Map("t" -> "sk"), bloomCols = Map("t" -> "sk"))
    // numeric equality against the string column: double coercion
    // matches "103.00"; the guard must scan ALL files and delete it
    val (files, nDel) = graft.etl.ManifestTable.deleteWhere(spark, root,
      "t", col("sk") === 103L, statsCol = Some("sk"), bloomCol = Some("sk"))
    assert((files, nDel) == (1L, 1L), s"coercion match deleted: $files/$nDel")
    val st = graft.etl.ManifestTable.mergeDiscoveryStats(root, "t").get
    assert(st.scannedFiles == st.totalFiles,
      s"numeric conjunct on a string column: no narrowing: $st")
    assert(graft.etl.ManifestTable.read(spark, root, "t")
      .filter(col("sk") === "103.00").count() == 0L)
    // a NUMERIC column with a fractional equality literal: rendering is
    // type-dependent, so bloom probing stands down (correctness over
    // pruning) — build a numeric-keyed root to drive it
    val root2 = tmpDir("guard-frac") + "/t"
    manyFileTable(root2, 8, withU = true)
    val (f2, n2) = graft.etl.ManifestTable.deleteWhere(spark, root2, "t",
      col("u") === 3524.5, statsCol = Some("k"), extraBloomCols = Seq("u"))
    assert((f2, n2) == (0L, 0L), "no row matches the fractional probe")
    val st2 = graft.etl.ManifestTable.mergeDiscoveryStats(root2, "t").get
    assert(st2.scannedFiles == st2.totalFiles,
      s"fractional literal: bloom narrowing stands down: $st2")
    // integral-valued DOUBLE literal: still narrows (long form exact)
    val (f3, n3) = graft.etl.ManifestTable.deleteWhere(spark, root2, "t",
      col("u") === 3524.0, statsCol = Some("k"), extraBloomCols = Seq("u"))
    assert((f3, n3) == (1L, 1L))
    val st3 = graft.etl.ManifestTable.mergeDiscoveryStats(root2, "t").get
    assert(st3.scannedFiles < st3.totalFiles,
      s"integral-valued double literal narrows: $st3")
  }

  // ---- follow-through: secondary stats groups at write time ----

  test("extraStatsCols: a time-clustered CDC table records a secondary " +
    "business-key range per file; keyed merges AND predicate deletes " +
    "range-prune on it; compaction keeps the coverage") {
    val root = tmpDir("cdc-2stats") + "/r"
    // 8 batches, each time-clustered (seq = batch) with a contiguous
    // business-key block (k = batch*1000 .. +9) — the canonical shape
    // where the clustered column is useless for key probes but the
    // SECONDARY range is tight per file
    (0 until 8).foreach { b =>
      val rows = (0 until 10).map(i =>
        (b * 1000L + i, b.toLong, s"p$b-$i", "I")).toDF("k", "seq", "v", "op")
      streaming.CdcApply.applyBatch(rows, root, "t", Seq("k"), Seq("seq"),
        "op", batchId = b.toLong, statsCol = Some("seq"),
        extraStatsCols = Seq("k"))
    }
    val mine = graft.etl.ManifestTable.current(spark, root).get.entries
      .filter(_.table == "t")
    assert(mine.size == 8 &&
      mine.forall(_.stats2.exists(_._1 == "k")),
      s"every batch file records a secondary k range: $mine")
    // keyed merge: probe k=3004 — secondary stats narrow to 1 file even
    // with NO bloom anywhere
    streaming.CdcApply.applyBatch(
      Seq((3004L, 99L, "UP", "I")).toDF("k", "seq", "v", "op"),
      root, "t", Seq("k"), Seq("seq"), "op", batchId = 8L,
      statsCol = Some("seq"), extraStatsCols = Seq("k"))
    val st = graft.etl.ManifestTable.mergeDiscoveryStats(root, "t").get
    assert(st.scannedFiles == 1L && st.totalFiles == 8L,
      s"secondary k stats narrowed the merge: $st")
    // predicate delete bounded on k: range-prunes via the secondary group
    val (files, nDel) = graft.etl.ManifestTable.deleteWhere(spark, root,
      "t", col("k") >= 5000L && col("k") <= 5003L,
      statsCol = Some("seq"), extraStatsCols = Seq("k"))
    assert((files, nDel) == (1L, 4L), s"one file, four rows: $files/$nDel")
    val st2 = graft.etl.ManifestTable.mergeDiscoveryStats(root, "t").get
    assert(st2.scannedFiles <= 2L,
      s"k conjunct pruned via secondary stats: $st2")
    // compaction carries the secondary coverage into the rewritten files
    val ran = graft.etl.ManifestTable.compact(spark, root, "t",
      statsCol = Some("seq"), extraStatsCols = Seq("k"))
    assert(ran._1 >= 8L)
    val after = graft.etl.ManifestTable.current(spark, root).get.entries
      .filter(_.table == "t")
    assert(after.forall(_.stats2.exists(_._1 == "k")),
      s"compacted files keep the secondary group: $after")
    val got = graft.etl.ManifestTable.read(spark, root, "t")
    assert(got.count() == 76L && // 80 rows, k=3004 replaced in place, -4 deleted
      got.filter(col("k") === 3004L && col("v") === "UP").count() == 1L)
  }

  // ---- verdict #7: tuned-LSH corpus pipeline ----

  test("prepareTuned: measured-recall config drives a near-dup stage " +
    "between exact dedup and the cap; the choice is logged; default " +
    "prepare is untouched by the refactor") {
    // graded near-dup corpus (the Round16OpsSpec shape)
    val base = spark.read.parquet(s"${sf()}/documents.parquet")
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"), col("source"))
    val toks = split(col("text"), " ")
    val frac = when(col("doc_id") % 8 === 0, lit(1.0d))
      .when(col("doc_id") % 8 === 2, lit(0.9d))
      .when(col("doc_id") % 8 === 4, lit(0.75d))
      .otherwise(lit(0.6d))
    val variants = base.select((col("doc_id") + 1000000L).as("doc_id"),
      array_join(slice(toks, lit(1),
        greatest(lit(3), floor(size(toks) * frac).cast("int"))), " ")
        .as("text"), col("source"))
    val graded = base.unionByName(variants).localCheckpoint()
    val tuned = graft.operators.CorpusPipeline.prepareTuned(graded,
      graded.select("doc_id", "text"), "text", "doc_id", "source",
      recallFloorP6 = 900000L, perSourceCap = 1000000)
    val choice = graft.operators.Dedup
      .lshConfigChoice("graft.pipeline.lsh.choice").get
    assert(choice.recallP6 >= 900000L, s"logged qualifying choice: $choice")
    val plain = graft.operators.CorpusPipeline.prepare(graded, "text",
      "doc_id", "source", perSourceCap = 1000000)
    val tunedIds = tuned.select("doc_id").as[Long].collect().toSet
    val plainIds = plain.select("doc_id").as[Long].collect().toSet
    assert(tunedIds.subsetOf(plainIds),
      "near-dup stage only REMOVES exact-dedup survivors")
    assert(tunedIds.size < plainIds.size,
      s"the graded corpus has near-dups to remove: ${tunedIds.size} < ${plainIds.size}")
    // the removed set is exactly dedupCorpus under the chosen knobs,
    // run over the ORIGINAL texts of prepare's survivors (the near-dup
    // stage sits before the PII scrub)
    val manual = graft.operators.Dedup.dedupCorpus(
      graded.join(plain.select("doc_id"), Seq("doc_id"), "left_semi"),
      "text", "doc_id",
      bands = choice.bands, rowsPerBand = choice.rowsPerBand,
      shingleN = 3, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(tunedIds == manual, "tuned pipeline == prepare + tuned dedupCorpus")
  }
}
