package graft

import org.apache.spark.sql.functions._

/** Round-18 coverage: the round-17 ADVICE soundness items driven
  * end-to-end (exact implied-range bounds for snowflake-scale ids,
  * the 2^53 bloom-probe guard, opaque narrowing casts, exact/floating
  * discovery alignment) plus the round-18 verdict items (manifest
  * commit-body scale — row counts, right-sized sidecar blooms, delta
  * commits + checkpoints, one combined stats+bloom pass; date/timestamp
  * canonical stats; graph-ANN vacuum shard pruning). */
class Round18OpsSpec extends SparkSpec {
  import spark.implicits._

  /** Two-file table of snowflake-scale long ids: file 0 holds
    * [B, B+9], file 1 holds [B+1000, B+1009], where B ~ 1.5e18 sits in
    * a double-precision gap of 256 (so B.toDouble == (B+L).toDouble for
    * small L — the exact hole the double bounds pipeline had). */
  private val B = 1500000000000000003L // not a multiple of the 256 gap

  private def snowflakeTable(root: String): Unit = {
    val rows = ((0 until 10).map(j => B + j) ++
      (0 until 10).map(j => B + 1000L + j)).map(k => (k, s"v$k"))
    val df = spark.createDataFrame(rows).toDF("k", "v")
      .repartitionByRange(2, col("k")).sortWithinPartitions(col("k"))
    graft.etl.ManifestTable.publish(spark, root, Map("t" -> df),
      statsCols = Map("t" -> "k"), bloomCols = Map("t" -> "k"))
  }

  // ---- ADVICE high: exact bounds — a bounded purge at snowflake ids ----

  test("deleteWhere range narrowing deletes snowflake-scale ids it " +
    "would have rounded past under double bounds, and still narrows") {
    val root = tmpDir("r18-snowflake") + "/t"
    snowflakeTable(root)
    // B+3..B+6: a double pipeline rounds these bounds to B's gap edge;
    // the exact pipeline must both DELETE all 4 rows and narrow to the
    // single file whose [min,max] intersects
    val (files, rows) = graft.etl.ManifestTable.deleteWhere(spark, root,
      "t", col("k") >= (B + 3L) && col("k") <= (B + 6L),
      statsCol = Some("k"), bloomCol = Some("k"))
    assert(rows == 4L, s"all 4 matching rows deleted, got $rows")
    assert(files == 1L, "only the containing file rewritten")
    val st = graft.etl.ManifestTable.mergeDiscoveryStats(root, "t").get
    assert(st.scannedFiles == 1L && st.totalFiles == 2L,
      s"range narrowing still prunes the other file: $st")
    assert(graft.etl.ManifestTable.read(spark, root, "t").count() == 16L)
  }

  test("deleteWhere equality bloom narrowing stays exact for a LONG " +
    "column at > 2^53 (exact-exact comparison) and deletes the row") {
    val root = tmpDir("r18-bigeq") + "/t"
    snowflakeTable(root)
    val (files, rows) = graft.etl.ManifestTable.deleteWhere(spark, root,
      "t", col("k") === (B + 1004L), statsCol = Some("k"),
      bloomCol = Some("k"))
    assert((files, rows) == (1L, 1L), s"got ($files, $rows)")
    val st = graft.etl.ManifestTable.mergeDiscoveryStats(root, "t").get
    assert(st.scannedFiles == 1L, s"bloom+range narrowed to 1 file: $st")
    assert(graft.etl.ManifestTable.read(spark, root, "t")
      .filter(col("k") === (B + 1004L)).count() == 0L)
  }

  test("deleteWhere with a DOUBLE literal beyond 2^53 on a LONG column " +
    "disables bloom narrowing (widened comparison) but deletes every " +
    "coercion-matched row") {
    val root = tmpDir("r18-dbl") + "/t"
    snowflakeTable(root)
    // (B+3).toDouble collapses a 256-wide band of longs onto one double;
    // the predicate k === lit(thatDouble) matches EVERY long in the band
    // present in the table (B..B+9 all round to the same double here)
    val d = (B + 3L).toDouble
    val expected = (0 until 10).map(j => B + j)
      .count(_.toDouble == d).toLong
    assert(expected >= 2L, "fixture must span a collapsed double band")
    val (_, rows) = graft.etl.ManifestTable.deleteWhere(spark, root,
      "t", col("k") === lit(d), statsCol = Some("k"), bloomCol = Some("k"))
    assert(rows == expected,
      s"every double-coerced match deleted: got $rows, want $expected")
  }

  // ---- ADVICE medium extension: exact/floating discovery alignment ----

  test("deleteByKeys with a DOUBLE-typed key frame on a LONG column " +
    "beyond 2^53 must not bloom/stats-skip the matching file") {
    val root = tmpDir("r18-mixed") + "/t"
    // 6 files so discovery narrowing engages (> 4-file fast path)
    val rows = (0 until 6).flatMap(i =>
      (0 until 5).map(j => (B + i * 1000L + j, s"v$i-$j")))
    val df = spark.createDataFrame(rows).toDF("k", "v")
      .repartitionByRange(6, col("k")).sortWithinPartitions(col("k"))
    graft.etl.ManifestTable.publish(spark, root, Map("t" -> df),
      statsCols = Map("t" -> "k"), bloomCols = Map("t" -> "k"))
    // the probe frame carries k as DOUBLE: (B+2).toDouble == B.toDouble
    // here, so the semi join (widened to double) matches several rows
    // whose long renderings a double-derived probe would never hit
    val probe = Seq((B + 2L).toDouble).toDF("k")
    val matched = graft.etl.ManifestTable.read(spark, root, "t")
      .join(probe, Seq("k"), "left_semi").count()
    assert(matched >= 2L, "fixture: double probe collapses a band")
    val (files, deleted) = graft.etl.ManifestTable.deleteByKeys(spark,
      root, "t", probe, Seq("k"), statsCol = Some("k"),
      bloomCol = Some("k"))
    assert(deleted == matched,
      s"every widened-equality match deleted: got $deleted/$matched")
    assert(files >= 1L)
    val st = graft.etl.ManifestTable.mergeDiscoveryStats(root, "t").get
    assert(st.scannedFiles == st.totalFiles,
      s"mixed exact/floating types must disable narrowing, not lose rows: $st")
  }

  // ---- verdict #1: commit-body scale — sidecar blooms + row counts ----

  test("commit bodies stay ~100 B per file with bloom coverage: filters " +
    "live in content-addressed sidecars, carried entries reuse them, " +
    "row counts ride the line, vacuum reclaims unreferenced sidecars") {
    val root = tmpDir("r18-sidecar") + "/t"
    // 30 files, TWO bloom-covered columns — the shape whose inline
    // filters made commits O(files x 60 KB x 2)
    val rows = (0 until 30).flatMap(i =>
      (0 until 20).map(j => (i * 100L + j, i * 1000L + j * 7L, s"v$i-$j")))
    val df = spark.createDataFrame(rows).toDF("k", "u", "v")
      .repartitionByRange(30, col("k")).sortWithinPartitions(col("k"))
    graft.etl.ManifestTable.publish(spark, root, Map("t" -> df),
      statsCols = Map("t" -> "k"), bloomCols = Map("t" -> "k"),
      extraBloomCols = Map("t" -> Seq("u")))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cd = new org.apache.hadoop.fs.Path(s"$root/_commits")
    val commitBytes = fs.listStatus(cd)
      .filter(_.getPath.getName.startsWith("c-")).map(_.getLen).max
    val entries = graft.etl.ManifestTable.current(spark, root).get.entries
    assert(entries.size == 30)
    assert(commitBytes < 30L * 350L,
      s"commit body must be pointer-sized, got $commitBytes bytes " +
        "for 30 files x 2 blooms (inline filters would be ~2.7 MB)")
    assert(entries.forall(_.rows.contains(20L)), "footer row counts recorded")
    assert(entries.forall(e => e.bloomFor("k").isDefined &&
      e.bloomFor("u").isDefined), "both columns covered")
    // coverage is real: a point lookup on either column prunes hard
    def lookup(c: String, v: Long) = graft.etl.ManifestFileIndex.filesKept(
      graft.etl.ManifestTable.readPrunedEq(spark, root, "t", c, v))
    val (kk, kt) = lookup("k", 1507L)
    assert(kt == 30L && kk <= 3L, s"k bloom prunes: $kk/$kt")
    val (uk, _) = lookup("u", 15021L)
    assert(uk <= 3L, s"u bloom prunes: $uk")
    assert(graft.etl.ManifestTable.readPrunedEq(spark, root, "t", "u", 15021L)
      .select("k").as[Long].collect().toSeq == Seq(1503L))

    // an append carries the 30 old entries untouched: same sidecar
    // pointers, no rewrite of any filter
    val before = entries.flatMap(e =>
      (e.bloom.toSeq ++ e.blooms2).map(_._2)).toSet
    graft.etl.ManifestTable.appendNew(spark, root, "t",
      Seq((9999L, 9999L, "x")).toDF("k", "u", "v"), Seq("k"),
      statsCol = Some("k"), bloomCol = Some("k"),
      extraBloomCols = Seq("u"))
    val after = graft.etl.ManifestTable.current(spark, root).get.entries
    assert(before.subsetOf(after.flatMap(e =>
      (e.bloom.toSeq ++ e.blooms2).map(_._2)).toSet),
      "carried entries reuse their sidecars verbatim")

    // vacuum: drop the old version, then compact so ALL original files
    // (and their sidecars) become unreferenced — they must be reclaimed
    val bloomDir = new org.apache.hadoop.fs.Path(s"$root/t/_blooms")
    val sidecarsBefore = fs.listStatus(bloomDir).length
    assert(sidecarsBefore >= 2, "sidecar files exist")
    graft.etl.ManifestTable.compact(spark, root, "t",
      statsCol = Some("k"), bloomCol = Some("k"),
      extraBloomCols = Seq("u"))
    val reclaimed = graft.etl.ManifestTable.vacuum(spark, root,
      keepVersions = 1)
    assert(reclaimed > 0L, "vacuum reclaimed the unreferenced files")
    val liveSidecars = fs.listStatus(bloomDir).map(_.getPath.getName).toSet
    val livePointers = graft.etl.ManifestTable.current(spark, root).get
      .entries.flatMap(e => (e.bloom.toSeq ++ e.blooms2).map(_._2))
      .filter(_.startsWith("@"))
      // pack pointers carry a #offset:len fragment; the OBJECT is the pack
      .map(_.split("/").last.takeWhile(_ != '#')).toSet
    assert(livePointers.subsetOf(liveSidecars),
      "every live pointer still resolves")
    assert(liveSidecars.forall(livePointers.contains),
      "no orphan sidecar survives vacuum")
    // and the survivors still prune + read correctly
    assert(graft.etl.ManifestTable.readPrunedEq(spark, root, "t", "u", 15021L)
      .select("k").as[Long].collect().toSeq == Seq(1503L))
  }

  test("strict bounds on a scale-0 DECIMAL column tighten by one " +
    "integer: k > 9 skips the file ending at 9") {
    val root = tmpDir("r18-dec0") + "/t"
    val M = graft.etl.ManifestTable
    val df = spark.range(0, 40)
      .select(col("id").cast("decimal(18,0)").as("k"),
        concat(lit("v"), col("id")).as("v"))
      .repartitionByRange(4, col("k"))
    M.publish(spark, root, Map("t" -> df), statsCols = Map("t" -> "k"))
    assert(M.current(spark, root).get.entries.size == 4)
    val (files, deleted) = M.deleteWhere(spark, root, "t",
      col("k") > lit(new java.math.BigDecimal(9)) &&
        col("k") < lit(new java.math.BigDecimal(20)),
      statsCol = Some("k"))
    assert(deleted == 10L, s"rows 10..19: $deleted")
    val st = M.mergeDiscoveryStats(root, "t").get
    assert(st.scannedFiles == 1L && st.totalFiles == 4L,
      s"strict bounds exclude their own integers on decimal(18,0): $st")
    assert(files == 1L)
    assert(M.read(spark, root, "t").count() == 30L)
  }

  // ---- verdict #4: date/timestamp canonical stats ----

  test("a date-clustered manifest table range-prunes a DATE-bounded " +
    "retention purge: only in-range files are scanned, results exact") {
    val root = tmpDir("r18-date") + "/t"
    val M = graft.etl.ManifestTable
    // 12 months of 2023, one file per month (range-clustered)
    val rows = (0 until 360).map { i =>
      (i.toLong, java.sql.Date.valueOf(java.time.LocalDate
        .of(2023, 1, 1).plusDays(i.toLong)), s"v$i")
    }
    val df = spark.createDataFrame(rows).toDF("id", "d", "v")
      .repartitionByRange(12, col("d")).sortWithinPartitions(col("d"))
    M.publish(spark, root, Map("t" -> df), statsCols = Map("t" -> "d"))
    val entries = M.current(spark, root).get.entries
    assert(entries.size == 12)
    assert(entries.forall(e => e.min.isDefined && e.max.isDefined),
      "DATE stats recorded canonically (epoch-day), not null")
    // retention purge: everything before Feb 15
    val cutoff = java.sql.Date.valueOf("2023-02-15")
    val (files, deleted) = M.deleteWhere(spark, root, "t",
      col("d") < lit(cutoff), statsCol = Some("d"))
    assert(deleted == 45L, s"Jan 1 .. Feb 14 = 45 rows, got $deleted")
    val st = M.mergeDiscoveryStats(root, "t").get
    assert(st.scannedFiles <= 3L && st.totalFiles == 12L,
      s"date range narrowing scans only the old files: $st")
    assert(files <= 3L)
    assert(M.read(spark, root, "t").count() == 315L)
    // readPruned in canonical epoch-day units composes
    val lo = java.time.LocalDate.of(2023, 6, 1).toEpochDay
    val hi = java.time.LocalDate.of(2023, 6, 30).toEpochDay
    assert(M.readPruned(spark, root, "t", "d", lo, hi).count() == 30L)
  }

  test("a timestamp-clustered table range-prunes a TIMESTAMP-bounded " +
    "purge in epoch-second canonical units (pre-v3 unit stability)") {
    val root = tmpDir("r18-ts") + "/t"
    val M = graft.etl.ManifestTable
    val base = java.sql.Timestamp.valueOf("2023-01-01 00:00:00")
    val rows = (0 until 240).map { i =>
      (i.toLong, new java.sql.Timestamp(base.getTime + i * 3600L * 1000L),
        s"v$i")
    }
    val df = spark.createDataFrame(rows).toDF("id", "ts", "v")
      .repartitionByRange(8, col("ts")).sortWithinPartitions(col("ts"))
    M.publish(spark, root, Map("t" -> df), statsCols = Map("t" -> "ts"))
    val cutoff = java.sql.Timestamp.valueOf("2023-01-02 12:30:00")
    val (files, deleted) = M.deleteWhere(spark, root, "t",
      col("ts") < lit(cutoff), statsCol = Some("ts"))
    assert(deleted == 37L, s"36.5h of hourly rows, got $deleted")
    val st = M.mergeDiscoveryStats(root, "t").get
    assert(st.scannedFiles <= 3L && st.totalFiles == 8L,
      s"timestamp range narrowing: $st")
    assert(files <= 3L)
    assert(M.read(spark, root, "t").count() == 203L)
  }

  // ---- z-order clustering: multi-column pruning ----

  test("a z-order-clustered table prunes a 2-D box delete to the files " +
    "the box touches; the same box over a 1-D clustering scans ~4x more") {
    val M = graft.etl.ManifestTable
    // 128x128 grid, two equal-span dimensions
    val rows = for { a <- 0 until 128; b <- 0 until 128 }
      yield (a.toLong, b.toLong, a * 128L + b)
    val df = spark.createDataFrame(rows).toDF("a", "b", "v")
    val box = col("a").between(lit(32L), lit(63L)) &&
      col("b").between(lit(32L), lit(63L))

    val zRoot = tmpDir("r18-z2d") + "/t"
    M.publish(spark, zRoot,
      Map("t" -> graft.operators.ZOrder.cluster(df, Seq("a", "b"), 64)),
      statsCols = Map("t" -> "a"), extraStatsCols = Map("t" -> Seq("b")))
    assert(M.current(spark, zRoot).get.entries.size == 64)
    val (zFiles, zDeleted) = M.deleteWhere(spark, zRoot, "t", box,
      statsCol = Some("a"))
    assert(zDeleted == 32L * 32L, s"box holds 1024 rows, got $zDeleted")
    val zSt = M.mergeDiscoveryStats(zRoot, "t").get
    assert(zSt.totalFiles == 64L)

    val oneRoot = tmpDir("r18-1d") + "/t"
    M.publish(spark, oneRoot,
      Map("t" -> df.repartitionByRange(64, col("a"))),
      statsCols = Map("t" -> "a"), extraStatsCols = Map("t" -> Seq("b")))
    val (oFiles, oDeleted) = M.deleteWhere(spark, oneRoot, "t", box,
      statsCol = Some("a"))
    assert(oDeleted == 32L * 32L)
    val oSt = M.mergeDiscoveryStats(oneRoot, "t").get

    // the box covers 1/16 of the area: the z-curve confines it to a
    // handful of files, while the 1-D clustering must scan every file
    // the a-range alone admits (b never narrows: each file spans all b)
    assert(zSt.scannedFiles <= 12L,
      s"z-order 2-D pruning: $zSt (deleted from $zFiles files)")
    assert(oSt.scannedFiles >= 14L, s"1-D control: $oSt (from $oFiles)")
    assert(zSt.scannedFiles * 2 < oSt.scannedFiles,
      s"z beats 1-D by >2x: z=$zSt one=$oSt")
    // contents exact in both layouts
    Seq(zRoot, oneRoot).foreach { r =>
      assert(M.read(spark, r, "t").count() == 128L * 128L - 1024L)
    }
  }

  test("a composite-key MERGE against a z-order-clustered table narrows " +
    "discovery through both dimensions' per-file ranges") {
    val M = graft.etl.ManifestTable
    val rows = for { a <- 0 until 128; b <- 0 until 128 }
      yield (a.toLong, b.toLong, a * 128L + b)
    val df = spark.createDataFrame(rows).toDF("a", "b", "v")
    val root = tmpDir("r18-zmerge") + "/t"
    M.publish(spark, root,
      Map("t" -> graft.operators.ZOrder.cluster(df, Seq("a", "b"), 64)),
      statsCols = Map("t" -> "a"), extraStatsCols = Map("t" -> Seq("b")))
    // all source keys live inside ONE 16x16 tile
    val src = Seq((40L, 40L, -1L), (41L, 41L, -2L), (42L, 40L, -3L),
      (99L, 99L, -4L)).toDF("a", "b", "v") // 3 in tile (2,2), 1 in (6,6)
    val (files, updated, inserted) = M.mergeInto(spark, root, "t", src,
      key = Seq("a", "b"), statsCol = Some("a"),
      extraStatsCols = Seq("b"))
    assert(updated == 4L && inserted == 0L, s"$updated/$inserted")
    val st = M.mergeDiscoveryStats(root, "t").get
    assert(st.totalFiles == 64L && st.scannedFiles <= 4L,
      s"2-D key narrowing confines the merge: $st (rewrote $files)")
    // contents: the four keyed rows carry the new v, everything else
    // untouched
    val t = M.read(spark, root, "t")
    assert(t.count() == 128L * 128L)
    assert(t.filter(col("v") < 0L).count() == 4L)
    assert(t.filter(col("a") === 40L && col("b") === 40L)
      .head().getLong(2) == -1L)
  }

  test("ZOrder.interleave is the Morton curve; cluster handles nulls, " +
    "empty input, and date dimensions") {
    import spark.implicits._
    // bit-exact check against a reference interleave on small values
    val probe = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (255L, 255L))
      .toDF("x", "y")
    def ref(x: Long, y: Long): Long =
      (0 until 16).map(b => (((x >> b) & 1L) << (2 * b)) |
        (((y >> b) & 1L) << (2 * b + 1))).reduce(_ | _)
    val got = probe.select(col("x"), col("y"),
      graft.operators.ZOrder.interleave(Seq(col("x"), col("y")), 16)
        .as("z")).collect()
    got.foreach { r =>
      assert(r.getLong(2) == ref(r.getLong(0), r.getLong(1)),
        s"morton(${r.getLong(0)},${r.getLong(1)})")
    }
    // nulls bucket to the origin, rows survive clustering
    val withNulls = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(java.lang.Long.valueOf(5L), null),
        org.apache.spark.sql.Row(null, java.lang.Long.valueOf(7L)),
        org.apache.spark.sql.Row(java.lang.Long.valueOf(1L),
          java.lang.Long.valueOf(2L))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.LongType, nullable = true))))
    assert(graft.operators.ZOrder.cluster(withNulls, Seq("a", "b"), 4)
      .count() == 3L)
    // empty input passes through
    assert(graft.operators.ZOrder.cluster(
      withNulls.filter(lit(false)), Seq("a", "b"), 4).count() == 0L)
    // a date dimension clusters in canonical epoch-day units
    val dated = (0 until 100).map { i =>
      (i.toLong, java.sql.Date.valueOf(java.time.LocalDate.of(2023, 1, 1)
        .plusDays(i.toLong)))
    }
    val dDf = spark.createDataFrame(dated).toDF("k", "d")
    assert(graft.operators.ZOrder.cluster(dDf, Seq("k", "d"), 8)
      .count() == 100L)
  }

  // ---- verdict #7: graph-ANN targeted forget ----

  test("graphForgetVersioned: a 2-node forget rewrites only the edge " +
    "files holding a dead node, replaces affected sources' lists with " +
    "exact live top-k, and clears the tombstones") {
    val rows = (0 until 48).map { i =>
      val d = i % 8
      val v = Array.tabulate(64)(j =>
        if (j == d * 8) 10.0 else if (j == d * 8 + 1) (i / 8).toDouble
        else 0.1).toSeq
      (i.toLong, v)
    }
    val vecs = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val root = tmpDir("r18-gforget") + "/g"
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    // at toy scale AQE coalesces the 288-edge shuffle into ONE file,
    // which would void the partial-rewrite assertion — production edge
    // tables shard naturally (knnGraph's final top-k stage leaves them
    // hash-partitioned by src, one node's list in exactly one file)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      graft.operators.GraphAnn.graphWriteVersioned(vecs, "vec_id",
        "embedding", dim = 64, planes = 4, tables = 2, degree = 6,
        refine = 1, root = root, upperMod = 4, upperDegree = 6,
        upperRefine = 1)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    }
    val M = graft.etl.ManifestTable
    val edgeFilesBefore = M.current(spark, root).get.entries
      .filter(_.table == "edges").map(_.relPath).toSet
    assert(edgeFilesBefore.size >= 8, s"fixture: ${edgeFilesBefore.size} files")
    // soft-delete two nodes of ONE direction group, then targeted forget
    val dead = Seq(9L, 17L) // group d=1
    graft.operators.GraphAnn.graphDeleteVersioned(spark, root,
      dead.toDF("vec_id"))
    val v = graft.operators.GraphAnn.graphForgetVersioned(spark, root,
      vecs, "vec_id", "embedding")
    assert(v.isDefined, "small forget takes the targeted path")
    val after = M.current(spark, root).get.entries
      .filter(_.table == "edges").map(_.relPath).toSet
    val carried = edgeFilesBefore.intersect(after)
    assert(carried.nonEmpty && carried.size < edgeFilesBefore.size,
      s"partial rewrite: ${carried.size}/${edgeFilesBefore.size} carried")
    val st = M.mergeDiscoveryStats(root, "edges").get
    assert(st.scannedFiles < st.totalFiles,
      s"src blooms/stats narrowed the forget's discovery: $st")
    // the dead nodes are GONE from both layers (full vacuum semantics)
    val live = vecs.filter(!col("vec_id").isin(dead: _*))
    Seq("edges", "upper_edges").foreach { t =>
      val e = M.read(spark, root, t)
      assert(e.filter(col("src").isin(dead: _*) ||
        col("dst").isin(dead: _*)).count() == 0L, s"$t purged")
    }
    assert(M.read(spark, root, "tombstones").isEmpty, "tombstones cleared")
    // EVERY affected source (an in-neighbor of a dead node in the
    // pre-forget graph) carries the EXACT live top-degree list
    val edges = M.read(spark, root, "edges")
    val preEdges = M.readAt(spark, root, "edges", 1L)
    val affected = preEdges.filter(col("dst").isin(dead: _*))
      .select("src").distinct().as[Long].collect().toSeq
      .filterNot(dead.contains).sorted
    assert(affected.nonEmpty, "fixture: the dead nodes had in-neighbors")
    val exact = graft.operators.Similarity.bruteForceTopK(live,
      live.filter(col("vec_id").isin(affected: _*)), "vec_id",
      "embedding", 6)
      .select(col("query_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    val repaired = edges.filter(col("src").isin(affected: _*))
      .select(col("src"), col("dst")).as[(Long, Long)].collect().toSet
    assert(repaired == exact,
      s"repaired lists exact: ${repaired.size} vs ${exact.size}")
    // search returns only live nodes
    val res = graft.operators.GraphAnn.layeredTopKVersioned(spark, root,
      live, live.filter(col("vec_id") === 10L), "vec_id", "embedding",
      dim = 64, planes = 4, tables = 2, entries = Seq(0L, 4L),
      rounds = 3, beamWidth = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(res.nonEmpty && res.intersect(dead.toSet).isEmpty)
  }

  // ---- verdict #2: delta-encoded commits + checkpoints ----

  test("100-batch CDC stream: per-commit bytes are delta-sized (not " +
    "O(table files)), cold resolve costs O(1) checkpoints + O(delta) " +
    "parses, time travel and compactLog keep their semantics") {
    val root = tmpDir("r18-delta") + "/t"
    val M = graft.etl.ManifestTable
    (1 to 100).foreach { i =>
      graft.streaming.CdcApply.applyBatch(
        Seq((i.toLong, s"v$i", i.toLong, "U")).toDF("k", "v", "seq", "op"),
        root, "t", Seq("k"), Seq("seq"), "op", batchId = i.toLong,
        statsCol = Some("k"), bloomCol = Some("k"))
    }
    assert(M.read(spark, root, "t").count() == 100L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cd = new org.apache.hadoop.fs.Path(s"$root/_commits")
    val cSizes = fs.listStatus(cd).filter(_.getPath.getName.startsWith("c-"))
      .map(s => s.getPath.getName -> s.getLen).sortBy(_._1)
    // v1 bootstraps (snapshot); EVERY later commit is a delta: one new
    // file + one watermark upsert, ~400 B — while the table's full
    // entry list is ~100 files. The old full-snapshot commits wrote
    // O(table) bytes per micro-batch forever.
    val deltas = cSizes.drop(1)
    assert(deltas.nonEmpty && deltas.map(_._2).max < 2048L,
      s"per-commit bytes must be batch-proportional: ${deltas.takeRight(3).toSeq}")
    // checkpoint sidecars exist on the cadence and are snapshot-sized
    val kSizes = fs.listStatus(cd).filter(_.getPath.getName.startsWith("k-"))
      .map(_.getLen)
    assert(kSizes.nonEmpty, "checkpoint sidecars on the cadence")
    assert(kSizes.max > 10L * deltas.map(_._2).max,
      "a checkpoint is a full snapshot; a commit is a delta")
    // cold resolve: hint + walk to the nearest checkpoint + the deltas
    // since — BOUNDED by CheckpointInterval, independent of the 100
    // retained versions
    M.dropStateCacheForTest()
    M.commitFileReads.set(0L)
    assert(M.current(spark, root).get.version == 100L)
    val coldReads = M.commitFileReads.get
    assert(coldReads <= M.CheckpointInterval + 4L,
      s"cold resolve cost $coldReads reads over 100 versions")
    // warm resolve after one more batch parses just that delta
    graft.streaming.CdcApply.applyBatch(
      Seq((101L, "v101", 101L, "U")).toDF("k", "v", "seq", "op"),
      root, "t", Seq("k"), Seq("seq"), "op", batchId = 101L,
      statsCol = Some("k"), bloomCol = Some("k"))
    M.commitFileReads.set(0L)
    assert(M.current(spark, root).get.version == 101L)
    assert(M.commitFileReads.get <= 2L,
      s"warm resolve read ${M.commitFileReads.get} files")
    // time travel through the delta chain
    assert(M.readAt(spark, root, "t", 50L).count() == 50L)
    // compactLog keeps the tip resolvable (checkpointing the oldest
    // kept version first) and still reports exactly what it dropped
    assert(M.compactLog(spark, root, keepVersions = 5) == 96L)
    M.dropStateCacheForTest()
    assert(M.current(spark, root).get.version == 101L)
    assert(M.read(spark, root, "t").count() == 101L)
    assert(M.readAt(spark, root, "t", 99L).count() == 99L, "retained tail")
    intercept[IllegalArgumentException] { M.readAt(spark, root, "t", 50L) }
    // and vacuum still reclaims superseded files safely: a keyed delete
    // rewrites one file (append-only history had nothing unreferenced)
    M.deleteByKeys(spark, root, "t", Seq(50L).toDF("k"), Seq("k"),
      statsCol = Some("k"), bloomCol = Some("k"))
    val reclaimed = M.vacuum(spark, root, keepVersions = 1)
    assert(reclaimed > 0L, "the rewritten file's predecessor is reclaimed")
    M.dropStateCacheForTest()
    assert(M.read(spark, root, "t").count() == 100L)
  }

  // ---- verdict #8: the three maintenance cadences compose ----

  test("one CDC stream driving adaptive compaction + log compaction + " +
    "delta checkpoints: contents exact, commit bytes bounded, bloom " +
    "coverage survives, vacuum composes") {
    val root = tmpDir("r18-compose") + "/t"
    val M = graft.etl.ManifestTable
    val oldInterval = M.CheckpointInterval
    M.CheckpointInterval = 4
    try {
      (1 to 24).foreach { i =>
        // upserts with periodic re-keys and one delete wave
        val rows = Seq(
          (i.toLong, s"v$i-a", i * 10L, "U"),
          (i.toLong + 1000L, s"w$i", i * 10L + 1L, "U")) ++
          (if (i % 8 == 0) Seq((i.toLong - 4L, "", i * 10L + 2L, "D"))
           else Nil)
        graft.streaming.CdcApply.applyBatch(
          rows.toDF("k", "v", "seq", "op"), root, "t",
          Seq("k"), Seq("seq"), "op", batchId = i.toLong,
          statsCol = Some("k"), bloomCol = Some("k"),
          compactAtFileCount = 6, compactLogEvery = 6, keepVersions = 8)
      }
      // exact expected state: keys 1..24 minus deleted {4,12,20},
      // plus 1001..1024
      val expect = ((1 to 24).map(_.toLong).toSet -- Set(4L, 12L, 20L)) ++
        (1 to 24).map(_.toLong + 1000L).toSet
      val got = M.read(spark, root, "t").select("k").as[Long].collect().toSet
      assert(got == expect, s"diff: ${(got -- expect) ++ (expect -- got)}")
      // log bounded by keepVersions + the checkpoint chain
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cd = new org.apache.hadoop.fs.Path(s"$root/_commits")
      val cFiles = fs.listStatus(cd).map(_.getPath.getName)
        .filter(_.startsWith("c-"))
      assert(cFiles.length <= 8 + 24, s"log bounded: ${cFiles.length}")
      // bloom coverage survived compaction + deltas: a point probe
      // prunes, and a keyed delete narrows
      val entries = M.current(spark, root).get.entries
        .filter(_.table == "t")
      assert(entries.forall(_.bloomFor("k").isDefined),
        "every live file bloom-covered through all three cadences")
      M.dropStateCacheForTest()
      assert(M.readPrunedEq(spark, root, "t", "k", 1007L)
        .select("v").as[String].collect().toSeq == Seq("w7"))
      // vacuum after everything: contents still exact
      M.vacuum(spark, root, keepVersions = 1)
      M.dropStateCacheForTest()
      assert(M.read(spark, root, "t").select("k").as[Long]
        .collect().toSet == expect)
    } finally M.CheckpointInterval = oldInterval
  }

  test("right-sized blooms: a small file's filter is a few hundred " +
    "bytes, not the fixed 50k-item 45 KB allocation") {
    val root = tmpDir("r18-sizing") + "/t"
    graft.etl.ManifestTable.publish(spark, root,
      Map("t" -> Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
        .repartition(1)),
      statsCols = Map("t" -> "k"), bloomCols = Map("t" -> "k"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bloomDir = new org.apache.hadoop.fs.Path(s"$root/t/_blooms")
    val sizes = fs.listStatus(bloomDir).map(_.getLen)
    assert(sizes.nonEmpty && sizes.max < 4096L,
      s"3-row file gets a right-sized filter, got ${sizes.toSeq} bytes")
    // and it still answers exactly
    def kept(v: Long) = graft.etl.ManifestFileIndex.filesKept(
      graft.etl.ManifestTable.readPrunedEq(spark, root, "t", "k", v))._1
    assert(kept(2L) == 1L)
    assert(kept(404L) == 0L, "right-sized filter keeps its fpp")
  }

  test("deleteByKeys with a LONG-typed key frame still narrows at " +
    "snowflake scale (exact-exact alignment keeps pruning)") {
    val root = tmpDir("r18-exact") + "/t"
    val rows = (0 until 6).flatMap(i =>
      (0 until 5).map(j => (B + i * 1000L + j, s"v$i-$j")))
    val df = spark.createDataFrame(rows).toDF("k", "v")
      .repartitionByRange(6, col("k")).sortWithinPartitions(col("k"))
    graft.etl.ManifestTable.publish(spark, root, Map("t" -> df),
      statsCols = Map("t" -> "k"), bloomCols = Map("t" -> "k"))
    val (files, deleted) = graft.etl.ManifestTable.deleteByKeys(spark,
      root, "t", Seq(B + 2002L).toDF("k"), Seq("k"),
      statsCol = Some("k"), bloomCol = Some("k"))
    assert((files, deleted) == (1L, 1L))
    val st = graft.etl.ManifestTable.mergeDiscoveryStats(root, "t").get
    assert(st.scannedFiles == 1L && st.totalFiles == 6L,
      s"exact-exact narrows to the containing file: $st")
  }
}
